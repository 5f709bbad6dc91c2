"""Process entry point — the engine's counterpart of the reference's
``OrthologRelationLoadingManager.main`` (OrthologRelationLoadingManager.java:49-118)
and its flags:

    python -m ortholog_pipeline_spark --species rat \\
        --state-dir /data/state --landing-dir /data/landing
    python -m ortholog_pipeline_spark --agr-orthologs --state-dir ... --landing-dir ...
    python -m ortholog_pipeline_spark --fix-xref-data-set --state-dir ...

Each flag dispatches one of the three flows in ``plans/`` against the snapshot
state store. File inputs are read from the landing layout
``<landing-dir>/<source>/dt=*/`` (S1: fetching into it is outside the engine);
the AGR freshness gate runs before a species load just as the reference does.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from ortholog_pipeline_spark.plans import (
    check_agr_freshness,
    run_homologene_load,
    read_gene_list,
    run_agr_load,
    run_fix_xref_data_set,
    run_ortho_tool,
    run_species_load,
    run_state_validation,
    write_report,
)
from ortholog_pipeline_spark.schemas import SPECIES
from ortholog_pipeline_spark.session import get_spark
from ortholog_pipeline_spark.sources import files as src
from ortholog_pipeline_spark.sources.state import StateStore

#: Species with an HCOP file (others are NCBI-only) — AppConfigure.xml:39-47.
HCOP_SPECIES = {"human", "rat", "mouse", "dog", "pig"}


def _latest_landing(landing_dir: str, source: str) -> str | None:
    dirs = sorted(glob.glob(os.path.join(landing_dir, source, "dt=*")))
    return dirs[-1] if dirs else None


def _species_relations(
    spark: SparkSession, landing_dir: str, species: str
) -> DataFrame:
    key, tax_id, _ = SPECIES[species]
    parts: list[DataFrame] = []
    if species in HCOP_SPECIES:
        hcop_dir = _latest_landing(landing_dir, "hcop")
        if hcop_dir:
            parts.append(
                src.hcop_to_relations(
                    src.read_hcop(spark, hcop_dir), str(tax_id), key
                )
            )
    ncbi_dir = _latest_landing(landing_dir, "ncbi")
    if ncbi_dir:
        parts.append(
            src.ncbi_to_relations(
                src.read_ncbi_orthologs(spark, ncbi_dir), str(tax_id), key
            )
        )
    if not parts:
        raise SystemExit(f"no landed source files for species {species!r}")
    rel = parts[0]
    for p in parts[1:]:
        rel = rel.unionByName(p)  # U1
    return rel


def _at_least_one(text: str) -> int:
    """``--keep-versions``: a count below 1 would keep every version while the
    run still reported success, so argparse refuses it (exit 2)."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ortholog_pipeline_spark")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--species", help="run the §3.1 per-species load")
    mode.add_argument(
        "--agr-orthologs", action="store_true", help="run the §3.2 Alliance load"
    )
    mode.add_argument(
        "--fix-xref-data-set",
        action="store_true",
        help="run the §3.3 maintenance normalize",
    )
    mode.add_argument(
        "--homologene",
        action="store_true",
        help="run the deprecated HomoloGene load (HomologeneLoader.java:21-23)",
    )
    mode.add_argument(
        "--report",
        metavar="GENE_LIST",
        help="run the OrthoTool partner report on a gene-list TSV",
    )
    mode.add_argument(
        "--validate-state",
        action="store_true",
        help="run the data-quality suite over the state snapshots",
    )
    mode.add_argument(
        "--history",
        metavar="TABLE",
        help="print retained snapshot versions of a state table",
    )
    mode.add_argument(
        "--vacuum-state",
        action="store_true",
        help="delete snapshot versions older than the newest --keep-versions",
    )
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--landing-dir")
    ap.add_argument("--report-out", help="output dir for --report (TSV)")
    ap.add_argument(
        "--keep-versions",
        type=_at_least_one,
        default=2,
        help="snapshot versions to retain under --vacuum-state",
    )
    ap.add_argument("--delete-threshold-pct", type=float, default=10.0)
    ap.add_argument("--skip-freshness-gate", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="ortholog-pipeline-run")
    store = StateStore(spark, args.state_dir)
    run_ts = dt.datetime.now()

    if args.history:
        for h in store.history(args.history):
            mark = "*" if h["current"] else " "
            print(f"{mark} v{h['version']}  {h['bytes']} bytes  mtime={h['modified']}")
        return 0

    if args.validate_state:
        res = run_state_validation(store)
        for r in res.report.collect():
            print(f"{'PASS' if r.passed else 'FAIL'} {r.check} metric={r.metric}")
        return 0 if res.ok else 1

    if args.vacuum_state:
        tables = sorted(
            d
            for d in (os.listdir(args.state_dir) if os.path.isdir(args.state_dir) else [])
            if os.path.isdir(os.path.join(args.state_dir, d))
        )
        for t in tables:
            removed = store.vacuum(t, keep=args.keep_versions)
            print(f"vacuum {t}: removed versions {removed or '[]'}")
        return 0

    if args.report:
        if not args.report_out:
            ap.error("--report-out is required with --report")
        res = run_ortho_tool(store, read_gene_list(spark, args.report))
        write_report(res, args.report_out)
        # OrthoTool.java:116's closing counter line
        print(
            f"mouse orthos: {res.n_mouse_orthologs}, "
            f"human orthos: {res.n_human_orthologs}"
        )
        return 0

    if args.fix_xref_data_set:
        res = run_fix_xref_data_set(store)
        print(
            f"fixXrefDataSet: {res.n_orthologs_fixed} orthologs, "
            f"{res.n_associations_fixed} associations normalized"
        )
        return 0

    if not args.landing_dir:
        ap.error("--landing-dir is required for load flows")

    if args.homologene:
        hg_dir = _latest_landing(args.landing_dir, "homologene")
        if not hg_dir:
            raise SystemExit("no landed homologene.data file")
        hres = run_homologene_load(store, src.read_homologene(spark, hg_dir), run_ts)
        print(
            f"homologene: +{hres.n_inserted} -{hres.n_deleted} ={hres.n_matched} "
            f"(badSpecies={hres.n_bad_species} noRgd={hres.n_no_rgd} "
            f"multiRgd={hres.n_multi_rgd}; orthologs v{hres.orthologs_version})"
        )
        return 0

    if args.agr_orthologs:
        agr_dir = _latest_landing(args.landing_dir, "agr")
        if not agr_dir:
            raise SystemExit("no landed Alliance file")
        res = run_agr_load(
            store,
            src.read_agr_tsv(spark, agr_dir),
            run_ts,
            delete_threshold_pct=args.delete_threshold_pct,
        )
        print(
            f"agrOrthologs: +{res.n_inserted} ~{res.n_updated} "
            f"-{res.n_stale_deleted} (v{res.agr_version})"
        )
        return 0

    species = args.species.lower()
    if species not in SPECIES:
        raise SystemExit(f"unknown species {species!r}")
    if not args.skip_freshness_gate:
        check_agr_freshness(store, run_ts)  # Manager.java:287-298
    rel = _species_relations(spark, args.landing_dir, species)
    src.check_sanity_floor(rel)  # ≥5000 relations abort (Parser.java:47-49)
    res = run_species_load(
        store,
        rel,
        run_ts,
        SPECIES[species][0],
        delete_threshold_pct=args.delete_threshold_pct,
    )
    print(
        f"species {species}: orthologs v{res.orthologs_version}, "
        f"associations v{res.associations_version}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
