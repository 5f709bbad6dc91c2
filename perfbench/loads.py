"""The loads each workload times, and the checks run on their output.

Every load goes through the same public calls ``ortholog_pipeline_spark.__main__
.main`` makes for ``--species`` and ``--agr-orthologs``, against a hardlink
clone of the seeded store. The timer starts at the first call into
``sources.files`` and stops when ``run_species_load`` / ``run_agr_load``
returns with the commit published. Checks read the published snapshots from
disk with pyarrow, outside the timed window.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from ortholog_pipeline_spark import __main__ as cli
from ortholog_pipeline_spark import plans
from ortholog_pipeline_spark.schemas import SPECIES
from ortholog_pipeline_spark.sources import files as src
from ortholog_pipeline_spark.sources.state import StateStore

from gen import RUN_TS

#: The CLI's default churn guard (``--delete-threshold-pct``).
DELETE_THRESHOLD_PCT = 10.0
TABLES = ("genes", "rgd_ids", "xrefs", "orthologs", "associations", "agr_orthologs")


@dataclass
class Load:
    seconds: float
    rows_in: int  # in-scope input rows
    store_dir: str
    before: dict  # table → current version before the load
    results: list = field(default_factory=list)  # (species or "agr", n, result)
    # filled in for a traced load, after its timed window
    run_id: str | None = None
    cache: dict = field(default_factory=dict)
    shape: dict = field(default_factory=dict)
    changed: int = 0  # rows inserted, deleted or rewritten in place


def clone_store(proto: str, dst: str) -> None:
    """Hardlink clone: snapshot files are immutable, so clones are isolated."""
    for root, _dirs, files in os.walk(proto):
        rel = os.path.relpath(root, proto)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            s = os.path.join(root, f)
            if f == "_CURRENT":  # rewritten in place by commits: copy
                shutil.copyfile(s, os.path.join(out, f))
            else:
                os.link(s, os.path.join(out, f))


def current_versions(store_dir: str) -> dict:
    out = {}
    for t in TABLES:
        with open(os.path.join(store_dir, t, "_CURRENT")) as f:
            out[t] = int(f.read().strip())
    return out


def species_load(spark, landing: str, store_dir: str, species: list[str]) -> Load:
    """One ``--species`` invocation per name, back to back in one session."""
    store = StateStore(spark, store_dir)
    before = current_versions(store_dir)
    plans.check_agr_freshness(store, RUN_TS)
    results = []
    t0 = time.perf_counter()
    for name in species:
        rel = cli._species_relations(spark, landing, name)
        n = src.check_sanity_floor(rel)
        res = plans.run_species_load(
            store, rel, RUN_TS, SPECIES[name][0],
            delete_threshold_pct=DELETE_THRESHOLD_PCT,
        )
        results.append((name, n, res))
    seconds = time.perf_counter() - t0
    return Load(seconds, sum(r[1] for r in results), store_dir, before, results)


def agr_load(spark, landing: str, store_dir: str, rows_in: int) -> Load:
    """One ``--agr-orthologs`` invocation."""
    store = StateStore(spark, store_dir)
    before = current_versions(store_dir)
    agr_dir = cli._latest_landing(landing, "agr")
    t0 = time.perf_counter()
    res = plans.run_agr_load(
        store, src.read_agr_tsv(spark, agr_dir), RUN_TS,
        delete_threshold_pct=DELETE_THRESHOLD_PCT,
    )
    seconds = time.perf_counter() - t0
    return Load(seconds, rows_in, store_dir, before, [("agr", rows_in, res)])


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def read_current(store_dir: str, table: str):
    v = current_versions(store_dir)[table]
    return pq.read_table(os.path.join(store_dir, table, f"v={v}")).to_pandas()


def table_rows(store_dir: str, table: str, version: int | None = None) -> int:
    """Row count of a snapshot version from parquet footers (default: current)."""
    if version is None:
        version = current_versions(store_dir)[table]
    d = os.path.join(store_dir, table, f"v={version}")
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _data_files(d))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def check_species(load: Load, meta: dict) -> tuple[list[str], str]:
    """Invariants that hold at this commit, and the canonical digest of the
    final orthologs + associations (surrogate keys and timestamps excluded).
    Returns (failures, digest)."""
    orth = read_current(load.store_dir, "orthologs")
    assoc = read_current(load.store_dir, "associations")
    fails = []
    if orth["genetogene_key"].duplicated().any():
        fails.append("duplicate genetogene_key")
    if assoc["assoc_key"].duplicated().any():
        fails.append("duplicate assoc_key")
    manual = orth[orth["xref_data_src"] == "RGD"]
    have = set(
        zip(manual["src_rgd_id"], manual["dest_species_type_key"].astype(int),
            manual["dest_rgd_id"])
    )
    lost = [k for k in map(tuple, meta["manual_keys"]) if k not in have]
    if lost:
        fails.append(f"{len(lost)} manual RGD rows lost")
    strong = set(zip(orth["src_rgd_id"], orth["dest_rgd_id"]))
    weak = set(zip(assoc["master_rgd_id"], assoc["detail_rgd_id"]))
    if strong & weak:
        fails.append(f"{len(strong & weak)} weak associations duplicate a strong pair")
    o_cols = ["src_rgd_id", "dest_rgd_id", "src_species_type_key",
              "dest_species_type_key", "xref_data_src", "xref_data_set", "created_by"]
    orth = orth.assign(dest_species_type_key=orth["dest_species_type_key"].astype(int))
    rows = [("o",) + tuple(r) for r in orth[o_cols].itertuples(index=False)]
    a_cols = ["master_rgd_id", "detail_rgd_id", "assoc_type", "assoc_subtype", "src_pipeline"]
    rows += [("a",) + tuple(r) for r in assoc[a_cols].itertuples(index=False)]
    return fails, _digest(rows)


def agr_labels(store_dir: str) -> list[tuple]:
    """The final agr_orthologs rows in curie-label space: each rgd id becomes
    its AGR curie xref, or ``RGD#<id>`` when it has none."""
    agr = read_current(store_dir, "agr_orthologs")
    xr = read_current(store_dir, "xrefs")
    curie = dict(zip(*(xr.loc[xr["xdb_key"] == 63, c] for c in ("rgd_id", "acc_id"))))

    def lab(i):
        return curie.get(i, f"RGD#{i}")

    return sorted(
        (lab(r.gene_rgd_id_1), lab(r.gene_rgd_id_2), r.methods_matched,
         r.confidence, r.is_best_score, r.is_best_rev_score)
        for r in agr.itertuples(index=False)
    )


def check_agr(load: Load, meta: dict) -> tuple[list[str], str]:
    """The final snapshot must equal the incoming set the generator planted."""
    got = agr_labels(load.store_dir)
    want = [tuple(r) for r in meta["agr_expected"]]
    fails = []
    if got != want:
        g, w = set(got), set(want)
        fails.append(
            f"agr snapshot differs from the planted set: {len(g - w)} extra, "
            f"{len(w - g)} missing"
        )
    return fails, _digest(got)


# ---------------------------------------------------------------------------
# Disk-side sources.state measurements
# ---------------------------------------------------------------------------


def _data_files(d: str):
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def written(load: Load) -> dict:
    """Data files the load wrote into new version dirs. Hardlinked files (the
    append path's links to older versions, and the clone's links to the seeded
    store) have more than one link and are excluded."""
    after = current_versions(load.store_dir)
    rows = nbytes = files = 0
    for t in TABLES:
        for v in range(load.before[t] + 1, after[t] + 1):
            for path in _data_files(os.path.join(load.store_dir, t, f"v={v}")):
                st = os.stat(path)
                if st.st_nlink == 1:
                    rows += pq.ParquetFile(path).metadata.num_rows
                    nbytes += st.st_size
                    files += 1
    return {"rows": rows, "bytes": nbytes, "files": files}


def store_bytes(store_dir: str) -> int:
    """On-disk size of the store, each inode counted once."""
    seen, total = set(), 0
    for path in _data_files(store_dir):
        st = os.stat(path)
        if st.st_ino not in seen:
            seen.add(st.st_ino)
            total += st.st_size
    return total
