"""CLI entry point (§3 process entry): fix-xref flow end-to-end through
``__main__.main`` and arg validation. Load flows are covered by test_plans; here we
pin the dispatch + landing discovery glue."""

from __future__ import annotations

import datetime as dt
import gzip

import pytest

from ortholog_pipeline_spark.__main__ import _latest_landing, _species_relations, main
from ortholog_pipeline_spark.sources.state import StateStore
from table_schemas import ASSOCIATIONS_SCHEMA, ORTHOLOGS_SCHEMA

OLD_TS = dt.datetime(2025, 12, 1)


def test_fix_xref_via_cli(spark, tmp_path, capsys):
    store = StateStore(spark, str(tmp_path / "state"))
    orthologs = [
        (1, 1, 100, 1, 3, None, "HGNC", "OrthoDB,Ensembl,OrthoDB", 11, None,
         70, OLD_TS, 70, OLD_TS),
    ]
    store.write("orthologs", spark.createDataFrame(orthologs, ORTHOLOGS_SCHEMA))
    store.write("associations", spark.createDataFrame([], ASSOCIATIONS_SCHEMA))

    rc = main(["--fix-xref-data-set", "--state-dir", str(tmp_path / "state")])
    assert rc == 0
    assert "1 orthologs" in capsys.readouterr().out
    row = store.read("orthologs").collect()[0]
    assert row.xref_data_set == "Ensembl, OrthoDB"


def test_latest_landing_picks_newest(tmp_path):
    for d in ("dt=2026-01-01", "dt=2026-02-01"):
        (tmp_path / "hcop" / d).mkdir(parents=True)
    assert _latest_landing(str(tmp_path), "hcop").endswith("dt=2026-02-01")
    assert _latest_landing(str(tmp_path), "ncbi") is None


def test_species_relations_union_of_sources(spark, tmp_path):
    hcop_dir = tmp_path / "hcop" / "dt=2026-01-01"
    hcop_dir.mkdir(parents=True)
    ncbi_dir = tmp_path / "ncbi" / "dt=2026-01-01"
    ncbi_dir.mkdir(parents=True)
    hcop_cols = ["10116", "34"] + [""] * 6 + ["24152"] + [""] * 7
    hcop_cols[15] = "Ensembl,OrthoDB"
    with gzip.open(hcop_dir / "hcop.txt.gz", "wt") as f:
        f.write("\t".join(hcop_cols) + "\n")
    with gzip.open(ncbi_dir / "gene_orthologs.gz", "wt") as f:
        f.write("#header\n9606\t35\tOrtholog\t10116\t24153\n")

    rel = _species_relations(spark, str(tmp_path), "rat")
    rows = {(r.src_other_id, r.dest_other_id, r.data_source) for r in rel.collect()}
    assert rows == {("34", "24152", "HGNC"), ("35", "24153", "NCBI")}


def test_report_via_cli(spark, tmp_path, capsys):
    from table_schemas import AGR_ORTHOLOGS_SCHEMA, GENES_SCHEMA

    store = StateStore(spark, str(tmp_path / "state"))
    genes = [
        (100, "A2m", "protein-coding", None, 3),
        (1, "A2M", "protein-coding", None, 1),
    ]
    store.write("genes", spark.createDataFrame(genes, GENES_SCHEMA))
    agr = [(100, 1, "stringent", "Y", "Y", "OrthoFinder", OLD_TS, OLD_TS)]
    store.write("agr_orthologs", spark.createDataFrame(agr, AGR_ORTHOLOGS_SCHEMA))
    gl = tmp_path / "genes.txt"
    gl.write_text("hdr\thdr\thdr\thdr\n100\t11\tA2m\talpha-2-macroglobulin\n")

    rc = main(
        ["--report", str(gl), "--report-out", str(tmp_path / "out"),
         "--state-dir", str(tmp_path / "state")]
    )
    assert rc == 0
    assert "mouse orthos: 0, human orthos: 1" in capsys.readouterr().out
    back = spark.read.option("sep", "\t").option("header", "true").csv(
        str(tmp_path / "out")
    )
    assert back.count() == 1


def test_vacuum_state_via_cli(spark, tmp_path, capsys):
    store = StateStore(spark, str(tmp_path / "state"))
    df = spark.createDataFrame([], ASSOCIATIONS_SCHEMA)
    for _ in range(4):
        store.write("associations", df)

    rc = main(
        ["--vacuum-state", "--state-dir", str(tmp_path / "state"), "--keep-versions", "1"]
    )
    assert rc == 0
    assert "vacuum associations: removed versions" in capsys.readouterr().out
    versions = [d for d in (tmp_path / "state" / "associations").iterdir() if d.is_dir()]
    assert len(versions) == 1


@pytest.mark.parametrize("keep", ["0", "-1"])
def test_cli_rejects_keep_versions_below_one(tmp_path, capsys, keep):
    # keep < 1 vacuums nothing, so a success exit would hide the mistake
    with pytest.raises(SystemExit) as exc:
        main(
            ["--vacuum-state", "--state-dir", str(tmp_path / "state"),
             "--keep-versions", keep]
        )
    assert exc.value.code == 2
    assert "--keep-versions: must be at least 1" in capsys.readouterr().err


def test_cli_rejects_unknown_species(spark, tmp_path):
    (tmp_path / "state").mkdir()
    with pytest.raises(SystemExit):
        main(
            ["--species", "unicorn", "--state-dir", str(tmp_path / "state"),
             "--landing-dir", str(tmp_path), "--skip-freshness-gate"]
        )


def test_homologene_via_cli(spark, tmp_path, capsys):
    from table_schemas import XREFS_SCHEMA

    store = StateStore(spark, str(tmp_path / "state"))
    xrefs = [(1, 101, "EG1", 3, "E", OLD_TS), (2, 102, "EG2", 3, "E", OLD_TS)]
    store.write("xrefs", spark.createDataFrame(xrefs, XREFS_SCHEMA))
    store.write(
        "orthologs", spark.createDataFrame([], ORTHOLOGS_SCHEMA)
    )
    hg_dir = tmp_path / "homologene" / "dt=2026-01-01"
    hg_dir.mkdir(parents=True)
    (hg_dir / "homologene.data").write_text(
        "3\t9606\tEG1\n3\t10116\tEG2\n3\t8355\tEGF\n"
    )
    rc = main(
        ["--homologene", "--state-dir", str(tmp_path / "state"),
         "--landing-dir", str(tmp_path)]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "+2" in out and "badSpecies=1" in out
    pairs = {
        (r.src_rgd_id, r.dest_rgd_id) for r in store.read("orthologs").collect()
    }
    assert pairs == {(101, 102), (102, 101)}
