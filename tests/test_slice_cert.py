"""Pins for the deterministic-subsample certification twins
(queries/slice_cert.py, VERDICT r4 item 2). The registry check
(``python -m ortholog_pipeline_spark.oracle``) runs them in place of the five
declared-quadratic oracles whenever its SF_DIR is a make_scaled_dir output;
these tests pin the registry-shape invariants that keep that path honest and
run it end to end on a small scaled dir."""

from __future__ import annotations

import importlib.util
import os

import pytest

import ortholog_pipeline_spark.queries  # noqa: F401 — force registration
from ortholog_pipeline_spark.queries import slice_cert
from ortholog_pipeline_spark.queries._shared import unmaterialized_multi_ref_ctes


def test_slice_twins_shadow_real_registry_entries():
    from ortholog_pipeline_spark.queries import queries

    q = queries()
    for name in slice_cert.slice_queries():
        assert name in q, f"slice twin {name} shadows nothing in the registry"


def test_slice_oracles_are_lint_clean():
    for name, sql in slice_cert.slice_oracle_sql().items():
        assert sql.strip()
        assert unmaterialized_multi_ref_ctes(sql) == [], name


def test_slice_rewrites_fail_loud_on_drift():
    # the two string-surgery slice oracles assert their markers still exist;
    # exercise the guard paths so a drift fails here, not mid-certification
    assert "c_custkey % 100 = 0" in slice_cert._slice_er_blocking_sql()
    assert f"a.doc_id % {slice_cert.SLICE_MOD} = 0" in slice_cert._sliced_jaccard_verify()


_SF0001 = "/root/testdata/sf0.001"
#: an integer/string-only registry output: checksum-compared at a scaled dir
_FLOAT_FREE_ENTRY = "j4_semi_join_exists"


@pytest.mark.skipif(
    not os.path.exists(f"{_SF0001}/lineitem.parquet"), reason="testdata missing"
)
def test_scaled_dir_check_runs_slice_twins_and_checksums(spark, tmp_path):
    """make_scaled_dir output is a layout of Spark-written table directories;
    the registry check globs their part files, overlays the slice twins and
    compares float-free outputs by the collect-free checksum."""
    from ortholog_pipeline_spark import oracle

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "make_scaled_dir_mod", os.path.join(repo, "tools", "make_scaled_dir.py")
    )
    msd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(msd)
    msd.replicate(spark, _SF0001, str(tmp_path), 2)
    assert oracle.is_scaled_dir(str(tmp_path))
    names = sorted(slice_cert.slice_queries()) + [_FLOAT_FREE_ENTRY]
    report = oracle.check(spark, str(tmp_path), names)
    assert report["git_head"] and report["sf_dir"] == str(tmp_path)
    assert sorted(report["names"]) == sorted(names)
    failed = {n: r for n, r in report["names"].items() if not oracle.passed(r)}
    assert not failed, failed
    modes = {n: r["mode"] for n, r in report["names"].items()}
    assert "checksum+slice" in modes.values(), modes
    assert modes[_FLOAT_FREE_ENTRY] == "checksum", modes
