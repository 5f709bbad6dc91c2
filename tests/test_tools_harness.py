"""Harness-robustness pins (ADVICE r4): CTE-hint substitution asserts,
hardlink-clone degradation, and the bench's estimators (steady-state drift and
the retime rule in tools/probes.py, the calibration shift and its
anchor-spread refusal in bench.py). These guard the
measurement tooling — a silently dropped MATERIALIZED hint or a shift
normalized across a box that moved mid-run corrupts the evidence, even when
the engine itself is correct."""

from __future__ import annotations

import importlib.util
import os

import pytest


def test_materialize_ctes_asserts_on_drifted_name():
    from ortholog_pipeline_spark.queries_flows import _materialize_ctes

    sql = "WITH genes AS (SELECT 1), rat AS (SELECT 2) SELECT * FROM genes, rat"
    out = _materialize_ctes(sql, ("genes", "rat"))
    assert out.count("AS MATERIALIZED (") == 2
    with pytest.raises(ValueError, match="renamed or removed"):
        _materialize_ctes(sql, ("genes", "dog"))


def test_species_flow_ctes_all_still_match():
    # import-time construction would have raised already; re-assert explicitly
    # so the failure message names this pin if the flow SQL ever drifts
    from ortholog_pipeline_spark.queries_flows import (
        _SPECIES_MULTI_REF_CTES,
        _materialize_ctes,
        _SPECIES_FLOW_SQL,
    )

    out = _materialize_ctes(_SPECIES_FLOW_SQL, _SPECIES_MULTI_REF_CTES)
    assert out.count("AS MATERIALIZED (") >= len(_SPECIES_MULTI_REF_CTES)


def test_clone_tree_falls_back_to_copy(tmp_path, monkeypatch):
    from ortholog_pipeline_spark import queries_flows as qf

    src = tmp_path / "src" / "v=0"
    src.mkdir(parents=True)
    (src / "part-0.parquet").write_bytes(b"data")

    def _no_link(a, b):
        raise OSError("EXDEV: cross-device link")

    monkeypatch.setattr(qf.os, "link", _no_link)
    dst = tmp_path / "dst"
    qf._clone_tree_hardlink(str(tmp_path / "src"), str(dst))
    assert (dst / "v=0" / "part-0.parquet").read_bytes() == b"data"


def _load(relpath: str):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        os.path.basename(relpath)[:-3] + "_mod", os.path.join(repo, relpath)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench():
    return _load("bench.py")


def _load_probes():
    return _load(os.path.join("tools", "probes.py"))


def test_steady_drift_ignores_window_fill_transient():
    """The first batches aggregate partially-filled windows (structurally
    cheap); the estimator must read ~1.0 on a store whose post-fill commits
    are flat even when early batches are 2x cheaper."""
    probes = _load_probes()
    series = [400, 500, 600, 800] + [1000] * 20
    assert probes.steady_drift(series) == 1.0


def test_steady_drift_catches_injected_linear_regression():
    """VERDICT r7 ask 1: a synthetic commit-cost-grows-with-state series
    (linear growth, every pairwise slope positive) must red-line past the
    pinned bar — the injected-regression proof that the robust estimator
    still catches what the probe exists to catch."""
    probes = _load_probes()
    series = [900] * 4 + [1000 + 50 * i for i in range(20)]  # ~2x over window
    assert probes.steady_drift(series) > probes.STREAM_DRIFT_BAR
    # a ~55%-per-window linear climb still clears the 1.2 bar (the real
    # failure mode — commit cost proportional to a state that grows ~6x
    # across the window — reads far above either)...
    shallow = [900] * 4 + [1000 + 30 * i for i in range(20)]
    assert probes.steady_drift(shallow) > probes.STREAM_DRIFT_BAR
    # ...and so does a sustained LEVEL SHIFT (the rewrite-the-world commit
    # signature actually observed in snapshot-mode RocksDB runs)
    step = [900] * 4 + [750] * 10 + [1250] * 10
    assert probes.steady_drift(step) > probes.STREAM_DRIFT_BAR


def test_steady_drift_tolerates_gc_spikes():
    """The r7 half-means estimator read up to 2.26 on identical code when a
    GC spike landed in one half; the half-medians estimator must hold ~1.0
    on a flat series carrying 3x outliers in EITHER half."""
    probes = _load_probes()
    flat = [900] * 4 + [1000] * 20
    for spike_at in (6, 12, 19, 22):
        series = list(flat)
        series[spike_at] = 3200
        assert probes.steady_drift(series) < probes.STREAM_DRIFT_BAR
    two = list(flat)
    two[8], two[20] = 3000, 2800  # one spike per half: half-means read ~1.2+
    assert probes.steady_drift(two) <= 1.1


def test_steady_drift_short_series_is_none():
    """Below 12 steady batches no estimator separates drift from noise —
    the r7 false flag came from exactly such an 8-batch window."""
    probes = _load_probes()
    assert probes.steady_drift([100] * 15) is None
    assert probes.steady_drift([]) is None


def test_needs_retime_only_above_the_ratio_and_noise_floor():
    """One more sample only when a best-of-2 sits above 1.3x its history AND
    past the noise floor: history over 3 s, or more than 1 s slower."""
    needs_retime = _load_probes().needs_retime
    assert needs_retime(4.0, 5.3)  # 1.33x of a > 3 s entry
    assert needs_retime(2.0, 3.1)  # 1.55x and +1.1 s on a sub-3 s entry
    assert not needs_retime(4.0, 5.1)  # under 1.3x
    assert not needs_retime(2.0, 2.9)  # 1.45x but +0.9 s on a sub-3 s entry
    assert not needs_retime(3.0, 3.95)  # 1.32x, +0.95 s, history not > 3 s
    assert not needs_retime(None, 100.0)  # no history
    assert not needs_retime(0.0, 100.0)
    assert not needs_retime(10.0, 5.0)  # faster


def test_env_shift_refuses_a_run_whose_anchors_disagree():
    """Start/end calibration anchors 1.2x apart: the box moved mid-run, so
    the shift is under-determined — raw (1.0), never the calibration ratio
    that would raise the regression bar."""
    bench = _load_bench()
    shift, source = bench.env_shift_estimate(
        calibration_sec=2.0, prev_calibration=1.0, median_ratio=1.8,
        anchor_spread=1.2,
    )
    assert shift == 1.0
    assert "1.2" in source and source != "calibration"


def test_env_shift_uses_calibration_within_the_spread_bar():
    bench = _load_bench()
    shift, source = bench.env_shift_estimate(
        calibration_sec=2.0, prev_calibration=1.0, median_ratio=1.8,
        anchor_spread=1.1,
    )
    assert (shift, source) == (2.0, "calibration")
    # history without an anchor falls back to the median entry ratio
    shift, source = bench.env_shift_estimate(
        calibration_sec=2.0, prev_calibration=None, median_ratio=1.8,
        anchor_spread=1.1,
    )
    assert shift == 1.8 and source.startswith("median_prev_ratio")
