"""Property-based invariant tests (hypothesis) for the semantic core — the
invariants SURVEY.md §5 calls out: per-key single survivor, closure symmetry, sync
verdict partitioning, reverse-pair reconciliation, minhash precision.

Examples are kept small and few (each runs a Spark job); the properties, not the
volume, carry the coverage.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import bestfit, grouping, sync

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

#: (key, dest, evidence_count, prefer_flag)
candidate = st.tuples(
    st.integers(0, 3),
    st.integers(0, 20),
    st.integers(0, 4),
    st.booleans(),
)


@given(rows=st.lists(candidate, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_pick_best_one_survivor_with_correct_tiebreak(spark, rows):
    df = spark.createDataFrame(
        [(k, d, e, int(p)) for k, d, e, p in rows],
        "key int, dest int, ev int, pref int",
    )
    out = bestfit.pick_best(
        df,
        ["key"],
        evidence=F.col("ev"),
        prefer=F.col("pref"),
        order_cols=[F.col("dest").asc()],
    ).collect()

    by_key: dict[int, list] = {}
    for k, d, e, p in rows:
        by_key.setdefault(k, []).append((d, e, int(p)))

    assert len(out) == len(by_key)  # exactly one survivor per key
    for r in out:
        cands = by_key[r.key]
        assert (r.dest, r.ev, r.pref) in cands  # survivor came from the input
        evs = sorted((e for _, e, _ in cands), reverse=True)
        strict_max = len(evs) == 1 or evs[0] > evs[1]
        if strict_max:
            assert r.ev == evs[0]  # strict evidence winner takes it
        else:
            # no strict winner: prefer flag decides over ALL candidates, then min dest
            want_pref = max(p for _, _, p in cands)
            assert r.pref == want_pref
            assert r.dest == min(d for d, _, p in cands if p == want_pref)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=20
    )
)
@settings(**SETTINGS)
def test_complement_closure_symmetric_and_idempotent(spark, edges):
    df = spark.createDataFrame(
        [(a, b, 1, 3, "HGNC", "e") for a, b in edges],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        "dest_species_type_key int, data_source string, data_set_name string",
    ).dropDuplicates(["src_rgd_id", "dest_rgd_id"])
    closed = grouping.complement_closure(df)
    pairs = {(r.src_rgd_id, r.dest_rgd_id) for r in closed.collect()}
    assert all((b, a) in pairs for a, b in pairs)  # symmetry
    again = {
        (r.src_rgd_id, r.dest_rgd_id)
        for r in grouping.complement_closure(closed).collect()
    }
    assert again == pairs  # idempotence


@given(
    inc=st.lists(st.tuples(st.integers(0, 8), st.text("ab", max_size=1)), max_size=12),
    exi=st.lists(st.tuples(st.integers(0, 8), st.text("ab", max_size=1)), max_size=12),
)
@settings(**SETTINGS)
def test_sync_verdicts_partition_key_space(spark, inc, exi):
    inc = dict(inc)
    exi = dict(exi)
    incoming = spark.createDataFrame(
        [(k, v) for k, v in inc.items()] or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    existing = spark.createDataFrame(
        [(k, v) for k, v in exi.items()] or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    out = {r.k: r.sync_verdict for r in
           sync.sync_full_outer(incoming, existing, ["k"], ["v"]).collect()}
    assert set(out) == set(inc) | set(exi)  # every key exactly once
    for k, verdict in out.items():
        if k in inc and k not in exi:
            assert verdict == "insert"
        elif k in exi and k not in inc:
            assert verdict == "delete"
        elif inc[k] == exi[k]:
            assert verdict == "match"
        else:
            assert verdict == "update"


@given(
    ins=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 4)), max_size=10),
    dels=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 4)), max_size=10),
)
@settings(**SETTINGS)
def test_reconcile_reverse_cancels_noop_pairs(spark, ins, dels):
    ins, dels = set(ins), set(dels)
    i_df = spark.createDataFrame(
        list(ins) or [(None, None)], "master_rgd_id int, detail_rgd_id int"
    ).filter(F.col("master_rgd_id").isNotNull())
    d_df = spark.createDataFrame(
        list(dels) or [(None, None)], "master_rgd_id int, detail_rgd_id int"
    ).filter(F.col("master_rgd_id").isNotNull())
    kept_i, kept_d = sync.reconcile_reverse_associations(i_df, d_df)
    ki = {(r.master_rgd_id, r.detail_rgd_id) for r in kept_i.collect()}
    kd = {(r.master_rgd_id, r.detail_rgd_id) for r in kept_d.collect()}
    # no surviving insert has its reverse queued for delete — the no-op pair is gone
    assert all((b, a) not in kd for a, b in ki)
    # reconciliation only ever removes rows, never invents them
    assert ki <= ins and kd <= dels


@pytest.mark.parametrize("threshold", [0.3, 0.6])
def test_minhash_pairs_are_exact_above_threshold(spark, threshold):
    """Every pair minhash-LSH reports must truly meet the Jaccard threshold over
    hashed shingles (precision is exact; recall is the probabilistic part)."""
    from ortholog_pipeline_spark.operators import dedup as DD

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    found = DD.minhash_lsh_dedup(docs, threshold=threshold).collect()
    hashed = docs.select(
        "doc_id", DD.hashed_shingles31("text", 3).alias("h31")
    ).filter(F.size("h31") > 0)
    sets = {r.doc_id: set(r.h31) for r in hashed.collect()}
    for r in found:
        a, b = sets[r.id_1], sets[r.id_2]
        true_j = len(a & b) / len(a | b)
        assert true_j >= threshold
        assert abs(true_j - float(r.jaccard)) < 1e-4


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_quantize_roundtrip_bound_property(spark, vecs):
    """For ANY float vectors: quantized values stay in [-127, 127] and
    dequantization error is bounded by scale/2 per element (round guarantee)."""
    from ortholog_pipeline_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    for r in SIM.quantize_int8(df).collect():
        orig = vecs[r.vec_id]
        assert all(abs(q) <= 127 for q in r.q)
        for x, q in zip(orig, r.q):
            assert abs(float(x) - q * r.scale) <= r.scale / 2 + 1e-9 * abs(float(x))


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1, max_size=5
    ),
    stride=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_chunk_starts_cover_all_tokens_property(spark, texts, stride):
    """Chunk starts must begin at 1, advance by exactly `stride`, and the final
    start must be within stride of the token count (no token beyond the last
    chunk's reach when chunk size >= stride)."""
    from ortholog_pipeline_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.s, r.n)
        for r in df.select(
            "doc_id",
            TXT.chunk_starts("text", stride=stride).alias("s"),
            F.size(TXT.tokens("text")).alias("n"),
        ).collect()
    }
    for _doc, (starts, n) in got.items():
        if n == 0:
            assert starts == []
            continue
        assert starts[0] == 1
        assert all(b - a == stride for a, b in zip(starts, starts[1:]))
        assert n - starts[-1] < stride


# ---------------------------------------------------------------------------
# Species-load tier cascade: min_by pick ≡ row_number over tier
# ---------------------------------------------------------------------------

TIERS_DDL = (
    "src_rgd_id int, dest_species_type_key int, tier int, dest_rgd_id int,"
    " blocked boolean, xref_data_src string, xref_data_set string"
)


def _row_number_pick(tiers):
    """The window form `_cascade_pick` replaced: first tier per key wins, a
    blocked winner yields no pick."""
    from pyspark.sql import Window

    from ortholog_pipeline_spark.plans.species_load import KEY

    w = Window.partitionBy(*KEY).orderBy("tier")
    return (
        tiers.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("blocked"))
        .drop("_rn", "blocked")
    )


def _sorted_rows(df):
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()), key=repr)


@given(
    keys=st.dictionaries(
        st.tuples(st.integers(0, 3), st.sampled_from([2, 3])),
        st.dictionaries(
            st.sampled_from([1, 2, 3, 4]),
            st.tuples(st.integers(0, 20), st.booleans()),
            min_size=1,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_cascade_pick_matches_row_number(spark, keys):
    from ortholog_pipeline_spark.plans.species_load import _cascade_pick

    names = {1: "RGD", 2: "Alliance", 3: "HGNC", 4: "NCBI"}
    rows = [
        # only the manual and Alliance tiers can be blocked (A8 conflict)
        (src, sp, tier, None if (blocked and tier <= 2) else dest,
         blocked and tier <= 2, names[tier], f"set{dest}")
        for (src, sp), by_tier in keys.items()
        for tier, (dest, blocked) in by_tier.items()
    ]
    tiers = spark.createDataFrame(rows, TIERS_DDL)
    assert _sorted_rows(_cascade_pick(tiers)) == _sorted_rows(_row_number_pick(tiers))


HUMAN_IDS, RAT_IDS = [1, 2, 3], [10, 11, 12, 13]


@given(
    symbols=st.lists(
        st.sampled_from(["A1", "a1", "B2", None]), min_size=7, max_size=7
    ),
    closed=st.lists(
        st.tuples(
            st.sampled_from(HUMAN_IDS),
            st.sampled_from(RAT_IDS),
            st.sampled_from(["HGNC", "NCBI"]),
            st.sampled_from(["E", "E, O", "E, O, M"]),
        ),
        max_size=12,
    ),
    manual=st.lists(
        st.tuples(st.sampled_from(HUMAN_IDS), st.sampled_from(RAT_IDS)), max_size=5
    ),
    agr=st.lists(
        st.tuples(
            st.sampled_from(HUMAN_IDS + RAT_IDS),
            st.sampled_from(HUMAN_IDS + RAT_IDS),
            st.sampled_from(["Y", "N"]),
        ),
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_tier_candidates_one_row_per_key_and_tier(spark, symbols, closed, manual, agr):
    """Each tier subframe emits at most one row per key — the invariant that
    keeps `_cascade_pick`'s min_by free of ties — and the cascade over the
    real tiers equals the row_number reference."""
    from ortholog_pipeline_spark.plans.species_load import (
        KEY,
        _cascade_pick,
        _file_tiers,
        _snapshot_tiers,
        _symbol_dim,
    )
    from table_schemas import AGR_ORTHOLOGS_SCHEMA, GENES_SCHEMA, ORTHOLOGS_SCHEMA

    genes = spark.createDataFrame(
        [(g, sym, "protein-coding", None, 1 if g in HUMAN_IDS else 3)
         for g, sym in zip(HUMAN_IDS + RAT_IDS, symbols)],
        GENES_SCHEMA,
    )
    closed_df = spark.createDataFrame(
        [(s, d, 1, 3, src, ev) for s, d, src, ev in closed],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    existing = spark.createDataFrame(
        [(i, s, d, 1, 3, None, "RGD", None, 11, None, 1, None, 1, None)
         for i, (s, d) in enumerate(manual)],
        ORTHOLOGS_SCHEMA,
    )
    agr_df = spark.createDataFrame(
        [(a, b, "c", y, y, "m", None, None) for a, b, y in agr], AGR_ORTHOLOGS_SCHEMA
    )
    tiers = _snapshot_tiers(genes, existing, agr_df).unionByName(
        _file_tiers(closed_df, _symbol_dim(genes))
    ).persist()
    try:
        dup = tiers.groupBy(*KEY, "tier").count().filter(F.col("count") > 1)
        assert dup.count() == 0
        assert _sorted_rows(_cascade_pick(tiers)) == _sorted_rows(
            _row_number_pick(tiers)
        )
    finally:
        tiers.unpersist()
