"""Deduplication operators for large-scale training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design notes (the whole point of these shapes):
  * Exact dedup is one hash-groupBy — a single shuffle on the fingerprint.
  * MinHash+LSH never compares all pairs: signatures are per-row (map-side, codegen
    array expressions), banding buckets collide only near-duplicates, and the
    verification join runs on the tiny candidate set. At 100 TB the only wide ops are
    the band-key shuffle and the candidate join.
  * The n-gram Jaccard join is the classic sparse similarity join: explode shingles,
    join on shingle, count per pair — shuffle is bounded by posting-list sizes, and a
    `distinct` before the explode caps skew from repeated shingles. Use it to VERIFY
    candidates, not to generate them, at scale.
  * Everything uses md5-derived 60-bit integers (conv of the hex prefix) instead of
    murmur `hash()` so the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ortholog_pipeline_spark.functions.text import fingerprint, tokens


#: Row ceiling for the declared brute-force baselines below.  Both are
#: quadratic by design (exact/verification paths with oracled sub-quadratic
#: twins: minhash_lsh_dedup, cosine_near_dup_pairs); the guard keeps them
#: from being pointed at a corpus-scale input by accident, mirroring how the
#: reference refuses mass-deletes (AgrTsvLoader.java:282-297).
BRUTE_FORCE_MAX_ROWS = 100_000


def guard_brute_force(df: DataFrame, what: str, limit: int = BRUTE_FORCE_MAX_ROWS) -> None:
    """Refuse to run a quadratic baseline above ``limit`` input rows.

    One count() action — the cost is the point: these paths exist for
    small-data verification only, and failing fast beats an accidental
    O(n²) shuffle at corpus scale."""
    n = df.count()
    if n > limit:
        raise RuntimeError(
            f"{what} is a brute-force O(n^2) baseline guarded at {limit} rows "
            f"(got {n}); use its LSH/banded scale twin instead"
        )


def hex_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash portable across engines: first 15 hex chars
    of md5 parsed base-16 (DuckDB: CAST('0x'||substr(md5(x),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def pow2(b: Column) -> Column:
    """2^b as a long for a Column exponent (F.shiftleft only takes int literals);
    exact for b ≤ 53 since pow computes in double."""
    return F.pow(F.lit(2.0), b.cast("double")).cast("long")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via normalized-md5 fingerprint groupBy: one row per fingerprint
    with the keeper (min id) and the duplicate count."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct k-token shingles of a document as array<string>."""
    t = tokens(text_col)
    n = F.size(t)
    # guard: Spark's sequence(1, 0) produces a DESCENDING [1, 0], not empty
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
    )


#: Affine-rehash constants: one md5 per shingle, then num_hashes cheap integer
#: functions (A_h·x + B_h) mod P over its 31-bit residue. A/B are deterministic
#: odd-multiplier literals; P = 2^61 − 1 (Mersenne), so A_h·x + B_h < 2^62 + 2^31
#: never overflows a signed 64-bit int even under ANSI mode.
MINHASH_P = (1 << 61) - 1
MINHASH_M31 = 1 << 31


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            ((h * 0x9E3779B1 + 0x7F4A7C15) % MINHASH_M31) | 1,
            (h * 0x85EBCA77 + 7) % MINHASH_M31,
        )
        for h in range(num_hashes)
    ]


#: Polynomial combine constants for hashed k-grams (products stay < 2^52).
SHINGLE_A = 1000003
SHINGLE_B = 1009


def token_hashes31(text_col: str) -> Column:
    """31-bit hash per whitespace token — the single md5 pass."""
    return F.transform(
        tokens(text_col), lambda t: F.pmod(hex_hash64(t), F.lit(MINHASH_M31))
    )


def hashed_shingles31(text_col: str, k: int = 3) -> Column:
    """Distinct 31-bit trigram shingle hashes WITHOUT materializing shingle strings:
    md5-hash each token, then combine 3 consecutive token hashes polynomially
    ((h_i·A + h_{i+1}·B + h_{i+2}) mod 2^31; products < 2^52, ANSI-safe).

    Built from ``zip_with`` over shifted slices, NOT ``element_at(th, i)`` inside a
    ``transform`` lambda: zip_with evaluates its array operands once per ROW, while
    an array expression referenced inside a per-element lambda is re-inlined by
    CollapseProject and re-evaluated per ELEMENT — measured O(n²) blowup (10×
    slower at sf0.1). Only k=3 (polynomial unrolled for codegen)."""
    if k != 3:
        raise ValueError("hashed_shingles31 supports k=3 only")
    th = token_hashes31(text_col)
    n = F.size(th)
    ab = F.zip_with(
        th,
        F.slice(th, 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: x * F.lit(SHINGLE_A) + y * F.lit(SHINGLE_B),
    )
    abc = F.zip_with(
        ab,
        F.slice(th, 3, F.greatest(n - 2, F.lit(0))),
        lambda xy, z: F.pmod(xy + z, F.lit(MINHASH_M31)),
    )
    return F.array_distinct(F.filter(abc, lambda x: x.isNotNull()))


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Exact repeated-substring detection (the ExactSubstr pass of
    training-data dedup, cf. Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better"): hash fixed-length token spans on a stride
    grid and report spans that occur in ≥ 2 distinct documents.

    Scale shape: span hashing is a pure map-side explode (~n_tokens/stride
    rows per doc, each a 32-char hash — no token text leaves the mapper);
    the wide ops are the two aggregation shuffles the exact distinct-document
    count needs ((span_hash, doc_id) dedup, then span_hash), both with
    map-side partial aggregation.
    Contrast with suffix-array approaches: this finds duplication at span
    granularity (enough to flag/cut boilerplate) without a global sort.
    Output: one row per duplicated span with its document spread and total
    occurrence count."""
    from ortholog_pipeline_spark.functions.text import tokens

    t = tokens(text_col)
    n = F.size(t)
    starts = F.when(
        n >= span,
        F.sequence(F.lit(1), F.greatest(n - (span - 1), F.lit(1)), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    spans = df.select(
        F.col(id_col),
        F.explode(starts).alias("start"),
        t.alias("_toks"),
    ).select(
        id_col,
        F.md5(F.array_join(F.slice("_toks", F.col("start"), span), " ")).alias(
            "span_hash"
        ),
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


#: Java-regex ``\s`` is ASCII-only ([ \t\n\x0B\f\r]) — what ``F.split(r"\s+")``
#: compiles to in the JVM. Python ``\s`` is Unicode-aware, so the class is
#: spelled out to keep the vectorized tokenizer byte-identical to the
#: expression path on every input.
_WS_JAVA = re.compile("[ \t\n\x0b\f\r]+")

#: Per-worker token→hash31 memo (guide §4.5): document vocabulary repeats
#: massively, so the md5 of a token is computed once per Python worker and
#: amortized across every batch the reused worker sees. Vocabulary is
#: corpus-dependent, so the memo is CAPPED — past the cap new tokens are
#: hashed without being stored (no unbounded growth at 100 TB).
_TOKEN_MEMO_CAP = 1_000_000
_token_memo: dict[str, int] = {}


def _tok_hash31(t: str) -> int:
    h = _token_memo.get(t)
    if h is None:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_M31
        if len(_token_memo) < _TOKEN_MEMO_CAP:
            _token_memo[t] = h
    return h


_MH_SCHEMA = T.StructType(
    [
        T.StructField("h31", T.ArrayType(T.LongType()), False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
    ]
)

_mh_udf_cache: dict[int, object] = {}


def _mh_h31_sig_udf(num_hashes: int):
    """Arrow-batched (pandas) UDF computing BOTH the distinct 31-bit trigram
    shingle hashes and the ``num_hashes``-wide MinHash signature in one pass
    over the text column — value-identical to ``hashed_shingles31`` +
    the affine signature expressions, proven element-for-element on every
    fixture doc (tests/test_operators.py::test_mh_udf_matches_expression_path).

    Why a Python path in the one place the module header forbids it: the
    expression formulation runs through Catalyst HIGHER-ORDER functions
    (``transform``/``zip_with``/``array_min``), which are evaluated per
    ELEMENT by the expression interpreter — they do not participate in
    whole-stage codegen. Measured at sf0.1 (guide §4.2): the vectorized
    batch path computes the same (h31, sig) frame 4.1x faster (4.22 s ->
    1.03 s noop-isolated), because the per-token md5 is memoized per worker
    (vocabulary repeats; guide §4.5) and the trigram combine + 16 affine
    min-reductions collapse into a handful of NumPy int64 array ops per
    document. Only (id, text) crosses the JVM→Python boundary (guide §4.1),
    and the output is ~100x smaller than the text it replaces.

    Exact-equality notes (each bit once in the prototype):
      * Spark ``trim`` strips 0x20 ONLY — ``str.strip(' ')``, not ``strip()``;
      * Spark ``split`` uses limit=-1 (KEEPS leading/trailing empty tokens,
        unlike Java's default limit=0) — Python ``re.split`` matches exactly;
      * ``np.unique`` sorts where ``array_distinct`` keeps first occurrence:
        h31 is consumed as a SET everywhere (array_intersect, array_sort
        group keys, min-reductions), so order is free to differ;
      * products stay < 2^62: exact in int64, same overflow-free window the
        ANSI-safe expression path uses.
    """
    params = minhash_params(num_hashes)
    a_mat = np.array([p[0] for p in params], dtype=np.int64).reshape(-1, 1)
    b_mat = np.array([p[1] for p in params], dtype=np.int64).reshape(-1, 1)
    empty = np.empty(0, dtype=np.int64)
    # num_hashes=0 → the sig-free variant for h31-only consumers
    # (contamination_check, text_fingerprint_winnow, dedup_lsh_scorecard):
    # the 16 affine min-reductions are skipped, h31 values are identical
    want_sig = num_hashes > 0

    @pandas_udf(_MH_SCHEMA)
    def mh(texts: pd.Series) -> pd.DataFrame:
        h31_out, sig_out = [], []
        for text in texts:
            st = (text or "").strip(" ")
            toks = _WS_JAVA.split(st) if st else []
            n = len(toks)
            if n >= 3:
                th = np.fromiter(
                    (_tok_hash31(t) for t in toks), dtype=np.int64, count=n
                )
                h31 = np.unique(
                    (th[:-2] * SHINGLE_A + th[1:-1] * SHINGLE_B + th[2:])
                    % MINHASH_M31
                )
                sig = (
                    ((a_mat * h31 + b_mat) % MINHASH_P).min(axis=1)
                    if want_sig
                    else empty
                )
            else:
                h31, sig = empty, empty
            h31_out.append(h31)
            sig_out.append(sig)
        return pd.DataFrame({"h31": h31_out, "sig": sig_out})

    return mh


def shingle_sig_frame(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, k: int = 3
) -> DataFrame:
    """(id, h31, sig) for every doc with >= 1 shingle — the shared producer
    for minhash_lsh_dedup and the incremental/stored-index paths.

    ``num_hashes=0`` is the sig-free variant: consumers that only need the
    shingle SET (containment scans, min-fingerprints, posting joins) skip the
    per-document affine min-reductions entirely; ``sig`` comes back empty.
    The trigram (k=3) constraint lives HERE — the vectorized UDF hardcodes
    the 3-token combine — so every caller inherits the guard."""
    if k != 3:
        raise ValueError("shingle_sig_frame/_mh_h31_sig_udf support k=3 only")
    mh = _mh_udf_cache.get(num_hashes)
    if mh is None:
        mh = _mh_udf_cache[num_hashes] = _mh_h31_sig_udf(num_hashes)
    return (
        df.select(F.col(id_col), mh(F.col(text_col)).alias("_mh"))
        .select(
            id_col,
            F.col("_mh.h31").alias("h31"),
            F.col("_mh.sig").alias("sig"),
        )
        .filter(F.size("h31") > 0)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature, bucket-join within (band, band_key): only rows agreeing on
    a full band collide. Returns distinct candidate (id_1, id_2) with id_1 < id_2."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = df.select(
        F.col(id_col),
        F.explode(band_idx).alias("band"),
        F.col(sig_col).alias("_sig"),
    ).select(
        id_col,
        "band",
        # xxhash64, not md5: the key only needs equality semantics (equal iff
        # the band signatures are equal, bar a ~2^-64 collision the exact
        # Jaccard verify prunes) — an 8-byte long through the bucket shuffle
        # instead of a 32-char hex string, and a far cheaper hash. NOTE: this
        # defines the PERSISTED band-table key of dedup_index — an index built
        # before this change has string keys and must be rebuilt.
        F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        "_sig", F.col("band") * rows_per_band + 1, rows_per_band
                    ),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("band_key"),
    )
    a = banded.select(
        F.col(id_col).alias("id_1"), "band", "band_key"
    )
    b = banded.select(F.col(id_col).alias("id_2"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .dropDuplicates()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps pairs ≥ threshold.

    Shape: CANDIDATE-proportional, not corpus-proportional. The former
    posting-explode formulation shuffled the ENTIRE corpus's exploded shingle
    list through two joins even when LSH produced a handful of candidates —
    at 10× sf0.1 the verify alone cost ~8 s of the pipeline's ~12 s, and at
    100 TB a corpus-sized shuffle per dedup run is exactly the wrong bill.
    Here the shingle ARRAYS ride onto the candidate rows (two joins whose
    small side is the candidate list — AQE broadcasts it; the corpus side is
    semi-filtered map-side first so nothing corpus-sized ever shuffles), and
    the intersection is one JVM `array_intersect` per candidate pair. The
    arrays are distinct-element by construction (hashed_shingles31 /
    word_shingles both dedup), so |array_intersect| is exactly n_common."""
    cand = candidates.select("id_1", "id_2")
    arrs = df.select(F.col(id_col), F.col(shingle_col))
    a1 = arrs.withColumnsRenamed({id_col: "id_1", shingle_col: "_sh1"}).join(
        cand.select("id_1").dropDuplicates(), "id_1", "left_semi"
    )
    a2 = arrs.withColumnsRenamed({id_col: "id_2", shingle_col: "_sh2"}).join(
        cand.select("id_2").dropDuplicates(), "id_2", "left_semi"
    )
    return (
        cand.join(a1, "id_1")
        .join(a2, "id_2")
        .withColumn(
            "n_common", F.size(F.array_intersect("_sh1", "_sh2")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sh1") + F.size("_sh2") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    collapse_exact: bool = False,
    expand_groups: bool = True,
    target_members_per_bucket: int | None = 256,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-duplicate pairs ≥ threshold Jaccard.

    ``expand_groups=False`` (with ``collapse_exact=True``) returns the
    REPRESENTATIVE-level pairs without expanding identical-text groups back
    to members: the output a keeper-decision consumer needs (each group acts
    as one document) and the seam the scale probes use to time the
    candidate+verify stages separately from the semantically-quadratic pair
    materialization. No-op when collapse_exact is off.

    ``target_members_per_bucket`` sizes the intra-group expansion's bucketed
    triangle join: a group fans out over ``least(defaultParallelism,
    ceil(g / target))`` buckets, so small identical-text groups (pairs,
    triples — the common case in a lightly-duplicated corpus) keep the
    replication-free single-bucket path and only genuinely large groups pay
    the spread that keeps their C(g, 2) output off one task. ``None``
    forces the flat pre-r9 sizing (every multi-member group fans out over
    defaultParallelism buckets) — the baseline knob the scale probes use to
    put a measured receipt on the per-group sizing win; output is identical
    either way (the exactly-once triangle invariant holds for any bucket
    count).

    Scale shape: tokenize+md5 runs ONCE — documents are reduced to distinct 31-bit
    shingle hashes up front (int arrays, ~100× smaller than text), then the
    signature, banding, and verification branches all reuse that frame instead of
    re-tokenizing per branch. Jaccard is computed over hashed shingles (standard LSH
    practice; 31-bit collisions are vanishingly rare at document scale).

    ``collapse_exact`` first groups documents whose shingle SETS are identical and
    runs the signature/banding/verify stages on one representative per group, then
    expands the verdicts back to members. A group of g identical documents
    otherwise lands in the same bucket in EVERY band and pays C(g, 2) verify
    comparisons — a 10%-identical cluster in a 500k-doc corpus is 1.25e9 candidate
    pairs of verify work for pairs that are Jaccard 1 by construction. With the
    collapse, the expensive stages are group-proportional and only the
    (semantically unavoidable) pair OUTPUT stays quadratic per group. Measured
    crossover at sf0.1: a 2500-doc identical cluster runs 13.5 s uncollapsed vs
    5.5 s collapsed (identical 3.1M pairs), and the gap grows with the SQUARE of
    the cluster size; on a clean 5k-doc corpus the collapse's extra shuffle +
    expansion stages cost ~1.6 s of fixed overhead instead. Default OFF because
    the registered fixture corpora are clean and `corpus_prep` already removes
    exact duplicates upstream (stage 1 fingerprint dedup — the production
    pattern); turn it ON when feeding raw, duplicate-heavy corpora directly.

    The rewrite is OUTPUT-IDENTICAL, not approximate: identical shingle sets ⇒
    identical MinHash signatures ⇒ identical band keys, so (a) intra-group pairs
    always collide in every band, always survive the exact verify at Jaccard 1,
    and are emitted by the uncollapsed pipeline too; (b) a cross-group pair
    collides iff its representatives collide and carries exactly the
    representatives' Jaccard. Group key is md5 over the sorted shingle-hash
    array (128-bit: no false merges at any corpus size)."""
    # A small input (one parquet file) scans as ONE partition, serializing the
    # whole tokenize+md5 map stage; spread it first. At real scale file splits
    # already provide map parallelism and this branch never fires.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, id_col)
    # r10: shingle hashes AND signatures come from the Arrow-batched producer
    # in one pass (see _mh_h31_sig_udf — 4.1x over the higher-order-function
    # expression path, value-identical)
    hashed = shingle_sig_frame(df, text_col, id_col, num_hashes, k=k)
    groups = None
    if collapse_exact:
        groups = (
            hashed.withColumn(
                "_gk",
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort("h31"), lambda x: x.cast("string")
                        ),
                    )
                ),
            )
            .groupBy("_gk")
            # h31 (and therefore sig) is identical across the group by
            # construction of _gk, so first() is deterministic in value
            .agg(
                F.min(id_col).alias("_rep"),
                F.collect_list(F.col(id_col)).alias("_members"),
                F.first("h31").alias("h31"),
                F.first("sig").alias("sig"),
            )
            .persist()
        )
        base = groups.select(F.col("_rep").alias(id_col), "h31", "sig")
    else:
        base = hashed.persist()

    with_sig = base
    cands = lsh_candidate_pairs(
        with_sig, id_col, "sig", bands, num_hashes // bands
    )
    rep_pairs = jaccard_verify(base, cands, id_col, "h31", threshold)
    if not collapse_exact or not expand_groups:
        return rep_pairs

    members = groups.select("_rep", F.explode("_members").alias("_m"))
    # cross-group expansion: each doc belongs to exactly one group, so every
    # (member_1, member_2) pair materializes exactly once; least/greatest
    # restores the id_1 < id_2 contract (min-id reps don't order members)
    out = (
        rep_pairs.join(
            members.withColumnsRenamed({"_rep": "id_1", "_m": "_m1"}), "id_1"
        )
        .join(members.withColumnsRenamed({"_rep": "id_2", "_m": "_m2"}), "id_2")
        .select(
            F.least("_m1", "_m2").alias("id_1"),
            F.greatest("_m1", "_m2").alias("id_2"),
            "jaccard",
        )
    )
    if threshold <= 1.0:
        # intra-group pairs via a bucketed triangle join, NOT a plain
        # self-join on _rep: one identical-text group is ONE join key, so a
        # g-member group would build its C(g,2) output rows in a single
        # task — a straggler that at corpus scale turns the (semantically
        # unavoidable) quadratic OUTPUT into a sequential bottleneck.
        # Members are hashed into B_g buckets; each row joins every bucket
        # >= its own ((_rep, bucket) keys), so the group's pair output
        # spreads across ~B_g tasks while each unordered pair still
        # materializes exactly once: a cross-bucket pair (bi < bj) appears
        # only via the bi row's replication up to bj, and a same-bucket
        # pair passes the _m < _m2 filter once. Only multi-member groups
        # enter the expansion — a clean corpus (all-singleton groups) pays
        # nothing here. B_g is PER GROUP (ADVICE r8): a flat B would make
        # every pair/triple group pay ~B/2× row replication to fix a
        # straggler only giant groups exhibit, so small groups get a single
        # bucket (zero replication) and the count grows with group size up
        # to defaultParallelism — a g-member group replicates its rows
        # ~B_g/2× while its per-bucket fan-out stays ≥ target size.
        B = df.sparkSession.sparkContext.defaultParallelism
        nb_expr = (
            F.lit(B).cast("int")  # flat legacy sizing (probe baseline)
            if target_members_per_bucket is None
            else F.least(
                F.lit(B),
                F.ceil(
                    F.size("_members") / F.lit(target_members_per_bucket)
                ),
            ).cast("int")
        )
        multi = (
            groups.filter(F.size("_members") >= 2)
            .withColumn(
                "_nb",  # per-group bucket count (NOT "_B": Spark resolves
                # column names case-insensitively, so "_B" would collide
                # with the per-row bucket id "_b")
                nb_expr,
            )
            .select("_rep", "_nb", F.explode("_members").alias("_m"))
        )
        mb = multi.withColumn(
            "_b", F.pmod(F.xxhash64(F.col("_m")), F.col("_nb")).cast("int")
        )
        left = mb.withColumn(
            "_bj", F.explode(F.sequence(F.col("_b"), F.col("_nb") - 1))
        ).drop("_nb")
        right = mb.drop("_nb").withColumnsRenamed({"_m": "_m2", "_b": "_bj"})
        intra = (
            left.join(right, ["_rep", "_bj"])
            .filter(
                (F.col("_b") < F.col("_bj"))
                | ((F.col("_b") == F.col("_bj")) & (F.col("_m") < F.col("_m2")))
            )
            .select(
                F.least("_m", "_m2").alias("id_1"),
                F.greatest("_m", "_m2").alias("id_2"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        out = out.unionByName(intra)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute n-gram Jaccard similarity join (the small-data / verification path):
    explode shingles → self-join on shingle → count → filter. The candidate set is
    every pair sharing ≥1 shingle — use minhash_lsh_dedup at scale instead
    (enforced: refuses inputs above BRUTE_FORCE_MAX_ROWS)."""
    guard_brute_force(df, "ngram_jaccard_pairs")
    with_sh = df.select(id_col, word_shingles(text_col, k).alias("shingles")).filter(
        F.size("shingles") > 0
    )
    posting = with_sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    pairs = (
        posting.alias("a")
        .join(posting.alias("b"), "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sizes = with_sh.select(F.col(id_col), F.size("shingles").alias("sz"))
    return (
        pairs.join(sizes.withColumnsRenamed({id_col: "id_1", "sz": "sz_1"}), "id_1")
        .join(sizes.withColumnsRenamed({id_col: "id_2", "sz": "sz_2"}), "id_2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_1") + F.col("sz_2") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def simhash(text_col: str, bits: int = 16) -> Column:
    """SimHash over whitespace tokens: bit b of each token's hex_hash64 votes ±1;
    the sign of the partition sum sets bit b of the fingerprint."""
    t = tokens(text_col)
    tok_hashes = F.transform(t, lambda x: hex_hash64(x))
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))

    def bit_sum(b: Column) -> Column:
        votes = F.transform(
            tok_hashes,
            lambda h: F.when(h.bitwiseAND(pow2(b)) != 0, 1).otherwise(-1),
        )
        return F.aggregate(votes, F.lit(0), lambda acc, v: acc + v)

    return F.aggregate(
        bit_idx,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(bit_sum(b) > 0, pow2(b)).otherwise(0),
    )


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Bucket documents by exact SimHash equality (near-identical docs collide);
    returns buckets with >1 member."""
    hashed = df.select(F.col(id_col), simhash(text_col, bits).alias("simhash"))
    return (
        hashed.groupBy("simhash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def contamination_check(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    holdout_fraction: float = 0.1,
    max_shingle_freq: int = 50,
    threshold: float = 0.8,
) -> DataFrame:
    """Train→holdout contamination scan: for every holdout document, the train
    document with the highest shingle-containment (|H∩T| / |H|) and whether it
    crosses the contamination threshold — the eval-integrity gate a training
    pipeline runs before publishing a split.

    Scale shape: the split is the hash-Bernoulli labeler (map-side), shingles
    are the already-hashed 31-bit trigrams, and the candidate join is a posting
    join train×holdout per shingle. Shingles occurring in > ``max_shingle_freq``
    docs are dropped first — boilerplate shingles dominate posting-list cost
    quadratically while carrying no contamination signal (same reasoning as a
    stopword cut). At corpus scale, swap the posting join's generation side for
    minhash_lsh_dedup candidates; the containment refine is unchanged."""
    from ortholog_pipeline_spark.operators.sampling import sample_bucket, BUCKETS

    # r10: h31 from the Arrow-batched producer (set-identical); the holdout
    # flag is a pure function of the id, recomputed after the projection.
    # r11: sig-free variant (num_hashes=0 — only h31 is consumed here, so the
    # 16 affine min-reductions were wasted NumPy work per doc) and persisted —
    # the frame feeds the posting explode AND the holdout-size branch, so the
    # Arrow UDF stage otherwise runs once per consuming branch (ADVICE r10).
    hashed = shingle_sig_frame(df, text_col, id_col, 0).select(
        F.col(id_col),
        (
            sample_bucket(F.col(id_col), "s0") < int(holdout_fraction * BUCKETS)
        ).alias("is_holdout"),
        "h31",
    ).persist()

    posting = hashed.select(id_col, "is_holdout", F.explode("h31").alias("h"))
    rare = (
        posting.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_shingle_freq)
        .select("h")
    )
    posting = posting.join(rare, "h")

    hold = posting.filter("is_holdout").select(
        F.col(id_col).alias("holdout_id"), "h"
    )
    train = posting.filter(~F.col("is_holdout")).select(
        F.col(id_col).alias("train_id"), "h"
    )
    common = (
        hold.join(train, "h")
        .groupBy("holdout_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    hsz = hashed.filter("is_holdout").select(
        F.col(id_col).alias("holdout_id"), F.size("h31").alias("h_sz")
    )
    scored = common.join(hsz, "holdout_id").withColumn(
        "containment", F.round(F.col("n_common") / F.col("h_sz"), 6)
    )
    w = Window.partitionBy("holdout_id").orderBy(
        F.col("containment").desc(), F.col("train_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "holdout_id",
            F.col("train_id").alias("best_train_id"),
            "containment",
            (F.col("containment") >= threshold).alias("contaminated"),
        )
    )


def editdist1_join(
    df: DataFrame,
    col: str,
    block_cols: list[str] | None = None,
    candidate_join: str = "shuffle_hash",
) -> DataFrame:
    """All string pairs at Levenshtein distance exactly 1, via the deletion
    neighborhood (FastSS / SymSpell family): two strings are candidates iff
    they share a variant from {s} ∪ {s with one char deleted}. A deletion or
    insertion pair shares the shorter string itself; a substitution pair shares
    the delete-at-the-differing-position variant — so recall is exact for
    d ≤ 1, and the verify step only prunes the d=2 false candidates (e.g.
    transpositions 'ab'/'ba' share variant 'a').

    This is the scale shape for typo-level string dedup: |s|+1 variants per
    DISTINCT string (map-side explode), one equi-join shuffle on the variant
    key, exact levenshtein only on the candidate pairs — never all-pairs.
    Variant-key skew (many strings sharing a short deletion) is ordinary
    hash-join skew; at 100 TB cap variant length or salt the hot keys.

    ``block_cols``: optional blocking keys composed INTO the variant join key —
    candidates only form within a block, so the join, the pair-dedup, and the
    levenshtein verify all shrink by the block selectivity (measured 25x on
    the nation-blocked ER query). Output carries the block columns.

    ``candidate_join``: physical strategy for the variant self-join.
    ``"shuffle_hash"`` (default) skips SMJ's two full sorts of the
    ~20x-expanded variant frame — measured 4x on the candidate phase at 100x
    customers — but a hash build side cannot spill the way sort-merge can,
    so a corpus with a HOT variant key (many distinct strings one deletion
    away from the same short string) concentrates that key's whole build
    group in one partition's hash map. For such skewed corpora pass
    ``"merge"`` to fall back to sort-merge, or cap/salt the variant key
    upstream; the uniform-key memory bound is probed per round by the
    constrained-heap skew twin in bench.py --mem-envelope."""
    strategies = {"shuffle_hash": "SHUFFLE_HASH", "merge": "MERGE"}
    if candidate_join not in strategies:
        raise ValueError(
            f"candidate_join must be one of {sorted(strategies)}, "
            f"got {candidate_join!r}"
        )
    block = list(block_cols or [])
    # re-spread AFTER the distinct: AQE coalesces the (small, few-MB) distinct
    # name list down to one partition, and everything downstream of it — the
    # |s|+1 variant explode, the neighborhood dedup, the self-join — then runs
    # as single-task stages on the 20x-EXPANDED data. One cheap shuffle of the
    # name list restores parallelism where the work actually is (measured on
    # 10x customers: candidate phase 18.3 s -> 2.6 s, whole ER entry ~4x).
    # At real scale the distinct output is large enough that AQE never
    # coalesces it, and the extra exchange stays proportional to the name
    # list, not the expansion.
    par = df.sparkSession.sparkContext.defaultParallelism
    names = df.select(*block, F.col(col).alias("s")).distinct().repartition(par, "s")
    variants = (
        names.withColumn(
            "variant",
            # deleting any char of an identical-char run yields the SAME
            # variant (canonical FastSS stores the neighborhood as a set):
            # without the dedup a name with a k-char run meets a j-duplicate
            # partner k*j times in the join — measured 1.46M -> 0.98M
            # candidate pairs on sf0.1 customer names, whose zero-runs make
            # the inflation quadratic. The neighborhood is one row's array,
            # so the dedup is array_distinct BEFORE the explode — map-side,
            # exact, zero shuffle; the previous explode-then-dropDuplicates
            # shuffled the full ~20x-expanded variant-string frame for the
            # same set (measured at 100x customers, 1.5M names / 28M
            # variants: the whole candidate phase 78.6 -> 42.6 s, identical
            # 1 043 500 pairs)
            F.explode(
                F.array_distinct(
                    F.concat(
                        F.array(F.col("s")),
                        F.expr(
                            "transform(sequence(1, length(s)), "
                            "i -> concat(substring(s, 1, i-1), substring(s, i+1, length(s)-i)))"
                        ),
                    )
                )
            ),
        )
        # join on an 8-byte hash of the variant, not the string itself: the
        # shuffle carries (hash, s) instead of (variant, s), and any hash
        # collision is a false candidate the levenshtein verify prunes anyway
        .select(*block, "s", F.xxhash64("variant").alias("vh"))
    )
    # SHUFFLE_HASH by default, not sort-merge: the self-join keys (vh) are
    # high-entropy hashes with tiny per-key groups in non-adversarial corpora,
    # so SMJ's two full sorts of the ~20x-expanded variant frame are pure
    # overhead — measured at 100x customers (26.7M variant rows) the candidate
    # join dropped 44.4 -> 10.5 s with the hint, identical pair set. The
    # build-side memory caveat is real: the map-side array_distinct above
    # dedups variants WITHIN one string only — it does NOT bound how many
    # DISTINCT strings hash to one variant key (exactly the candidate-cluster
    # mechanism), and a hash build side can't spill the way SMJ can. The
    # docstring's "cap variant length or salt hot keys" caveat is therefore
    # load-bearing under the default; candidate_join="merge" is the spillable
    # fallback for corpora known to carry hot variant keys.
    a, b = variants.alias("a"), variants.hint(strategies[candidate_join]).alias("b")
    return (
        a.join(b, ["vh", *block])
        .filter(F.col("a.s") < F.col("b.s"))
        .select(*block, F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        # dedup band collisions BEFORE the verify: a pair can meet under
        # several shared variants, and the edit-distance check is the
        # dominant per-row cost of the whole ER plan
        .distinct()
        # threshold-bounded levenshtein (banded DP, early exit at distance
        # > 1): O(len) per pair instead of the full O(len^2) matrix — the
        # verify stage visits EVERY candidate, so the bound is the lever
        .filter(F.levenshtein("s1", "s2", 1) >= 0)
        # survivors are distinct strings within distance 1 ⇒ exactly 1;
        # re-running levenshtein to say so was pure waste
        .withColumn("dist", F.lit(1).cast("long"))
    )


def _hashed_and_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """(hashed-shingle frame, banded band-key frame) for one side of an
    incremental probe — the same md5/affine/banding arithmetic as
    minhash_lsh_dedup, factored so each side computes it independently."""
    rows_per_band = num_hashes // bands
    # r10: same Arrow-batched (h31, sig) producer as minhash_lsh_dedup —
    # value-identical to the expression path, so band keys and stored
    # shingle tables are unchanged (an existing index stays valid).
    # r11: persisted — the frame feeds the banded branch AND (via `hashed`)
    # the posting/size branches, so without the persist the Arrow UDF stage
    # (per-token md5 + affine min-reductions) re-executes once per consuming
    # branch (ADVICE r10; guide §5 reuse rule).
    with_sig = shingle_sig_frame(df, text_col, id_col, num_hashes, k=k).persist()
    hashed = with_sig.select(id_col, "h31")
    banded = with_sig.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("sig"),
    ).select(
        id_col,
        "band",
        # xxhash64, not md5: the key only needs equality semantics (equal iff
        # the band signatures are equal, bar a ~2^-64 collision the exact
        # Jaccard verify prunes) — an 8-byte long through the bucket shuffle
        # instead of a 32-char hex string, and a far cheaper hash. NOTE: this
        # defines the PERSISTED band-table key of dedup_index — an index built
        # before this change has string keys and must be rebuilt.
        F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("band_key"),
    )
    return hashed, banded


def incremental_minhash_dedup(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """CDC-shaped near-dup check: a NEW batch of documents probed against the
    EXISTING corpus — the shape a 100 TB ingest actually runs, where re-hashing
    the whole corpus per batch is off the table. Only the batch side is hashed
    fresh; in production the index side's band keys are precomputed and stored
    (`ann_index.append_ann_index` is the same pattern for embeddings), so the
    per-batch cost is batch-size-proportional: hash the batch, broadcast its
    band keys against the index's band-bucket table, verify the (tiny)
    candidate set exactly. Batch-internal duplicates are NOT reported (run
    minhash_lsh_dedup within the batch for those).

    Returns (batch_id, index_id, jaccard) pairs with jaccard >= threshold.
    """
    h_index, b_index = _hashed_and_banded(
        index_df, text_col, id_col, k, num_hashes, bands
    )
    h_batch, b_batch = _hashed_and_banded(
        batch_df, text_col, id_col, k, num_hashes, bands
    )
    # batch side is the small side by construction — broadcast its band keys
    cands = (
        b_index.withColumnRenamed(id_col, "index_id")
        .join(
            F.broadcast(b_batch.withColumnRenamed(id_col, "batch_id")),
            ["band", "band_key"],
        )
        .select("batch_id", "index_id")
        .dropDuplicates()
    )
    sz_b = h_batch.select(F.col(id_col).alias("batch_id"), F.size("h31").alias("sz_b"))
    sz_i = h_index.select(F.col(id_col).alias("index_id"), F.size("h31").alias("sz_i"))
    post_b = h_batch.select(
        F.col(id_col).alias("batch_id"), F.explode("h31").alias("hsh")
    )
    post_i = h_index.select(
        F.col(id_col).alias("index_id"), F.explode("h31").alias("hsh")
    )
    common = (
        cands.join(post_b, "batch_id")
        .join(post_i, ["index_id", "hsh"])
        .groupBy("batch_id", "index_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sz_b, "batch_id")
        .join(sz_i, "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_b") + F.col("sz_i") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "index_id", "jaccard")
    )
