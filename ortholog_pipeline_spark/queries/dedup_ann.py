"""Dedup / ANN / embedding / multimodal queries (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    CCop,
    CLU,
    DD,
    DataFrame,
    F,
    IT,
    SIM,
    SMP,
    SparkSession,
    TXT,
    Window,
    _ANN_CTAB_SQL,
    _ANN_PROBES_SQL,
    _BUCKET_SQL,
    _CENTROID_SCALE,
    _DIGEST_BYTE_SQL,
    _DOT_SQL,
    _JACCARD_VERIFY_SQL,
    _KMEANS_CTES,
    _MINHASH_CTES,
    _MMR_DOT,
    _RP_D2_SQL,
    _RP_DIMS,
    _RP_REDUCE_SQL,
    _RP_SIGNS,
    _SCORECARD_CTES,
    _SHINGLES_SQL,
    _STOPS_SQL,
    _TOKS_SQL,
    _hyperplane_bucket_sql,
    _t,
    register,
)

@register(
    "dedup_exact",
    r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ),
    {_JACCARD_VERIFY_SQL}
    SELECT id_1, id_2,
           ROUND(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
    FROM common JOIN sz s1 ON s1.doc_id = id_1 JOIN sz s2 ON s2.doc_id = id_2
    WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


@register(
    "dedup_minhash_lsh",
    f"WITH {_MINHASH_CTES}\n    SELECT id_1, id_2, jaccard FROM mh_pairs",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_dedup(
        _t(spark, sf_dir, "documents"),
        k=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )


#: Duplicate-heavy corpus for the collapse demo: every 7th doc duplicated,
#: every 21st triplicated (offsets land outside every replica id band of the
#: scaled dirs, so the entry certifies at ~sf1 too).
_DUP_CORPUS_CTE = """corpus6 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 21 = 0
    ),
    """
assert _MINHASH_CTES.count("FROM documents") == 1, "minhash CTE corpus drifted"
_COLLAPSE_CTES = _DUP_CORPUS_CTE + _MINHASH_CTES.replace(
    "FROM documents", "FROM corpus6"
)


@register(
    "dedup_minhash_collapse",
    f"WITH {_COLLAPSE_CTES}\n    SELECT id_1, id_2, jaccard FROM mh_pairs",
)
def dedup_minhash_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup pairs on a duplicate-heavy corpus with the
    exact-duplicate collapse ON (operators/dedup.py minhash_lsh_dedup
    collapse_exact=True): identical shingle sets run the signature/banding/
    verify stages once per group instead of once per member, so the expensive
    stages are group-proportional — the regime a raw web-scale crawl is in.
    The collapse is OUTPUT-IDENTICAL to the naive pipeline (identical sets ⇒
    identical signatures ⇒ identical band keys), which is exactly what this
    oracle proves: the DuckDB side replays the UNCOLLAPSED banding over the
    same duplicated corpus and must hash-match."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup1 = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    dup2 = docs.filter(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    return DD.minhash_lsh_dedup(
        docs.unionByName(dup1).unionByName(dup2),
        k=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
        collapse_exact=True,
    )


@register(
    "dedup_cluster_assign",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    sym AS (
      SELECT id_1 AS u, id_2 AS v FROM mh_pairs
      UNION
      SELECT id_2, id_1 FROM mh_pairs
    ),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
    ),
    comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT l.doc_id, l.cluster_id, CAST(s.cnt AS BIGINT) AS cluster_size
    FROM labeled l
    JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM labeled GROUP BY 1) s
      USING (cluster_id)
    """,
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: minhash/LSH edges resolved to components
    via alternating large-star/small-star (components.py), every document labeled
    with its cluster id and size. The DuckDB oracle reproduces the closure with a
    recursive CTE over the exact same verified pair set."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(
        docs, k=3, num_hashes=16, bands=4, threshold=0.5
    ).select("id_1", "id_2")
    return CCop.dedup_clusters(docs, pairs)


@register(
    "dedup_simhash",
    f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKS_SQL}, t ->
               CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(0, 15), b ->
               CASE WHEN list_sum(list_transform(toks, h ->
                 CASE WHEN (h & (CAST(1 AS BIGINT) << b)) <> 0 THEN 1 ELSE -1 END
               )) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
             )) AS simhash
      FROM th
    )
    SELECT CAST(simhash AS BIGINT) AS simhash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sh GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_dedup(_t(spark, sf_dir, "documents"), bits=16)


@register(
    "ann_cosine_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(
               {_DOT_SQL.format(a='qv', b='v')} /
               (SQRT({_DOT_SQL.format(a='qv', b='qv')}) *
                SQRT({_DOT_SQL.format(a='v', b='v')})), 6) AS sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, queries_df, k=3)


@register(
    "ann_lsh_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    ctab AS (
      {_ANN_CTAB_SQL}
    ),
    qprobes AS (
      SELECT vec_id AS query_id, t, unnest({_ANN_PROBES_SQL}) AS bucket
      FROM ctab WHERE vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM ctab c JOIN qprobes q ON c.t = q.t AND c.bucket = q.bucket
      WHERE c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(
               {_DOT_SQL.format(a='eq.v', b='ec.v')} /
               (SQRT({_DOT_SQL.format(a='eq.v', b='eq.v')}) *
                SQRT({_DOT_SQL.format(a='ec.v', b='ec.v')})), 6) AS sim
      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                JOIN e ec ON ec.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table 2-bit-multiprobe hyperplane LSH top-k (the ANN scale path);
    the oracle reproduces tables, probes, candidate set, and scores exactly.
    2-bit probing lifts recall@10 from 0.705 to 0.970 (measured, sf0.01) at
    UNCHANGED corpus-side cost — the probes multiply only the broadcast query
    side (see lsh_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_topk(
        emb, queries_df, k=3, num_planes=6, num_tables=4, multiprobe_bits=2
    )


@register(
    "ann_ivf_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
    ),
    cs AS (
      SELECT e.vec_id, s.j,
             ROUND(
               {_DOT_SQL.format(a='e.v', b='s.sv')} /
               (SQRT({_DOT_SQL.format(a='e.v', b='e.v')}) *
                SQRT({_DOT_SQL.format(a='s.sv', b='s.sv')})), 6) AS score
      FROM e CROSS JOIN seeds s
    ),
    ranked AS (
      SELECT vec_id, j,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, j ASC) AS rn
      FROM cs
    ),
    cell AS (SELECT vec_id, j AS cell FROM ranked WHERE rn = 1),
    qprobe AS (
      SELECT vec_id AS query_id, j AS cell FROM ranked WHERE rn <= 4 AND vec_id < 5
    ),
    cand AS (
      SELECT q.query_id, c.vec_id
      FROM cell c JOIN qprobe q USING (cell)
      WHERE c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(
               {_DOT_SQL.format(a='eq.v', b='ec.v')} /
               (SQRT({_DOT_SQL.format(a='eq.v', b='eq.v')}) *
                SQRT({_DOT_SQL.format(a='ec.v', b='ec.v')})), 6) AS sim
      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                JOIN e ec ON ec.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN top-k (second scale path beside LSH): deterministic
    seed centroids, rounded cell scores, 4-of-32-cell probes — the oracle
    reproduces cell assignment, probe set, and scores exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, queries_df, k=3, n_cells=32, n_probe=4)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_1, b.vec_id AS id_2,
             ROUND(
               {_DOT_SQL.format(a='a.v', b='b.v')} /
               (SQRT({_DOT_SQL.format(a='a.v', b='a.v')}) *
                SQRT({_DOT_SQL.format(a='b.v', b='b.v')})), 6) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_1, id_2, sim FROM scored WHERE sim >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force embedding near-dup pairs (the exact baseline; the LSH-bucketed
    variant is cosine_near_dup_pairs, exercised rows-only via ann_lsh_topk).
    Guarded: refuses inputs above DD.BRUTE_FORCE_MAX_ROWS — the crossJoin is
    the declared O(n²) verification path, never the scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    DD.guard_brute_force(emb, "dedup_embedding_cosine")
    e = emb.select("vec_id", SIM.as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("id_1"), F.col("v").alias("_v1"))
    b = e.select(F.col("vec_id").alias("id_2"), F.col("v").alias("_v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            F.round(SIM.cosine(F.col("_v1"), F.col("_v2")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.45)
    )


@register(
    "mm_image_features",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, repeat(md5(text), 16) AS phex
      FROM documents WHERE doc_id % 3 = 0
    ),
    d AS (
      SELECT media_id, md5(phex) AS dh,
             CAST(('0x' || substr(md5(phex), 1, 8)) AS BIGINT) AS seed
      FROM media
    ),
    dims AS (
      SELECT media_id, dh,
             CAST(8 + seed % 8 AS INT) AS height,
             CAST(8 + (seed // 16) % 8 AS INT) AS width
      FROM d
    )
    SELECT media_id, width, height, CAST(3 AS INT) AS channels,
           ( (height * width * 3 // 16) *
             list_sum(list_transform(generate_series(1, 16), i -> {_DIGEST_BYTE_SQL}))
             + COALESCE(list_sum(list_transform(
                 generate_series(1, (height * width * 3) % 16),
                 i -> {_DIGEST_BYTE_SQL})), 0)
           ) * 1.0 / (height * width * 3) AS mean_intensity,
           TRUE AS is_fake_decode
    FROM dims
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: synthesize media from documents, decode image features
    via Arrow-batched mapInPandas (codec stubbed — deterministic fake). The oracle
    reproduces the stub's tiled-digest mean exactly (the fake decode is md5
    arithmetic by design, multimodal._fake_image_decode)."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    return MM.decode_image_features(media)


@register(
    "mm_frame_sample",
    """
    WITH media AS (
      SELECT doc_id AS media_id, repeat(md5(text), 16) AS phex,
             doc_id % 50 + 10 AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id, CAST(f AS INT) AS frame_idx,
           substr(phex, 2 * (f % 252) + 1, 8) AS frame_hex
    FROM (
      SELECT media_id, phex,
             unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 10)) AS f
      FROM media
    )
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over binary payloads via mapInPandas (stubbed decode).
    Frames are 4-byte deterministic payload slices; emitted as lowercase hex so the
    cross-engine compare never hashes raw binary."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    return MM.sample_frames(media, every_nth=10).select(
        "media_id",
        "frame_idx",
        F.lower(F.hex("frame_payload")).alias("frame_hex"),
    )


@register(
    "dedup_embedding_cosine_lsh",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    s AS (SELECT vec_id, {_hyperplane_bucket_sql(12, 'v')} AS sig FROM e),
    banded AS (
      SELECT vec_id, b, (sig >> (b * 3)) & 7 AS band_key
      FROM s, generate_series(0, 3) g(b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
      FROM banded a JOIN banded b USING (b, band_key)
      WHERE a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.id_1, c.id_2,
             ROUND(
               {_DOT_SQL.format(a='e1.v', b='e2.v')} /
               (SQRT({_DOT_SQL.format(a='e1.v', b='e1.v')}) *
                SQRT({_DOT_SQL.format(a='e2.v', b='e2.v')})), 6) AS sim
      FROM cand c JOIN e e1 ON e1.vec_id = c.id_1
                  JOIN e e2 ON e2.vec_id = c.id_2
    )
    SELECT id_1, id_2, sim FROM scored WHERE sim >= 0.45
    """,
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (the scale path of
    dedup_embedding_cosine): hyperplane buckets bound the candidate set, exact
    cosine verifies within bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_near_dup_pairs(emb, threshold=0.45, bands=4, planes_per_band=3)


@register(
    "dedup_contamination",
    f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKS_SQL}, t ->
               CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {DD.MINHASH_M31}
             ) AS th
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(th) - 2, 0)),
               i -> (th[i] * {DD.SHINGLE_A} + th[i+1] * {DD.SHINGLE_B} + th[i+2])
                    % {DD.MINHASH_M31}
             )) AS h31
      FROM th WHERE len(th) >= 3
    ),
    lab AS (
      SELECT doc_id,
             (CAST(('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000 < 100000) AS is_holdout,
             h31
      FROM h WHERE len(h31) > 0
    ),
    posting AS (SELECT doc_id, is_holdout, unnest(h31) AS h FROM lab),
    rare AS (SELECT h FROM posting GROUP BY h HAVING COUNT(*) <= 50),
    p2 AS (SELECT posting.* FROM posting JOIN rare USING (h)),
    common AS (
      SELECT a.doc_id AS holdout_id, b.doc_id AS train_id,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM p2 a JOIN p2 b USING (h)
      WHERE a.is_holdout AND NOT b.is_holdout
      GROUP BY 1, 2
    ),
    hsz AS (SELECT doc_id AS holdout_id, len(h31) AS h_sz FROM lab WHERE is_holdout),
    scored AS (
      SELECT holdout_id, train_id,
             ROUND(n_common * 1.0 / h_sz, 6) AS containment
      FROM common JOIN hsz USING (holdout_id)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY holdout_id
                                   ORDER BY containment DESC, train_id ASC) AS rn
      FROM scored
    )
    SELECT holdout_id, train_id AS best_train_id, containment,
           containment >= 0.8 AS contaminated
    FROM r WHERE rn = 1
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity scan: per holdout document, the train document with max
    shingle containment (|H∩T|/|H|) after a hash split — high-frequency
    boilerplate shingles cut before the posting join (quadratic cost, zero
    signal). Flags crossings of the 0.8 contamination threshold."""
    return DD.contamination_check(_t(spark, sf_dir, "documents"))


@register(
    "dedup_editdist1",
    """
    WITH names AS (SELECT DISTINCT s_name AS s FROM supplier),
    v AS (
      SELECT s, s AS variant FROM names
      UNION ALL
      SELECT s, substr(s, 1, i - 1) || substr(s, i + 1) AS variant
      FROM (SELECT s, unnest(generate_series(1, length(s))) AS i FROM names)
    ),
    p AS (
      SELECT DISTINCT a.s AS s1, b.s AS s2
      FROM v a JOIN v b ON a.variant = b.variant AND a.s < b.s
    )
    SELECT s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
    FROM p WHERE levenshtein(s1, s2) <= 1
    """,
)
def dedup_editdist1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-duplicate names: all supplier-name pairs at edit
    distance 1 via the FastSS deletion-neighborhood join (|s|+1 variants per
    distinct string, one equi-join, exact levenshtein only on candidates —
    never an all-pairs product)."""
    supp = _t(spark, sf_dir, "supplier")
    return DD.editdist1_join(supp, "s_name")


@register(
    "emb_kmeans_assign",
    f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, cluster, ROUND(d2, 4) AS dist2 FROM a2 WHERE rn = 1
    """,
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for cluster-then-sample curation (SemDeDup shape):
    2 Lloyd iterations, k=4, deterministic first-k-ids init. Each iteration is
    a map-side argmin over k literal centroids (codegen, no join/UDF) plus one
    (cluster, position)-keyed mean shuffle; centroid state (k x dim doubles)
    lives on the driver — it is the model, not data. Means are rounded so
    results are independent of float partial-aggregation order."""
    emb = _t(spark, sf_dir, "embeddings")
    return CLU.kmeans_fit_assign(emb, k=4, iters=2)


@register(
    "emb_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             CASE WHEN amax = 0.0 THEN 1.0 ELSE amax / 127.0 END AS scale
      FROM (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
        FROM v
      )
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(v, x -> CAST(ROUND(x / scale) AS INTEGER)) AS qv
      FROM s
    )
    SELECT vec_id, scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS BIGINT)
             AS q_amax,
           md5(array_to_string(qv, ',')) AS q_hash
    FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127): the 4x
    compression stage before ANN indexing — at 100 TB the embedding column
    dominates scan bytes. Pure codegen array expressions, map-side only; the
    oracle checks an md5 over the full quantized array, so every element must
    round identically in both engines (half-away-from-zero in each)."""
    from ortholog_pipeline_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    q = SIM.quantize_int8(emb)
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_max(F.transform("q", F.abs)).cast("long").alias("q_amax"),
        F.md5(F.array_join("q", ",")).alias("q_hash"),
    )


@register(
    "dedup_incremental_minhash",
    f"""
    WITH {_MINHASH_CTES},
    inc_cand AS (
      SELECT DISTINCT nb.doc_id AS batch_id, ix.doc_id AS index_id
      FROM banded nb JOIN banded ix USING (band_key)
      WHERE nb.b = ix.b AND nb.doc_id % 10 = 7 AND ix.doc_id % 10 != 7
    ),
    inc_common AS (
      SELECT c.batch_id, c.index_id, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM inc_cand c JOIN post a ON a.doc_id = c.batch_id
                      JOIN post b ON b.doc_id = c.index_id AND b.hsh = a.hsh
      GROUP BY 1, 2
    )
    SELECT c.batch_id, c.index_id,
           ROUND(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
    FROM inc_cand c JOIN inc_common USING (batch_id, index_id)
                    JOIN sz s1 ON s1.doc_id = c.batch_id
                    JOIN sz s2 ON s2.doc_id = c.index_id
    WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-shaped dedup: the 10% 'new batch' (doc_id % 10 = 7) probed against
    the other 90% 'existing corpus'. Only the batch is hashed fresh at ingest
    time in production (index band keys are precomputed/stored); the probe
    broadcasts the batch band keys, so per-batch cost is batch-proportional —
    the whole point vs re-running corpus-wide LSH per ingest."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    index = docs.filter(F.col("doc_id") % 10 != 7)
    return DD.incremental_minhash_dedup(
        index, batch, k=3, num_hashes=16, bands=4, threshold=0.5
    )


@register(
    "emb_semantic_prune",
    f"""
    WITH {_KMEANS_CTES},
    assign AS (
      SELECT vec_id, cluster FROM a2 WHERE rn = 1
    ),
    ranked AS (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY {_BUCKET_SQL.format(key='vec_id')}, vec_id
             ) AS rn
      FROM assign
    )
    SELECT vec_id, cluster FROM ranked WHERE rn <= 50
    """,
)
def emb_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-sample curation END-TO-END: k-means semantic
    clusters (2 Lloyd iterations), then a deterministic 50-item hash quota per
    cluster (`sampling.reservoir_per_key`) — the 'keep a budgeted, diverse
    subset per semantic region' pipeline. One mean shuffle per iteration plus
    one window shuffle for the quota; everything else is map-side."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = CLU.kmeans_fit_assign(emb, k=4, iters=2).select(
        "vec_id", "cluster"
    )
    return SMP.reservoir_per_key(assigned, ["cluster"], "vec_id", k=50)


@register(
    "mm_audio_chunks",
    """
    WITH media AS (
      SELECT doc_id AS media_id, repeat(md5(text), 16) AS phex
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT media_id, CAST(c AS INT) AS chunk_idx,
           CAST(c * 250 AS INT) AS start_ms,
           substr(phex, 32 * c + 1, 32) AS chunk_hex
    FROM (
      SELECT media_id, phex, unnest(generate_series(0, 15)) AS c FROM media
    )
    """,
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking over binary payloads via mapInPandas (stubbed decode:
    16-byte slices stand in for 250 ms PCM windows; the synthetic payload is
    256 bytes -> 16 chunks). Emitted as hex so the cross-engine compare never
    hashes raw binary."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    return MM.chunk_audio(media, chunk_ms=250).select(
        "media_id",
        "chunk_idx",
        "start_ms",
        F.lower(F.hex("chunk_payload")).alias("chunk_hex"),
    )


@register(
    "dedup_substring_spans",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id, md5(array_to_string(toks[st:st+7], ' ')) AS span_hash
      FROM t, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(toks) - 7, 1), 4)) AS st)
      WHERE len(toks) >= 8
    )
    SELECT span_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM s GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection (ExactSubstr dedup à la Lee et al.
    2022): 8-token spans on a stride-4 grid, reported when they recur in ≥ 2
    distinct documents — the span-granular signal used to cut boilerplate and
    verbatim repeats that document-level MinHash keeps. Map-side span hashing
    + two bounded aggregation shuffles; no suffix array, no global sort."""
    return DD.repeated_spans(
        _t(spark, sf_dir, "documents"), span=8, stride=4
    )


@register(
    "dedup_sorted_neighborhood",
    """
    WITH p AS (
      SELECT p_partkey AS id, lower(p_name) AS name,
             substr(lower(p_name), 1, 1) AS blk
      FROM part
    ),
    nb AS (
      SELECT id, name, blk,
             LEAD(id, 1)   OVER w AS id1, LEAD(name, 1) OVER w AS name1,
             LEAD(id, 2)   OVER w AS id2, LEAD(name, 2) OVER w AS name2,
             LEAD(id, 3)   OVER w AS id3, LEAD(name, 3) OVER w AS name3
      FROM p
      WINDOW w AS (PARTITION BY blk ORDER BY name, id)
    ),
    pairs AS (
      SELECT id AS id_a, id1 AS id_b, name AS name_a, name1 AS name_b FROM nb WHERE id1 IS NOT NULL
      UNION ALL
      SELECT id, id2, name, name2 FROM nb WHERE id2 IS NOT NULL
      UNION ALL
      SELECT id, id3, name, name3 FROM nb WHERE id3 IS NOT NULL
    )
    SELECT id_a, id_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM pairs
    WHERE levenshtein(name_a, name_b) <= 3 AND name_a <> name_b
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood entity resolution (Hernandez-Stolfo): sort
    records within a blocking key (first letter of the normalized name — the
    multi-pass SNM generalization uses several passes with different keys),
    slide a window of size 4 via three LEADs, and emit near-duplicate pairs at
    edit distance <= 3. Complements the FastSS edit-distance join
    (dedup_editdist1): SNM is O(n log n) comparisons and catches longer-string
    typos FastSS's deletion neighborhoods can't afford.

    Scale: the window partitions by the BLOCK key, never globally — blocks
    shuffle independently, so 100 TB just means more blocks in flight; skewed
    blocks are the known SNM failure mode and would take the salted-window
    treatment (block + sorted sub-range keys) that j_salted_skew_join pins."""
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.lower(F.col("p_name")).alias("name"),
        F.substring(F.lower(F.col("p_name")), 1, 1).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("name", "id")
    nb = p.select(
        "id",
        "name",
        *[F.lead("id", k).over(w).alias(f"id{k}") for k in (1, 2, 3)],
        *[F.lead("name", k).over(w).alias(f"name{k}") for k in (1, 2, 3)],
    )
    parts = [
        nb.filter(F.col(f"id{k}").isNotNull()).select(
            F.col("id").alias("id_a"),
            F.col(f"id{k}").alias("id_b"),
            F.col("name").alias("name_a"),
            F.col(f"name{k}").alias("name_b"),
        )
        for k in (1, 2, 3)
    ]
    pairs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    dist = F.levenshtein("name_a", "name_b")
    return pairs.filter(
        (dist <= 3) & (F.col("name_a") != F.col("name_b"))
    ).select("id_a", "id_b", "name_a", "name_b", dist.cast("long").alias("dist"))


@register(
    "emb_rp_reduce",
    f"""
    WITH e0 AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    e AS (
      SELECT vec_id, {_RP_REDUCE_SQL} FROM e0
    ),
    q AS (SELECT * FROM e WHERE vec_id < 3),
    d AS (
      SELECT q.vec_id AS query_id, e.vec_id,
             ROUND({_RP_D2_SQL}, 6) AS d2
      FROM q CROSS JOIN e WHERE e.vec_id <> q.vec_id
    ),
    r AS (
      SELECT query_id, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
      FROM d
    )
    SELECT query_id, vec_id, d2, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
    """,
)
def emb_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims (±1/√8 signs from
    the SAME md5-parity sequence the hyperplane LSH uses — deterministic,
    no RNG state), then exact top-3 nearest neighbors in the REDUCED space.
    This is the third ANN regime next to brute/LSH/IVF: project once map-side
    (8 fused multiply-add folds per row, no shuffle), search in 8-dim space at
    1/8 the distance cost and 1/8 the memory — at 100 TB the reduced table is
    what fits in memory for the candidate scan, with exact re-ranking in full
    space only on the survivors. Folds run in fixed index order in both
    engines, so every double is bit-identical; the tiny query side broadcasts
    into a 3×N scored frame, ranked per query (d², vec_id tiebreak)."""
    emb = _t(spark, sf_dir, "embeddings")
    scale = F.lit(2.8284271247461903)  # sqrt(8), exact double literal
    red_cols = []
    for j in range(_RP_DIMS):
        plane = F.array(*[F.lit(s) for s in _RP_SIGNS[j]])
        dot = F.aggregate(
            F.zip_with("embedding", plane, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        red_cols.append((dot / scale).alias(f"r{j}"))
    e = emb.select("vec_id", *red_cols)
    q = e.filter(F.col("vec_id") < 3)
    q = q.select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"r{j}").alias(f"q{j}") for j in range(_RP_DIMS)],
    )
    d2 = F.round(
        sum(
            (F.col(f"q{j}") - F.col(f"r{j}")) * (F.col(f"q{j}") - F.col(f"r{j}"))
            for j in range(_RP_DIMS)
        ),
        6,
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "d2", "rn")
    )


@register(
    "dedup_containment",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b, s.n_shared, sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(s.n_shared AS DOUBLE) / sa.n, 6) AS contain_a,
           ROUND(CAST(s.n_shared AS DOUBLE) / sb.n, 6) AS contain_b
    FROM shared s
    JOIN sz sa ON s.id_a = sa.doc_id
    JOIN sz sb ON s.id_b = sb.doc_id
    WHERE CAST(s.n_shared AS DOUBLE) / sa.n >= 0.5
       OR CAST(s.n_shared AS DOUBLE) / sb.n >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection (Broder's asymmetric variant of
    Jaccard): C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    measure that catches a SHORT document embedded inside a LONG one, which
    symmetric Jaccard dilutes below any threshold. Pairs generate through the
    shingle-key equi-join (shared trigrams only — never a cartesian product),
    counts are exact integers, and each direction's containment is one final
    division. At 100 TB the gram join inherits the minhash treatment: hash
    grams to longs and band them so only candidate pairs reach the exact
    intersection count (dedup_minhash_lsh pins that path); this query pins the
    exact semantics the banded path must reproduce."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).filter(F.size("toks") >= 3)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
            )
        ).alias("gram"),
    ).distinct()
    sz = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "gram")
    b = grams.select(F.col("doc_id").alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
    )
    c_a = F.col("n_shared").cast("double") / F.col("n_a")
    c_b = F.col("n_shared").cast("double") / F.col("n_b")
    return out.filter((c_a >= 0.5) | (c_b >= 0.5)).select(
        "id_a",
        "id_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round(c_a, 6).alias("contain_a"),
        F.round(c_b, 6).alias("contain_b"),
    )


@register(
    "emb_centroid_classifier",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    flat AS (
      SELECT label, p.pos, CAST(ROUND(v[p.pos] * {_CENTROID_SCALE}) AS BIGINT) AS iv
      FROM e, (SELECT unnest(generate_series(1, 64)) AS pos) p
    ),
    csum AS (
      SELECT label, pos, CAST(SUM(iv) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM flat GROUP BY label, pos
    ),
    cent AS (
      SELECT label AS c_label,
             list(CAST(s AS DOUBLE) / n / {_CENTROID_SCALE} ORDER BY pos) AS cv
      FROM csum GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_sum(list_transform(generate_series(1, 64),
               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
      FROM e CROSS JOIN cent c
    ),
    pred AS (
      SELECT vec_id, label, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM scored
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM pred WHERE rn = 1
    GROUP BY label
    """,
)
def emb_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification over the embedding table with
    per-class resubstitution accuracy — the few-shot baseline every embedding
    pipeline evaluates first. Centroids accumulate as EXACT integers (float32
    components scale losslessly by 2²⁰ — 'the quantize trick' — so the
    distributed mean is order-free), divide back to identical doubles in both
    engines, and broadcast as a 10-row table into a map-side distance argmin;
    the 64-term distance fold runs in fixed index order. Two shuffles total
    ((label, pos) centroid agg + final label agg) regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    flat = e.select(
        "label", F.posexplode("v").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.round(F.col("val") * _CENTROID_SCALE).cast("long").alias("iv"),
    )
    csum = flat.groupBy("label", "pos").agg(
        F.sum("iv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = (
        csum.withColumn(
            "cval",
            F.col("s").cast("double") / F.col("n") / F.lit(_CENTROID_SCALE),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda r: r["cval"],
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    wp = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = scored.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") == 1
    )
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("c_label") == F.col("label")).cast("int"))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum((F.col("c_label") == F.col("label")).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


@register(
    "mm_scene_cuts",
    """
    WITH media AS (
      SELECT doc_id AS media_id, repeat(md5(text), 16) AS phex,
             doc_id % 50 + 10 AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT media_id,
             CAST(f AS INT) AS frame_idx,
             CAST(('0x' || substr(phex, 2 * (f % 252) + 1, 8)) AS BIGINT)
               AS intensity
      FROM (
        SELECT media_id, phex,
               unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 1)) AS f
        FROM media
      )
    ),
    d AS (
      SELECT media_id, frame_idx, intensity,
             ABS(intensity - LAG(intensity) OVER
                 (PARTITION BY media_id ORDER BY frame_idx)) AS delta
      FROM frames
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN delta > 2147483648 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(MIN(CASE WHEN delta > 2147483648 THEN frame_idx END) AS BIGINT)
             AS first_cut_idx
    FROM d GROUP BY media_id
    """,
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection over binary payloads: decode every frame
    (mapInPandas Arrow batches — the SAME stubbed-codec plumbing as
    mm_frame_sample, every_nth=1), reduce each frame to a scalar intensity,
    and flag a cut when consecutive-frame intensity jumps past half the
    uint32 range. The frame 'decode' is the deterministic payload slice the
    stub defines, so the DuckDB oracle replays intensities exactly via the
    same md5 hex arithmetic; a real codec changes one function body while
    this plan — explode frames → partitioned LAG → per-video aggregate —
    is the production shape (state bounded per video, cut lists computed
    without ever collecting frames to the driver)."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    frames = MM.sample_frames(media, every_nth=1).select(
        "media_id",
        "frame_idx",
        F.conv(F.hex("frame_payload"), 16, 10).cast("long").alias("intensity"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d = frames.withColumn(
        "delta", F.abs(F.col("intensity") - F.lag("intensity").over(w))
    )
    is_cut = F.col("delta") > F.lit(2147483648)
    return d.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(is_cut.cast("int")).cast("long").alias("n_cuts"),
        F.min(F.when(is_cut, F.col("frame_idx"))).cast("long").alias(
            "first_cut_idx"
        ),
    )


@register(
    "dedup_ppjoin",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' '))) AS gram
      FROM t WHERE len(toks) >= 4
    ),
    df AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY gram),
    sets AS (
      SELECT g.doc_id,
             list(g.gram ORDER BY df.df, g.gram) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM g JOIN df ON g.gram = df.gram
      GROUP BY g.doc_id
    ),
    pre AS (
      SELECT doc_id, n,
             unnest(s[1:CAST(n - (n + 1) // 2 + 1 AS BIGINT)]) AS gram
      FROM sets
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pre a JOIN pre b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
             sa.n AS n_a, sb.n AS n_b
      FROM cand c
      JOIN sets sa ON c.id_a = sa.doc_id
      JOIN sets sb ON c.id_b = sb.doc_id
    )
    SELECT id_a, id_b, inter, n_a, n_b,
           ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
    FROM verified
    WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5
    """,
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (the PPJoin/AllPairs
    family, Xiao et al.): two documents with Jaccard ≥ θ MUST share at least
    one element among each set's first n − ⌈θn⌉ + 1 elements when both sets
    are ordered by ascending global frequency — so candidate pairs generate
    from an equi-join on RARE prefix grams only, then verify with one exact
    intersection. This is the deterministic exact-answer counterpart to
    MinHash-LSH (which trades recall for speed); same candidate-shrinking
    idea, zero false negatives. The frequency ordering is the whole trick:
    prefixes hold the rarest grams, so the join fan-out tracks true-pair
    density, not corpus size. Ties in df order break by gram text for a total,
    engine-stable order. At 100 TB: grams hash to longs first (as minhash
    does) and the df table broadcasts."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).filter(F.size("toks") >= 4)
    g = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 4),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))"
            )
        ).alias("gram"),
    ).distinct()
    df_tab = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    sets = (
        g.join(df_tab, "gram")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "gram"))),
                lambda r: r["gram"],
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    prefix_len = (
        F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
    ).cast("int")
    pre = sets.select(
        "doc_id", F.explode(F.slice("s", 1, prefix_len)).alias("gram")
    )
    cand = (
        pre.alias("a")
        .join(pre.alias("b"), "gram")
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("sa"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("sb"), F.col("n").alias("n_b")
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("inter"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return verified.filter(jac >= 0.5).select(
        "id_a", "id_b", "inter", "n_a", "n_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "emb_mmr_rerank",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.v,
             {_MMR_DOT.format(a='e.v', b='q.qv')} /
               (SQRT({_MMR_DOT.format(a='e.v', b='e.v')}) *
                SQRT({_MMR_DOT.format(a='q.qv', b='q.qv')})) AS sim_q
      FROM e, q WHERE e.vec_id <> 0
    ),
    cand AS (
      SELECT vec_id, v, sim_q FROM (
        SELECT vec_id, v, sim_q,
               ROW_NUMBER() OVER (ORDER BY sim_q DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 8
    ),
    pw AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             {_MMR_DOT.format(a='a.v', b='b.v')} /
               (SQRT({_MMR_DOT.format(a='a.v', b='a.v')}) *
                SQRT({_MMR_DOT.format(a='b.v', b='b.v')})) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    p1 AS (
      SELECT vec_id, 0.7 * sim_q AS mmr FROM cand
      ORDER BY sim_q DESC, vec_id LIMIT 1
    ),
    p2 AS (
      SELECT c.vec_id, 0.7 * c.sim_q - 0.3 * pw.sim AS mmr
      FROM cand c JOIN pw ON pw.ida = c.vec_id AND pw.idb = (SELECT vec_id FROM p1)
      WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    sel2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2),
    p3 AS (
      SELECT c.vec_id, 0.7 * c.sim_q - 0.3 * MAX(pw.sim) AS mmr
      FROM cand c JOIN pw ON pw.ida = c.vec_id
      WHERE pw.idb IN (SELECT vec_id FROM sel2)
        AND c.vec_id NOT IN (SELECT vec_id FROM sel2)
      GROUP BY c.vec_id, c.sim_q
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM p3),
    p4 AS (
      SELECT c.vec_id, 0.7 * c.sim_q - 0.3 * MAX(pw.sim) AS mmr
      FROM cand c JOIN pw ON pw.ida = c.vec_id
      WHERE pw.idb IN (SELECT vec_id FROM sel3)
        AND c.vec_id NOT IN (SELECT vec_id FROM sel3)
      GROUP BY c.vec_id, c.sim_q
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS pick_order, vec_id, ROUND(mmr, 6) AS mmr FROM p1
    UNION ALL
    SELECT 2, vec_id, ROUND(mmr, 6) FROM p2
    UNION ALL
    SELECT 3, vec_id, ROUND(mmr, 6) FROM p3
    UNION ALL
    SELECT 4, vec_id, ROUND(mmr, 6) FROM p4
    """,
)
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell-Goldstein) — the
    dedup-aware top-k every retrieval stack runs between ANN and the consumer:
    greedily pick argmax of 0.7·sim(q,d) − 0.3·max_{s∈selected} sim(d,s), so
    each pick trades query relevance against redundancy with what's already
    chosen. The greedy loop is inherently sequential in k, so it unrolls as 4
    dataframe rounds — but every round operates ONLY on the 8-row candidate
    frame (broadcast; the corpus-sized work ended at the ANN stage), which is
    exactly how production rerankers bound the sequential tail. All
    similarities are single ordered folds (identical doubles cross-engine);
    ties break by vec_id."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            (
                dot(F.col("v"), F.col("qv"))
                / (
                    F.sqrt(dot(F.col("v"), F.col("v")))
                    * F.sqrt(dot(F.col("qv"), F.col("qv")))
                )
            ).alias("sim_q"),
        )
    )
    wq = Window.orderBy(F.col("sim_q").desc(), F.col("vec_id"))
    # checkpointed: the greedy rounds re-enter cand (and pw below) once per
    # pick; without the checkpoint each of the 4 rounds re-runs the corpus-sized ANN
    # scoring pass that produced this 8-row frame
    cand = IT.round_checkpoint(
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 8)
        .select("vec_id", "v", "sim_q")
    )
    a = cand.select(F.col("vec_id").alias("ida"), F.col("v").alias("va"))
    b = cand.select(F.col("vec_id").alias("idb"), F.col("v").alias("vb"))
    # 56 rows, re-entered once per greedy round
    pw = IT.round_checkpoint(
        a.join(b, F.col("ida") != F.col("idb")).select(
            "ida",
            "idb",
            (
                dot(F.col("va"), F.col("vb"))
                / (
                    F.sqrt(dot(F.col("va"), F.col("va")))
                    * F.sqrt(dot(F.col("vb"), F.col("vb")))
                )
            ).alias("sim"),
        )
    )
    wm = Window.orderBy(F.col("mmr").desc(), F.col("vec_id"))

    def pick(frame):
        return (
            frame.withColumn("prn", F.row_number().over(wm))
            .filter(F.col("prn") == 1)
            .select("vec_id", "mmr")
        )

    p1 = pick(cand.select("vec_id", (0.7 * F.col("sim_q")).alias("mmr")))
    selected = p1.select("vec_id")
    picks = [p1]
    for _ in (2, 3, 4):
        pen = (
            pw.join(
                selected.withColumnRenamed("vec_id", "idb"), "idb"
            )
            .groupBy("ida")
            .agg(F.max("sim").alias("pen"))
        )
        nxt = pick(
            cand.join(selected, "vec_id", "left_anti")
            .join(pen.withColumnRenamed("ida", "vec_id"), "vec_id")
            .select(
                "vec_id", (0.7 * F.col("sim_q") - 0.3 * F.col("pen")).alias("mmr")
            )
        )
        picks.append(nxt)
        selected = selected.unionByName(nxt.select("vec_id"))
    out = None
    for i, p in enumerate(picks, start=1):
        row = p.select(
            F.lit(i).cast("long").alias("pick_order"),
            "vec_id",
            F.round("mmr", 6).alias("mmr"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "mm_audio_vad_segments",
    """
    WITH media AS (
      SELECT doc_id AS media_id, repeat(md5(text), 16) AS phex
      FROM documents WHERE doc_id % 3 = 1
    ),
    chunks AS (
      SELECT media_id, CAST(c AS INT) AS chunk_idx,
             CAST(('0x' || substr(phex, 32 * c + 1, 8)) AS BIGINT) AS energy
      FROM (
        SELECT media_id, phex, unnest(generate_series(0, 15)) AS c FROM media
      )
    ),
    voiced AS (
      SELECT media_id, chunk_idx,
             chunk_idx - ROW_NUMBER() OVER (PARTITION BY media_id
                                            ORDER BY chunk_idx) AS island
      FROM chunks WHERE energy > 2147483648
    ),
    seg AS (
      SELECT media_id, island, CAST(COUNT(*) AS BIGINT) AS seg_len
      FROM voiced GROUP BY media_id, island
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(MAX(seg_len) AS BIGINT) AS longest_segment,
           CAST(SUM(seg_len) AS BIGINT) AS n_voiced_chunks
    FROM seg GROUP BY media_id
    """,
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over audio payloads: chunk each clip
    (the SAME Arrow-batched stubbed-codec path as mm_audio_chunks), reduce
    each chunk to a scalar energy, threshold, and merge consecutive voiced
    chunks into segments with the gaps-and-islands window — per clip: segment
    count, longest segment, voiced total. The energy here is the
    deterministic payload slice the stub defines (oracle replays it as md5
    hex arithmetic); a real VAD swaps the energy function only — the
    explode → threshold → islands → aggregate plan is the production shape
    with state bounded per clip."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    chunks = MM.chunk_audio(media, chunk_ms=250).select(
        "media_id",
        "chunk_idx",
        F.conv(F.substring(F.hex("chunk_payload"), 1, 8), 16, 10)
        .cast("long")
        .alias("energy"),
    )
    voiced = chunks.filter(F.col("energy") > 2147483648).select(
        "media_id",
        "chunk_idx",
        (
            F.col("chunk_idx")
            - F.row_number().over(
                Window.partitionBy("media_id").orderBy("chunk_idx")
            )
        ).alias("island"),
    )
    seg = voiced.groupBy("media_id", "island").agg(
        F.count(F.lit(1)).alias("seg_len")
    )
    return seg.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.max("seg_len").alias("longest_segment"),
        F.sum("seg_len").alias("n_voiced_chunks"),
    )


@register(
    "mm_phash_neardup",
    """
    WITH media AS (
      SELECT doc_id AS media_id, md5(repeat(md5(text), 16)) AS ph
      FROM documents WHERE doc_id % 3 = 0
    ),
    bits AS (
      SELECT media_id,
             CAST(list_sum(list_transform(generate_series(0, 15),
               i -> CASE WHEN CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT) >= 128
                         THEN CAST(POWER(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT)
               AS phash
      FROM media
    ),
    banded AS (
      SELECT media_id, phash, b,
             CAST((phash // CAST(POWER(16, b) AS BIGINT)) % 16 AS BIGINT) AS band_val
      FROM bits, (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, a.phash AS ph_a,
             c.media_id AS id_b, c.phash AS ph_b
      FROM banded a JOIN banded c
        ON a.b = c.b AND a.band_val = c.band_val AND a.media_id < c.media_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= 3
    """,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for binary media: a 16-bit
    pHash from the stubbed decode's digest (each bit thresholds one digest
    byte — a real pHash swaps in DCT coefficients, same signature shape),
    then Hamming-banded LSH: 4 bands of 4 bits, candidates must share a
    band. By pigeonhole, any pair within Hamming distance 3 agrees on ≥1
    band, so banding has PERFECT recall at the ≤3 threshold — the candidate
    join replaces the O(n²) comparison with |bucket|² work per band, and
    the exact bit_count(xor) check runs only on candidates. The same plan
    at 100 TB: signatures are map-side, the band join is the only shuffle."""
    from ortholog_pipeline_spark import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = (
        MM.synthesize_media_from_documents(docs)
        .filter(F.col("media_type") == "image")
        .select("media_id", F.md5(F.lower(F.hex(F.col("payload")))).alias("ph"))
    )
    bit_terms = [
        F.when(
            F.conv(F.substring("ph", 2 * i + 1, 2), 16, 10).cast("long") >= 128,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(16)
    ]
    bits = media.select(
        "media_id",
        sum(bit_terms[1:], bit_terms[0]).alias("phash"),
    )
    banded = bits.select(
        "media_id",
        "phash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("b"),
    ).withColumn(
        "band_val",
        (F.col("phash") / F.pow(F.lit(16.0), F.col("b")).cast("long")).cast("long")
        % 16,
    )
    a = banded.select(
        F.col("media_id").alias("id_a"),
        F.col("phash").alias("ph_a"),
        "b",
        "band_val",
    )
    c = banded.select(
        F.col("media_id").alias("id_b"),
        F.col("phash").alias("ph_b"),
        "b",
        "band_val",
    )
    cand = (
        a.join(c, ["b", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "ph_a", "id_b", "ph_b")
        .distinct()
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= 3).select(
        "id_a", "id_b", "hamming"
    )


@register(
    "dedup_url_canonical",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://WWW.' || upper(source) || '.example.com/docs/' ||
             CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&id=' ||
             CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x' AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^https?://(?:www\\.)?([^/]+)', 1)) AS host,
             regexp_replace(regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1),
                            '/$', '') AS path,
             list_aggr(list_sort(list_filter(
               regexp_extract_all(url, '[?&]([^&#=]+=[^&#]*)', 1),
               p -> NOT starts_with(p, 'utm_'))), 'string_agg', '&') AS params
      FROM urls
    )
    SELECT host, path, COALESCE(params, '') AS params,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon GROUP BY 1, 2, 3
    HAVING COUNT(*) > 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first dedup pass of any web-crawl
    pipeline, run BEFORE fetch so duplicate URLs never cost a download:
    lowercase the host, strip www. and the trailing slash, drop utm_*
    tracking parameters, and SORT the surviving query params (param order
    is not identity). Groups with >1 doc are duplicate fetches; the keeper
    is min(doc_id). All string surgery is regexp + array ops in codegen —
    one narrow map then one exact group-by, the same shape as exact_dedup.
    URLs here are synthesized deterministically from the documents table
    (the corpus carries no URL column); the canonicalization rules are the
    real operator."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.col("source")),
        F.lit(".example.com/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&id="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=x"),
    )
    urls = docs.select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^https?://(?:www\.)?([^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https?://[^/]+(/[^?#]*)", 1), r"/$", ""
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.regexp_extract_all("url", F.lit(r"[?&]([^&#=]+=[^&#]*)"), 1),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = urls.select(
        "doc_id",
        host.alias("host"),
        path.alias("path"),
        F.coalesce(params, F.lit("")).alias("params"),
    )
    return (
        canon.groupBy("host", "path", "params")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


@register(
    "emb_power_iteration",
    """
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS d),
    ev AS (
      SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS e
      FROM embeddings, dims
    ),
    v0 AS (SELECT d, CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END AS val FROM dims),
    dot1 AS (
      SELECT vec_id, SUM(e * v0.val) AS dt FROM ev JOIN v0 USING (d)
      GROUP BY vec_id
    ),
    w1 AS (
      SELECT d, SUM(e * dt) AS w FROM ev JOIN dot1 USING (vec_id) GROUP BY d
    ),
    v1 AS (SELECT d, w / SQRT((SELECT SUM(w * w) FROM w1)) AS val FROM w1),
    dot2 AS (
      SELECT vec_id, SUM(e * v1.val) AS dt FROM ev JOIN v1 USING (d)
      GROUP BY vec_id
    ),
    w2 AS (
      SELECT d, SUM(e * dt) AS w FROM ev JOIN dot2 USING (vec_id) GROUP BY d
    ),
    v2 AS (SELECT d, w / SQRT((SELECT SUM(w * w) FROM w2)) AS val FROM w2),
    dot3 AS (
      SELECT vec_id, SUM(e * v2.val) AS dt FROM ev JOIN v2 USING (d)
      GROUP BY vec_id
    ),
    w3 AS (
      SELECT d, SUM(e * dt) AS w FROM ev JOIN dot3 USING (vec_id) GROUP BY d
    ),
    lam AS (SELECT SQRT(SUM(w * w)) AS l FROM w3),
    v3 AS (SELECT d, w / (SELECT l FROM lam) AS val FROM w3),
    flip AS (
      SELECT CASE WHEN val >= 0 THEN 1.0 ELSE -1.0 END AS s
      FROM v3 ORDER BY ABS(val) DESC, d LIMIT 1
    )
    SELECT d, ROUND(val * (SELECT s FROM flip), 6) AS component,
           ROUND((SELECT l FROM lam), 4) AS lambda_est
    FROM v3 WHERE d <= 8
    """,
)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix via
    THREE power iterations — PCA as pure dataflow, no matrix ever built:
    each round is dotᵢ = ⟨xᵢ, v⟩ (a 64-row broadcast join on the exploded
    (row, dim, value) triples) then w_d = Σᵢ xᵢ_d·dotᵢ (one aggregate per
    dim), then normalize. The Gram operator is PSD so no sign oscillation;
    output sign is pinned to the largest-magnitude component. λ comes from
    ‖w₃‖ (v₂ is unit). Per iteration: one broadcast join + two bounded
    aggregates — the vector is always 64 rows, the corpus passes are the
    only O(n) work, exactly how a 100 TB single-component PCA runs."""
    emb = _t(spark, sf_dir, "embeddings")
    ev = IT.round_checkpoint(emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "e0")
    ).select(
        "vec_id", (F.col("p") + 1).alias("d"), F.col("e0").cast("double").alias("e")
    ))
    v = None  # 64-row (d, val) frame
    spark_dims = spark.range(1, 65).select(F.col("id").alias("d"))
    v = spark_dims.select(
        "d", F.when(F.col("d") == 1, 1.0).otherwise(0.0).alias("val")
    )
    lam = None
    for _ in range(3):
        dots = (
            ev.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.col("e") * F.col("val")).alias("dt"))
        )
        w = IT.round_checkpoint(
            ev.join(dots, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("e") * F.col("dt")).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("l"))
        lam = nrm
        v = w.crossJoin(F.broadcast(nrm)).select(
            "d", (F.col("w") / F.col("l")).alias("val")
        )
    flip = (
        v.orderBy(F.abs(F.col("val")).desc(), "d")
        .limit(1)
        .select(
            F.when(F.col("val") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s")
        )
    )
    return (
        v.filter(F.col("d") <= 8)
        .crossJoin(F.broadcast(flip))
        .crossJoin(F.broadcast(lam))
        .select(
            "d",
            F.round(F.col("val") * F.col("s"), 6).alias("component"),
            F.round(F.col("l"), 4).alias("lambda_est"),
        )
    )


@register(
    "emb_covariance_topk",
    """
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS d),
    ev AS (
      SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS e
      FROM embeddings, dims
    ),
    mu AS (SELECT d, AVG(e) AS m, COUNT(*) AS n FROM ev GROUP BY d),
    cross_sums AS (
      SELECT a.d AS d1, b.d AS d2, SUM(a.e * b.e) AS sxy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev a JOIN ev b ON a.vec_id = b.vec_id AND a.d < b.d
      GROUP BY a.d, b.d
    ),
    cov AS (
      SELECT d1, d2,
             (sxy / cs.n) - m1.m * m2.m AS c
      FROM cross_sums cs
      JOIN mu m1 ON cs.d1 = m1.d JOIN mu m2 ON cs.d2 = m2.d
    ),
    ranked AS (
      SELECT d1, d2, c,
             CAST(ROUND(ABS(c) * 100000000) AS BIGINT) AS mag,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(ABS(c) * 100000000) AS BIGINT) DESC, d1, d2
             ) AS rn
      FROM cov
    )
    SELECT d1, d2, ROUND(c, 6) AS covariance
    FROM ranked WHERE rn <= 20
    """,
)
def emb_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-covarying off-diagonal feature pairs of the embedding
    space — the redundancy screen run before feature pruning or whitening.
    Cross-products come from the (row, dim, value) self-join keyed on the
    row id (fanout bounded at d(d−1)/2 per row, never a corpus×corpus
    product); means join back from a 64-row aggregate. Ranking magnitude is
    snapped to integer 1e-8 units so the top-20 SET is engine-stable even
    when two covariances differ below the rounding floor."""
    emb = _t(spark, sf_dir, "embeddings")
    ev = IT.round_checkpoint(emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "e0")
    ).select(
        "vec_id", (F.col("p") + 1).alias("d"), F.col("e0").cast("double").alias("e")
    ))
    mu = ev.groupBy("d").agg(F.avg("e").alias("m"))
    a = ev.select("vec_id", F.col("d").alias("d1"), F.col("e").alias("ea"))
    b = ev.select("vec_id", F.col("d").alias("d2"), F.col("e").alias("eb"))
    cross = (
        a.join(b, "vec_id")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.col("ea") * F.col("eb")).alias("sxy"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    m1 = mu.select(F.col("d").alias("d1"), F.col("m").alias("m1"))
    m2 = mu.select(F.col("d").alias("d2"), F.col("m").alias("m2"))
    cov = (
        cross.join(F.broadcast(m1), "d1")
        .join(F.broadcast(m2), "d2")
        .select(
            "d1",
            "d2",
            (F.col("sxy") / F.col("n") - F.col("m1") * F.col("m2")).alias("c"),
        )
    )
    mag = F.round(F.abs(F.col("c")) * 100000000).cast("long")
    return (
        cov.withColumn("mag", mag)
        .orderBy(F.col("mag").desc(), "d1", "d2")
        .limit(20)
        .select("d1", "d2", F.round("c", 6).alias("covariance"))
    )


@register(
    "emb_triplet_mining",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    anchors AS (SELECT vec_id AS a_id, label AS a_label, v AS av FROM e WHERE vec_id < 20),
    scored AS (
      SELECT a.a_id, a.a_label, e.vec_id, e.label,
             ROUND(
               {_DOT_SQL.format(a='av', b='v')} /
               (SQRT({_DOT_SQL.format(a='av', b='av')}) *
                SQRT({_DOT_SQL.format(a='v', b='v')})), 6) AS sim
      FROM e CROSS JOIN anchors a WHERE e.vec_id <> a.a_id
    ),
    pos AS (
      SELECT a_id, vec_id AS hard_pos_id, sim AS pos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY a_id ORDER BY sim ASC, vec_id) AS rn
        FROM scored WHERE label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT a_id, vec_id AS hard_neg_id, sim AS neg_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY a_id ORDER BY sim DESC, vec_id) AS rn
        FROM scored WHERE label <> a_label
      ) WHERE rn = 1
    )
    SELECT pos.a_id AS anchor_id, hard_pos_id, pos_sim, hard_neg_id, neg_sim,
           ROUND(pos_sim - neg_sim, 6) AS margin
    FROM pos JOIN neg ON pos.a_id = neg.a_id
    """,
)
def emb_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for contrastive training: per anchor, the hardest
    positive (FARTHEST same-label vector — the pair the model most needs to
    pull together) and the hardest negative (CLOSEST different-label vector
    — the pair it most needs to push apart), plus the triplet margin. The
    anchor set broadcasts; similarities are one map-side pass over the
    corpus (same two-stage-rankable shape as brute_force_topk); the two
    argmin/argmax windows partition by anchor. Sims are rounded BEFORE
    ranking with the id tie-break, so the mined triplets are
    engine-identical. At 100 TB the corpus pass is the only O(n) stage —
    swap in the LSH bucketed candidates to mine within buckets only."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = F.broadcast(
        e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("a_id"),
            F.col("label").alias("a_label"),
            F.col("v").alias("av"),
        )
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
    )
    scored = IT.round_checkpoint(
        e.crossJoin(anchors)
        .filter(F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "a_label",
            "vec_id",
            "label",
            F.round(
                dot(F.col("av"), F.col("v"))
                / (
                    F.sqrt(dot(F.col("av"), F.col("av")))
                    * F.sqrt(dot(F.col("v"), F.col("v")))
                ),
                6,
            ).alias("sim"),
        )
    )
    w_pos = Window.partitionBy("a_id").orderBy(F.col("sim").asc(), "vec_id")
    pos = (
        scored.filter(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("vec_id").alias("hard_pos_id"),
            F.col("sim").alias("pos_sim"),
        )
    )
    w_neg = Window.partitionBy("a_id").orderBy(F.col("sim").desc(), "vec_id")
    neg = (
        scored.filter(F.col("label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("vec_id").alias("hard_neg_id"),
            F.col("sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "hard_pos_id",
        "pos_sim",
        "hard_neg_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


@register(
    "emb_norm_outliers",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id,
             CAST(ROUND(SQRT({_DOT_SQL.format(a='v', b='v')})
                        * (CASE WHEN vec_id % 50 = 0 THEN 1.5 ELSE 1.0 END)
                        * 1000000) AS BIGINT) AS nrm_micro
      FROM e
    ),
    med AS (
      SELECT nrm_micro AS med FROM (
        SELECT nrm_micro, ROW_NUMBER() OVER (ORDER BY nrm_micro, vec_id) AS rn,
               COUNT(*) OVER () AS n
        FROM norms
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT vec_id, nrm_micro, ABS(nrm_micro - med.med) AS ad
      FROM norms, med
    ),
    mad AS (
      SELECT ad AS mad FROM (
        SELECT ad, ROW_NUMBER() OVER (ORDER BY ad, vec_id) AS rn,
               COUNT(*) OVER () AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT dev.vec_id,
           ROUND(nrm_micro / 1000000.0, 6) AS norm,
           ROUND(ad * 1.0 / NULLIF(mad.mad, 0), 4) AS mad_score
    FROM dev, mad
    WHERE ad > 3 * mad.mad
    """,
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm hygiene: vectors whose L2 norm deviates from the
    median by more than 3 MADs — the standard screen for broken encoders
    (the driver corpus is unit-normalized, so defects are PLANTED: every
    50th vector scaled 1.5x; the screen must find exactly those),
    zero vectors, and un-normalized batches before similarity search or
    training. Norms snap to integer micro-units so the median, the MAD,
    and every comparison are exact integer selections (rank-picked, not
    percentile-interpolated) — engine-identical with no float ordering.
    Two rank windows over the |corpus| norm values; at 100 TB both medians
    come from fixed-grid distributed quantiles (a_quantile_grid's shape)
    instead of a global rank."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dot_vv = F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    # planted defects: every 50th vector scaled 1.5x (corpus is otherwise
    # unit-normalized, which would make the screen trivially empty)
    scale = F.when(F.col("vec_id") % 50 == 0, F.lit(1.5)).otherwise(F.lit(1.0))
    norms = IT.round_checkpoint(e.select(
        "vec_id",
        F.round(F.sqrt(dot_vv) * scale * 1000000).cast("long").alias("nrm_micro"),
    ))
    w_n = Window.orderBy("nrm_micro", "vec_id")
    wa = Window.partitionBy()
    med = (
        norms.select(
            "nrm_micro",
            F.row_number().over(w_n).alias("rn"),
            F.count(F.lit(1)).over(wa).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("nrm_micro").alias("med"))
    )
    dev = norms.crossJoin(F.broadcast(med)).select(
        "vec_id",
        "nrm_micro",
        F.abs(F.col("nrm_micro") - F.col("med")).alias("ad"),
    )
    w_d = Window.orderBy("ad", "vec_id")
    mad = (
        dev.select(
            "ad",
            F.row_number().over(w_d).alias("rn"),
            F.count(F.lit(1)).over(wa).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("ad").alias("mad"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("ad") > 3 * F.col("mad"))
        .select(
            "vec_id",
            F.round(F.col("nrm_micro") / 1000000.0, 6).alias("norm"),
            F.round(
                F.col("ad") * 1.0 / F.nullif(F.col("mad"), F.lit(0)), 4
            ).alias("mad_score"),
        )
    )


@register(
    "dedup_lsh_scorecard",
    f"""
    WITH {_SCORECARD_CTES},
    exact_common AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM post a JOIN post b ON a.hsh = b.hsh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact_pairs AS (
      SELECT ec.id_1, ec.id_2,
             ROUND(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
      FROM exact_common ec
      JOIN sz s1 ON s1.doc_id = ec.id_1 JOIN sz s2 ON s2.doc_id = ec.id_2
      WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
    ),
    missed AS (
      SELECT e.id_1, e.id_2, e.jaccard FROM exact_pairs e
      ANTI JOIN mh_pairs m ON e.id_1 = m.id_1 AND e.id_2 = m.id_2
    )
    SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM mh_pairs) AS BIGINT) AS n_lsh,
           ROUND((SELECT COUNT(*) FROM mh_pairs) * 1.0 /
                 NULLIF((SELECT COUNT(*) FROM exact_pairs), 0), 6) AS recall,
           COALESCE((SELECT MAX(jaccard) FROM missed), 0.0) AS worst_missed_jaccard
    """,
)
def dedup_lsh_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall under the CORRECTNESS gate (not just a pytest floor): on a
    deterministic 20% document sample, enumerate ALL >= 0.5-Jaccard pairs
    exactly (shingle-posting self-join — affordable on the sample, which is
    the point of sampling) and compare against the banded MinHash
    pipeline's verified pairs. Because the LSH path verifies exact Jaccard
    on its candidates, its output is a SUBSET of the exact set — precision
    is 1.0 by construction and the scorecard measures what banding alone
    determines: RECALL, plus the worst missed pair's similarity (how bad
    the worst false negative is). This is the production pattern for
    monitoring an approximate dedup: run the exact audit on a small sample
    every batch, alert on recall drop."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    # r10: h31 from the Arrow-batched producer (same set values; the sig it
    # also returns is dropped here — the memoized md5 still wins).
    # r11: sig-free variant (num_hashes=0) — the dropped sig no longer costs
    # 16 affine min-reductions per doc.
    hashed = IT.round_checkpoint(
        DD.shingle_sig_frame(docs, "text", "doc_id", 0)
        .select("doc_id", "h31")
    )
    posting = hashed.select("doc_id", F.explode("h31").alias("hsh"))
    p1 = posting.select(F.col("doc_id").alias("id_1"), "hsh")
    p2 = posting.select(F.col("doc_id").alias("id_2"), "hsh")
    sizes = hashed.select("doc_id", F.size("h31").alias("sz"))
    exact = IT.round_checkpoint(
        p1.join(p2, "hsh")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.withColumnsRenamed({"doc_id": "id_1", "sz": "sz_1"}), "id_1")
        .join(sizes.withColumnsRenamed({"doc_id": "id_2", "sz": "sz_2"}), "id_2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_1") + F.col("sz_2") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_1", "id_2", "jaccard")
    )
    lsh = IT.round_checkpoint(DD.minhash_lsh_dedup(
        docs, k=3, num_hashes=16, bands=4, threshold=0.5
    ))
    missed = exact.join(lsh.select("id_1", "id_2"), ["id_1", "id_2"], "left_anti")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    worst = missed.agg(
        F.coalesce(F.max("jaccard"), F.lit(0.0)).alias("worst_missed_jaccard")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(worst))
        .select(
            "n_exact",
            "n_lsh",
            F.round(
                F.col("n_lsh") * 1.0 / F.nullif(F.col("n_exact"), F.lit(0)), 6
            ).alias("recall"),
            "worst_missed_jaccard",
        )
    )


@register(
    "dedup_cluster_keepers",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    sym AS (
      SELECT id_1 AS u, id_2 AS v FROM mh_pairs
      UNION
      SELECT id_2, id_1 FROM mh_pairs
    ),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
    ),
    comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
    q AS (
      SELECT doc_id,
             len({_TOKS_SQL}) AS n,
             len(list_distinct({_TOKS_SQL})) AS d,
             len(list_filter({_TOKS_SQL},
                 t -> list_contains({_STOPS_SQL}, t))) AS s
      FROM documents
    ),
    qm AS (
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0
                  ELSE ((4 * LEAST(n, 100) * n + 300 * (d + s)) * 2000000
                        + 1000 * n) // (2000 * n) END AS qm
      FROM q
    ),
    member AS (
      SELECT c.node AS doc_id, c.component AS cluster_id, qm.qm
      FROM comp c JOIN qm ON qm.doc_id = c.node
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY qm DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS csize
      FROM member
    )
    SELECT cluster_id, CAST(csize AS BIGINT) AS cluster_size,
           doc_id AS keeper_doc_id,
           ROUND(qm / 1000000.0, 4) AS keeper_quality,
           CAST(csize - 1 AS BIGINT) AS n_discarded
    FROM ranked WHERE rn = 1 AND csize > 1
    """,
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION, not just the clustering: near-dup clusters (the
    same LSH→verify→connected-components pipeline as dedup_cluster_assign)
    each elect ONE keeper — the highest-quality member by the exact
    integer-micro-unit quality score, doc_id tie-break — and the rest are
    counted as discards. This is the composition a production corpus prep
    actually ships (cluster → rank by quality → keep one), demonstrated as
    one registry entry so its end-to-end plan is pinned: the quality score
    joins INTO the cluster members (never scored for non-clustered docs),
    and the keeper election is a partitioned window over cluster ids."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(
        docs, k=3, num_hashes=16, bands=4, threshold=0.5
    ).select("id_1", "id_2")
    clustered = CCop.dedup_clusters(docs, pairs).filter(
        F.col("cluster_size") > 1
    )
    toks = TXT.tokens("text")
    n = F.size(toks).cast("long")
    dd_ = F.size(F.array_distinct(toks)).cast("long")
    stop_arr = F.array(*[F.lit(x) for x in TXT.STOPWORDS])
    ss = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "long"
    )
    num = (4 * F.least(n, F.lit(100)) * n + 300 * (dd_ + ss)) * 2000000 + 1000 * n
    den = 2000 * n
    qm = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        ((num - F.pmod(num, den)) / den).cast("long")
    )
    scored = docs.select("doc_id", qm.alias("qm")).join(
        clustered.select("doc_id", "cluster_id", "cluster_size"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("qm").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("doc_id").alias("keeper_doc_id"),
            F.round(F.col("qm") / 1000000.0, 4).alias("keeper_quality"),
            (F.col("cluster_size") - 1).cast("long").alias("n_discarded"),
        )
    )


@register(
    "emb_sim_calibration",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS l1, b.label AS l2,
             a.v AS v1, b.v AS v2
      FROM e a JOIN e b
        ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
    ),
    scored AS (
      SELECT CASE WHEN l1 = l2 THEN 1 ELSE 0 END AS same_label,
             LEAST(9, GREATEST(0, CAST(FLOOR(
               ({_DOT_SQL.format(a='v1', b='v2')} /
                (SQRT({_DOT_SQL.format(a='v1', b='v1')}) *
                 SQRT({_DOT_SQL.format(a='v2', b='v2')})) + 1) * 5) AS BIGINT)))
               AS sim_bin
      FROM pairs
    )
    SELECT sim_bin,
           ROUND(-1 + (sim_bin + 0.5) / 5.0, 2) AS bin_center,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(same_label), 6) AS p_same_label
    FROM scored GROUP BY sim_bin
    """,
)
def emb_sim_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-score calibration: P(same label | cosine bin) over a
    deterministic bounded pair sample (each vector paired with its next 20
    ids — a fixed-fanout ring, never the n² product) — the table that
    turns 'cosine 0.7' into an actual probability, which is how dedup and
    retrieval thresholds SHOULD be chosen (the LSH threshold 0.5 in the
    dedup family corresponds to a point on exactly this curve). Fixed
    [−1, 1] bins in tenths-of-two; one bounded self-join, one 10-row
    aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(
        F.col("vec_id").alias("id1"),
        F.col("label").alias("l1"),
        F.col("v").alias("v1"),
    )
    b = e.select(
        F.col("vec_id").alias("id2"),
        F.col("label").alias("l2"),
        F.col("v").alias("v2"),
    )
    # ring pairs via BLOCK equi-join: id2 in (id1, id1+20] implies
    # id2 div 20 is id1's block or the next one, so exploding each left row
    # to its two candidate blocks turns the range predicate into hash-join
    # keys (a raw non-equi join here compiles to BroadcastNestedLoopJoin --
    # n^2 predicate evaluations at scale even though the OUTPUT is bounded)
    a_blocked = a.select(
        "id1",
        "l1",
        "v1",
        F.explode(
            F.array(
                F.floor(F.col("id1") / 20), F.floor(F.col("id1") / 20) + 1
            )
        ).alias("blk"),
    )
    b_blocked = b.withColumn("blk", F.floor(F.col("id2") / 20))
    pairs = a_blocked.join(b_blocked, "blk").filter(
        (F.col("id2") > F.col("id1")) & (F.col("id2") <= F.col("id1") + 20)
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
    )
    cos = dot(F.col("v1"), F.col("v2")) / (
        F.sqrt(dot(F.col("v1"), F.col("v1"))) * F.sqrt(dot(F.col("v2"), F.col("v2")))
    )
    sim_bin = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor((cos + 1) * 5).cast("long"))
    )
    scored = pairs.select(
        F.when(F.col("l1") == F.col("l2"), 1).otherwise(0).alias("same_label"),
        sim_bin.alias("sim_bin"),
    )
    return scored.groupBy("sim_bin").agg(
        F.round(-1 + (F.col("sim_bin") + 0.5) / 5.0, 2).alias("bin_center"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("same_label"), 6).alias("p_same_label"),
    ).select("sim_bin", "bin_center", "n_pairs", "p_same_label")


@register(
    "emb_cluster_purity_ari",
    f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, label, {_hyperplane_bucket_sql(4, 'v')} AS cluster
      FROM e
    ),
    cont AS (
      SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM assigned GROUP BY cluster, label
    ),
    margins AS (
      SELECT cluster, label, n_ij,
             SUM(n_ij) OVER (PARTITION BY cluster) AS a_i,
             SUM(n_ij) OVER (PARTITION BY label) AS b_j,
             SUM(n_ij) OVER () AS n
      FROM cont
    ),
    sums AS (
      SELECT SUM(n_ij * (n_ij - 1) / 2) AS sum_comb_ij,
             MAX(n) AS n,
             (SELECT SUM(DISTINCT_A.a * (DISTINCT_A.a - 1) / 2)
              FROM (SELECT DISTINCT cluster, a_i AS a FROM margins) DISTINCT_A)
               AS sum_comb_a,
             (SELECT SUM(DISTINCT_B.b * (DISTINCT_B.b - 1) / 2)
              FROM (SELECT DISTINCT label, b_j AS b FROM margins) DISTINCT_B)
               AS sum_comb_b
      FROM margins
    ),
    purity AS (
      SELECT SUM(mx) * 1.0 / MAX(n) AS p FROM (
        SELECT cluster, MAX(n_ij) AS mx, MAX(n) AS n
        FROM margins GROUP BY cluster
      )
    )
    SELECT ROUND((SELECT p FROM purity), 6) AS purity,
           ROUND((sum_comb_ij - sum_comb_a * sum_comb_b / (n * (n - 1) / 2))
                 / ((sum_comb_a + sum_comb_b) / 2.0
                    - sum_comb_a * sum_comb_b / (n * (n - 1) / 2)), 6) AS ari,
           CAST(n AS BIGINT) AS n_points
    FROM sums
    """,
)
def emb_cluster_purity_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering evaluation — purity and the ADJUSTED Rand index of a
    16-bucket hyperplane clustering against the stored labels. Purity
    flatters fine clusterings; ARI corrects for chance agreement (its
    expected value under random assignment is 0), which is why it's the
    metric to report. Everything reduces from the |clusters|×|labels|
    contingency table: pair-counting combinations are exact integer
    arithmetic (n·(n−1)/2 sums), so both engines agree bit-for-bit before
    the single final division. The clustering under test is the
    deterministic LSH bucketing — swap in any assignment column and the
    evaluation plan is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = e.select(
        "label", SIM.hyperplane_bucket(F.col("v"), 4).alias("cluster")
    )
    cont = IT.round_checkpoint(assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n_ij")
    ))
    w_c = Window.partitionBy("cluster")
    w_l = Window.partitionBy("label")
    wa = Window.partitionBy()
    margins = IT.round_checkpoint(cont.select(
        "cluster",
        "label",
        "n_ij",
        F.sum("n_ij").over(w_c).alias("a_i"),
        F.sum("n_ij").over(w_l).alias("b_j"),
        F.sum("n_ij").over(wa).alias("n"),
    ))
    comb = lambda c: (c * (c - 1) / 2)  # noqa: E731
    sum_ij = margins.agg(
        F.sum(comb(F.col("n_ij"))).alias("sum_comb_ij"),
        F.max("n").alias("n"),
    )
    sum_a = (
        margins.select("cluster", "a_i")
        .distinct()
        .agg(F.sum(comb(F.col("a_i"))).alias("sum_comb_a"))
    )
    sum_b = (
        margins.select("label", "b_j")
        .distinct()
        .agg(F.sum(comb(F.col("b_j"))).alias("sum_comb_b"))
    )
    pur = (
        margins.groupBy("cluster")
        .agg(F.max("n_ij").alias("mx"), F.max("n").alias("n"))
        .agg((F.sum("mx") * 1.0 / F.max("n")).alias("p"))
    )
    j = (
        sum_ij.crossJoin(F.broadcast(sum_a))
        .crossJoin(F.broadcast(sum_b))
        .crossJoin(F.broadcast(pur))
    )
    exp = F.col("sum_comb_a") * F.col("sum_comb_b") / (
        F.col("n") * (F.col("n") - 1) / 2
    )
    return j.select(
        F.round(F.col("p"), 6).alias("purity"),
        F.round(
            (F.col("sum_comb_ij") - exp)
            / ((F.col("sum_comb_a") + F.col("sum_comb_b")) / 2.0 - exp),
            6,
        ).alias("ari"),
        F.col("n").cast("long").alias("n_points"),
    )
