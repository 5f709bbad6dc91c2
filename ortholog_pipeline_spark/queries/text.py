"""Text-analysis queries (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    G,
    IT,
    PII,
    SparkSession,
    TXT,
    Window,
    _BPE_PAIRS_SQL,
    _PAGERANK_ITER_SQL,
    _STOPS_SQL,
    _TEXTRANK_EDGES_SQL,
    _TOKS_SQL,
    _lang_hits_sql,
    _t,
    register,
)

@register(
    "text_token_stats",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS sum_tokens,
           ROUND(AVG(len({_TOKS_SQL})), 4) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(TXT.token_count("text")).cast("long").alias("sum_tokens"),
        F.round(F.avg(TXT.token_count("text")), 4).alias("avg_tokens"),
    )


@register(
    "text_quality_score",
    f"""
    WITH c AS (
      SELECT lang,
             len({_TOKS_SQL}) AS n,
             len(list_distinct({_TOKS_SQL})) AS d,
             len(list_filter({_TOKS_SQL},
                 t -> list_contains({_STOPS_SQL}, t))) AS s
      FROM documents
    ),
    scored AS (
      -- quality_score is exactly rational: q = (4*min(n,100)*n + 300*(d+s))
      -- / (1000*n); round to micro-units IN INTEGER ARITHMETIC (half-up) so
      -- both engines produce the identical value — ROUND(double, 6) differs
      -- between Spark (BigDecimal on the exact binary expansion) and DuckDB
      -- (multiply-then-nearbyint) on halfway cases, observed at sf0.1
      SELECT lang,
             CASE WHEN n = 0 THEN 0
                  ELSE ((4 * LEAST(n, 100) * n + 300 * (d + s)) * 2000000
                        + 1000 * n) // (2000 * n) END AS qm
      FROM c
    )
    SELECT lang,
           ROUND(SUM(qm) / (COUNT(*) * 1000000.0), 4) AS avg_quality,
           ROUND(MIN(qm) / 1000000.0, 4) AS min_quality,
           ROUND(MAX(qm) / 1000000.0, 4) AS max_quality
    FROM scored GROUP BY lang
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language aggregate of the composite quality score, computed in
    EXACT integer micro-units (the score is rational: see the oracle comment;
    `functions.text.quality_score` keeps the float form for in-engine
    filtering where cross-engine bit-equality doesn't matter)."""
    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    n = F.size(toks).cast("long")
    dd = F.size(F.array_distinct(toks)).cast("long")
    stop_arr = F.array(*[F.lit(x) for x in TXT.STOPWORDS])
    ss = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("long")
    # exact integer floor division: (num - num%den)/den — the numerator is an
    # exact multiple of den and stays < 2^53 (num ~ 2e9*n), so the one double
    # division is exact; Column has no `div` operator and float `/`+cast
    # truncation would not be
    num = (4 * F.least(n, F.lit(100)) * n + 300 * (dd + ss)) * 2000000 + 1000 * n
    den = 2000 * n
    qm = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        ((num - F.pmod(num, den)) / den).cast("long")
    )
    return d.select("lang", qm.alias("qm")).groupBy("lang").agg(
        F.round(F.sum("qm") / (F.count("*") * F.lit(1000000.0)), 4).alias(
            "avg_quality"
        ),
        F.round(F.min("qm") / F.lit(1000000.0), 4).alias("min_quality"),
        F.round(F.max("qm") / F.lit(1000000.0), 4).alias("max_quality"),
    )


@register(
    "text_lang_id",
    f"""
    WITH hits AS (
      SELECT lang,
             {_lang_hits_sql('en')} AS h_en, {_lang_hits_sql('es')} AS h_es,
             {_lang_hits_sql('fr')} AS h_fr, {_lang_hits_sql('de')} AS h_de,
             {_lang_hits_sql('zh')} AS h_zh
      FROM documents
    ), pred AS (
      SELECT lang,
        CASE
          WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh
               AND h_en > 0 THEN 'en'
          WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh AND h_es > 0 THEN 'es'
          WHEN h_fr >= h_de AND h_fr >= h_zh AND h_fr > 0 THEN 'fr'
          WHEN h_de >= h_zh AND h_de > 0 THEN 'de'
          WHEN h_zh > 0 THEN 'zh'
          ELSE 'und' END AS predicted
      FROM hits
    )
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts. The engine's lang_id picks the argmax with
    earlier-language-wins ties (en > es > fr > de > zh), matching the oracle CASE."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        "lang", TXT.lang_id("text").alias("predicted")
    ).agg(F.count("*").alias("n"))


@register(
    "text_bpe_token_count",
    r"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]')))
             AS BIGINT) AS sum_bpe_tokens,
           ROUND(AVG(len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]'))), 4)
             AS avg_bpe_tokens
    FROM documents GROUP BY lang
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under the BPE-ish pre-tokenizer (letter runs / digit runs /
    single marks) — the LLM-token-budget proxy, vs whitespace counting."""
    d = _t(spark, sf_dir, "documents")
    n = TXT.bpe_ish_token_count("text")
    return d.groupBy("lang").agg(
        F.sum(n).cast("long").alias("sum_bpe_tokens"),
        F.round(F.avg(n), 4).alias("avg_bpe_tokens"),
    )


@register(
    "text_fingerprint_winnow",
    f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKS_SQL}, t ->
               CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {DD.MINHASH_M31}
             ) AS th
      FROM documents
    ),
    fp AS (
      SELECT doc_id,
             list_min(list_transform(
               generate_series(1, greatest(len(th) - 2, 0)),
               i -> (th[i] * {DD.SHINGLE_A} + th[i+1] * {DD.SHINGLE_B} + th[i+2])
                    % {DD.MINHASH_M31}
             )) AS fp
      FROM th WHERE len(th) >= 3
    )
    SELECT CAST(fp AS BIGINT) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM fp GROUP BY 1
    """,
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing/min-sampling shape): the minimum
    trigram rolling hash per document — near-identical docs collide."""
    d = _t(spark, sf_dir, "documents")
    # r10: h31 from the Arrow-batched producer (set-identical, so the min is
    # identical). r11: sig-free variant (num_hashes=0) — only array_min(h31)
    # is consumed, so the 16 affine min-reductions were wasted work per doc.
    h = DD.shingle_sig_frame(d, "text", "doc_id", 0)
    return (
        h.select("doc_id", F.array_min("h31").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


@register(
    "text_pii_scrub",
    r"""
    WITH w AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +15550000' || CAST(doc_id AS VARCHAR)
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS txt
      FROM documents
    ),
    s AS (
      SELECT doc_id, txt,
             regexp_replace(regexp_replace(regexp_replace(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
               '\+[0-9]{7,15}\b', '<PHONE>', 'g') AS scrubbed,
             len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(txt, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))
             + len(regexp_extract_all(txt, '\+[0-9]{7,15}\b')) AS n_pii
      FROM w
    )
    SELECT doc_id, CAST(n_pii AS BIGINT) AS n_pii,
           md5(scrubbed) AS scrub_fp,
           CAST(length(scrubbed) AS BIGINT) AS n_chars
    FROM s
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction parity: deterministic synthetic PII (email/phone/IP derived
    from doc_id) appended to every document, scrubbed with functions/pii.py, and
    fingerprinted — the md5 proves both engines made byte-identical redactions.
    Pure regexp expressions, whole-stage codegen, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@example.com or +15550000"), did,
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
    )
    w = docs.select("doc_id", txt.alias("txt"))
    return w.select(
        "doc_id",
        PII.pii_count("txt").alias("n_pii"),
        F.md5(PII.scrub_pii("txt")).alias("scrub_fp"),
        F.length(PII.scrub_pii("txt")).cast("long").alias("n_chars"),
    )


@register(
    "text_tfidf_topterms",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t WHERE term <> '' GROUP BY doc_id, term
    ),
    s AS (
      SELECT doc_id, term, tf,
             CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
      FROM tf
    ),
    r AS (
      SELECT doc_id, term, tf, df,
             CAST(tf AS DOUBLE) * (SELECT COUNT(*) FROM documents)
               / CAST(df AS DOUBLE) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(tf AS DOUBLE) * (SELECT COUNT(*) FROM documents)
                          / CAST(df AS DOUBLE) DESC,
                        term) AS rn
      FROM s
    )
    SELECT doc_id, term, tf, df, ROUND(score, 6) AS tfidf
    FROM r WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, raw inverse-frequency variant
    (score = tf · N/df, no log) so every arithmetic step is a correctly-rounded
    IEEE op that DuckDB reproduces bit-for-bit — ln() differs across libm
    builds in the last ulp and would make rank ties engine-dependent.

    Plan: explode → (doc,term) partial-agg groupBy (map-side combine eats the
    in-doc repeats before the shuffle) → vocabulary-keyed window for df → one
    more window per doc for the top-k. Two wide stages over ~|tokens| and
    ~|vocab| rows; no driver-side loops (N is a single scalar count)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    score = F.col("tf").cast("double") * F.lit(n_docs) / F.col("df").cast("double")
    w_doc = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "term", "tf", "df", F.round(score, 6).alias("tfidf")
        )
    )


@register(
    "text_repetition_stats",
    rf"""
    WITH b AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    base AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]
                  ELSE [] END AS tri,
             CASE WHEN len(toks) >= 2
                  THEN [toks[i] || ' ' || toks[i+1]
                        for i in range(1, len(toks))]
                  ELSE [] END AS bi
      FROM b
    ),
    dup AS (
      SELECT doc_id,
             CASE WHEN len(tri) = 0 THEN 0.0
                  ELSE ROUND(1.0 - len(list_distinct(tri))
                             / CAST(len(tri) AS DOUBLE), 6) END AS dup_trigram_frac
      FROM base
    ),
    bg AS (SELECT doc_id, unnest(bi) AS g FROM base),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    top AS (
      SELECT doc_id, ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_bigram_frac
      FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id, d.dup_trigram_frac,
           COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac,
           d.dup_trigram_frac > 0.1 AS flagged
    FROM dup d LEFT JOIN top t ON d.doc_id = t.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-trigram
    fraction (map-side array expressions — zero shuffle) and top-bigram
    occupancy (explode + two-level agg — shuffle bounded by distinct bigram
    posting lists). Documents whose trigram stream is >10% repeats get
    flagged, the standard low-quality-repetition cut."""
    from ortholog_pipeline_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.round(TXT.dup_ngram_fraction("text", 3), 6).alias("dup_trigram_frac"),
    )
    bg = docs.select(
        "doc_id", F.explode(TXT.ngram_strings("text", 2)).alias("g")
    )
    top = (
        bg.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
                "top_bigram_frac"
            )
        )
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "dup_trigram_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        (F.col("dup_trigram_frac") > 0.1).alias("flagged"),
    )


@register(
    "text_vocab_encode",
    rf"""
    WITH b AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
      FROM b WHERE len(toks) >= 1
    ),
    vocab AS (
      SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS id
      FROM tok GROUP BY t
      QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) <= 1000
    ),
    enc AS (
      SELECT tok.doc_id, tok.pos, COALESCE(vocab.id, 0) AS id
      FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           ROUND(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS oov_frac,
           md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_hash
    FROM enc GROUP BY doc_id
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary induction + encoding: top-1000 tokens by frequency
    (rank ties broken by token) become ids 1..1000, documents re-encoded as id
    sequences with OOV = 0. The vocab is a classic two-level count (map-side
    partial agg) and the encode is a BROADCAST join on the token — at 100 TB
    the vocab stays small by construction (top-N), so no shuffle touches the
    corpus beyond the per-doc reassembly window. Output pins the exact id
    sequence via md5."""
    from ortholog_pipeline_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(TXT.tokens("text")).alias("pos0", "t")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    # two-stage top-N: heap-merge the top 1000 first (TakeOrderedAndProject),
    # THEN rank — the unpartitioned id window only ever sees 1000 rows, never
    # the full distinct-token frame
    wv = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(1000)
        .withColumn("id", F.row_number().over(wv))
        .select("t", "id")
    )
    enc = tok.join(F.broadcast(vocab), "t", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("oov_frac"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "id"))
                    ),
                    lambda s: s["id"].cast("string"),
                ),
                ",",
            )
        ).alias("ids_hash"),
    )


@register(
    "text_bigram_perplexity",
    rf"""
    WITH b AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                             for i in range(1, len(toks))]) AS g
      FROM b WHERE len(toks) >= 2
    ),
    uni AS (
      SELECT doc_id, unnest(toks) AS t FROM b
    ),
    bg_counts AS (SELECT g, COUNT(*) AS cb FROM bg GROUP BY g),
    uni_counts AS (SELECT t, COUNT(*) AS cu FROM uni GROUP BY t),
    v AS (SELECT COUNT(*) AS vocab FROM uni_counts),
    scored AS (
      SELECT bg.doc_id,
             ln((bc.cb + 1.0) / (uc.cu + (SELECT vocab FROM v))) AS lp
      FROM bg
      JOIN bg_counts bc ON bg.g = bc.g
      JOIN uni_counts uc ON split_part(bg.g, ' ', 1) = uc.t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(lp), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring (add-one smoothing):
    avg negative log-likelihood per document — the perplexity-style quality
    filter. Count tables are classic two-level aggs (map-side combine); the
    per-doc scoring join is bounded by the bigram posting lists, and the count
    tables broadcast when small. Rounding the avg absorbs float sum order."""
    from ortholog_pipeline_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    # bg feeds BOTH the count table and the scoring join — checkpoint the skinny
    # exploded frame so the n-gram build runs once; uni_counts feeds the vocab
    # count action and the scoring broadcast
    bg = IT.round_checkpoint(docs.select(
        "doc_id", F.explode(TXT.ngram_strings("text", 2)).alias("g")
    ))
    uni = docs.select("doc_id", F.explode(TXT.tokens("text")).alias("t"))
    bg_counts = bg.groupBy("g").agg(F.count("*").alias("cb"))
    uni_counts = IT.round_checkpoint(uni.groupBy("t").agg(F.count("*").alias("cu")))
    vocab = uni_counts.count()
    scored = (
        bg.join(F.broadcast(bg_counts), "g")
        .withColumn("t1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .join(
            F.broadcast(uni_counts.withColumnRenamed("t", "t1")), "t1"
        )
        .withColumn(
            "lp", F.log((F.col("cb") + 1.0) / (F.col("cu") + F.lit(vocab)))
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("lp"), 4).alias("avg_nll"),
    )


@register(
    "text_quality_classifier",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    w AS (
      SELECT doc_id, len(toks) AS n_tokens,
             COALESCE(CASE WHEN len(toks) = 0 THEN 0
                  ELSE list_aggregate(list_transform(toks, x ->
                    CAST(('0x' || substr(md5('w|' || x), 1, 15)) AS BIGINT) % 101 - 50), 'sum')
             END, 0) AS s
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE ROUND(CAST(s AS DOUBLE) / n_tokens, 6) END AS lm_score,
           CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS INT) AS keep
    FROM w
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the fastText-classifier shape used by
    CCNet/LLaMA-style corpus pipelines: hashed bag-of-words features × a
    weight table, mean-pooled to a per-document score, thresholded to a
    keep/drop label. Weights here are md5-derived stand-ins (so the oracle
    checks the scoring EXACTLY); production swaps in a learned table via
    broadcast join without changing the plan. Pure Catalyst array expressions:
    map-side, zero shuffle, zero UDFs; the score is one integer sum + one
    final division so no float-order divergence exists."""
    docs = _t(spark, sf_dir, "documents")
    score = TXT.linear_quality_score("text")
    return docs.select(
        "doc_id",
        TXT.token_count("text").cast("long").alias("n_tokens"),
        score.alias("lm_score"),
        (score > 0).cast("int").alias("keep"),
    )


@register(
    "text_bpe_pair_stats",
    rf"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS t FROM documents),
    vc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
    pr AS (
      SELECT substr(t, i, 2) AS pair, cnt
      FROM vc, LATERAL (SELECT unnest(generate_series(1, length(t) - 1)) AS i)
      WHERE length(t) >= 2
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
    FROM pr GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 10
    """,
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training — the adjacent-symbol-pair count
    whose argmax becomes the next merge rule. Uses the standard scaling trick:
    aggregate the corpus to (distinct word, frequency) FIRST (vocabulary-sized,
    not corpus-sized), then explode each word's character pairs weighted by its
    frequency. Top-10 via TakeOrderedAndProject with a total tie-break order."""
    docs = _t(spark, sf_dir, "documents")
    vc = (
        docs.select(F.explode(TXT.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = F.when(
        F.length("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("t") - 1),
            lambda i: F.col("t").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        vc.select(F.explode(pairs).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(10)
    )


@register(
    "text_boilerplate_ngrams",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    per_doc AS (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS occ
      FROM g GROUP BY doc_id, gram
    ),
    w AS (
      SELECT doc_id, occ,
             COUNT(*) OVER (PARTITION BY gram) >= 3 AS boiler
      FROM per_doc
    )
    SELECT doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT) AS n_boiler,
           ROUND(CAST(SUM(CASE WHEN boiler THEN occ ELSE 0 END) AS DOUBLE)
                 / SUM(occ), 6) AS boiler_ratio
    FROM w GROUP BY doc_id
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the RefinedWeb/CCNet line-dedup
    idea restated for a corpus without newlines): a trigram phrase occurring in
    >= 3 DISTINCT documents is boilerplate (headers, navigation, license
    blurbs); each document reports how much of its trigram mass is boilerplate
    — the upstream signal for a strip-or-drop cleaning decision.

    Plan: tokenize -> in-row trigram array (`transform(sequence(...))`, O(n)
    map-side, no self-join) -> explode -> (doc, gram) partial-agg groupBy (the
    map-side combine eats in-doc repeats before the shuffle) -> one
    vocabulary-keyed window for the distinct-doc frequency -> per-doc re-agg.
    Two shuffles total, both on high-cardinality unskewed keys; at 100 TB the
    gram shuffle is the cost and would be cut by hashing grams to longs
    (exactly as dedup_minhash_lsh does) instead of carrying strings."""
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
    )
    per_doc = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("occ"))
    flagged = per_doc.withColumn(
        "boiler", F.count(F.lit(1)).over(Window.partitionBy("gram")) >= 3
    )
    boiler_occ = F.sum(F.when(F.col("boiler"), F.col("occ")).otherwise(F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.sum("occ").alias("n_grams"),
        boiler_occ.alias("n_boiler"),
        F.round(
            boiler_occ.cast("double") / F.sum("occ"), 6
        ).alias("boiler_ratio"),
    )


@register(
    "text_inverted_index",
    """
    WITH t AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tocc AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occ FROM occ
      WHERE term <> '' GROUP BY term
    ),
    idx AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string(list_sort(list(doc_id))[1:5], ',') AS posting_head
      FROM t WHERE term <> '' GROUP BY term
    )
    SELECT idx.term, idx.df, tocc.n_occ, idx.posting_head
    FROM idx JOIN tocc ON idx.term = tocc.term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-engine primitive): term -> document
    frequency, total occurrences, and the head of the sorted posting list.
    Postings are collected per term AFTER a (doc, term) distinct — the
    distinct's partial aggregation dedups map-side so the term shuffle carries
    one row per (doc, term), not per occurrence. The head-5 projection keeps
    the oracle comparison bounded while pinning list order (sorted doc ids)."""
    docs = _t(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tocc = occ.groupBy("term").agg(F.count(F.lit(1)).alias("n_occ"))
    idx = (
        occ.distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("posting_head"),
        )
    )
    return idx.join(tocc, "term").select("term", "df", "n_occ", "posting_head")


@register(
    "text_template_mining",
    """
    WITH lines AS (
      SELECT 'evt=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
             || ' k=' || CAST(json_extract(props, '$.k') AS VARCHAR) AS line
      FROM events
    ),
    t AS (
      SELECT regexp_replace(line, '[0-9]+', '#', 'g') AS template, line
      FROM lines
    ),
    g AS (
      SELECT template, CAST(COUNT(*) AS BIGINT) AS n_lines,
             MIN(line) AS sample_line
      FROM t GROUP BY template
    )
    SELECT template, n_lines, sample_line,
           ROUND(CAST(n_lines AS DOUBLE) / SUM(n_lines) OVER (), 6) AS coverage
    FROM g
    """,
)
def text_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template mining (the Drain/Spell primitive reduced to its core):
    mask variable fields (digit runs → '#') and group identical skeletons,
    reporting each template's line count, coverage share, and a deterministic
    (MIN) exemplar. The masking is a map-side regexp; the groupBy carries one
    row per template after partial aggregation — at 100 TB of logs the
    template table is vocabulary-sized while the scan stays a single pass.
    Line synthesis here stands in for a raw log file; swap the concat for the
    real message column and nothing else changes."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("evt="),
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" k="),
        F.get_json_object("props", "$.k"),
    )
    t = ev.select(
        F.regexp_replace(line, "[0-9]+", "#").alias("template"),
        line.alias("line"),
    )
    g = t.groupBy("template").agg(
        F.count(F.lit(1)).alias("n_lines"), F.min("line").alias("sample_line")
    )
    # the total comes from a window over the TEMPLATE table (vocabulary-sized,
    # bounded) — one events scan total; a scalar-agg crossJoin would recompute
    # the whole aggregation a second time
    total = F.sum("n_lines").over(Window.partitionBy())
    return g.select(
        "template",
        "n_lines",
        "sample_line",
        F.round(F.col("n_lines").cast("double") / total, 6).alias("coverage"),
    )


@register(
    "text_readability",
    """
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS syllables
      FROM documents
    )
    SELECT doc_id, words, syllables,
           CAST(CEIL(words / 15.0) AS BIGINT) AS sentences,
           ROUND(206.835 - 1.015 * (words * 1.0 / CEIL(words / 15.0))
                 - 84.6 * (syllables * 1.0 / words), 4) AS flesch
    FROM c WHERE words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: syllables approximated by vowel-group
    counts (the standard heuristic when no dictionary is shipped), sentences
    as fixed 15-word units (this corpus carries no terminal punctuation; on
    real text swap the denominator for a [.!?]+ match count — the plan is
    unchanged). Pure regexp counting inside whole-stage codegen — one
    narrow map, no shuffle at all; the cheapest per-document quality signal
    in the curation stack and the first gate applied at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), 0))
        .cast("long")
        .alias("words"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        )
        .cast("long")
        .alias("syllables"),
    ).filter(F.col("words") > 0)
    sentences = F.ceil(F.col("words") / 15.0)
    return c.select(
        "doc_id",
        "words",
        "syllables",
        sentences.cast("long").alias("sentences"),
        F.round(
            206.835
            - 1.015 * (F.col("words") * 1.0 / sentences)
            - 84.6 * (F.col("syllables") * 1.0 / F.col("words")),
            4,
        ).alias("flesch"),
    )


@register(
    "text_hapax_zipf",
    """
    WITH toks AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           ROUND(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS hapax_ratio,
           ROUND(COUNT(*) * 1.0 / SUM(freq), 6) AS type_token_ratio,
           ROUND(MAX(freq) * 1.0 / SUM(freq), 6) AS top_term_share
    FROM tf GROUP BY source
    """,
)
def text_hapax_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary profile per corpus slice: type count, token count, hapax
    ratio (share of once-only words — the Zipf-tail health check; scraped
    spam and OCR noise push it toward 1, boilerplate toward 0), type/token
    ratio, and the head term's share. The explode is the only fanout; the
    (source, token) aggregate combines map-side so the shuffle carries term
    frequencies, not tokens — the word-count dataflow, reduced twice."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("freq"))
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("freq"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.max("freq") * 1.0 / F.sum("freq"), 6).alias("top_term_share"),
    )


@register(
    "text_bpe_train_rounds",
    f"""
    WITH words AS (
      SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    v0 AS (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, freq
      FROM words
    ),
    p1 AS ({_BPE_PAIRS_SQL.format(vocab="v0")}),
    m1 AS (
      SELECT pair, pfreq, string_split(pair, '~')[1] AS l,
             string_split(pair, '~')[2] AS r
      FROM p1 ORDER BY pfreq DESC, pair LIMIT 1
    ),
    v1 AS (
      SELECT trim(replace(' ' || sym || ' ',
                          ' ' || m1.l || ' ' || m1.r || ' ',
                          ' ' || m1.l || m1.r || ' ')) AS sym, freq
      FROM v0, m1
    ),
    p2 AS ({_BPE_PAIRS_SQL.format(vocab="v1")}),
    m2 AS (
      SELECT pair, pfreq, string_split(pair, '~')[1] AS l,
             string_split(pair, '~')[2] AS r
      FROM p2 ORDER BY pfreq DESC, pair LIMIT 1
    ),
    v2 AS (
      SELECT trim(replace(' ' || sym || ' ',
                          ' ' || m2.l || ' ' || m2.r || ' ',
                          ' ' || m2.l || m2.r || ' ')) AS sym, freq
      FROM v1, m2
    ),
    p3 AS ({_BPE_PAIRS_SQL.format(vocab="v2")}),
    m3 AS (
      SELECT pair, pfreq, string_split(pair, '~')[1] AS l,
             string_split(pair, '~')[2] AS r
      FROM p3 ORDER BY pfreq DESC, pair LIMIT 1
    )
    SELECT 1 AS round, l AS left_sym, r AS right_sym, pfreq AS pair_freq FROM m1
    UNION ALL
    SELECT 2, l, r, pfreq FROM m2
    UNION ALL
    SELECT 3, l, r, pfreq FROM m3
    """,
)
def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE rounds of actual BPE training (not just pair statistics): count
    weighted adjacent-symbol pairs over the (word, freq) vocabulary, pick
    the most frequent pair (lexicographic tie-break — the determinism
    textbook BPE leaves unspecified), merge it EVERYWHERE via delimited
    string replace, repeat. The merge is applied with a broadcast of the
    1-row winner — no collect(), no driver loop state — so each round is:
    pair explode (map-side, weight = word freq), a tiny global top-1
    (TakeOrderedAndProject), and a map-side rewrite. The vocabulary
    aggregate runs ONCE; rounds operate on |vocab| rows, not the corpus —
    the property that makes BPE training feasible at 100 TB (corpus →
    vocab is the only fact-sized pass)."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"), "freq"
    )
    merges = []
    for rnd in range(1, 4):
        syms = F.split(F.col("sym"), " ")
        pairs = (
            vocab.filter(F.size(syms) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda i: F.concat(
                            F.element_at(syms, i),
                            F.lit("~"),
                            F.element_at(syms, i + 1),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("pfreq"))
        )
        m = (
            pairs.orderBy(F.col("pfreq").desc(), "pair")
            .limit(1)
            .select(
                F.lit(rnd).alias("round"),
                F.split("pair", "~").getItem(0).alias("left_sym"),
                F.split("pair", "~").getItem(1).alias("right_sym"),
                F.col("pfreq").alias("pair_freq"),
            )
        )
        merges.append(m)
        vocab = vocab.crossJoin(F.broadcast(m)).select(
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.col("left_sym"),
                        F.lit(" "),
                        F.col("right_sym"),
                        F.lit(" "),
                    ),
                    F.concat(
                        F.lit(" "),
                        F.col("left_sym"),
                        F.col("right_sym"),
                        F.lit(" "),
                    ),
                )
            ).alias("sym"),
            "freq",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@register(
    "text_distinctive_terms",
    """
    WITH toks AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT grp, tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2
    ),
    wide AS (
      SELECT tok,
             SUM(CASE WHEN grp = 'en' THEN n ELSE 0 END) AS n_en,
             SUM(CASE WHEN grp = 'other' THEN n ELSE 0 END) AS n_ot
      FROM tf GROUP BY tok
    ),
    tots AS (
      SELECT SUM(n_en) AS t_en, SUM(n_ot) AS t_ot,
             SUM(n_en + n_ot) AS t_all
      FROM wide
    ),
    scored AS (
      SELECT tok, n_en, n_ot,
             LN((n_en + a0 * prior) / (t_en + a0 - n_en - a0 * prior))
             - LN((n_ot + a0 * prior) / (t_ot + a0 - n_ot - a0 * prior)) AS delta,
             1.0 / (n_en + a0 * prior) + 1.0 / (n_ot + a0 * prior) AS variance
      FROM (
        SELECT tok, n_en, n_ot, t_en, t_ot,
               (n_en + n_ot) * 1.0 / t_all AS prior, 500.0 AS a0
        FROM wide, tots
      )
    ),
    ranked AS (
      SELECT tok, n_en, n_ot,
             CAST(ROUND(delta / SQRT(variance) * 10000) AS BIGINT) AS z4,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(delta / SQRT(variance) * 10000) AS BIGINT) DESC,
                        tok) AS rn_en,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(delta / SQRT(variance) * 10000) AS BIGINT) ASC,
                        tok) AS rn_ot
      FROM scored
    )
    SELECT tok, CAST(n_en AS BIGINT) AS n_en, CAST(n_ot AS BIGINT) AS n_ot,
           ROUND(z4 / 10000.0, 4) AS log_odds_z,
           CASE WHEN rn_en <= 10 THEN 'en' ELSE 'other' END AS distinctive_for
    FROM ranked WHERE rn_en <= 10 OR rn_ot <= 10
    """,
)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive-term extraction between two corpus slices via log-odds
    with an informative Dirichlet prior (Monroe, Colaresi & Quinn's
    'Fightin' Words') — the statistically-sound replacement for raw TF-IDF
    deltas: the corpus-wide prior shrinks rare-word noise, and the z-score
    (delta/√variance) ranks by EVIDENCE, not just magnitude. Top-10
    distinctive terms per side; the z is snapped to integer 1e-4 units
    before ranking so the selected SET is engine-stable. One token count,
    one pivot to (term, n_en, n_other), arithmetic over the vocab table."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other")).alias(
            "grp"
        ),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    wide = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("grp") == "en", 1).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("grp") == "other", 1).otherwise(0)).alias("n_ot"),
    )
    tots = wide.agg(
        F.sum("n_en").alias("t_en"),
        F.sum("n_ot").alias("t_ot"),
        F.sum(F.col("n_en") + F.col("n_ot")).alias("t_all"),
    )
    j = wide.crossJoin(F.broadcast(tots)).select(
        "tok",
        "n_en",
        "n_ot",
        "t_en",
        "t_ot",
        ((F.col("n_en") + F.col("n_ot")) * 1.0 / F.col("t_all")).alias("prior"),
        F.lit(500.0).alias("a0"),
    )
    pe = F.col("a0") * F.col("prior")
    delta = F.log(
        (F.col("n_en") + pe) / (F.col("t_en") + F.col("a0") - F.col("n_en") - pe)
    ) - F.log(
        (F.col("n_ot") + pe) / (F.col("t_ot") + F.col("a0") - F.col("n_ot") - pe)
    )
    variance = 1.0 / (F.col("n_en") + pe) + 1.0 / (F.col("n_ot") + pe)
    z4 = F.round(delta / F.sqrt(variance) * 10000).cast("long")
    scored = j.select("tok", "n_en", "n_ot", z4.alias("z4"))
    w_en = Window.orderBy(F.col("z4").desc(), "tok")
    w_ot = Window.orderBy(F.col("z4").asc(), "tok")
    ranked = scored.select(
        "tok",
        "n_en",
        "n_ot",
        "z4",
        F.row_number().over(w_en).alias("rn_en"),
        F.row_number().over(w_ot).alias("rn_ot"),
    )
    return ranked.filter((F.col("rn_en") <= 10) | (F.col("rn_ot") <= 10)).select(
        "tok",
        "n_en",
        "n_ot",
        F.round(F.col("z4") / 10000.0, 4).alias("log_odds_z"),
        F.when(F.col("rn_en") <= 10, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("distinctive_for"),
    )


@register(
    "text_term_burstiness",
    """
    WITH per_doc AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM per_doc),
    stats AS (
      SELECT tok,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS df,
             SUM(n * n) AS sum_sq
      FROM per_doc GROUP BY tok
    ),
    scored AS (
      SELECT tok, total, df,
             -- Fano factor over ALL docs (zeros included):
             -- mean = total/nd; E[X^2] = sum_sq/nd; F = (E[X^2]-mean^2)/mean
             ROUND((sum_sq * 1.0 / nd - POWER(total * 1.0 / nd, 2))
                   / (total * 1.0 / nd), 4) AS fano
      FROM stats, n_docs
      WHERE total >= 100
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(fano * 10000) AS BIGINT) DESC, tok) AS rn
      FROM scored
    )
    SELECT tok, total, df, fano FROM ranked WHERE rn <= 15
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the Fano factor (variance-to-mean of per-document
    occurrence counts, zeros included): function words sit near Poisson
    (F ≈ 1) while topical/bursty words clump (F ≫ 1) — the statistic
    behind stopword induction and topical-term screens when no stopword
    list exists for a language. Computed from (Σn, Σn², df) per term —
    three mergeable sums, zeros handled analytically (never materialize
    the doc×term zero matrix). Top-15 burstiest among terms with ≥ 100
    occurrences, integer-snapped ranking."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = IT.round_checkpoint(
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nd = per_doc.agg(F.countDistinct("doc_id").alias("nd"))
    stats = per_doc.groupBy("tok").agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    j = stats.crossJoin(F.broadcast(nd)).filter(F.col("total") >= 100)
    mean = F.col("total") * 1.0 / F.col("nd")
    fano = F.round(
        (F.col("sum_sq") * 1.0 / F.col("nd") - mean * mean) / mean, 4
    )
    scored = j.select("tok", "total", "df", fano.alias("fano"))
    w = Window.orderBy(F.round(F.col("fano") * 10000).cast("long").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("tok", "total", "df", "fano")
    )


@register(
    "text_collocations_pmi",
    """
    WITH toks AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
        FROM documents
      ), LATERAL (
        SELECT unnest(generate_series(1, len(ts))) AS i
      ), LATERAL (SELECT ts[i] AS tok)
    ),
    n_tok AS (SELECT COUNT(*) AS nt FROM toks),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok),
    pairs AS (
      SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.tok, b.tok
    ),
    scored AS (
      SELECT w1, w2, n_pair,
             ROUND(LN((n_pair * 1.0 / nt)
                      / ((u1.n * 1.0 / nt) * (u2.n * 1.0 / nt))), 4) AS pmi
      FROM pairs
      JOIN uni u1 ON w1 = u1.tok JOIN uni u2 ON w2 = u2.tok, n_tok
      WHERE n_pair >= 20
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(pmi * 10000) AS BIGINT) DESC, w1, w2) AS rn
      FROM scored
    )
    SELECT w1, w2, n_pair, pmi FROM ranked WHERE rn <= 15
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction via pointwise mutual information over adjacent
    token pairs: PMI = ln(p(w1w2)/(p(w1)p(w2))) ranks pairs that co-occur
    far above chance — the classic phrase-mining signal ('new york' vs
    'of the'), with a count floor (≥ 20) because PMI explodes on rare
    pairs. Adjacency comes from a position self-join (pos+1 within doc —
    fanout exactly 1 per token, never a doc-wide product); unigram and
    pair counts collapse map-side; top-15 on integer-snapped PMI."""
    docs = _t(spark, sf_dir, "documents")
    toks = IT.round_checkpoint(docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("pos", "tok"),
    ))
    nt = toks.agg(F.count(F.lit(1)).alias("nt"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # pnext is materialized as an ATTRIBUTE so Catalyst extracts
    # (doc_id, pnext)=(doc_id, p2) as hash-join keys -- left as the raw
    # predicate p2 == p1 + 1 the join degrades to a BroadcastNestedLoopJoin
    # (observed), which is quadratic per document at scale
    a = toks.select(
        "doc_id",
        (F.col("pos") + 1).alias("pnext"),
        F.col("tok").alias("w1"),
    )
    b = toks.select(
        "doc_id", F.col("pos").alias("p2"), F.col("tok").alias("w2")
    )
    pairs = (
        a.join(b, (a["doc_id"] == b["doc_id"]) & (a["pnext"] == b["p2"]))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 20)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    scored = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") * 1.0 / F.col("nt"))
                    / (
                        (F.col("n1") * 1.0 / F.col("nt"))
                        * (F.col("n2") * 1.0 / F.col("nt"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(
        F.round(F.col("pmi") * 10000).cast("long").desc(), "w1", "w2"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("w1", "w2", "n_pair", "pmi")
    )


@register(
    "text_vocab_coverage",
    """
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk,
             SUM(freq) OVER (ORDER BY freq DESC, tok
                             ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(freq) OVER () AS total,
             COUNT(*) OVER () AS n_types
      FROM tf
    ),
    ks AS (SELECT unnest([10, 20, 40, 100, 1000]) AS k)
    SELECT ks.k AS vocab_size,
           ROUND(MAX(CASE WHEN rnk <= ks.k THEN cum ELSE 0 END) * 1.0
                 / MAX(total), 6) AS token_coverage,
           CAST(MAX(n_types) AS BIGINT) AS total_types
    FROM ranked, ks
    GROUP BY ks.k
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all TOKEN occurrences the
    top-K types cover, for a ladder of K — the sizing chart for vocabulary
    truncation (pick the K where the curve flattens; everything below
    becomes OOV/UNK mass). One term-frequency aggregate, one cumulative
    window over |types| rows (bounded by vocabulary, not corpus), and the
    K-ladder reads points off the same curve without re-scanning."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w_cum = Window.orderBy(F.col("freq").desc(), "tok").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy()
    ranked = tf.select(
        "freq",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "tok")).alias(
            "rnk"
        ),
        F.sum("freq").over(w_cum).alias("cum"),
        F.sum("freq").over(wa).alias("total"),
        F.count(F.lit(1)).over(wa).alias("n_types"),
    )
    ks = ranked.crossJoin(
        F.broadcast(
            spark.range(0, 5)
            .select(
                F.element_at(
                    F.array(
                        F.lit(10), F.lit(20), F.lit(40), F.lit(100), F.lit(1000)
                    ),
                    (F.col("id") + 1).cast("int"),
                ).alias("k")
            )
        )
    )
    return ks.groupBy(F.col("k").alias("vocab_size")).agg(
        F.round(
            F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum")).otherwise(0))
            * 1.0
            / F.max("total"),
            6,
        ).alias("token_coverage"),
        F.max("n_types").cast("long").alias("total_types"),
    )


@register(
    "text_heaps_law",
    """
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks GROUP BY doc_id
    ),
    first_seen AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    new_types AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY first_doc
    ),
    grid AS (
      SELECT d.doc_id,
             SUM(d.n_toks) OVER (ORDER BY d.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY d.doc_id
                                              ROWS UNBOUNDED PRECEDING)
               AS cum_types,
             ROW_NUMBER() OVER (ORDER BY d.doc_id) AS rn
      FROM doc_tokens d LEFT JOIN new_types nt ON d.doc_id = nt.doc_id
    ),
    pts AS (
      SELECT LN(cum_tokens * 1.0) AS x, LN(cum_types * 1.0) AS y
      FROM grid WHERE rn % 10 = 0 AND cum_types > 0
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
             AS heaps_beta,
           ROUND(EXP((sy - sx * ((n * sxy - sx * sy)
                                 / NULLIF(n * sxx - sx * sx, 0))) / n), 4)
             AS heaps_k,
           CAST(n AS BIGINT) AS n_points
    FROM m
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·Nᵝ of vocabulary growth: cumulative distinct
    types against cumulative tokens in document order, fit log-log by
    closed-form OLS. Natural corpora sit at β ≈ 0.4-0.6; β near 1 screams
    ID-like junk tokens, β near 0 screams a closed template vocabulary —
    the fastest corpus-authenticity check after Zipf. The trick that keeps
    it distributed: cumulative distinct = running sum of FIRST-OCCURRENCE
    counts (min doc per type — one aggregate), never a cumulative
    COUNT(DISTINCT) window. Growth curve sampled every 10 docs for the
    fit."""
    docs = _t(spark, sf_dir, "documents")
    toks = IT.round_checkpoint(docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    ))
    doc_tokens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    new_types = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    grid = (
        doc_tokens.join(new_types, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.sum("n_toks").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias(
                "cum_types"
            ),
            F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        )
    )
    pts = grid.filter((F.col("rn") % 10 == 0) & (F.col("cum_types") > 0)).select(
        F.log(F.col("cum_tokens") * 1.0).alias("x"),
        F.log(F.col("cum_types") * 1.0).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - F.col("sx") * slope) / F.col("n")), 4
        ).alias("heaps_k"),
        F.col("n").cast("long").alias("n_points"),
    )


@register(
    "text_js_divergence",
    """
    WITH toks AS (
      SELECT CASE WHEN lang = 'en' THEN 'p' ELSE 'q' END AS side,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT tok,
             SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN side = 'q' THEN 1 ELSE 0 END) AS nq
      FROM toks GROUP BY tok
    ),
    tots AS (SELECT SUM(np) AS tp, SUM(nq) AS tq FROM tf),
    probs AS (
      SELECT (np + 0.5) / (tp + 0.5 * (SELECT COUNT(*) FROM tf)) AS p,
             (nq + 0.5) / (tq + 0.5 * (SELECT COUNT(*) FROM tf)) AS q
      FROM tf, tots
    )
    SELECT ROUND(SUM(0.5 * p * LN(2 * p / (p + q))
                     + 0.5 * q * LN(2 * q / (p + q))) / LN(2), 6) AS jsd_bits,
           ROUND(SQRT(SUM(0.5 * p * LN(2 * p / (p + q))
                          + 0.5 * q * LN(2 * q / (p + q))) / LN(2)), 6)
             AS js_distance,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM probs
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the en and non-en term
    distributions — KL's symmetric, bounded (≤ 1 bit), always-finite
    cousin, and the standard single-number answer to 'how different are
    these two corpora' (its square root is a true metric, reported
    alongside). Laplace-smoothed term probabilities so no term zeroes the
    log; the whole statistic folds from the (term, n_p, n_q) vocabulary
    table. Complements a_psi_drift (numeric dists) and
    text_distinctive_terms (which terms) with the corpus-level number."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.col("lang") == "en", "p").otherwise("q").alias("side"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    tf = IT.round_checkpoint(toks.groupBy("tok").agg(
        F.sum(F.when(F.col("side") == "p", 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("side") == "q", 1).otherwise(0)).alias("nq"),
    ))
    tots = tf.agg(
        F.sum("np").alias("tp"),
        F.sum("nq").alias("tq"),
        F.count(F.lit(1)).alias("v"),
    )
    probs = tf.crossJoin(F.broadcast(tots)).select(
        ((F.col("np") + 0.5) / (F.col("tp") + 0.5 * F.col("v"))).alias("p"),
        ((F.col("nq") + 0.5) / (F.col("tq") + 0.5 * F.col("v"))).alias("q"),
    )
    kl_term = 0.5 * F.col("p") * F.log(
        2 * F.col("p") / (F.col("p") + F.col("q"))
    ) + 0.5 * F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
    import math

    jsd = F.sum(kl_term) / math.log(2)
    return probs.agg(
        F.round(jsd, 6).alias("jsd_bits"),
        F.round(F.sqrt(jsd), 6).alias("js_distance"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@register(
    "text_textrank_keywords",
    f"""
    WITH edges AS ({_TEXTRANK_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    {_PAGERANK_ITER_SQL.format(k=1, p=0)},
    {_PAGERANK_ITER_SQL.format(k=2, p=1)},
    {_PAGERANK_ITER_SQL.format(k=3, p=2)},
    ranked AS (
      SELECT node AS keyword, r AS rank_scaled,
             ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
      FROM r3
    )
    SELECT keyword, rank_scaled, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 15
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction — PageRank over the word-adjacency graph
    (distinct undirected bigram edges): a word is important if important
    words stand next to it, the graph-centrality upgrade over raw
    frequency (TF-IDF can't see that a mid-frequency word bridges many
    contexts). Reuses the exact-integer fixed-point PageRank operator, so
    ranks are bit-reproducible across engines and cluster layouts — the
    oracle replays the identical integer trajectory through the same
    unrolled CTEs as g_pagerank_fixedpoint. Top-15 keywords on the
    deterministic integer ranks."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("pos", "tok"),
    )
    a = toks.select(
        "doc_id",
        (F.col("pos") + 1).alias("pnext"),
        F.col("tok").alias("w1"),
    )
    b = toks.select("doc_id", F.col("pos").alias("p2"), F.col("tok").alias("w2"))
    bigrams = (
        a.join(b, (a["doc_id"] == b["doc_id"]) & (a["pnext"] == b["p2"]))
        .filter(F.col("w1") != F.col("w2"))
        .select("w1", "w2")
        .distinct()
    )
    edges = (
        bigrams.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionByName(
            bigrams.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
        )
        .distinct()
    )
    ranks = G.pagerank_fixed_point(edges, iters=3)
    w = Window.orderBy(F.col("rank_scaled").desc(), "node")
    return (
        ranks.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 15)
        .select(
            F.col("node").alias("keyword"),
            "rank_scaled",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "text_decontaminate_ngrams",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 4], ' ') AS g
      FROM (SELECT doc_id, t FROM toks WHERE len(t) >= 4),
           UNNEST(range(0, len(t) - 3)) AS u(i)
    ),
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ),
    train AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM train GROUP BY doc_id
    ),
    hit AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM train t JOIN eval_grams e USING (g)
      GROUP BY t.doc_id
    )
    SELECT tot.doc_id, tot.n_grams, hit.n_shared,
           CAST((1000 * hit.n_shared) // tot.n_grams AS BIGINT) AS overlap_permille
    FROM tot JOIN hit USING (doc_id)
    """,
)
def text_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the train/eval overlap check every LLM
    corpus pipeline runs before training: any training document sharing a
    word 4-gram with the held-out eval suite (stand-in: doc_id % 97 == 0)
    is reported with its shared-gram count and overlap rate (integer
    permille, exact in both engines). Plan shape for 100 TB: the eval
    suite's distinct-gram set is small by construction (benchmarks are
    thousands of docs, not billions), so it is BROADCAST and the check is
    a map-side semi-probe over the training scan — no shuffle of the
    training grams; the per-doc aggregate shuffles only the matched docs
    plus the per-doc totals. Gram explosion is a narrow transform."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    grams = (
        toks.filter(F.size("t") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 4),"
                    " i -> array_join(slice(t, i + 1, 4), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_grams = grams.filter(is_eval).select("g").distinct()
    train = grams.filter(~is_eval)
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        train.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(hit, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.expr("(1000 * n_shared) DIV n_grams").alias("overlap_permille"),
    )
