"""LLM-corpus text statistics and curation-support queries: Zipf/entropy/novelty profiles, BM25, sampling, mixture rebalance, dataset cards, cross-source dedup.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 9 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_zipf_terms",
    oracle="""
    WITH tf AS (
      SELECT tok, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, tok, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk * cnt AS BIGINT) AS rank_times_freq
    FROM (
      SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM tf
    )
    WHERE rnk <= 100
    """,
    tags=("analytics", "text", "llm"),
)
def zipf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile of the corpus vocabulary: top-100 terms
    with their frequency rank and rank×freq product (≈constant under Zipf's
    law — the standard corpus-health diagnostic). The global frequency rank
    is a range-bucketed distributed row number (functions/ranks.py, desc
    ordering) — the oracle keeps the windowed formulation."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = global_row_number(tf, [F.col("cnt").desc(), F.col("tok")], rn_col="rnk")
    return (
        ranked.filter(F.col("rnk") <= 100)
        .select(
            "rnk",
            "tok",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("rnk") * F.col("cnt")).cast("long").alias("rank_times_freq"),
        )
    )


sql_query(
    "q_stratified_sample",
    """
    SELECT lang, doc_id, n_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS STRING)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 10
    """,
    tags=("analytics", "sample", "llm"),
    doc="""P6 deterministic tier: stratified sampling by hash quota — the 10
    documents per language with the lowest md5(doc_id). Hash-order quotas
    are how production pipelines draw REPRODUCIBLE eval/debug samples at
    100 TB (stable across runs, engines, and partitioning — unlike
    rate-based Bernoulli sampling, q_sample_profile's rows-only tier, whose
    draw is engine-internal). Per-stratum top-k via ranked window = one
    shuffle on the stratum key.""",
)


@query(
    "q_ngram_novelty",
    oracle="""
    WITH ds AS (
      SELECT DISTINCT doc_id, unnest(
        list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY s),
    per_doc AS (
      SELECT d.doc_id,
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM ds d JOIN firsts f ON d.s = f.s
      GROUP BY d.doc_id
    )
    SELECT
      doc.source,
      CAST(count(*) AS BIGINT)                                  AS n_docs,
      round(sum(CAST(round(p.n_novel * 1000000.0 / p.n_shingles) AS BIGINT))
            * 1.0 / count(*) / 1e6, 4)                          AS avg_novelty,
      CAST(sum(CASE WHEN p.n_novel = p.n_shingles THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_fully_novel
    FROM per_doc p JOIN documents doc ON p.doc_id = doc.doc_id
    GROUP BY doc.source
    """,
    tags=("llm-pipeline", "text", "dedup"),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring for curriculum/curation ordering: per
    document, the fraction of its distinct 3-word shingles whose FIRST
    occurrence (lowest doc_id — the deterministic stand-in for crawl
    order) is the document itself; aggregated per source. Low-novelty
    sources are boilerplate farms — this is the corpus-level signal that
    complements pairwise near-dup detection (a doc can be 40% recombined
    boilerplate yet no single pair crosses a jaccard threshold). Reuses
    the dedup module's shingle relation; the ownership pass is one
    groupBy(min) over the shingle key plus a join back — linear in corpus
    shingle count, the same shuffle shape as q_exact_dedup. Novelty ratios
    divide exact integers and snap to 1e-6-grain BIGINTs before the
    per-source mean (round-6 window rule: an engine-ordered double AVG
    could flip at the 4-dp round boundary)."""
    from bigdatainfinance1_spark.operators.dedup import _doc_shingle_hashes

    ds = _doc_shingle_hashes(spark, sf_dir)
    firsts = ds.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ds.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(
                    F.round(F.col("n_novel") * 1000000.0 / F.col("n_shingles")).cast(
                        "long"
                    )
                )
                * F.lit(1.0)
                / F.count(F.lit(1))
                / 1e6,
                4,
            ).alias("avg_novelty"),
            F.sum(F.when(F.col("n_novel") == F.col("n_shingles"), 1).otherwise(0))
            .cast("long")
            .alias("n_fully_novel"),
        )
    )


@query(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i FROM documents)
    ),
    freq AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM freq GROUP BY doc_id),
    ent AS (
      SELECT f.doc_id,
             sum(CAST(round(-((f.c * 1e0 / t.n) * ln(f.c * 1e0 / t.n) / ln(2))
                            * 1e9) AS BIGINT)) AS h9
      FROM freq f JOIN tot t ON f.doc_id = t.doc_id
      GROUP BY f.doc_id
    )
    SELECT
      d.source,
      CAST(count(*) AS BIGINT)                       AS n_docs,
      round(sum(e.h9) * 1.0 / count(*) / 1e9, 4)     AS avg_entropy,
      round(min(e.h9) / 1e9, 4)                      AS min_entropy,
      round(max(e.h9) / 1e9, 4)                      AS max_entropy
    FROM ent e JOIN documents d ON e.doc_id = d.doc_id
    GROUP BY d.source
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, profiled per source —
    the cheap quality/gibberish detector every crawl-curation pipeline
    runs (low entropy → repeated filler; high → random noise or
    encodings), complementing q_text_quality's token-level ratios.
    Entropy terms use p·log₂p with identical expression shape from exact
    integer counts, and each term snaps to a 1e-9-grain BIGINT before the
    per-doc sum (round-6 window rule: "absorbed by the 4-dp round" was
    the flake class, not absorption — order-sensitive double sums can
    land exactly on a rounding boundary), so per-doc entropies are exact
    integers on both engines.
    Scale: explode to characters is a narrow map (no shuffle); the
    (doc, char) frequency groupBy keys are high-cardinality and uniform —
    the same shape as the token-stats family, no Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = freq.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    ent = (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(-(p * F.log(p) / F.log(F.lit(2.0))) * 1e9).cast("long")).alias(
                "h9"
            )
        )
    )
    src = docs.select("doc_id", "source")
    return (
        ent.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.sum("h9") * F.lit(1.0) / F.count(F.lit(1)) / 1e9, 4).alias(
                "avg_entropy"
            ),
            F.round(F.min("h9") / 1e9, 4).alias("min_entropy"),
            F.round(F.max("h9") / 1e9, 4).alias("max_entropy"),
        )
    )


@query(
    "q_pps_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(round(o_totalprice * 100) AS BIGINT) AS wc
      FROM orders
    ),
    cum AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, wc,
             CAST(sum(wc) OVER (PARTITION BY o_orderpriority
                  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(wc) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS total
      FROM w
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM cum
    WHERE (c * 10) // total > ((c - wc) * 10) // total
    """,
    tags=("analytics", "sample", "scale"),
)
def pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sampling, systematic variant: 10
    orders per priority stratum drawn with probability ∝ order value — the
    unequal-weight companion to q_stratified_sample (equal-probability
    quotas). Items are laid on a cumulative-weight line in deterministic
    md5 order and selected where the line crosses each of the 10 equally
    spaced thresholds: selection reduces to floor((cum·10)/total) >
    floor((prev·10)/total) in EXACT integer cents (no pow/ln perturbation
    keys, which rank on sub-ulp differences and are not engine-stable —
    the reason Efraimidis-Spirakis is avoided here). Integer division is
    Spark DIV ↔ DuckDB // (repo convention). Scale: one
    stratum-partitioned running sum; the md5 order makes the draw
    reproducible across runs, engines, and partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("wc"),
    )
    wo = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("o_orderpriority")
    cum = w.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        "wc",
        F.sum("wc").over(wo).cast("long").alias("c"),
        F.sum("wc").over(wt).cast("long").alias("total"),
    )
    sel = F.expr("(c * 10) DIV total") > F.expr("((c - wc) * 10) DIV total")
    return cum.filter(sel).select("o_orderpriority", "o_orderkey", "o_totalprice")


sql_query(
    "q_mixture_rebalance",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    quota AS (SELECT min(n) AS q, CAST(sum(n) AS BIGINT) AS total FROM counts),
    kept AS (
      SELECT lang FROM (
        SELECT d.lang,
               row_number() OVER (
                 PARTITION BY d.lang
                 ORDER BY md5(CAST(d.doc_id AS STRING)), d.doc_id) AS rn
        FROM documents d
      ) r CROSS JOIN quota q
      WHERE r.rn <= q.q
    ),
    after AS (SELECT lang, count(*) AS n_after FROM kept GROUP BY lang),
    after_tot AS (SELECT CAST(sum(n_after) AS BIGINT) AS t FROM after)
    SELECT
      c.lang,
      CAST(c.n AS BIGINT)                      AS n_before,
      CAST(a.n_after AS BIGINT)                AS n_after,
      round(c.n * 1e0 / q.total, 4)            AS share_before,
      round(a.n_after * 1e0 / t.t, 4)          AS share_after
    FROM counts c
    JOIN after a ON c.lang = a.lang
    CROSS JOIN quota q CROSS JOIN after_tot t
    """,
    tags=("llm-pipeline", "sample", "text"),
    doc="""Domain-mixture rebalancing: downsample every language to the
    smallest language's count (uniform target mixture) with the md5-order
    quota draw, reporting each language's share before and after — the
    data-mixture control step LLM pretraining pipelines run between
    curation and packing (q_stratified_sample draws fixed quotas; this
    derives the quota from the mixture target). The draw is reproducible
    across engines/partitionings (md5 order, doc_id tiebreak); shares are
    exact-integer ratios rounded 4 dp. Scale: one count aggregation, one
    per-language ranked window, quota broadcast as a scalar.""",
)


sql_query(
    "q_cross_source_dedup",
    """
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (
               PARTITION BY md5(lower(trim(text)))
               ORDER BY CAST(substring(source, 4) AS INT), doc_id
             ) AS rn
      FROM documents
    )
    SELECT
      source,
      CAST(count(*) AS BIGINT)                               AS n_docs,
      CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_yielded,
      CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    """,
    tags=("llm", "pipeline", "dedup"),
    doc="""Cross-source precedence dedup — the curation rule multi-feed
    corpora need: when the SAME normalized text arrives from several
    feeds, the highest-priority source keeps it and the rest yield
    (priority = the source's numeric id here; in production, a curated
    trust ranking). Contrast with q_dedup_keep_first (arbitrary-key
    keep) and q_exact_dedup (keep-any): precedence changes WHICH replica
    survives, which changes the kept corpus' source mix — reported per
    source as kept/yielded counts and surviving chars. One window
    partitioned by the text hash (uniform md5 key — no skew), ordered by
    (priority, doc_id) — a total order. Scale: identical shuffle budget
    to exact dedup; text never shuffles (hash key only).""",
)


sql_query(
    "q_dataset_card",
    """
    WITH base AS (
      SELECT source, lang, n_chars,
             md5(lower(trim(text))) AS h,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    )
    SELECT
      source,
      CAST(count(*) AS BIGINT)                    AS n_docs,
      CAST(count(DISTINCT lang) AS BIGINT)        AS n_langs,
      CAST(sum(n_chars) AS BIGINT)                AS total_chars,
      CAST(sum(n_tokens) AS BIGINT)               AS total_tokens,
      CAST(count(DISTINCT h) AS BIGINT)           AS n_unique_texts,
      round(1e0 - count(DISTINCT h) * 1e0 / count(*), 6) AS dup_rate,
      round(avg(n_chars), 4)                      AS mean_chars
    FROM base
    GROUP BY source
    """,
    tags=("llm", "pipeline", "reporting"),
    doc="""Dataset-card census — the one-relation summary every corpus release
    ships: per source, document and language counts, char and
    whitespace-token volumes, distinct-text count, duplication rate, and
    mean length. Composes the primitives the pipeline family measures
    separately (q_dup_rate_by_source, q_token_stats, q_langid_profile)
    into the single artifact a data consumer reads first. All counts
    exact; the only division is the final dup-rate/mean. Scale: one
    groupBy(source) with two distinct-aggs — Spark expands them into the
    standard two-phase expand+partial plan; text leaves the scan only as
    its md5.""",
)


@query(
    "q_bigram_lm_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    bge AS (
      SELECT doc_id, t.t[u.i] AS w1, t.t[u.i + 1] AS w2
      FROM t, unnest(range(1, len(t.t))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bge GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    scored AS (
      SELECT g.doc_id, ln((c12.c12 + 1.0) / (c1.c1 + (SELECT v FROM v))) AS lp
      FROM bge g JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    )
    SELECT
      doc_id,
      CAST(count(*) AS BIGINT)                         AS n_bigrams,
      round(sum(CAST(round(lp * 1e12) AS BIGINT)) * 1.0 / 1e12 / count(*), 6)
                                                       AS avg_logprob,
      round(exp(-round(sum(CAST(round(lp * 1e12) AS BIGINT)) * 1.0 / 1e12
                       / count(*), 6)), 4)             AS perplexity
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-1-smoothed bigram LM trained on
    the corpus itself — the conditional upgrade of q_unigram_logprob's
    quality proxy (a doc whose word PAIRS are globally unusual scores high
    perplexity even when its individual words are common — the shape
    n-gram-LM quality filters like CCNet actually use). p(w2|w1) =
    (c(w1,w2)+1)/(c(w1)+V) with c(w1) the context count and V the corpus
    unigram vocabulary. Scale: the model tables (c12, c1) are
    vocabulary-sized — tiny relative to the corpus however big the corpus
    gets — so the scoring joins broadcast when they fit and gracefully
    shuffle when they don't (left to AQE; never a cross join); one per-doc
    aggregation ends the pipeline. Perplexity is exp of the ROUNDED mean
    logprob so both engines exponentiate an identical double
    (q_unigram_logprob's round-absorbs-libm-ulps posture)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    bge = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bge.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    scored = (
        bge.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"))
    )
    # 1e-12-grain BIGINT snap per bigram logprob (round-6 window rule):
    # lp is identical per row on both engines (log of exact-integer
    # ratios), so the snapped per-doc sum is exact in any order; the
    # rounded mean then feeds exp on identical doubles.
    avg_lp = F.round(
        F.sum(F.round(F.col("lp") * 1e12).cast("long")) * F.lit(1.0)
        / 1e12
        / F.count(F.lit(1)),
        6,
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        avg_lp.alias("avg_logprob"),
        F.round(F.exp(-avg_lp), 4).alias("perplexity"),
    )


@query(
    "q_quality_filter_sweep",
    oracle="""
    WITH q AS (
      SELECT
        doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        round(len(list_distinct(string_split(text, ' '))) * 1.0
              / len(string_split(text, ' ')), 6)     AS ttr
      FROM documents
    ),
    grid AS (SELECT unnest(range(0, 20)) AS i)
    SELECT
      CAST(grid.i AS BIGINT)                                  AS step,
      round(grid.i / 20e0, 2)                                 AS threshold,
      CAST(count(CASE WHEN q.ttr >= grid.i / 20e0 THEN 1 END) AS BIGINT)
                                                              AS n_surviving,
      CAST(coalesce(sum(CASE WHEN q.ttr >= grid.i / 20e0 THEN q.n_tokens END), 0) AS BIGINT)
                                                              AS tokens_retained,
      round(count(CASE WHEN q.ttr >= grid.i / 20e0 THEN 1 END) * 1.0
            / (SELECT count(*) FROM q), 6)                    AS doc_survival_rate
    FROM grid CROSS JOIN q
    GROUP BY grid.i
    """,
    tags=("text", "llm", "quality", "curation"),
)
def quality_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep: for 20 type-token-ratio thresholds
    (0.00..0.95), how many documents and tokens survive — the survival
    curve a curation team reads before committing to a quality cutoff
    (the difference between 'drop 5% of tokens' and 'drop 40%' is one
    threshold notch; this makes the tradeoff visible as a relation).
    Reuses q_text_quality's exact TTR formulation (rounded to 6 dp before
    the comparison so both engines threshold identical doubles). Scale:
    the per-doc score is one narrow map; the sweep is a broadcast of 20
    literal thresholds against the score relation — one aggregation,
    output bounded at 20 rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = docs.select(
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 6).alias("ttr"),
    )
    total = q.agg(F.count(F.lit(1)).alias("n_total"))
    grid = spark.range(0, 20).select(F.col("id").alias("step"))
    surviving = F.when(F.col("ttr") >= F.col("step") / F.lit(20.0), 1)
    return (
        F.broadcast(grid)
        .crossJoin(q)
        .crossJoin(F.broadcast(total))
        .groupBy("step", "n_total")
        .agg(
            F.round(F.col("step") * F.lit(1.0) / 20, 2).alias("threshold"),
            F.count(surviving).cast("long").alias("n_surviving"),
            F.coalesce(F.sum(F.when(surviving == 1, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("tokens_retained"),
            F.round(F.count(surviving) * F.lit(1.0) / F.col("n_total"), 6).alias(
                "doc_survival_rate"
            ),
        )
        .select(
            "step", "threshold", "n_surviving", "tokens_retained", "doc_survival_rate"
        )
    )


_PII_PATTERN = r"\b(customer|spark|data)\b"
_PII_TERMS = ("customer", "spark", "data")


@query(
    "q_pii_redaction",
    oracle=r"""
    WITH scored AS (
      SELECT
        doc_id,
        lang,
        len(string_split(text, ' '))                                   AS n_tokens,
        len(list_filter(string_split(text, ' '),
                        t -> t IN ('customer', 'spark', 'data')))      AS n_hits,
        regexp_replace(text, '\b(customer|spark|data)\b',
                       '[REDACTED]', 'g')                              AS red
      FROM documents
    )
    SELECT
      doc_id,
      lang,
      CAST(n_tokens AS BIGINT)                       AS n_tokens,
      CAST(n_hits AS BIGINT)                         AS n_hits,
      round(n_hits * 1.0 / n_tokens, 4)              AS hit_ratio,
      CASE WHEN n_hits * 1.0 / n_tokens >= 0.2 THEN 'drop'
           WHEN n_hits > 0                     THEN 'redact'
           ELSE 'keep' END                           AS action,
      md5(red)                                       AS redacted_md5,
      CAST(strlen(red) AS BIGINT)                    AS redacted_bytes
    FROM scored
    """,
    tags=("llm-pipeline", "text", "governance"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-term redaction — the PII-scrubbing stage of an LLM curation
    pipeline. This corpus contains no real PII (lowercase word soup), so a
    deterministic blocklist stands in for the email/phone/SSN regex bank;
    the operator shape is the real thing: word-boundary regexp_replace
    (global) producing redacted text, per-doc hit counts and density, and a
    three-way keep/redact/drop policy decision. The redacted text itself is
    witnessed by md5 + byte length so the oracle verifies the actual
    replacement semantics, not just the counts. Scale: per-row regex on the
    JVM inside whole-stage codegen — embarrassingly parallel, no shuffle at
    all; at 100 TB this is a map-only pass whose cost is the scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*_PII_TERMS)))
    red = F.regexp_replace("text", _PII_PATTERN, "[REDACTED]")
    ratio = n_hits * F.lit(1.0) / n_tokens
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        n_hits.cast("long").alias("n_hits"),
        F.round(ratio, 4).alias("hit_ratio"),
        F.when(ratio >= 0.2, "drop")
        .when(n_hits > 0, "redact")
        .otherwise("keep")
        .alias("action"),
        F.md5(red).alias("redacted_md5"),
        F.octet_length(red).cast("long").alias("redacted_bytes"),  # bytes, matching oracle strlen
    )


sql_query(
    "q_temperature_mixture",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total, sum(sqrt(n)) AS z FROM counts
    )
    SELECT
      c.lang,
      CAST(c.n AS BIGINT)                              AS n_docs,
      CAST(round(c.n * 1.0 / t.total, 6) AS DOUBLE)    AS share,
      round(sqrt(c.n) / t.z, 6)                        AS temp_weight,
      CAST(floor(sqrt(c.n) / t.z * 10000) AS BIGINT)   AS docs_at_10k
    FROM counts c CROSS JOIN tot t
    """,
    tags=("llm-pipeline", "sample", "text"),
    doc="""Temperature-based mixture reweighting (alpha = 0.5): sampling weight
    w_l proportional to p_l^alpha — the data-mixture law multilingual LLM
    recipes use to up-weight low-resource languages without flattening to
    uniform (q_mixture_rebalance is the alpha→0 limit). Since p_l^0.5 =
    (n_l/total)^0.5 and the total cancels in the normalization, weights are
    computed as sqrt(n_l)/Σ sqrt(n_k) — IEEE-exact sqrt of integer counts,
    so both engines agree bit-for-bit before rounding. Reports each
    language's natural share, temperature weight, and the floor'd document
    quota from a 10k-draw budget. Scale: one count aggregation + a
    5-row broadcast scalar — free at any corpus size.""",
)


DUP_GRAM_N = 8  # token-gram length — the suffix-array analog's unit span


@query(
    "q_substring_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, g.pos, g.gram FROM (
        SELECT doc_id, unnest(
          list_transform(range(1, len(t) - {DUP_GRAM_N - 2}),
                         i -> struct_pack(pos := i,
                                          gram := array_to_string(t[i:i + {DUP_GRAM_N - 1}], ' ')))
        ) AS g
        FROM toks WHERE len(t) >= {DUP_GRAM_N}
      )
    ),
    cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
    dup_occ AS (
      SELECT g.doc_id, g.pos FROM g JOIN cnt ON g.gram = cnt.gram WHERE cnt.c >= 2
    ),
    covered AS (
      SELECT doc_id, count(DISTINCT p) AS n_covered
      FROM (SELECT doc_id, unnest(range(pos, pos + {DUP_GRAM_N})) AS p FROM dup_occ)
      GROUP BY doc_id
    ),
    dup_per_doc AS (
      SELECT doc_id, count(*) AS n_dup_grams FROM dup_occ GROUP BY doc_id
    )
    SELECT
      t.doc_id,
      CAST(len(t.t) AS BIGINT)                             AS n_tokens,
      CAST(coalesce(d.n_dup_grams, 0) AS BIGINT)           AS n_dup_grams,
      CAST(coalesce(c.n_covered, 0) AS BIGINT)             AS n_dup_tokens,
      round(coalesce(c.n_covered, 0) * 1.0 / len(t.t), 4)  AS dup_frac,
      CAST(coalesce(c.n_covered, 0) * 1.0 / len(t.t) >= 0.5 AS BOOLEAN)
                                                           AS mostly_duplicated
    FROM toks t
    LEFT JOIN dup_per_doc d ON t.doc_id = d.doc_id
    LEFT JOIN covered c ON t.doc_id = c.doc_id
    WHERE len(t.t) >= {DUP_GRAM_N}
    """,
    tags=("llm-pipeline", "text", "dedup"),
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (the distributed analog of Lee et
    al. 2021's suffix-array dedup, arXiv:2107.06499): a token 8-gram
    occurring ≥2 times ANYWHERE in the corpus (other docs or the same doc)
    marks all 8 of its token positions duplicated; per document we
    report the duplicated-occurrence count, the UNION size of the covered
    positions (overlapping spans counted once — the span-merge the
    suffix-array method implies), the covered fraction, and the ≥50% removal
    flag. Complements q_ngram_novelty (first-occurrence ownership) and
    q_doc_repetition (within-doc only): this is the corpus-wide positional
    coverage that decides how much of a doc is copied text.

    Scale shape: grams travel as xxhash64 longs (8 bytes, never the ~50-byte
    string — the _doc_shingle_hashes discipline); the pipeline is
    explode → one groupBy(gram) count → one equi-join back → explode of the
    fixed 8-position span → per-doc distinct-count. All shuffles key on
    uniform hashes or doc_id; no pair join exists anywhere, so unlike
    MinHash/SimHash tiers the cost is strictly linear in corpus tokens —
    this is why exact-substring dedup is a pre-pass at 100 TB. The oracle
    matching the string formulation verifies the corpus is 64-bit
    collision-free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= DUP_GRAM_N
    )
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {DUP_GRAM_N}),"
                f" i -> struct(i AS pos, xxhash64(concat_ws(' ', slice(t, i + 1, {DUP_GRAM_N}))) AS h))"
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.h")
    cnt = g.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup_occ = g.join(cnt.filter(F.col("c") >= 2), "h").select("doc_id", "pos")
    covered = (
        dup_occ.select("doc_id", F.explode(F.expr(f"sequence(pos, pos + {DUP_GRAM_N - 1})")).alias("p"))
        .groupBy("doc_id")
        .agg(F.count_distinct("p").alias("n_covered"))
    )
    dup_per_doc = dup_occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_grams"))
    nc = F.coalesce(F.col("n_covered"), F.lit(0))
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(dup_per_doc, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
            nc.cast("long").alias("n_dup_tokens"),
            F.round(nc / F.col("n_tokens"), 4).alias("dup_frac"),
            (nc / F.col("n_tokens") >= 0.5).alias("mostly_duplicated"),
        )
    )


DSIR_BUCKETS = 256  # hashed-unigram feature space (paper: 10k; scaled down
# to the synthetic vocab so buckets stay well-populated at sf0.001)
DSIR_TARGET_LANG = "fr"  # stands in for the curated target domain
DSIR_TOP_N = 50


@query(
    "q_dsir_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 4))::INT
               % {DSIR_BUCKETS} AS f
      FROM documents
    ),
    counts AS (
      SELECT f,
             sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN lang <> '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS cr
      FROM toks GROUP BY f
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
    w AS (
      SELECT f,
             round(ln((ct + 1.0) / (nt + {DSIR_BUCKETS}))
                   - ln((cr + 1.0) / (nr + {DSIR_BUCKETS})), 12) AS w
      FROM counts, tot
    ),
    scored AS (
      SELECT t.doc_id, count(*) AS n_tokens, round(sum(w.w), 6) AS dsir_score
      FROM toks t JOIN w ON t.f = w.f
      WHERE t.lang <> '{DSIR_TARGET_LANG}'
      GROUP BY t.doc_id
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, s.doc_id, d.lang, d.source,
           CAST(s.n_tokens AS BIGINT) AS n_tokens, s.dsir_score
    FROM (
      SELECT *, row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rnk
      FROM scored
    ) s JOIN documents d ON s.doc_id = d.doc_id
    WHERE rnk <= {DSIR_TOP_N}
    """,
    tags=("llm-pipeline", "text", "sampling"),
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    arXiv:2302.03169), the hashed-n-gram variant: estimate target (lang =
    'fr' stands in for the curated domain) and raw unigram distributions
    over 256 hashed feature buckets with add-1 smoothing, score every
    raw-pool document by its summed log importance ratio
    Σ_tokens [ln p̂_target(f) − ln p̂_raw(f)], and select the top-50
    (deterministic doc_id tiebreak) — the docs that look most like the
    target domain. The paper resamples ∝ exp(score); the top-k rule is its
    deterministic, oracle-able counterpart.

    Scale shape: BOTH distribution estimates come from one corpus-token
    pass (conditional agg on the bucket key — 256 groups); the weight
    table is 256 rows, broadcast back onto the token stream; scoring
    is one per-doc aggregation; selection is a global top-k
    (TakeOrderedAndProject, no full sort). Nothing quadratic, no UDFs —
    feature hashing is md5-prefix arithmetic, identical in both engines.
    Per-bucket weights are pre-rounded at 12 dp so the per-doc sums add
    bit-identical addends (summation order differs across engines; final
    6-dp round absorbs the ~1e-13 reorder noise — the q_unigram_logprob
    precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % DSIR_BUCKETS
        ).alias("f"),
    )
    is_t = F.col("lang") == DSIR_TARGET_LANG
    counts = toks.groupBy("f").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("cr"),
    )
    tot = counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "f",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("nt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + DSIR_BUCKETS)),
            12,
        ).alias("w"),
    )
    scored = (
        toks.filter(~is_t)
        .join(F.broadcast(w), "f")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.round(F.sum("w"), 6).alias("dsir_score"))
    )
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    ranked = global_row_number(
        scored, [F.col("dsir_score").desc(), F.col("doc_id")], rn_col="rnk"
    ).filter(F.col("rnk") <= DSIR_TOP_N)
    meta = docs.select("doc_id", "lang", "source")
    return ranked.join(meta, "doc_id").select(
        F.col("rnk").cast("long").alias("rnk"),
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dsir_score",
    )


@query(
    "q_gopher_rules",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    per_doc AS (
      SELECT doc_id,
             sum(c)                                   AS n,
             count(*)                                 AS ndist,
             max(c)                                   AS topc,
             max(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS has_the,
             max(CASE WHEN tok = 'a'   THEN 1 ELSE 0 END) AS has_a
      FROM tf GROUP BY doc_id
    ),
    rules AS (
      SELECT d.source,
             (p.n BETWEEN 20 AND 90)                            AS r_len,
             ((d.n_chars - (p.n - 1)) * 1.0 / p.n BETWEEN 4.25 AND 4.75) AS r_mwl,
             (p.ndist * 1.0 / p.n >= 0.40)                      AS r_ttr,
             (p.topc * 1.0 / p.n <= 0.12)                       AS r_rep,
             (p.has_the + p.has_a = 2)                          AS r_stop
      FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    )
    SELECT
      source,
      CAST(count(*) AS BIGINT)                        AS n_docs,
      CAST(sum(r_len::INT) AS BIGINT)                 AS pass_len,
      CAST(sum(r_mwl::INT) AS BIGINT)                 AS pass_mean_word_len,
      CAST(sum(r_ttr::INT) AS BIGINT)                 AS pass_type_token,
      CAST(sum(r_rep::INT) AS BIGINT)                 AS pass_repetition,
      CAST(sum(r_stop::INT) AS BIGINT)                AS pass_stopword,
      CAST(sum((r_len AND r_mwl AND r_ttr AND r_rep AND r_stop)::INT) AS BIGINT)
                                                      AS pass_all,
      round(sum((r_len AND r_mwl AND r_ttr AND r_rep AND r_stop)::INT) * 1.0
            / count(*), 4)                            AS survival_rate
    FROM rules GROUP BY source
    """,
    tags=("llm-pipeline", "text", "quality"),
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-bundle quality filter (Rae et al. 2021,
    arXiv:2112.11446 — the repetition/length/stopword heuristic family
    RefinedWeb and Dolma reuse), recalibrated to this synthetic corpus so
    every rule has bite (the paper's symbol/alphabetic rules are vacuous on
    pure a-z text and are deliberately omitted): token count in [20, 90],
    mean word length in [4.25, 4.75], type-token ratio ≥ 0.40, top-token
    frequency ≤ 0.12 (the duplicate-line analog), and both 'the' and 'a'
    present (the ≥2-stopwords rule). Output is the per-source survival
    ledger — per-rule pass counts plus the all-rules survival rate, the
    relation a curation run reads to decide which crawl sources to drop.

    Scale shape: one explode → (doc, token) count → per-doc rollup — the
    q_doc_repetition shuffle pattern, strictly linear with doc-bounded
    groups; rules are arithmetic on exact integer counts (mean word length
    reuses n_chars: (bytes − spaces)/tokens — no second tokenize pass), so
    both engines compare bit-identical doubles derived from the same
    integers; no rounding is needed anywhere but the final rate."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("ndist"),
        F.max("c").alias("topc"),
        F.max(F.when(F.col("tok") == "the", 1).otherwise(0)).alias("has_the"),
        F.max(F.when(F.col("tok") == "a", 1).otherwise(0)).alias("has_a"),
    )
    j = per_doc.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    mwl = (F.col("n_chars") - (F.col("n") - 1)) * 1.0 / F.col("n")
    r_len = F.col("n").between(20, 90)
    r_mwl = mwl.between(4.25, 4.75)
    r_ttr = F.col("ndist") * 1.0 / F.col("n") >= 0.40
    r_rep = F.col("topc") * 1.0 / F.col("n") <= 0.12
    r_stop = (F.col("has_the") + F.col("has_a")) == 2
    r_all = r_len & r_mwl & r_ttr & r_rep & r_stop
    as_i = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_i(r_len).alias("pass_len"),
        as_i(r_mwl).alias("pass_mean_word_len"),
        as_i(r_ttr).alias("pass_type_token"),
        as_i(r_rep).alias("pass_repetition"),
        as_i(r_stop).alias("pass_stopword"),
        as_i(r_all).alias("pass_all"),
        F.round(F.sum(r_all.cast("int")) * 1.0 / F.count(F.lit(1)), 4).alias("survival_rate"),
    )


UNIMAX_EPOCH_CAP_X10 = 12  # 1.2-epoch cap, kept as n*12/10 so the capacity
# double derives from exact integer arithmetic identically in both engines


@query(
    "q_unimax_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT lang, sum(len(string_split(text, ' '))) AS n FROM documents GROUP BY lang
    ),
    budget AS (SELECT sum(n) AS b, count(*) AS l FROM counts),
    capd AS (SELECT lang, n, n * {UNIMAX_EPOCH_CAP_X10} / 10.0 AS c FROM counts),
    ordered AS (
      SELECT a.lang, a.n, a.c,
             CAST(count(b.lang) + 1 AS BIGINT) AS rn,
             coalesce(sum(b.c), 0)             AS cum_before
      FROM capd a
      LEFT JOIN capd b ON (b.c, b.lang) < (a.c, a.lang)
      GROUP BY a.lang, a.n, a.c
    ),
    flags0 AS (
      SELECT o.*, b.b, b.l,
             (o.c <= (b.b - o.cum_before) / (b.l - o.rn + 1)) AS ok
      FROM ordered o, budget b
    ),
    -- capped = prefix-AND of ok: max-min fairness caps a PREFIX of the
    -- ascending order; once one language is uncapped every larger one is
    -- too (the per-row condition alone mis-caps e.g. capacities [1,1] at
    -- budget 1 — caught by the waterfill property test in test_fuzz.py)
    flags AS (
      SELECT a.lang, a.n, a.c, a.rn, a.cum_before, a.b, a.l,
             bool_and(p.ok) AS capped
      FROM flags0 a JOIN flags0 p ON p.rn <= a.rn
      GROUP BY a.lang, a.n, a.c, a.rn, a.cum_before, a.b, a.l
    ),
    lvl AS (
      SELECT (max(b) - sum(CASE WHEN capped THEN c ELSE 0 END))
             / nullif(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END), 0) AS t
      FROM flags
    )
    SELECT f.lang, CAST(f.n AS BIGINT) AS n_tokens, round(f.c, 4) AS capacity,
           f.capped,
           round(CASE WHEN f.capped THEN f.c ELSE l.t END, 4)       AS allocation,
           round(CASE WHEN f.capped THEN f.c ELSE l.t END / f.n, 4) AS epochs
    FROM flags f, lvl l
    """,
    tags=("llm-pipeline", "text", "sampling"),
)
def unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023,
    arXiv:2304.09151): distribute one corpus-worth of training tokens
    across languages as uniformly as possible subject to a per-language
    epoch cap (1.2 epochs of that language's data) — the water-filling
    closed form: sort languages by capacity ascending; the capped set is
    the longest PREFIX in which each capacity fits under the running fair
    share (B − cum_before)/(languages left) — max-min fairness never caps
    past the first failure (prefix-AND; the test_fuzz.py waterfill
    property verifies this rule against the sequential greedy on random
    inputs, and caught the per-row-only formulation mis-capping [1,1] at
    budget 1); everyone else gets the common water level
    t = (B − Σ capped capacities)/#uncapped. Allocations sum exactly to
    the budget. This is the principled alternative to
    q_temperature_mixture's power law: low-resource languages are never
    over-epoched past the cap, high-resource ones absorb the slack.

    Scale shape: one narrow per-doc size(split) aggregation (the ONLY pass
    over the corpus — no explode) into a language-cardinality relation;
    the ordering/prefix sums use a triangular self-join on that bounded
    relation (the functions/ranks.py _prefix_offsets pattern — never a
    global window), and everything downstream is arithmetic on one
    broadcast row. Capacities are n·12/10.0 — exact-integer products
    divided once — so both engines compare bit-identical doubles and only
    the display columns round."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.sum(F.size(F.split("text", " "))).alias("n"))
    budget = counts.agg(F.sum("n").alias("b"), F.count(F.lit(1)).alias("l"))
    capd = counts.select("lang", "n", (F.col("n") * UNIMAX_EPOCH_CAP_X10 / 10.0).alias("c"))
    a = capd.select(F.col("lang").alias("a_lang"), F.col("n").alias("a_n"), F.col("c").alias("a_c"))
    b = capd.select(F.col("lang").alias("b_lang"), F.col("c").alias("b_c"))
    ordered = (
        a.join(
            F.broadcast(b),
            (F.col("b_c") < F.col("a_c"))
            | ((F.col("b_c") == F.col("a_c")) & (F.col("b_lang") < F.col("a_lang"))),
            "left",
        )
        .groupBy("a_lang", "a_n", "a_c")
        .agg(
            (F.count("b_lang") + 1).cast("long").alias("rn"),
            F.coalesce(F.sum("b_c"), F.lit(0.0)).alias("cum_before"),
        )
    )
    flags0 = ordered.crossJoin(F.broadcast(budget)).withColumn(
        "ok",
        F.col("a_c") <= (F.col("b") - F.col("cum_before")) / (F.col("l") - F.col("rn") + 1),
    )
    # capped = prefix-AND of ok (see the oracle comment): one more bounded
    # triangular join on the language relation, min(ok) over rn' <= rn
    pref = flags0.select(F.col("rn").alias("p_rn"), F.col("ok").alias("p_ok"))
    flags = (
        flags0.join(F.broadcast(pref), F.col("p_rn") <= F.col("rn"))
        .groupBy("a_lang", "a_n", "a_c", "rn", "cum_before", "b", "l")
        .agg(F.min("p_ok").alias("capped"))
    )
    lvl = flags.agg(
        (
            (F.max("b") - F.sum(F.when(F.col("capped"), F.col("a_c")).otherwise(0.0)))
            / F.nullif(F.sum(F.when(~F.col("capped"), 1).otherwise(0)), F.lit(0))
        ).alias("t")
    )
    alloc = F.when(F.col("capped"), F.col("a_c")).otherwise(F.col("t"))
    return flags.crossJoin(F.broadcast(lvl)).select(
        F.col("a_lang").alias("lang"),
        F.col("a_n").cast("long").alias("n_tokens"),
        F.round("a_c", 4).alias("capacity"),
        "capped",
        F.round(alloc, 4).alias("allocation"),
        F.round(alloc / F.col("a_n"), 4).alias("epochs"),
    )


@query(
    "q_ccnet_ppl_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    bge AS (
      SELECT doc_id, lang, t.t[u.i] AS w1, t.t[u.i + 1] AS w2
      FROM t, unnest(range(1, len(t.t))) AS u(i)
    ),
    c12 AS (SELECT lang, w1, w2, count(*) AS c12 FROM bge GROUP BY lang, w1, w2),
    c1 AS (SELECT lang, w1, count(*) AS c1 FROM bge GROUP BY lang, w1),
    v AS (
      SELECT lang, count(DISTINCT tok) AS v
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang
    ),
    ppl AS (
      SELECT g.doc_id, g.lang,
             round(exp(-round(sum(ln((c12.c12 + 1.0) / (c1.c1 + v.v))) / count(*), 6)), 4)
               AS perplexity
      FROM bge g
      JOIN c12 USING (lang, w1, w2)
      JOIN c1 USING (lang, w1)
      JOIN v USING (lang)
      GROUP BY g.doc_id, g.lang
    ),
    bucketed AS (
      SELECT lang, perplexity,
             ntile(3) OVER (PARTITION BY lang ORDER BY perplexity, doc_id) AS b
      FROM ppl
    )
    SELECT
      lang,
      CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
      CAST(count(*) AS BIGINT)  AS n_docs,
      round(min(perplexity), 4) AS min_ppl,
      round(max(perplexity), 4) AS max_ppl,
      -- exact-integer mean: the 4-dp perplexities sum as x10^4 BIGINTs so
      -- the bucket mean is order-independent (a plain avg() of doubles
      -- flipped the 4th dp between engines at sf0.001 — the integer-cents
      -- money rule applied to scores)
      round(sum(CAST(round(perplexity * 10000) AS BIGINT)) / (10000.0 * count(*)), 4)
                                AS avg_ppl
    FROM bucketed
    GROUP BY lang, b
    """,
    tags=("llm-pipeline", "text", "quality"),
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partition (Wenzek et al. 2020, arXiv:1911.00359):
    score every document's perplexity under a PER-LANGUAGE add-1 bigram LM
    trained on the corpus itself (CCNet trains per-language KenLM models —
    a single global LM would mark every non-dominant language 'tail'), then
    split each language into head/middle/tail perplexity terciles and
    report each bucket's size and perplexity range. Downstream pipelines
    keep 'head', sample 'middle', and drop or re-score 'tail' — this
    relation IS that decision table.

    Scale shape: the q_bigram_lm_perplexity pipeline with lang added to
    every model key — model tables stay vocabulary-sized per language and
    broadcast-or-shuffle under AQE; the tercile cut is an ntile window
    partitioned by lang ordered on (rounded ppl, doc_id), engine-stable
    and one shuffle. The perplexity rounds BEFORE ranking so both engines
    order identical doubles (the exp-of-rounded-mean posture of the
    parent query)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bge = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")
        ).alias("b"),
    ).select("doc_id", "lang", "b.w1", "b.w2")
    c12 = bge.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bge.groupBy("lang", "w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang")
        .agg(F.count_distinct("tok").alias("v"))
    )
    avg_lp = F.round(F.sum("lp") / F.count(F.lit(1)), 6)
    ppl = (
        bge.join(c12, ["lang", "w1", "w2"])
        .join(c1, ["lang", "w1"])
        .join(F.broadcast(v), "lang")
        .select(
            "doc_id", "lang", F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp")
        )
        .groupBy("doc_id", "lang")
        .agg(F.round(F.exp(-avg_lp), 4).alias("perplexity"))
    )
    w = Window.partitionBy("lang").orderBy("perplexity", "doc_id")
    bucketed = ppl.withColumn("b", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("b") == 1, "head").when(F.col("b") == 2, "middle").otherwise("tail")
    )
    return (
        bucketed.select("lang", bucket.alias("bucket"), "perplexity")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("perplexity"), 4).alias("min_ppl"),
            F.round(F.max("perplexity"), 4).alias("max_ppl"),
            # exact-integer mean (see oracle comment): sum x10^4 BIGINTs so
            # partial-aggregation order can never flip the 4th dp
            F.round(
                F.sum(F.round(F.col("perplexity") * 10000).cast("long"))
                / (F.count(F.lit(1)) * 10000.0),
                4,
            ).alias("avg_ppl"),
        )
    )


PACK_BATCH = 32  # docs per training batch
PACK_MAXLEN = 128  # model context length (truncation bound)


@query(
    "q_length_bucket_padding",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, least(len(string_split(text, ' ')), {PACK_MAXLEN}) AS n
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n, row_number() OVER (ORDER BY n, doc_id) AS rn FROM lens
    ),
    batches AS (
      SELECT (rn - 1) // {PACK_BATCH} AS batch_id, n FROM ranked
    )
    SELECT
      CAST(batch_id AS BIGINT)              AS batch_id,
      CAST(count(*) AS BIGINT)              AS n_docs,
      CAST(max(n) AS BIGINT)                AS batch_maxlen,
      CAST(sum(n) AS BIGINT)                AS real_tokens,
      CAST(max(n) * count(*) AS BIGINT)     AS padded_tokens,
      round(1 - sum(n) * 1.0 / (max(n) * count(*)), 4) AS pad_waste
    FROM batches GROUP BY batch_id
    """,
    tags=("llm-pipeline", "text", "batching"),
)
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching ledger — the padding-efficiency relation
    behind every trainer's `group_by_length` flag: sort documents by
    (truncated) token length, cut into consecutive batches of 32, pad
    each batch to its own max; report per batch the real vs padded token
    counts and the padding-waste fraction (near 0 for length-grouped
    batches vs ~1 − mean/max for random batching — the difference IS the
    wasted FLOPs budget). Deterministic: total order (length, doc_id), so
    batch assignment is engine-stable; all counts are exact integers.

    Scale shape: one narrow length projection, then the range-bucketed
    global row number (functions/ranks.py — never a single-partition
    window) and one batch-keyed aggregation; strictly linear. The
    complementary operator q_sequence_packing PACKS variable docs into
    fixed windows (bin-packing); this one measures what plain batching
    leaves on the table."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.least(F.size(F.split("text", " ")), F.lit(PACK_MAXLEN)).alias("n")
    )
    ranked = global_row_number(lens, ["n", "doc_id"], rn_col="rn")
    return (
        ranked.withColumn("batch_id", ((F.col("rn") - 1) / PACK_BATCH).cast("long"))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n").cast("long").alias("batch_maxlen"),
            F.sum("n").cast("long").alias("real_tokens"),
            (F.max("n") * F.count(F.lit(1))).cast("long").alias("padded_tokens"),
            F.round(
                1 - F.sum("n") * 1.0 / (F.max("n") * F.count(F.lit(1))), 4
            ).alias("pad_waste"),
        )
    )


SB_LAMBDA = 0.4  # stupid-backoff discount (the Brants et al. constant)


@query(
    "q_stupid_backoff_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    bge AS (
      SELECT doc_id, t.t[u.i] AS w1, t.t[u.i + 1] AS w2
      FROM t, unnest(range(1, len(t.t))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bge WHERE doc_id % 2 = 0 GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bge WHERE doc_id % 2 = 0 GROUP BY w1),
    uni AS (
      SELECT tok, count(*) AS cu
      FROM (SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % 2 = 0)
      GROUP BY tok
    ),
    n AS (SELECT sum(cu) AS total FROM uni),
    scored AS (
      SELECT g.doc_id,
             ln(CASE WHEN c12.c12 IS NOT NULL
                     THEN c12.c12 * 1.0 / c1.c1
                     ELSE {SB_LAMBDA} * u.cu / (SELECT total FROM n) END) AS lp,
             CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS backed_off
      FROM bge g
      JOIN c1 ON g.w1 = c1.w1
      JOIN uni u ON g.w2 = u.tok
      LEFT JOIN c12 ON g.w1 = c12.w1 AND g.w2 = c12.w2
      WHERE g.doc_id % 2 = 1
    )
    SELECT
      doc_id,
      CAST(count(*) AS BIGINT)                      AS n_bigrams,
      CAST(sum(backed_off) AS BIGINT)               AS n_backoffs,
      round(sum(CAST(round(lp * 1e12) AS BIGINT)) * 1.0 / 1e12 / count(*), 6)
                                                    AS avg_logscore
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram scoring (Brants et al. 2007, 'Large Language
    Models in Machine Translation' — THE distributed-LM smoothing: no
    normalization, no held-out discounting, just back off to λ·unigram
    when the bigram is unseen, which is what makes trillion-token LMs
    trainable as plain counting jobs): per document the mean log score and
    the back-off count — the rare-continuation signal the add-1 smoothing
    of q_bigram_lm_perplexity dilutes. The model trains on the EVEN
    doc_ids and scores the odd held-out half (inner join on seen context
    w1 and seen continuation w2 keeps the score defined; only the BIGRAM
    may be novel) — self-training would make the back-off branch vacuous,
    the zero-row-screen trap this repo outlaws.

    Scale shape: identical to the bigram pipeline — count tables are
    vocabulary-sized (the paper's entire point: counting scales, smoothing
    doesn't have to), scoring is a LEFT equi-join (unseen bigrams survive
    as backoffs) + two broadcast-ish model joins + one per-doc
    aggregation. Ratios are exact-integer divisions; ln of identical
    doubles both engines; each score snaps to a 1e-12-grain BIGINT before
    the per-doc sum (round-6 window rule) so the mean's round sees
    identical inputs regardless of summation order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    bge = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    train = bge.filter(F.col("doc_id") % 2 == 0)
    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("total"))
    lp = F.log(
        F.when(
            F.col("c12").isNotNull(), F.col("c12") * 1.0 / F.col("c1")
        ).otherwise(F.lit(SB_LAMBDA) * F.col("cu") / F.col("total"))
    )
    scored = (
        bge.filter(F.col("doc_id") % 2 == 1)
        .join(c1, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .join(c12, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", lp.alias("lp"),
            F.when(F.col("c12").isNull(), 1).otherwise(0).alias("backed_off"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("backed_off").cast("long").alias("n_backoffs"),
        F.round(
            F.sum(F.round(F.col("lp") * 1e12).cast("long")) * F.lit(1.0)
            / 1e12
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logscore"),
    )


# ---------------------------------------------------------------------------
# q_word_subsampling — word2vec-style frequent-word downsampling law
# ---------------------------------------------------------------------------

WS_T = 1e-4  # the word2vec subsampling threshold
WS_TOP = 25  # report the most-downsampled words

_WS_SQL = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    law AS (
      SELECT f.tok, f.c,
             round(f.c * 1e0 / tot.n, 8) AS rel_freq,
             round(greatest(0e0,
               1e0 - sqrt({WS_T} / (f.c * 1e0 / tot.n))), 6) AS p_discard,
             CAST(round(f.c * (1e0 - round(greatest(0e0,
               1e0 - sqrt({WS_T} / (f.c * 1e0 / tot.n))), 6))) AS BIGINT)
               AS kept_tokens
      FROM freq f CROSS JOIN tot
    )
    SELECT tok, c AS n_tokens, rel_freq, p_discard, kept_tokens
    FROM law
    ORDER BY p_discard DESC, tok
    LIMIT {WS_TOP}
"""


@query("q_word_subsampling", oracle=_WS_SQL, tags=("llm-pipeline", "text", "mixture"))
def word_subsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-word subsampling (Mikolov et al. 2013): discard each
    occurrence of word w with p = 1 - sqrt(t/f(w)), t = {WS_T} — the
    token-LEVEL thinning law embedding/LM pipelines apply before
    windowing so 'the' stops dominating every context (the
    within-document counterpart of the corpus-level mixture laws:
    q_temperature_mixture flattens LANGUAGES, q_doremi_weights
    reweights DOMAINS, this thins TOKENS). The top-{WS_TOP} relation is
    the audit: which words lose how much mass, and the kept-token
    budget after thinning.

    Determinism: counts are exact integers; rel_freq rounds at 8,
    p_discard at 6, and kept_tokens multiplies the exact count by the
    ROUNDED probability before integer rounding. Scale: one
    token-explode scan to the vocabulary relation; O(vocab) law;
    TakeOrdered cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rel = F.col("c") * F.lit(1.0) / F.col("n")
    p_discard = F.round(
        F.greatest(F.lit(0.0), 1.0 - F.sqrt(F.lit(WS_T) / rel)), 6
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("c").alias("n_tokens"),
            F.round(rel, 8).alias("rel_freq"),
            p_discard.alias("p_discard"),
            F.round(F.col("c") * (1.0 - p_discard)).cast("long").alias("kept_tokens"),
        )
        .orderBy(F.col("p_discard").desc(), "tok")
        .limit(WS_TOP)
    )
