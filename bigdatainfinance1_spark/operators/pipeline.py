"""End-to-end training-data curation pipeline (SURVEY.md §2.9 composite):
the LLM-data operators chained the way a real 100 TB curation job chains
them — quality filter → exact dedup (keep canonical) → multimodal join to
embeddings → per-source stats. One oracle-checked query proves the stages
compose, not just that each works alone.

Scale shape: every stage is a narrow transform or a single keyed shuffle —
filter (pushed to the scan), dedup (one shuffle on a uniform md5 key),
join to embeddings (keyed equi-join; at 100 TB both sides would be
bucketed by id — see scale_patterns.py), final agg (tiny). No stage
collects to the driver; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.vector import l2_norm
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_curation_pipeline",
    oracle="""
    WITH filtered AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      WHERE lang IN ('en', 'de', 'fr')
        AND n_chars BETWEEN 100 AND 2000
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
        ) AS rn
        FROM filtered
      ) WHERE rn = 1
    ),
    joined AS (
      SELECT d.source, d.lang, d.n_chars,
        sqrt(list_sum(list_transform(e.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM deduped d
      JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT
      source,
      count(*)                 AS n_docs,
      count(DISTINCT lang)     AS n_langs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      round(CAST(sum(CAST(round(nrm * 1e9) AS BIGINT)) AS DOUBLE)
            / count(*) / 1e9, 4) AS avg_norm
    FROM joined
    GROUP BY source
    """,
    tags=("llm", "pipeline", "flagship"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite L1+L4+L6: language/length filter → exact-dedup keeping the
    lowest doc_id per normalized-text hash → join each surviving doc to its
    embedding row → per-source corpus stats. The window-based keep-first is
    the idiomatic distributed dedup (one shuffle on the hash, no collect)."""
    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.filter(
        F.col("lang").isin("en", "de", "fr") & F.col("n_chars").between(100, 2000)
    )
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), l2_norm("embedding").alias("nrm")
    )
    joined = deduped.join(emb, deduped.doc_id == emb.vec_id)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        # integer-moments rule: snap norms at a 1e-9 grain
        F.round(
            F.sum(F.round(F.col("nrm") * 1e9).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e9,
            4,
        ).alias("avg_norm"),
    )


sql_query(
    "q_train_val_split",
    """
    WITH tagged AS (
      SELECT
        lang,
        n_chars,
        CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) < 'e'
             THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT
      split,
      lang,
      count(*)                     AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY split, lang
    """,
    tags=("llm", "pipeline"),
    doc="""Deterministic hash-based train/val split — the reproducible-split
    primitive every training pipeline needs (content-independent, stable
    under re-partitioning and re-runs, no RNG state). Doc goes to train iff
    the first hex char of md5(doc_id) < 'e' (14/16 = 87.5%). md5 is
    bit-identical across engines, so the exact membership — not just the
    proportions — is oracle-checked.""",
)


@query(
    "q_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT doc_id, n_tok,
        CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tok) // 2048 AS BIGINT) AS bin
      FROM toks
    )
    SELECT
      bin,
      count(*)                  AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      min(doc_id)               AS first_doc,
      max(doc_id)               AS last_doc
    FROM packed
    GROUP BY bin
    """,
    tags=("llm", "pipeline"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in doc_id order) to 2048-token
    context-window bins by the running token offset BEFORE each doc — the
    streaming greedy pack used to batch training corpora. Integer token
    counts make the running sum exact, so bin assignment is bit-stable
    across engines. The running offset is a range-bucketed two-phase prefix
    sum (functions/ranks.py) — exact for integers, distributes the sort, no
    single-partition window (VERDICT round-1 task 8)."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    packed = global_running_sum(toks, ["doc_id"], "n_tok", "_run").withColumn(
        "bin", ((F.col("_run") - F.col("n_tok")) / 2048).cast("long")
    )
    return packed.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "q_global_shuffle",
    oracle="""
    SELECT
      CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        AS shuffle_pos,
      doc_id,
      source
    FROM documents
    """,
    tags=("llm-pipeline", "scale"),
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the training corpus — the step
    every LLM data pipeline runs before sequence packing so correlated
    documents (same crawl, same source) don't land in the same batch.
    Shuffle order is md5 of the doc id (reproducible across runs and
    engines, no RNG), and the exact GLOBAL position comes from
    functions/ranks.py's range-bucketed row_number recomposition — two
    bounded shuffles, never a single-partition window (repo rule). The
    md5 keys are uniform by construction, so the range partitioning is
    skew-free at any scale; downstream packing reads contiguous
    shuffle_pos ranges as its bins."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_key")
    )
    ranked = global_row_number(docs, ["_key", "doc_id"], rn_col="shuffle_pos")
    return ranked.select(
        F.col("shuffle_pos").cast("long").alias("shuffle_pos"), "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# q_span_corruption — T5-style deterministic span masking statistics
# ---------------------------------------------------------------------------

SPAN_MASK_PCT = 15  # target corruption rate (percent of tokens)
SPAN_KNUTH, SPAN_SALT, SPAN_MOD = 2654435761, 777769, 2147483648


@query(
    "q_span_corruption",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.i AS pos,
             (((doc_id * 1000003 + u.i) % {SPAN_MOD}) * {SPAN_KNUTH} + {SPAN_SALT})
               % {SPAN_MOD} AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
           unnest(range(1, len(d.t) + 1)) AS u(i)
    ),
    masked AS (
      SELECT doc_id, pos,
             CASE WHEN h * 100 < {SPAN_MASK_PCT} * {SPAN_MOD} THEN 1 ELSE 0 END AS m
      FROM tok
    ),
    runs AS (
      SELECT doc_id, pos, m,
             pos - row_number() OVER (PARTITION BY doc_id, m ORDER BY pos) AS grpkey
      FROM masked
    ),
    spans AS (
      SELECT doc_id, count(*) AS span_len
      FROM runs WHERE m = 1
      GROUP BY doc_id, grpkey
    ),
    per_doc AS (
      SELECT ma.doc_id,
             count(*) AS n_tokens,
             sum(ma.m) AS n_masked,
             coalesce(max(sp.n_spans), 0) AS n_spans,
             coalesce(max(sp.max_span), 0) AS max_span
      FROM masked ma
      LEFT JOIN (
        SELECT doc_id, count(*) AS n_spans, max(span_len) AS max_span
        FROM spans GROUP BY doc_id
      ) sp ON sp.doc_id = ma.doc_id
      GROUP BY ma.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_masked) AS BIGINT) AS total_masked,
           round(sum(n_masked) * 1.0 / sum(n_tokens), 6) AS mask_rate,
           CAST(sum(n_spans) AS BIGINT) AS total_spans,
           round(sum(n_masked) * 1.0 / nullif(sum(n_spans), 0), 6) AS avg_span_len,
           CAST(max(max_span) AS BIGINT) AS longest_span
    FROM per_doc
    """,
    tags=("llm-pipeline", "text"),
)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption planning pass: mask each token with
    {pct}% probability from a deterministic per-(doc, position) SplitMix
    sub-uniform, merge adjacent masked positions into spans with the
    gaps-and-islands idiom (pos - row_number over masked positions), and
    report the corpus corruption profile — realized mask rate, span count,
    mean/max span length — the numbers that decide sentinel-token budget
    and target-length distribution before a denoising pretraining run.
    A real pipeline swaps the hash uniform for a seeded RNG; everything
    downstream (span merge, sentinel accounting) is exactly this query.

    Scale: one token-position explode (the linear corpus pass) with
    per-doc-partitioned windows for the span merge; all statistics are
    exact integer counts. Determinism: the mask decision is exact BIGINT
    arithmetic (< 2^53) — identical on both engines by construction."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"))
    # reduce mod 2^31 BEFORE the Knuth multiply: doc_id x 1000003 x KNUTH
    # overflows int64 once doc_id passes ~3e6 (the 10x stage); the reduced
    # operand keeps the product < 2^63 at any key, identically both engines
    h = (
        ((F.col("doc_id") * 1000003 + F.col("pos")) % SPAN_MOD) * SPAN_KNUTH + SPAN_SALT
    ) % SPAN_MOD
    masked = tok.select(
        "doc_id",
        "pos",
        F.when(h * 100 < SPAN_MASK_PCT * SPAN_MOD, 1).otherwise(0).alias("m"),
    )
    w = Window.partitionBy("doc_id", "m").orderBy("pos")
    runs = masked.withColumn("grpkey", F.col("pos") - F.row_number().over(w))
    spans = (
        runs.filter(F.col("m") == 1)
        .groupBy("doc_id", "grpkey")
        .agg(F.count(F.lit(1)).alias("span_len"))
    )
    sp = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"), F.max("span_len").alias("max_span")
    )
    per_doc = (
        masked.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("m").alias("n_masked"))
        .join(sp, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("max_span", F.lit(0)).alias("max_span"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_masked").cast("long").alias("total_masked"),
        F.round(F.sum("n_masked") * 1.0 / F.sum("n_tokens"), 6).alias("mask_rate"),
        F.sum("n_spans").cast("long").alias("total_spans"),
        F.round(F.sum("n_masked") * 1.0 / F.nullif(F.sum("n_spans"), F.lit(0)), 6).alias(
            "avg_span_len"
        ),
        F.max("max_span").cast("long").alias("longest_span"),
    )


# ---------------------------------------------------------------------------
# q_boilerplate_prefixes — shared document-opening detection (C4-style)
# ---------------------------------------------------------------------------

BP_PREFIX_TOKENS = 6
BP_MIN_DOCS = 3


@query(
    "q_boilerplate_prefixes",
    oracle=f"""
    WITH pre AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1, {BP_PREFIX_TOKENS}), ' ')
               AS prefix
      FROM documents
    ),
    tot AS (SELECT count(*) AS n_docs FROM pre),
    grp AS (
      SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs
      FROM pre GROUP BY prefix HAVING count(*) >= {BP_MIN_DOCS}
    )
    SELECT grp.prefix, grp.n_docs,
           round(grp.n_docs * 1.0 / tot.n_docs, 6) AS corpus_share
    FROM grp CROSS JOIN tot
    ORDER BY grp.n_docs DESC, grp.prefix
    LIMIT 20
    """,
    tags=("llm", "llm-pipeline", "text", "quality"),
)
def boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-opening detection (the C4/CCNet cleaning heuristic):
    group documents by their first 6 tokens and surface openings shared
    by ≥ 3 documents with their corpus share — cookie banners, license
    headers, and template stubs announce themselves exactly this way,
    and a curation pipeline strips or downweights them BEFORE near-dedup
    so MinHash capacity isn't spent on boilerplate (q_exact_dedup
    catches whole-document copies; this catches shared openings of
    otherwise-distinct documents).

    Scale: one linear pass projecting a fixed-width token prefix, one
    groupBy on the prefix string (map-side combinable), a TakeOrdered
    top-20. All counts exact integers; the share is one division,
    rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        F.array_join(F.slice(F.split("text", " "), 1, BP_PREFIX_TOKENS), " ").alias(
            "prefix"
        )
    )
    tot = pre.agg(F.count(F.lit(1)).alias("total"))
    grp = (
        pre.groupBy("prefix")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= BP_MIN_DOCS)
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "prefix",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("total"), 6).alias("corpus_share"),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_line_dedup — CCNet-style line-level duplication census per source
# ---------------------------------------------------------------------------


@query(
    "q_line_dedup",
    oracle="""
    WITH lines AS (
      SELECT doc_id, source, trim(l.line) AS line
      FROM documents, unnest(string_split(text, '. ')) AS l(line)
      WHERE length(trim(l.line)) > 0
    ),
    freq AS (
      SELECT line, count(*) AS c, count(DISTINCT doc_id) AS nd
      FROM lines GROUP BY line
    ),
    tagged AS (
      SELECT lines.source, freq.nd > 1 AS is_dup
      FROM lines JOIN freq ON freq.line = lines.line
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS dup_frac
    FROM tagged GROUP BY source ORDER BY source
    """,
    tags=("llm", "llm-pipeline", "dedup", "text"),
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level duplication census per source (the CCNet preprocessing
    step: hash every line, drop lines seen elsewhere in the shard):
    sentences split on '. ', counted corpus-wide, and each source scored
    by the fraction of its lines that appear in MORE THAN ONE document —
    the signal that tells a pipeline which sources need line-dedup
    before training (navigation chrome and legal footers concentrate in
    specific crawls). Complements q_substring_dup_spans (char-grain
    within pairs) and q_exact_dedup (document-grain).

    Scale: linear line explode, one groupBy on the line string for
    corpus frequencies (map-side combinable, vocabulary-bounded on this
    corpus), one equi-join back (the frequency relation broadcasts when
    small; Spark's planner decides by size), one per-source aggregate.
    Exact integers to the final ratio, rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    lines = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", "\\. ")).alias("raw")
        )
        .select("doc_id", "source", F.trim(F.col("raw")).alias("line"))
        .filter(F.length("line") > 0)
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    tagged = lines.join(freq, "line").select(
        "source", (F.col("nd") > 1).alias("is_dup")
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias(
                "n_dup_lines"
            ),
            F.round(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_doremi_weights — excess-loss domain reweighting (DoReMi, one EG step)
# ---------------------------------------------------------------------------

DOREMI_TEMP = 1.0  # exponentiated-gradient step size (eta)
DOREMI_EPS = 0.01  # uniform smoothing (DoReMi's non-zero-weight floor)
DOREMI_K = 20  # domain count of the synthetic documents table

_DOREMI_SQL = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cd AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cdt
           FROM toks GROUP BY source, tok),
    cdom AS (SELECT source, CAST(sum(cdt) AS BIGINT) AS cdn FROM cd GROUP BY source),
    cc AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM toks GROUP BY tok),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks),
    lr AS (
      SELECT cd.source, cd.cdt,
             CAST(round((ln((cd.cdt + 1.0) / (cdom.cdn + tot.v))
                         - ln((cc.ct + 1.0) / (tot.n + tot.v))) * 1e12)
                  AS BIGINT) AS lw12
      FROM cd
      JOIN cdom ON cd.source = cdom.source
      JOIN cc ON cd.tok = cc.tok
      CROSS JOIN tot
    ),
    excess AS (
      SELECT lr.source, cdom.cdn,
             round(CAST(sum(CAST(lr.cdt AS HUGEINT) * lr.lw12) AS DOUBLE)
                   / 1e12 / cdom.cdn, 6) AS xl
      FROM lr JOIN cdom ON lr.source = cdom.source
      GROUP BY lr.source, cdom.cdn
    ),
    raw AS (
      SELECT source, cdn, xl,
             CAST(round((cdn * 1e0 / (SELECT n FROM tot))
                        * exp(xl / {DOREMI_TEMP}) * 1e9) AS BIGINT) AS wr9
      FROM excess
    )
    SELECT source,
           cdn AS n_tokens,
           round(cdn * 1e0 / (SELECT n FROM tot), 6) AS token_share,
           xl AS excess_loss,
           round((1 - {DOREMI_EPS}) * wr9 / sum(wr9) OVER ()
                 + {DOREMI_EPS} / {DOREMI_K}, 6) AS doremi_weight
    FROM raw ORDER BY source
"""


@query(
    "q_doremi_weights",
    oracle=_DOREMI_SQL,
    tags=("llm-pipeline", "text", "mixture"),
)
def doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting by excess loss (DoReMi — Xie et al.
    2023, arXiv:2305.10429, made deterministic): DoReMi upweights the
    domains where a reference model still has the most to teach a proxy
    (excess loss), via exponentiated-gradient steps on the mixture. Here
    the proxy/reference pair collapses to a closed form — excess_d =
    CE_d(corpus unigram LM) - CE_d(own-domain unigram LM) = KL(p_d ||
    p_corpus), the per-token divergence of the domain from the corpus
    average — and the mixture takes ONE EG step from the token-share
    baseline: w_d ∝ share_d * exp(excess_d / eta), then DoReMi's uniform
    smoothing (1-eps)w + eps/K. Distinctive domains gain weight; domains
    that mirror the corpus average keep their share. Complements
    q_unimax_mixture (budget caps) / q_temperature_mixture (flattening) /
    q_dsir_select (per-document importance) as the fourth mixture law.

    Determinism (hardened, round-6 window rule): per-token log-ratios
    snap to 1e-12-grain BIGINTs, so the c_dt-weighted excess sum is
    exact integer arithmetic in any order; exp sees identical doubles;
    the EG weights snap to 1e-9-grain BIGINTs so the normalizer is an
    exact integer sum too — every emitted round() operates on identical
    inputs on both engines. Scale: ONE token-explode scan feeds the domain-token, domain, and
    corpus count relations (vocabulary-sized model state, the
    q_ccnet_ppl_buckets shape); the EG step is O(domains)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cd = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("long").alias("cdt"))
    cdom = cd.groupBy("source").agg(F.sum("cdt").cast("long").alias("cdn"))
    cc = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    tot = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("tok").cast("long").alias("v"),
    )
    # Hardened (round-6 window rule): the per-token log-ratio snaps to a
    # 1e-12-grain BIGINT (lw12) so the cdt-weighted excess sum is exact
    # integer arithmetic (decimal(38,0) here, HUGEINT in the oracle — cdt
    # x lw12 overflows 64 bits at corpus scale), and the EG weights snap
    # to 1e-9-grain BIGINTs (wr9) so the normalizing sum is exact too —
    # no engine-ordered double summation reaches an emitted round().
    lr = (
        cd.join(F.broadcast(cdom), "source")
        .join(cc, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "cdt",
            "cdn",
            "n",
            F.round(
                (
                    F.log((F.col("cdt") + 1.0) / (F.col("cdn") + F.col("v")))
                    - F.log((F.col("ct") + 1.0) / (F.col("n") + F.col("v")))
                )
                * 1e12
            )
            .cast("long")
            .alias("lw12"),
        )
    )
    excess = lr.groupBy("source", "cdn", "n").agg(
        F.round(
            F.sum((F.col("cdt") * F.col("lw12")).cast("decimal(38,0)"))
            .cast("double")
            / 1e12
            / F.first("cdn"),
            6,
        ).alias("xl")
    )
    raw = excess.select(
        "source",
        "cdn",
        "n",
        "xl",
        F.round(
            (F.col("cdn") * F.lit(1.0) / F.col("n"))
            * F.exp(F.col("xl") / F.lit(DOREMI_TEMP))
            * 1e9
        )
        .cast("long")
        .alias("wr9"),
    )
    w_all = Window.partitionBy()
    return raw.select(
        "source",
        F.col("cdn").alias("n_tokens"),
        F.round(F.col("cdn") * F.lit(1.0) / F.col("n"), 6).alias("token_share"),
        F.col("xl").alias("excess_loss"),
        F.round(
            (1 - DOREMI_EPS) * F.col("wr9") / F.sum("wr9").over(w_all)
            + DOREMI_EPS / DOREMI_K,
            6,
        ).alias("doremi_weight"),
    ).orderBy("source")
