"""Deduplication operators over `documents` (SURVEY.md §2.9 L1/L2):
exact hash dedup, exact n-gram-Jaccard near-dup, MinHash+LSH near-dup,
SimHash fingerprints.

Scale notes: exact dedup is one hash-groupBy (shuffle on a 128-bit key —
uniform, no skew). The exact-Jaccard pair join is quadratic in docs sharing a
shingle; it is the *verifier*, not the scale path. The scale path is MinHash
LSH: signatures are fixed-size (32 hashes) regardless of doc length, band
buckets turn all-pairs into equi-join groups, and only in-bucket candidates
get exact verification — the standard shingle→minhash→band→bucket-join
pipeline, all expressed as DataFrame ops (explode/groupBy/join), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.iterate import UNSETTLED, fixpoint
from bigdatainfinance1_spark.functions.partitioning import parallelize_scan
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

N_PERM = 32  # minhash permutations
N_BANDS = 8  # 8 bands × 4 rows: catches J≳0.7 with high probability

# Candidate-pair budget for the exact-Jaccard verifier: above this estimate
# the all-pairs shingle join would dominate the job, so q_jaccard_neardup
# auto-switches to LSH candidate generation. 20M pairs ≈ a few seconds of
# pair-join work per executor — comfortably past every sf tier (sf0.1 base
# estimates ~1M) while tripping at 10× replication (~100× the estimate).
JACCARD_PAIR_BUDGET = 20_000_000

# Min-label propagation cap for the connected components of q_dup_clusters and
# q_entity_resolution; hitting it fails loudly (functions/iterate.py).
MAX_CC_ITERATIONS = 10

# q_lsh_recall_audit's gate (round-8, after the 100× tier caught the audit's
# ungated exact tier exhausting ~78 GB of shuffle spill): above the budget
# the WHOLE audit (ground truth AND candidates) runs on a deterministic
# 1/AUDIT_SAMPLE_MOD xxhash doc stratum — recall/precision measured within
# the stratum estimate the corpus-wide rates, which is exactly the
# "run on a SAMPLE in production" posture the docstring always named.
LSH_AUDIT_PAIR_BUDGET = 20_000_000
LSH_AUDIT_SAMPLE_MOD = 16


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per doc (docs shorter than 3 tokens carry no
    shingles, mirrored in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize_scan(
        docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
        ).alias("s"),
    ).distinct()


def _shingle_hashes_raw(
    spark: SparkSession, sf_dir: str, sample_fraction: float | None = None, seed: int = 42
) -> DataFrame:
    """Hashed 3-word shingles WITHOUT per-doc dedup — one narrow map, no
    shuffle. Used for the pair-budget estimate, where within-doc repeats
    only make the estimate a (conservative) upper bound and skipping the
    (doc, h) distinct saves its shuffle. ``sample_fraction`` thins the
    DOCUMENT stream (seeded, deterministic for a fixed file layout) so the
    estimate touches a fraction of the corpus; callers rescale by 1/f²."""
    docs = load_table(spark, sf_dir, "documents")
    if sample_fraction is not None:
        # sample BEFORE the repartition: Bernoulli thinning is seeded per the
        # scan's row order, so the sampled set is unchanged by what follows
        docs = docs.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    # spread the shingle hash map across cores when the scan is few-split
    toks = parallelize_scan(
        docs.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    )
    return toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-3),"
                " i -> xxhash64(concat_ws(' ', t[i], t[i+1], t[i+2])))"
            )
        ).alias("h")
    )


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per doc, identified by xxhash64 — the hash is
    taken INSIDE the per-row transform, so the ~25-byte shingle string never
    leaves its row: every downstream shuffle (distinct, equi-join, minhash)
    moves an 8-byte long instead. At 100 TB shuffle bytes are the bottleneck,
    so this is the hot-path form; the string variant above stays for queries
    whose output must expose the shingle text. Jaccard counts are identical
    unless two distinct shingles of one corpus collide in 64 bits
    (P ≈ n²/2⁶⁵ ≈ 1e-8 at sf0.1 — and the fixed testdata is verified
    collision-free by the oracle match)."""
    docs = load_table(spark, sf_dir, "documents")
    # the 32-permutation minhash pass and the shingle explode+hash fuse into
    # this scan stage; a few-split layout would serialize them on one core
    toks = parallelize_scan(
        docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-3),"
                " i -> xxhash64(concat_ws(' ', t[i], t[i+1], t[i+2])))"
            )
        ).alias("h"),
    ).distinct()


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id, unnest(
      list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    ) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE len(t) >= 3
"""


@query(
    "q_exact_dedup",
    oracle="""
    SELECT
      md5(lower(trim(text))) AS text_hash,
      min(doc_id)            AS canonical_doc_id,
      count(*)               AS dup_count
    FROM documents
    GROUP BY text_hash
    """,
    tags=("dedup", "llm"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup on normalized-text hash; keeps the lowest doc_id as
    canonical. One shuffle on the hash — at 100 TB the hash key is uniform,
    so no skew; the text column itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5(F.lower(F.trim("text"))))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@query(
    "q_jaccard_neardup",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      i.doc_id_1,
      i.doc_id_2,
      round(i.n_common * 1.0 / (x.n + y.n - i.n_common), 4) AS jaccard,
      'exact' AS method
    FROM inter i
    JOIN sz x ON i.doc_id_1 = x.doc_id
    JOIN sz y ON i.doc_id_2 = y.doc_id
    WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= 0.8
    """,
    tags=("dedup", "llm", "flagship"),
)
def jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (exact tier): near-duplicate pairs by 3-word-shingle Jaccard ≥ 0.8.
    Shingle-equi-join makes candidate generation linear in shingle-bucket
    sizes (random-vocab shingles are near-unique, so buckets are tiny); this
    is the exact verifier that the LSH variant (q_minhash_lsh) feeds at
    scale.

    Guarded against the quadratic blowup (VERDICT round-1 task 4): candidate
    pairs are Σ_bucket C(n,2); under mass duplication that grows as the
    square of the duplication factor (measured 15× runtime at 10×
    replication in round 1). Before building the pair join, a linear
    aggregation over a seeded 10% document sample estimates the candidate
    count (Σ C(m,2)/f² is unbiased for Σ C(n,2) under Binomial(n, f)
    bucket thinning, and tight exactly in the mass-duplication regime the
    gate exists to catch — big buckets). Round 3 switched the estimator
    from a FULL second corpus scan to the sample: the gate now costs ~f of
    a scan, which is what lets it stay on at 100 TB. Above
    JACCARD_PAIR_BUDGET the query auto-switches to MinHash-LSH candidate
    generation feeding the same
    exact verifier — identical threshold semantics, minus pairs LSH misses
    (P[miss] < 2% at J ≥ 0.8 with 8 bands × 4 rows), and sub-quadratic.
    scale_check.py exercises exactly this switch at 10× replication; at the
    driver's sf0.01 gate the estimate stays far under budget, so the
    oracle-checked path is the exact one.

    The switch is SURFACED IN THE RELATION (round-2 verdict task 3): a
    constant ``method`` column says 'exact' or 'lsh_prefilter', so a caller
    at any scale sees which semantics produced their pairs instead of
    relying on a Python warning that a notebook or scheduler swallows.
    tests/test_dedup.py exercises the tripped path by lowering the budget
    and asserts the column flips plus pair-set correctness."""
    est = _estimate_exact_pair_fanout(spark, sf_dir)
    ds = _doc_shingle_hashes(spark, sf_dir)
    if est > JACCARD_PAIR_BUDGET:
        import warnings

        warnings.warn(
            f"q_jaccard_neardup: estimated {est:.0f} candidate pairs exceeds "
            f"budget {JACCARD_PAIR_BUDGET}; switching to MinHash-LSH prefilter "
            "(sub-quadratic, may miss <2% of J>=0.8 pairs)",
            stacklevel=2,
        )
        ds = ds.localCheckpoint(eager=True)
        candidates = _lsh_candidate_pairs(spark, sf_dir, dh=ds)
        return _verify_jaccard_pairs(
            ds, threshold=0.8, candidates=candidates, checkpoint=False
        ).withColumn("method", F.lit("lsh_prefilter"))
    return _verify_jaccard_pairs(ds, threshold=0.8).withColumn("method", F.lit("exact"))


def _estimate_exact_pair_fanout(
    spark: SparkSession, sf_dir: str, f: float = 0.1, seed: int = 42
) -> float:
    """Linear-cost estimate of the exact shingle-join candidate count,
    Σ_bucket C(n,2), from a seeded f-fraction doc sample: Σ C(m,2)/f² is
    unbiased under Binomial(n, f) bucket thinning and tight exactly in the
    mass-duplication regime the budget gates exist to catch (big buckets).
    Shared by q_jaccard_neardup's prefilter switch and q_lsh_recall_audit's
    stratum gate, so both tiers trip on the same physics."""
    return (
        _shingle_hashes_raw(spark, sf_dir, sample_fraction=f, seed=seed)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg((F.sum(F.expr("c * (c - 1) / 2")) / (f * f)).alias("pairs"))
        .collect()[0]["pairs"]
        or 0
    )


def _verify_jaccard_pairs(
    ds: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact-Jaccard pair verification over hashed shingles ``ds``
    (doc_id, h). With ``candidates`` (doc_id_1, doc_id_2), only those pairs
    are scored; otherwise all pairs sharing any shingle.

    ds is consumed three times under DIFFERING projections (the size
    census and both intersection sides), which defeats ReuseExchange —
    the checkpoint runs the shingle explode+distinct once. Measured for
    BOTH caller classes (round-5 ADVICE asked for the candidates= side):
    with the checkpoint vs without at sf0.1 (median-of-3, round 6) the
    candidate-driven callers read q_prefix_filter_join 7.25 vs 11.09 s and
    q_minhash_lsh_fast 5.25 vs 5.56 s — the three-consumer re-execution
    dominates the lineage-truncation cost in every caller, so it defaults
    ON; ``checkpoint=False`` is the escape hatch for a caller whose ds is
    already materialized — today q_minhash_lsh_fast and q_jaccard_neardup's
    tripped LSH path, both of which checkpoint ds themselves so the shared
    relation also feeds signature generation (round-8 ADVICE: keep this
    list current)."""
    if checkpoint:
        ds = ds.localCheckpoint(eager=True)
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # Candidate-driven intersection: expand candidates by the left doc's
        # shingles, then equi-join on (right doc, shingle). Cost is
        # O(|candidates| × shingles/doc) — never the all-pairs bucket join,
        # which is the whole point of the gate.
        inter = (
            candidates.join(ds.select(F.col("doc_id").alias("doc_id_1"), "h"), "doc_id_1")
            .join(ds.select(F.col("doc_id").alias("doc_id_2"), "h"), ["doc_id_2", "h"])
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        a = ds.select(F.col("doc_id").alias("doc_id_1"), "h")
        b = ds.select(F.col("doc_id").alias("doc_id_2"), "h")
        inter = (
            a.join(b, ["h"])
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    x = sz.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"))
    y = sz.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    # per-doc size relations are O(n_docs) — shuffle equi-joins, never a
    # forced broadcast (the q_tfidf_cosine_pairs lesson; AQE may still
    # elect a broadcast at small SFs where it genuinely fits)
    return (
        inter.join(x, "doc_id_1")
        .join(y, "doc_id_2")
        .filter(jac >= threshold)
        .select("doc_id_1", "doc_id_2", F.round(jac, 4).alias("jaccard"))
    )


_MINHASH_SQL = f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS minh
      FROM ds CROSS JOIN (SELECT unnest(range(0, {N_PERM})) AS seed) seeds
      GROUP BY doc_id, seed
    ),
    band_sig AS (
      SELECT doc_id, seed // {N_PERM // N_BANDS} AS band,
             md5(string_agg(minh, ',' ORDER BY seed)) AS band_key
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM band_sig a
      JOIN band_sig b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      c.doc_id_1,
      c.doc_id_2,
      round(i.n_common * 1.0 / (x.n + y.n - i.n_common), 4) AS jaccard
    FROM cand c
    JOIN inter i ON c.doc_id_1 = i.doc_id_1 AND c.doc_id_2 = i.doc_id_2
    JOIN sz x ON c.doc_id_1 = x.doc_id
    JOIN sz y ON c.doc_id_2 = y.doc_id
    WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= 0.7
"""


def _lsh_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    sig_family: str = "xxhash64",
    doc_pred: Column | None = None,
    dh: DataFrame | None = None,
    ds: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_id_1 < doc_id_2): shingle → 32 seeded
    minhashes → 8 bands × 4 rows → band-bucket equi-join. Signatures are
    constant-size per doc, so shuffle volume is O(docs).

    Two signature families (round-2 verdict task 4):

    - ``xxhash64`` (default, the production/scale path): minhash k of a doc
      is min over its 8-byte shingle hashes h of xxhash64(k, h); the band
      key is xxhash64 of the band's 4-long signature array. Everything that
      shuffles — shingle ids, signatures, band keys — is an 8-byte long.
    - ``md5`` (the oracle twin): minhash k = min md5(k || ':' || shingle),
      band key = md5 of the comma-joined hex signatures — bit-for-bit
      reproducible in DuckDB, which is what makes q_minhash_lsh
      full-value-hash-checkable, at ~4× the shuffle bytes (32-char hex vs
      8-byte long). Round 2 shipped this as the only path; round 3 demotes
      it to verification duty.

    tests/test_dedup.py asserts the two families yield the same verified
    pair set on the test corpus.

    ``doc_pred`` (q_lsh_recall_audit's stratum gate) restricts the corpus
    BEFORE signature computation, so both the linear minhash pass and the
    bucket self-join are bounded by the stratum, not just the output — a
    doc's band keys depend only on its own shingles, so filtering early
    yields exactly the pairs whose BOTH endpoints satisfy the predicate."""
    if sig_family == "md5":
        # ``ds`` (the q_minhash_lsh caller's already-materialized string
        # shingle relation, round-8 verdict task 6) lets both band-bucket
        # self-join subtrees — which duplicate the whole signature pipeline
        # under differing projections — read one materialized (doc_id, s)
        # relation instead of re-running the corpus scan + shingle
        # explode + distinct per subtree. Sharing stops BELOW the md5
        # signatures on purpose: materializing the fat hex signatures
        # themselves was measured 480 → 740 s at 100× (the re-shuffle trap
        # documented at the sig checkpoint below).
        if ds is None:
            ds = _doc_shingles(spark, sf_dir)
        if doc_pred is not None:
            ds = ds.filter(doc_pred)
        sig = (
            ds.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, {N_PERM - 1}),"
                        " k -> md5(concat(cast(k AS string), ':', s)))"
                    )
                ).alias("seed", "hv"),
            )
            .groupBy("doc_id", "seed")
            .agg(F.min("hv").alias("minh"))
        )
        band_key = F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seed", "minh"))),
                    lambda s: s["minh"],
                ),
            )
        )
    else:
        # ``dh`` lets a caller that ALSO verifies over hashed shingles pass
        # its already-materialized (doc_id, h) relation, so the shingle
        # explode+distinct runs once for signatures AND verification.
        if dh is None:
            dh = _doc_shingle_hashes(spark, sf_dir)
        if doc_pred is not None:
            dh = dh.filter(doc_pred)
        sig = (
            dh.select(
                "doc_id",
                F.posexplode(
                    F.expr(f"transform(sequence(0, {N_PERM - 1}), k -> xxhash64(k, h))")
                ).alias("seed", "hv"),
            )
            .groupBy("doc_id", "seed")
            .agg(F.min("hv").alias("minh"))
        )
        band_key = F.xxhash64(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seed", "minh"))),
                lambda s: s["minh"],
            )
        )
    rows_per_band = N_PERM // N_BANDS
    # sig (docs x N_PERM minhash rows) feeds BOTH sides of the bucket
    # self-join under differing projections, which defeats ReuseExchange —
    # without materialization the whole signature pipeline (shingle explode
    # + N_PERM-hash explode + min-agg) appears TWICE in the physical plan
    # (two full Scan->Generate->agg subtrees). For the xxhash64 production
    # family one eager checkpoint (8-byte longs) runs that pass once
    # (sf0.1 8.7 -> 6.2 s; 100x re-measured at the verify-bound floor).
    # Three checkpoint placements were measured and rejected:
    # - band_sig: its exact materialized size stats slip under the
    #   broadcast threshold at 100x and the broadcast BUILD blows up
    #   ("Not enough memory to build and broadcast") — the guide §3.1
    #   estimate-vs-build trap.
    # - md5-family sig: the 32-char hex signatures are ~4x the bytes; the
    #   barrier + UnknownPartitioning re-shuffles cost MORE at 100x than
    #   the saved duplicate pass (480 -> 740 s measured), because at scale
    #   the verify-side pair explosion, not the signature pass, dominates.
    #   The md5 twin therefore keeps the unmaterialized two-subtree plan.
    if sig_family != "md5":
        sig = sig.localCheckpoint(eager=True)
    band_sig = (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(band_key.alias("band_key"))
    )
    left = band_sig.select("band", "band_key", F.col("doc_id").alias("doc_id_1"))
    right = band_sig.select("band", "band_key", F.col("doc_id").alias("doc_id_2"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )


@query("q_minhash_lsh", oracle=_MINHASH_SQL, tags=("dedup", "llm", "approx"))
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (scale tier, ORACLE TWIN): MinHash + banded LSH near-dup detection
    — LSH candidate pairs fed to the candidate-driven exact-Jaccard verifier
    at ≥ 0.7. Verification counts run on 8-byte hashed shingles (identical
    counts to the string oracle absent 64-bit collisions — the hash match
    itself checks this).

    The permutation hash here is md5(seed || ':' || shingle) — cross-engine
    reproducible, so the DuckDB oracle recomputes the full signature→band→
    candidate→verify pipeline and this query is value-hash-checked (VERDICT
    round-1 task 5). md5-hex minhashes cost ~4× the shuffle bytes of 8-byte
    xxhash64 longs, so round 3 (verdict task 4) demoted this formulation to
    verification duty: the production/scale path is q_minhash_lsh_fast
    (xxhash64 end-to-end), and tests/test_dedup.py asserts both families
    produce the same verified pair set.

    Round 9 (verdict task 6): ONE materialized string-shingle relation now
    feeds all three corpus passes — both signature subtrees of the band
    self-join (which duplicate the pipeline under differing projections)
    and the exact verifier (whose hashed shingles are xxhash64 over the
    same materialized strings — identical counts absent 64-bit collisions,
    the caveat the oracle match itself checks). Sharing stays BELOW the
    signatures, dodging the fat-hex re-shuffle that measured 480 → 740 s
    at 100× when the sig relation itself was checkpointed."""
    ds = _doc_shingles(spark, sf_dir).localCheckpoint(eager=True)
    candidates = _lsh_candidate_pairs(spark, sf_dir, sig_family="md5", ds=ds)
    dh = ds.select("doc_id", F.xxhash64("s").alias("h"))
    return _verify_jaccard_pairs(dh, threshold=0.7, candidates=candidates)


_MINHASH_TRUTH_SQL = f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      i.doc_id_1,
      i.doc_id_2,
      round(i.n_common * 1.0 / (x.n + y.n - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sz x ON i.doc_id_1 = x.doc_id
    JOIN sz y ON i.doc_id_2 = y.doc_id
    WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= 0.7
"""


@query("q_minhash_lsh_fast", oracle=_MINHASH_TRUTH_SQL, tags=("dedup", "llm", "approx", "scale"))
def minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (scale tier, PRODUCTION PATH): MinHash + banded LSH with xxhash64
    signatures end-to-end — shingle ids, the 32 per-doc minhashes, and the
    band keys are all 8-byte longs, ~4× fewer shuffle bytes than the md5-hex
    oracle twin q_minhash_lsh (round-2 verdict task 4: this restores the
    round-1 signature shape as the default without giving up the md5
    formulation's full value-hash oracle).

    Oracle strategy: DuckDB cannot reproduce Spark's xxhash64, so the oracle
    is the GROUND TRUTH — all exact-Jaccard ≥ 0.7 pairs. The banded LSH
    front-end is an inclusion filter before the same exact verifier, so the
    query equals ground truth exactly when band recall = 1; q_lsh_recall_audit
    measures recall ≡ 1.0 on this corpus (near-dup pairs here are
    high-Jaccard, so their signatures agree on entire bands under any hash
    family), making this a genuine value-hash check of the whole pipeline —
    if banding ever dropped a true pair, the hash would go red."""
    # one materialized shingle-hash relation serves BOTH the signature pass
    # and the exact verifier — previously two full explode+distinct passes
    dh = _doc_shingle_hashes(spark, sf_dir).localCheckpoint(eager=True)
    candidates = _lsh_candidate_pairs(spark, sf_dir, dh=dh)
    return _verify_jaccard_pairs(dh, threshold=0.7, candidates=candidates, checkpoint=False)


# 60-bit simhash, banded for the Hamming<=6 pair join: 7 bands, so any pair
# differing in <=6 bits leaves >=1 band untouched (pigeonhole) and collides
# in the equi-join. (band_id, bit_offset, band_width); widths sum to 60.
SIMHASH_BITS = 60
SIMHASH_HAMMING_MAX = 6
SIMHASH_BANDS = ((0, 0, 9), (1, 9, 9), (2, 18, 9), (3, 27, 9), (4, 36, 8), (5, 44, 8), (6, 52, 8))

_SIMHASH_FP_SQL = f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    bits AS (
      SELECT doc_id, tf, md5(tok) AS h, unnest(range(0, {SIMHASH_BITS})) AS bit FROM tf
    ),
    votes AS (
      SELECT doc_id, bit,
        sum(CASE WHEN ((instr('0123456789abcdef', substr(h, 15 - bit // 4, 1)) - 1)
                       >> (bit % 4)) & 1 = 1
                 THEN tf ELSE -tf END) AS v
      FROM bits GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM votes GROUP BY doc_id
    )
"""

_SIMHASH_SQL = f"""
    {_SIMHASH_FP_SQL},
    bands(band, off, sz) AS (VALUES {", ".join(f"({b}, {o}, {s})" for b, o, s in SIMHASH_BANDS)}),
    banded AS (
      SELECT doc_id, simhash, band,
             (simhash >> off) & ((CAST(1 AS BIGINT) << sz) - 1) AS band_val
      FROM fp CROSS JOIN bands
    )
    SELECT DISTINCT
      a.doc_id AS doc_id_1,
      b.doc_id AS doc_id_2,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
"""


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit token-frequency-weighted SimHash per document. Bit i of the
    token hash (first 15 hex chars of md5 — cross-engine reproducible, vs the
    engine-specific xxhash64 it replaces) contributes +tf / -tf to bit-sum i;
    the sign of each sum forms the fingerprint. All JVM-side DataFrame ops:
    explode bit positions → conditional agg → bit OR-fold."""
    docs = load_table(spark, sf_dir, "documents")
    # no parallelize_scan: the md5 vote hashing runs AFTER the (doc, tok)
    # groupBy shuffle (already cores-parallel); pre-shuffle is a cheap
    # split+explode, so an extra exchange would be pure overhead
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("v", F.expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"))
    )
    bits = tf.select(
        "doc_id",
        "tf",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    )
    vote = F.when(F.expr("(shiftright(v, bit) & 1) = 1"), F.col("tf")).otherwise(-F.col("tf"))
    bit_votes = bits.groupBy("doc_id", "bit").agg(F.sum(vote).alias("s"))
    return bit_votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        )
        .cast("long")
        .alias("simhash")
    )


def _simhash_banded_pairs(fp: DataFrame) -> DataFrame:
    """Hamming<=6 pairs via the 7-band pigeonhole equi-join (VERDICT round-1
    task 2): a pair within Hamming 6 of a 60-bit fingerprint must agree on at
    least one of 7 disjoint bands, so banding turns the all-pairs cross join
    into a shuffle equi-join on (band, band_val) — the shape that distributes
    at 100 TB — followed by exact Hamming verification in-bucket. A pair can
    collide in several bands, hence the final distinct."""
    band_expr = "explode(array({})) AS bv".format(
        ", ".join(
            f"struct({b} AS band, (shiftright(simhash, {off}) & {(1 << sz) - 1}) AS band_val)"
            for b, off, sz in SIMHASH_BANDS
        )
    )
    banded = fp.selectExpr("doc_id", "simhash", band_expr).select(
        "doc_id", "simhash", "bv.band", "bv.band_val"
    )
    a = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_id_1"), F.col("simhash").alias("h1")
    )
    b = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_id_2"), F.col("simhash").alias("h2")
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .withColumn("hamming", F.expr("CAST(bit_count(h1 ^ h2) AS INT)"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_id_1", "doc_id_2", "hamming")
        .distinct()
    )


@query("q_simhash", oracle=_SIMHASH_SQL, tags=("dedup", "llm", "approx"))
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (fingerprint tier): 60-bit SimHash per document + near-dup pairs at
    Hamming distance ≤ 6, found by banded pigeonhole equi-join (no cross
    join anywhere in the plan — asserted in tests/test_plans.py). md5-derived
    token bits make the whole pipeline DuckDB-reproducible, so this query is
    value-hash-checked (was rows-only in round 1)."""
    return _simhash_banded_pairs(_simhash_fingerprints(spark, sf_dir))


@query(
    "q_decontamination",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    bench AS (SELECT DISTINCT s FROM ds WHERE doc_id < 20),
    tr AS (SELECT doc_id, s FROM ds WHERE doc_id >= 20),
    sz AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, count(*) AS n_common
      FROM tr t JOIN bench b ON t.s = b.s
      GROUP BY t.doc_id
    )
    SELECT
      h.doc_id,
      h.n_common,
      s.n                                            AS n_shingles,
      round(h.n_common * 1.0 / s.n, 4)               AS overlap_ratio,
      CAST(h.n_common * 1.0 / s.n >= 0.5 AS BOOLEAN) AS contaminated
    FROM hits h JOIN sz s ON h.doc_id = s.doc_id
    WHERE h.n_common >= 3
    """,
    tags=("dedup", "llm", "text"),
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training documents whose 3-word
    shingles overlap an evaluation set (here: doc_id < 20 stands in for the
    benchmark). The benchmark shingle set is tiny by construction, so it
    BROADCASTS and the training corpus is scanned exactly once with a
    broadcast hash join — the linear shape that survives 100 TB, unlike the
    symmetric all-pairs join (this is the asymmetric special case the
    quadratic q_jaccard_neardup verifier cannot exploit). Shingles travel as
    64-bit hashes (see _doc_shingle_hashes); counts equal the string oracle
    absent 64-bit collisions, which the oracle match itself verifies."""
    ds = _doc_shingle_hashes(spark, sf_dir)
    bench = ds.filter(F.col("doc_id") < 20).select("h").distinct()
    train = ds.filter(F.col("doc_id") >= 20)
    sz = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ratio = F.col("n_common") / F.col("n_shingles")
    return (
        hits.join(sz, "doc_id")
        .filter(F.col("n_common") >= 3)
        .select(
            "doc_id",
            "n_common",
            F.col("n_shingles"),
            F.round(ratio, 4).alias("overlap_ratio"),
            (ratio >= 0.5).alias("contaminated"),
        )
    )


def _min_label_components(pairs: DataFrame, name: str) -> DataFrame:
    """(node, lbl): connected components of the undirected pair relation
    (first column, second column) by min-label propagation; lbl is the
    smallest node of the component. A round moves a label to its smallest
    neighbor label, so it settles in graph-diameter rounds, and the round in
    which no label moves is the answer."""
    a, b = pairs.columns
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .localCheckpoint(eager=False)  # filled by the first round's node shuffle
    )

    def propagate(labels: DataFrame) -> DataFrame:
        lab = F.broadcast(labels)  # one row per node, see functions/iterate.py
        # every node is an edge source, so every node has a neighbor label
        nbr = (
            edges.withColumnRenamed("dst", "node")
            .join(lab, "node")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        return nbr.join(lab, "node").select(
            "node",
            F.least("lbl", "nbr_lbl").alias("lbl"),
            (F.col("nbr_lbl") < F.col("lbl")).alias(UNSETTLED),
        )

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn("lbl", F.col("node"))
    return fixpoint(propagate, labels, max_rounds=MAX_CC_ITERATIONS, name=name)


_PAIRS_SQL = f"""
    WITH RECURSIVE ds AS ({_SHINGLES_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.doc_id_1, i.doc_id_2
      FROM inter i
      JOIN sz x ON i.doc_id_1 = x.doc_id
      JOIN sz y ON i.doc_id_2 = y.doc_id
      WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= 0.8
    ),
    edges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION ALL
      SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
"""


@query(
    "q_dup_clusters",
    oracle=f"""
    {_PAIRS_SQL}
    SELECT
      doc_id,
      component_id,
      CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size
    FROM (
      SELECT a AS doc_id, least(a, min(b)) AS component_id
      FROM reach GROUP BY a
    )
    """,
    tags=("dedup", "llm", "iterative"),
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the Jaccard
    ≥ 0.8 near-dup pairs via iterative min-label propagation — the step that
    turns pairwise matches into dedup groups (keep one doc per component).
    Each iteration is one join + groupBy (labels shrink monotonically to the
    component-minimum doc_id); convergence needs graph-diameter iterations,
    and near-dup components are tiny by construction, so the loop is short.
    This is the standard distributed CC recipe (driver coordinates, data
    never leaves the cluster) — the same job shape as q_kmeans_embeddings.
    The oracle computes the same components with a recursive-CTE transitive
    closure, which is feasible exactly because components are small."""
    pairs = jaccard_neardup(spark, sf_dir).select("doc_id_1", "doc_id_2")
    labels = _min_label_components(pairs, "q_dup_clusters")
    w = Window.partitionBy("component_id")
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("component_id"))
        .withColumn("component_size", F.count(F.lit(1)).over(w).cast("long"))
    )


@query(
    "q_fuzzy_match_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names
    )
    SELECT
      a.p_name AS name_a,
      b.p_name AS name_b,
      CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("dedup", "fuzzy"),
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching: near-identical part names by edit
    distance <= 3, with BLOCKING on the last name token so the quadratic
    levenshtein comparison only runs inside blocks — the record-linkage
    shape that scales (equi-shuffle on the block key, candidate pairs
    linear in block sizes), never an all-pairs cross join. Distinct names
    first so duplicate catalog rows don't multiply pairs. levenshtein() is
    a built-in on both engines."""
    part = load_table(spark, sf_dir, "part")
    keyed = part.select("p_name").distinct().select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a = keyed.select(F.col("p_name").alias("name_a"), F.col("blk"))
    b = keyed.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


@query(
    "q_dup_rate_by_source",
    oracle="""
    SELECT
      source,
      count(*)                                   AS n_docs,
      count(DISTINCT md5(text))                  AS n_unique,
      count(*) - count(DISTINCT md5(text))       AS n_dup_docs,
      round((count(*) - count(DISTINCT md5(text))) * 1e0 / count(*), 6)
        AS dup_rate
    FROM documents
    GROUP BY source
    """,
    tags=("dedup", "llm-pipeline"),
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance view: exact-duplication rate PER SOURCE — which
    feeds are polluting the corpus. Texts shuffle as md5 digests, never as
    strings (the L1 discipline); distinct-count per group gives unique
    docs, and the rate is what a curation dashboard plots. At 100 TB this
    is the same one-shuffle groupBy as q_exact_dedup with source as the
    key prefix."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).alias("n_dup_docs"),
        F.round(
            (F.count(F.lit(1)) - F.count_distinct(F.md5("text")))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


@query(
    "q_containment_neardup",
    oracle=f"""
    WITH ds AS ({{shingles}}),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      i.doc_id_1,
      i.doc_id_2,
      round(i.n_common * 1.0 / least(x.n, y.n), 4) AS containment
    FROM inter i
    JOIN sz x ON i.doc_id_1 = x.doc_id
    JOIN sz y ON i.doc_id_2 = y.doc_id
    WHERE i.n_common * 1.0 / least(x.n, y.n) >= 0.5
    """.format(shingles=_SHINGLES_SQL),
    tags=("dedup", "llm"),
)
def containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 asymmetric tier: CONTAINMENT near-dup — |A∩B| / min(|A|,|B|) ≥
    0.5 over 3-word shingles. Jaccard misses the quote/subset case (a
    short doc fully embedded in a long one scores low union-wise but 1.0
    containment-wise); this is the detector for that, sharing the exact
    same linear shingle-equi-join candidate machinery as
    q_jaccard_neardup (hashes through shuffles, strings never move). The
    threshold compare uses the identical integer-division expression on
    both engines — no floating boundary."""
    ds = _doc_shingle_hashes(spark, sf_dir)
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col("doc_id").alias("doc_id_1"), "h")
    b = ds.select(F.col("doc_id").alias("doc_id_2"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sx = sz.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"))
    sy = sz.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2"))
    cont = F.col("n_common") * F.lit(1.0) / F.least(F.col("n1"), F.col("n2"))
    # per-doc size relations stay off the broadcast path (see q_jaccard_neardup)
    return (
        inter.join(sx, "doc_id_1")
        .join(sy, "doc_id_2")
        .filter(cont >= 0.5)
        .select("doc_id_1", "doc_id_2", F.round(cont, 4).alias("containment"))
    )


@query(
    "q_lsh_recall_audit",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS minh
      FROM ds CROSS JOIN (SELECT unnest(range(0, {N_PERM})) AS seed) seeds
      GROUP BY doc_id, seed
    ),
    band_sig AS (
      SELECT doc_id, seed // {N_PERM // N_BANDS} AS band,
             md5(string_agg(minh, ',' ORDER BY seed)) AS band_key
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM band_sig a
      JOIN band_sig b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT i.doc_id_1, i.doc_id_2
      FROM inter i
      JOIN sz x ON i.doc_id_1 = x.doc_id
      JOIN sz y ON i.doc_id_2 = y.doc_id
      WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= 0.7
    ),
    hit AS (
      SELECT e.doc_id_1 FROM exact e
      JOIN cand c ON e.doc_id_1 = c.doc_id_1 AND e.doc_id_2 = c.doc_id_2
    )
    SELECT
      (SELECT count(*) FROM exact) AS n_true_pairs,
      (SELECT count(*) FROM cand)  AS n_candidates,
      (SELECT count(*) FROM hit)   AS n_hits,
      round((SELECT count(*) FROM hit) * 1e0
            / nullif((SELECT count(*) FROM exact), 0), 6) AS recall,
      round((SELECT count(*) FROM hit) * 1e0
            / nullif((SELECT count(*) FROM cand), 0), 6)  AS precision,
      'exact' AS method
    """,
    tags=("dedup", "llm", "approx"),
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch QA: measure the MinHash-LSH candidate generator against
    ground truth — recall (what fraction of true J ≥ 0.7 pairs the bands
    surface) and pre-verification precision (what fraction of candidates
    are true). This is the audit you run before trusting an approximate
    dedup tier at 100 TB, here as a first-class oracle-checked query:
    both the sketch path and the exact path are cheap at audit scale
    (run on a SAMPLE in production — same plan, sampled input). Reuses
    the production candidate generator and exact verifier verbatim, so
    the audit measures the real pipeline, not a reimplementation. Audits
    the md5 signature family (the formulation DuckDB can recount
    candidates for); the xxhash64 production family is held to the same
    bar by q_minhash_lsh_fast's ground-truth oracle plus the pair-set
    equivalence test in tests/test_dedup.py.

    The "SAMPLE in production" posture is ENFORCED, not advisory
    (round-8, after the 100× tier caught the ungated exact tier
    exhausting ~78 GB of shuffle spill): the same linear estimator that
    gates q_jaccard_neardup is compared against LSH_AUDIT_PAIR_BUDGET,
    and above it the whole audit — ground truth AND candidates — runs on
    a deterministic 1/16 xxhash doc stratum, surfaced in the relation by
    the ``method`` column ('exact' | 'stratum_1_of_16'). Recall and
    precision are RATIOS, so the within-stratum rates estimate the
    corpus-wide rates; the oracle tier never trips at driver scale
    (asserted in tests/test_dedup.py)."""
    est = _estimate_exact_pair_fanout(spark, sf_dir)
    ds_h = _doc_shingle_hashes(spark, sf_dir)
    doc_pred = None
    method = "exact"
    if est > LSH_AUDIT_PAIR_BUDGET:
        import warnings

        warnings.warn(
            f"q_lsh_recall_audit: estimated {est:.0f} exact ground-truth pairs "
            f"exceeds budget {LSH_AUDIT_PAIR_BUDGET}; auditing recall/precision "
            f"inside a deterministic 1/{LSH_AUDIT_SAMPLE_MOD} doc stratum",
            stacklevel=2,
        )
        method = f"stratum_1_of_{LSH_AUDIT_SAMPLE_MOD}"
        doc_pred = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(LSH_AUDIT_SAMPLE_MOD)) == 0
        ds_h = ds_h.filter(doc_pred)
    # exact and cand each feed the hits join AND their own count; measured
    # round 5: eager checkpoints here make the query SLOWER (7.1 -> 8.3 s
    # at sf0.1) — the duplicated subtrees are projection-identical, so
    # ReuseExchange already shares them, and materialization only adds
    # write cost. Contrast the flip-union family (differing projections
    # defeat reuse), where the checkpoint wins.
    exact = _verify_jaccard_pairs(ds_h, threshold=0.7).select("doc_id_1", "doc_id_2")
    cand = _lsh_candidate_pairs(spark, sf_dir, sig_family="md5", doc_pred=doc_pred)
    hits = exact.join(cand, ["doc_id_1", "doc_id_2"])
    return (
        exact.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits") * F.lit(1.0) / F.nullif(F.col("n_true_pairs"), F.lit(0)), 6
            ).alias("recall"),
            F.round(
                F.col("n_hits") * F.lit(1.0) / F.nullif(F.col("n_candidates"), F.lit(0)), 6
            ).alias("precision"),
            F.lit(method).alias("method"),
        )
    )


@query(
    "q_softdedup_weights",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    df AS (SELECT s, count(*) AS df FROM ds GROUP BY s),
    per_doc AS (
      SELECT d.doc_id,
             count(*)            AS n_shingles,
             sum(f.df)           AS sum_df
      FROM ds d JOIN df f ON d.s = f.s
      GROUP BY d.doc_id
    )
    SELECT
      doc.source,
      CAST(count(*) AS BIGINT)                               AS n_docs,
      round(CAST(sum(CAST(round(p.sum_df * 1e6 / p.n_shingles) AS HUGEINT))
                 AS DOUBLE) / count(*) / 1e6, 6)             AS avg_commonness,
      round(CAST(sum(CAST(round(p.n_shingles * 1e12 / p.sum_df) AS HUGEINT))
                 AS DOUBLE) / 1e12, 6)                       AS effective_docs,
      round(CAST(sum(CAST(round(p.n_shingles * 1e12 / p.sum_df) AS HUGEINT))
                 AS DOUBLE) / 1e12 / count(*), 6)            AS retention
    FROM per_doc p JOIN documents doc ON p.doc_id = doc.doc_id
    GROUP BY doc.source
    """,
    tags=("dedup", "llm", "sampling"),
)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication by reweighting (the SoftDedup idea, He et al.
    2024, arXiv:2407.06654): instead of REMOVING near-duplicate documents,
    down-weight each document by its data commonness — here the mean
    corpus document-frequency of its distinct 3-word shingles — giving
    sampling weight w = 1/commonness ∈ (0, 1] (fully-unique docs keep
    weight 1; boilerplate-heavy docs shrink smoothly). Reported per source:
    mean commonness, the effective dataset size Σw, and the retention
    ratio Σw/n — the number a curation run compares against hard-dedup's
    removal rate to decide which posture loses less signal.

    Scale shape: identical to q_ngram_novelty — shingles travel as
    xxhash64 longs into one corpus-wide DF aggregation (uniform key), one
    equi-join back, one per-doc rollup, one per-source rollup; strictly
    linear, no pair join (removal-free dedup has no pair stage AT ALL —
    that is its scale advantage over the MinHash tiers). Commonness and
    weights are exact-integer ratios divided once; only the final
    per-source aggregates round."""
    ds = _doc_shingle_hashes(spark, sf_dir)
    df = ds.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        ds.join(df, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"), F.sum("df").alias("sum_df"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # integer-moments rule: weights/commonness are exact-integer ratios —
    # snap at 1e-12 / 1e-6 grains so the per-source sums are order-exact
    w12 = F.sum(
        F.round(F.col("n_shingles") * F.lit(1e12) / F.col("sum_df")).cast(
            "decimal(38,0)"
        )
    ).cast("double")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(
                    F.round(
                        F.col("sum_df") * F.lit(1e6) / F.col("n_shingles")
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                6,
            ).alias("avg_commonness"),
            F.round(w12 / 1e12, 6).alias("effective_docs"),
            F.round(w12 / 1e12 / F.count(F.lit(1)), 6).alias("retention"),
        )
    )


@query(
    "q_source_overlap",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    ss AS (
      SELECT DISTINCT d.s, doc.source
      FROM ds d JOIN documents doc ON d.doc_id = doc.doc_id
    ),
    sz AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT
      sh.source_a, sh.source_b,
      CAST(sh.n_shared AS BIGINT) AS n_shared,
      round(sh.n_shared * 1.0 / (x.n + y.n - sh.n_shared), 4) AS shingle_jaccard
    FROM shared sh
    JOIN sz x ON sh.source_a = x.source
    JOIN sz y ON sh.source_b = y.source
    WHERE sh.n_shared >= 5
    """,
    tags=("dedup", "llm", "text"),
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus contamination flow map: pairwise 3-shingle overlap BETWEEN
    crawl sources (distinct shingle sets per source, Jaccard over them,
    pairs sharing ≥5 shingles) — the relation that shows which sources
    mirror or scrape which, one level above q_dup_rate_by_source's
    per-source rates and q_ngram_novelty's per-doc ownership. A curation
    run reads it to pick ONE source per mirror cluster before any
    document-level dedup runs (removing a whole mirrored source is far
    cheaper than pair-joining its documents).

    Scale shape: shingles travel as xxhash64 longs; the per-source shingle
    sets come from one distinct + aggregation, and the pair stage is an
    equi-join on the shingle key whose fan-out is bounded by sources²
    per shingle — sources number in the hundreds at 100 TB, so unlike
    document-pair joins this stays small however big the corpus; the
    result relation is at most sources²/2 rows."""
    ds = _doc_shingle_hashes(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ss = ds.join(docs, "doc_id").select("h", "source").distinct()
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = ss.select("h", F.col("source").alias("source_a"))
    b = ss.select("h", F.col("source").alias("source_b"))
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    x = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    y = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return (
        shared.join(F.broadcast(x), "source_a")
        .join(F.broadcast(y), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(jac, 4).alias("shingle_jaccard"),
        )
    )


@query(
    "q_dedup_funnel",
    oracle=f"""
    WITH raw AS (SELECT count(*) AS n FROM documents),
    canon AS (
      SELECT min(doc_id) AS doc_id
      FROM documents GROUP BY md5(lower(trim(text)))
    ),
    ds0 AS ({_SHINGLES_SQL}),
    ds AS (SELECT d.doc_id, d.s FROM ds0 d JOIN canon c ON d.doc_id = c.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    killed AS (
      SELECT DISTINCT b.doc_id
      FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS doc_id, count(*) AS n_common
        FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ) b
      JOIN sz x ON b.a_id = x.doc_id
      JOIN sz y ON b.doc_id = y.doc_id
      WHERE b.n_common * 1.0 / (x.n + y.n - b.n_common) >= 0.8
    ),
    counts AS (
      SELECT
        (SELECT n FROM raw)                                    AS n_raw,
        (SELECT count(*) FROM canon)                           AS n_exact,
        (SELECT count(*) FROM canon) - (SELECT count(*) FROM killed) AS n_neardup
    )
    SELECT 'raw' AS tier, CAST(n_raw AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS n_removed, round(1.0, 4) AS retention
    FROM counts
    UNION ALL
    SELECT 'exact', CAST(n_exact AS BIGINT),
           CAST(n_raw - n_exact AS BIGINT),
           round(n_exact * 1.0 / n_raw, 4)
    FROM counts
    UNION ALL
    SELECT 'neardup', CAST(n_neardup AS BIGINT),
           CAST(n_exact - n_neardup AS BIGINT),
           round(n_neardup * 1.0 / n_raw, 4)
    FROM counts
    """,
    tags=("dedup", "llm", "pipeline"),
)
def dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup waterfall — the per-tier survivor report every curation
    run publishes: raw corpus → exact dedup (lowest doc_id per normalized
    text hash) → near-dup removal (drop the higher id of every verified
    Jaccard-≥0.8 pair among the exact survivors), with absolute counts,
    per-tier removals, and cumulative retention. This is the summary
    relation over the L1/L2 machinery (q_exact_dedup, q_jaccard_neardup
    own the detail rows); running near-dup AFTER exact is the ordering
    that keeps the pair tier affordable — exactly what the curation
    pipeline does, here made auditable as three rows.

    Scale shape: exact tier is one uniform-hash shuffle; the near-dup
    tier here runs the exact shingle-intersection verifier over the
    ALREADY-exact-deduped corpus (mass duplication is gone by
    construction, which is what keeps the pair join in budget — at 100 TB
    the q_minhash_lsh prefilter generates the candidates first; same
    report, cheaper pairs). Counts are exact integers; retention divides
    once."""
    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()
    canon = (
        docs.withColumn("h", F.md5(F.lower(F.trim("text"))))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    n_exact = canon.count()
    ds = _doc_shingle_hashes(spark, sf_dir).join(canon, "doc_id")
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col("doc_id").alias("a_id"), "h")
    b = ds.select(F.col("doc_id").alias("b_id"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    x = sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    y = sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # x/y are per-doc size relations — O(n_docs) rows must not ride a
    # broadcast (the q_tfidf_cosine_pairs lesson); shuffle equi-joins on
    # the doc key scale, and AQE may still broadcast them at small SFs.
    killed = (
        inter.join(x, "a_id")
        .join(y, "b_id")
        .filter(jac >= 0.8)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    n_neardup = n_exact - killed.count()
    # half-away rounding shared with q_holt_smoothing/q_markov_absorption:
    # banker's round() can flip an exact .5 ratio vs the DuckDB oracle
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    rows = [
        ("raw", n_raw, 0, rnd(1.0, 4)),
        ("exact", n_exact, n_raw - n_exact, rnd(n_exact / n_raw, 4)),
        ("neardup", n_neardup, n_exact - n_neardup, rnd(n_neardup / n_raw, 4)),
    ]
    return spark.createDataFrame(
        rows, "tier string, n_docs long, n_removed long, retention double"
    )


LSH_SWEEP_BANDINGS = (4, 8, 16)  # bands over the 32-permutation signature
# Bucket-pair budget for the sweep's candidate counting (round-6 verdict
# task 4): the sweep COUNTS each banding's candidate pairs, and on a
# mass-duplicated corpus that count — the true answer — grows
# quadratically (measured 28.1x at 100x in BASELINE.md). Above the budget
# the banding's count is taken inside a deterministic hash-sampled doc
# stratum instead (1 in LSH_SWEEP_SAMPLE_MOD docs, so ~1/MOD^2 of pairs),
# and the `method` column SAYS SO — the q_prefix_filter_join gate
# contract. Never trips at oracle tiers (asserted in tests/test_dedup.py).
LSH_SWEEP_PAIR_BUDGET = 20_000_000
LSH_SWEEP_SAMPLE_MOD = 16


def _lsh_sweep_oracle() -> str:
    parts = []
    for b in LSH_SWEEP_BANDINGS:
        r = N_PERM // b
        parts.append(f"""
    SELECT {b} AS n_bands, {r} AS rows_per_band,
           (SELECT count(*) FROM (
              SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              FROM (SELECT doc_id, seed // {r} AS band,
                           md5(string_agg(minh, ',' ORDER BY seed)) AS band_key
                    FROM sig GROUP BY doc_id, band) x
              JOIN (SELECT doc_id, seed // {r} AS band,
                           md5(string_agg(minh, ',' ORDER BY seed)) AS band_key
                    FROM sig GROUP BY doc_id, band) y
                ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           )) AS n_candidate_pairs""")
        # (1/b)^(1/r): the similarity at which pair-catch probability = 50%
    union = "\n    UNION ALL\n".join(parts)
    return f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS minh
      FROM ds CROSS JOIN (SELECT unnest(range(0, {N_PERM})) AS seed) seeds
      GROUP BY doc_id, seed
    )
    SELECT CAST(n_bands AS BIGINT) AS n_bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
           round(pow(1.0 / n_bands, 1.0 / rows_per_band), 4) AS s50_threshold,
           'exact' AS method
    FROM ({union})
    """


@query("q_lsh_band_sweep", oracle=_lsh_sweep_oracle(), tags=("dedup", "llm", "tuning"))
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning relation: ONE 32-permutation MinHash signature pass,
    re-banded three ways (4×8, 8×4, 16×2), reporting each banding's
    candidate-pair count next to its S-curve 50%-catch similarity
    threshold (1/b)^(1/r) — the table an operator reads to pick the
    banding whose threshold matches the dedup target before launching the
    full q_minhash_lsh job (more bands → lower threshold → more
    candidates; the sweep quantifies exactly how many on THIS corpus).
    Signature work is shared across the sweep — the expensive pass runs
    once, each banding adds only a band-key regroup and bucket self-join,
    all O(docs) shuffles. md5 signature family for DuckDB
    reproducibility (the q_minhash_lsh oracle-twin posture).

    Gate (round-6 verdict task 4; uniform per round-7 ADVICE): before any
    bucket self-join, each banding's exact join fan-out Σ c·(c−1)/2 over
    bucket sizes is computed with an O(docs) aggregate. If ANY banding
    exceeds LSH_SWEEP_PAIR_BUDGET — possible only on a mass-duplicated
    corpus, where the candidate count itself is quadratic — ALL bandings
    count inside the same deterministic doc stratum
    pmod(xxhash64(doc_id), MOD) = 0 (~1/MOD of docs, so ~1/MOD² of
    pairs) and every row's `method` column flips 'exact' →
    'stratum_1_of_{MOD}'. The tier is uniform BY DESIGN: the sweep exists
    to RANK bandings by candidate count, and mixed exact/stratum rows
    differ in scale by ~MOD², which would invalidate the ranking even
    with the method flag. No silent semantics change, and the run
    completes instead of attempting billions of pairs. Oracle tiers
    never trip (asserted in tests/test_dedup.py)."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd
    ds = _doc_shingles(spark, sf_dir)
    sig = (
        ds.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {N_PERM - 1}),"
                    " k -> md5(concat(cast(k AS string), ':', s)))"
                )
            ).alias("seed", "hv"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("hv").alias("minh"))
        .persist()
    )
    # Pass 1 — band every way and compute each banding's exact join
    # fan-out Σ c·(c−1)/2 from bucket sizes (O(docs), no pairs built;
    # decimal sum so a mass-duplicate bucket cannot wrap the estimate).
    banded: dict[int, DataFrame] = {}
    ests: dict[int, int] = {}
    for b in LSH_SWEEP_BANDINGS:
        r = N_PERM // b
        bands = (
            sig.withColumn("band", (F.col("seed") / r).cast("int"))
            .groupBy("doc_id", "band")
            .agg(
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.sort_array(F.collect_list(F.struct("seed", "minh"))),
                            lambda s: s["minh"],
                        ),
                    )
                ).alias("band_key")
            )
        )
        banded[b] = bands
        ests[b] = (
            bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(
                    F.col("c").cast("decimal(38,0)") * (F.col("c") - 1) / 2
                ).alias("pairs")
            )
            .collect()[0]["pairs"]
            or 0
        )
    # The gate is UNIFORM per run (round-7 ADVICE): the sweep's purpose is
    # cross-banding comparison of candidate counts, and mixed exact/stratum
    # rows differ in scale by ~MOD² (~256×), silently invalidating the
    # ranking even with the method column flagging the tier. If ANY banding
    # exceeds the budget, every banding counts inside the same stratum so
    # all rows stay comparable.
    trip = max(ests.values()) > LSH_SWEEP_PAIR_BUDGET
    if trip:
        import warnings

        over = {f"{b}x{N_PERM // b}": str(e) for b, e in ests.items()}
        warnings.warn(
            f"q_lsh_band_sweep: bucket fan-out {over} exceeds budget "
            f"{LSH_SWEEP_PAIR_BUDGET} for at least one banding; counting "
            f"ALL bandings inside the 1/{LSH_SWEEP_SAMPLE_MOD} hash-sampled "
            f"doc stratum so rows stay cross-comparable",
            stacklevel=2,
        )
    method = f"stratum_1_of_{LSH_SWEEP_SAMPLE_MOD}" if trip else "exact"
    out = None
    for b in LSH_SWEEP_BANDINGS:
        r = N_PERM // b
        bands = banded[b]
        if trip:
            bands = bands.filter(
                F.pmod(F.xxhash64("doc_id"), F.lit(LSH_SWEEP_SAMPLE_MOD)) == 0
            )
        x = bands.select("band", "band_key", F.col("doc_id").alias("d1"))
        y = bands.select("band", "band_key", F.col("doc_id").alias("d2"))
        n_pairs = (
            x.join(y, ["band", "band_key"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
            .count()
        )
        row = (b, r, n_pairs, rnd((1.0 / b) ** (1.0 / r), 4), method)
        out = (out or []) + [row]
    sig.unpersist()
    return spark.createDataFrame(
        out,
        "n_bands long, rows_per_band long, n_candidate_pairs long,"
        " s50_threshold double, method string",
    )


PREFIX_JOIN_T = 0.7  # Jaccard threshold for the prefix-filtered join
# Candidate-pair budget for the prefix join (round-4 verdict task 6): the
# method is LOSSLESS, so on a mass-duplicated corpus its candidate count —
# and the true answer — grows quadratically. Above this budget the query
# falls back to the banded MinHash-LSH candidate path (sub-quadratic,
# probabilistic) and SAYS SO in the `method` column, exactly the
# q_jaccard_neardup gate contract.
PREFIX_PAIR_BUDGET = 20_000_000


@query(
    "q_prefix_filter_join",
    oracle=f"""
    WITH ds AS ({_SHINGLES_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      i.doc_id_1, i.doc_id_2,
      round(i.n_common * 1.0 / (x.n + y.n - i.n_common), 4) AS jaccard,
      'prefix_exact' AS method
    FROM inter i
    JOIN sz x ON i.doc_id_1 = x.doc_id
    JOIN sz y ON i.doc_id_2 = y.doc_id
    WHERE i.n_common * 1.0 / (x.n + y.n - i.n_common) >= {PREFIX_JOIN_T}
    """,
    tags=("dedup", "llm", "similarity"),
)
def prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the PPJoin/AllPairs
    family, Xiao et al. 2008): order each document's shingles globally
    rarest-first and index only the first |d| - ceil(t*|d|) + 1 of them —
    if J(x, y) >= t, the prefixes MUST share a token, so the candidate
    join touches the rare-token slice of the inverted index instead of
    all of it, then exact verification runs only on candidates. This is
    the third candidate-generation strategy beside MinHash-LSH
    (probabilistic) and the df-cap (lossy): prefix filtering is LOSSLESS,
    which is exactly what the oracle proves — it computes ground truth
    from the FULL inverted index with no knowledge of the filter, so any
    pair the prefix join missed would hash-fail the driver gate.

    Scale shape: one df aggregation (vocabulary-sized), one per-doc
    rarest-first rank window (partitioned by doc, bounded by doc length),
    a candidate equi-join on the ~(1-t) rarest slice of the postings, and
    candidate-driven verification (O(candidates x shingles/doc), the
    _verify_jaccard_pairs gate path). Hot tokens — the quadratic fan-out —
    sit at the END of the rarest-first order and never enter the prefix
    at any corpus size. BUT losslessness itself is the residual risk: on
    a mass-duplicated corpus the true pair set (hence the candidate set
    of ANY lossless method) is quadratic, so the exact per-token
    candidate count Σ c·(c−1)/2 over the materialized prefix postings is
    compared against PREFIX_PAIR_BUDGET before the self-join; above it
    the query warns and falls back to the banded MinHash-LSH candidate
    path (sub-quadratic, may miss a small tail of borderline pairs), and
    the constant `method` column records which semantics produced the
    pairs — the q_jaccard_neardup gate contract. The oracle pins the
    exact tier ('prefix_exact'); gate scales never trip the budget
    (asserted in tests/test_dedup.py)."""
    ds = _doc_shingle_hashes(spark, sf_dir)
    dfh = ds.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix = (
        ds.join(dfh, "h")
        .withColumn("rk", F.row_number().over(w))
        .join(sz, "doc_id")
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.lit(PREFIX_JOIN_T) * F.col("n")) + 1)
        .select("doc_id", "h")
        # materialize once: the budget estimate AND both self-join sides
        # read it (localCheckpoint -> ContextCleaner-reclaimable)
        .localCheckpoint(eager=True)
    )
    est = (
        prefix.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"))
        .collect()[0]["pairs"]
        or 0
    )
    if est > PREFIX_PAIR_BUDGET:
        import warnings

        warnings.warn(
            f"q_prefix_filter_join: {est} prefix candidate pairs exceeds "
            f"budget {PREFIX_PAIR_BUDGET}; switching to MinHash-LSH "
            "candidates (sub-quadratic, probabilistic)",
            stacklevel=2,
        )
        cand = _lsh_candidate_pairs(spark, sf_dir)
        return _verify_jaccard_pairs(ds, PREFIX_JOIN_T, candidates=cand).withColumn(
            "method", F.lit("lsh_prefilter")
        )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_id_1"), "h")
        .join(prefix.select(F.col("doc_id").alias("doc_id_2"), "h"), "h")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    return _verify_jaccard_pairs(ds, PREFIX_JOIN_T, candidates=cand).withColumn(
        "method", F.lit("prefix_exact")
    )


# ---------------------------------------------------------------------------
# q_entity_resolution — blocked fuzzy match -> components -> golden records
# ---------------------------------------------------------------------------


@query(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names
    ),
    pairs AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS (
      SELECT na AS a, nb AS b FROM pairs
      UNION ALL
      SELECT nb, na FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS name, least(a, min(b)) AS canon FROM reach GROUP BY a
    )
    SELECT canon AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_members,
           array_to_string(list_sort(list(name)), '|') AS members
    FROM comp GROUP BY canon
    """,
    tags=("dedup", "fuzzy", "iterative"),
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part catalog — the composite
    that turns q_fuzzy_match_names' pairwise matches into golden records:
    (1) normalize/distinct names, (2) BLOCK on the last name token so
    levenshtein only runs inside blocks, (3) keep edit-distance <= 3
    edges, (4) connected components via the q_dup_clusters min-label
    propagation, (5) emit one golden record per entity cluster: the
    lexicographic-minimum canonical name, the member count, and the
    '|'-joined sorted member list (a deterministic survivorship rule).
    This is the record-linkage pipeline (Fellegi-Sunter blocking +
    transitive closure) every MDM/KYC system runs, in one auditable
    relation.

    Scale: blocking bounds the candidate quadratic to within-block pairs
    (equi-shuffle on the block key); CC iterates join+groupBy to the
    component-minimum label — graph-diameter rounds over edge-sized
    relations (components here are tiny name families). The oracle
    re-derives components independently with a recursive-CTE transitive
    closure, so a propagation bug cannot hash-match."""
    part = load_table(spark, sf_dir, "part")
    keyed = (
        part.select("p_name")
        .distinct()
        .select("p_name", F.element_at(F.split("p_name", " "), -1).alias("blk"))
    )
    a = keyed.select(F.col("p_name").alias("na"), "blk")
    b = keyed.select(F.col("p_name").alias("nb"), F.col("blk").alias("blk_b"))
    pairs = (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("na") < F.col("nb")))
        .filter(F.levenshtein("na", "nb") <= 3)
        .select("na", "nb")
    )
    labels = _min_label_components(pairs, "q_entity_resolution")
    return (
        labels.groupBy(F.col("lbl").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.concat_ws("|", F.sort_array(F.collect_list("node"))).alias("members"),
        )
    )
