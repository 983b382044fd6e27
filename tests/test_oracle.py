"""The local pre-gate: every registered query with an oracle is hash-checked
against DuckDB on the same parquet files, exactly like the driver's t2 gate
(row-count + schema names + order-insensitive strict value equality)."""

from __future__ import annotations

import pytest

from bigdatainfinance1_spark.registry import load_all_queries
from tests.conftest import SF_DIR, assert_frames_match, global_windows

SPECS = load_all_queries()
WITH_ORACLE = sorted(name for name, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY = sorted(name for name, s in SPECS.items() if s.oracle is None)

# The queries whose plan holds a window with no partition key, each over a
# relation whose size does not grow with the data.
GLOBAL_WINDOW_SITES = {
    "q_share_of_total": "sum() OVER () runs on the 25-row per-nation revenue aggregate",
    "q_kmv_overlap": "row_number() runs on the merged sketch: at most 2 x 64 hash values",
    "q_hist_quantile_sketch": "the running bucket count runs on at most 256 bucket rows",
    "q_placebo_did": "the rank and the unit count run on the 25 per-nation effects",
    "q_boxcox_lambda": "max(loglik) runs on the 5-point lambda grid",
    "q_doremi_weights": "the weight total runs on one row per document source (20 domains)",
    "q_haar_wavelet": "the energy total runs on the 7 wavelet bands",
    "q_linear_shap": "the importance total runs on the 2 explained features",
    "q_lorenz_curve": "the cumulative shares run on the 10 decile rows",
    "q_modularity_brands": "the modularity sum runs on one row per brand (25)",
    "q_optimal_assignment": "row_number() runs on the 5 distinct region names",
    "q_periodogram": "max(power) runs on the 12 harmonics",
    "q_profit_curve": "max(expected_profit) runs on at most 21 threshold buckets",
    "q_threshold_metrics": "max(f1) runs on at most 21 threshold buckets",
    "q_weighted_reservoir_es": "row_number() runs on the 20-row TakeOrdered sample",
}


def assert_partitioned_windows(df, name: str) -> None:
    """Single-partition rule (VERDICT round-1 task 8), on the physical plan so
    that SQL ``OVER (...)`` is seen as well as ``Window`` specs: total-order
    computations go through functions/ranks.py, and only the bounded sites
    above may window without a partition key."""
    n = global_windows(df)
    if name in GLOBAL_WINDOW_SITES:
        assert n > 0, f"{name}: no unpartitioned window left; drop it from GLOBAL_WINDOW_SITES"
    else:
        assert n == 0, f"{name}: {n} window(s) with an empty partitionSpec (single-partition at scale)"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_DIR)
    spark_pdf = df.toPandas()
    assert_partitioned_windows(df, name)
    duck_pdf = duck.execute(spec.oracle).df()
    # Vacuous-oracle guard: an empty relation hash-matches trivially and
    # proves nothing (the round-2 judge caught q_power_user_curve passing
    # on a wrong-era date window this way). Every oracle must be non-empty
    # on the test scale factor.
    assert len(duck_pdf) > 0, f"{name}: oracle returned 0 rows — vacuous check"
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_no_oracle_emits_hugeint(duck):
    """Registry-wide representation lint (round-7 verdict task 2).

    DuckDB widens sum(BIGINT) to HUGEINT, which pandas converts to float64
    while the Spark twin's LongType lands int64 — identical VALUES, split
    REPRESENTATION, red driver hash (the q_weighted_reservoir_es r5-r7
    saga). `rel.types` binds without executing, so this sweeps all ~600
    oracles in seconds. Any oracle that needs an int128 intermediate must
    CAST its emitted columns back to BIGINT (or emit double explicitly)."""
    bad = []
    for name, spec in sorted(SPECS.items()):
        if spec.oracle is None:
            continue
        types = [str(t).upper() for t in duck.sql(spec.oracle).types]
        if any("HUGEINT" in t for t in types):
            bad.append((name, types))
    assert not bad, f"oracles emitting HUGEINT (red-hash risk): {bad}"


def test_decimal_oracles_have_float_spark_twin(spark, duck):
    """Pin the DECIMAL emitters' representation contract (r7 verdict task 2).

    A DuckDB DECIMAL output pandas-converts to float64 and reaches the
    driver hash as a float — green IFF the Spark twin also lands float64
    (DoubleType/FloatType). A Spark DecimalType twin would pandas-convert
    to object-of-decimal.Decimal and hash differently (the same
    representation-split class as the HUGEINT saga, from the other side).
    This lint binds both schemas WITHOUT executing either engine: DuckDB
    `rel.types` and Spark's analyzed plan schema. Green driver rows for
    several DECIMAL emitters (q_efficient_frontier r6, q_gaussian_copula
    r7, q_garch_grid r6) prove the float64-vs-double pairing matches."""
    from pyspark.sql.types import DoubleType, FloatType

    bad = []
    for name, spec in sorted(SPECS.items()):
        if spec.oracle is None:
            continue
        rel = duck.sql(spec.oracle)
        dec_cols = [
            c for c, t in zip(rel.columns, rel.types) if "DECIMAL" in str(t).upper()
        ]
        if not dec_cols:
            continue
        schema = {f.name: f.dataType for f in spec.fn(spark, SF_DIR).schema.fields}
        for c in dec_cols:
            if not isinstance(schema.get(c), (DoubleType, FloatType)):
                bad.append((name, c, str(schema.get(c))))
    assert not bad, (
        f"DECIMAL oracle columns whose Spark twin is not float (red-hash risk): {bad}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0
    assert_partitioned_windows(df, name)
