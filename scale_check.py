#!/usr/bin/env python
"""Scale-stress check: replicate the sf0.1 fact tables 10× (≈ sf1) into
/tmp and re-run every registered query, reporting the observed time-scaling factor per
query. This is the "would the plan survive a 10× scale-up?" experiment the
100 TB posture demands — run it after operator changes to catch designs
whose cost curve is worse than their semantics require.

Replication shifts primary keys by i*stride per copy (i = 0..9) so keys
stay unique; dimension tables are copied as-is, so FK joins land on the
same dims and per-group results grow ~10× rows per group. Quadratic
operators (all-pairs similarity) are expected to scale ~100× in work —
the report prints the factor so the reader sees which class each operator
falls in; the scale PATH for those is the LSH variant, not the all-pairs.

Each query is timed with bench.py's protocol: SPARK_GRAFT_BENCH_RUNS
(default 5) interleaved passes over the two tiers. A line reports each
tier's median and IQR, the ratio of the medians as the factor, and the
samples.

Usage: python scale_check.py [--rebuild] [q_name ...]   (one JSON line per
query; no names: every query, in registry order)
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from bench import dispersion, sample, warm_up
from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.session import get_spark
from bigdatainfinance1_spark.sources.catalog import TABLES, load_table, register_views

BASE_SF = "/root/testdata/sf0.1"
# SPARK_GRAFT_SCALE_COPIES=100 builds a ~sf10 stage (100x replication) for
# spot-stressing the flagship linear paths one decade further; default is
# the standard 10x (~sf1) sweep. Each copy count stages to its own dir.
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
# Outside the engine's /tmp/bigdatainfinance1_* names, which perfbench/run.py
# clears before every run.
STAGE = f"/tmp/scale_check_sfx{COPIES}"

# (table, columns to shift per copy) — keys shifted by i*stride stay unique
SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Tables sharing a key domain must shift by ONE stride or FK joins silently
# break after replication (e.g. a trailing order with no lineitems would give
# lineitem and orders different maxima). Keyed by domain name.
SHARED_DOMAINS = {"orderkey": ("lineitem", "orders")}


def build_stage(spark) -> None:
    os.makedirs(STAGE, exist_ok=True)
    # one stride per shared key domain: max over ALL tables in the domain
    domain_stride = {}
    for domain, tables in SHARED_DOMAINS.items():
        maxima = [
            load_table(spark, BASE_SF, t).agg(F.max(SHIFTS[t][0])).collect()[0][0]
            for t in tables
        ]
        domain_stride.update({t: max(maxima) + 1 for t in tables})
    for name in TABLES:
        out = f"{STAGE}/{name}.parquet"
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        df = load_table(spark, BASE_SF, name)
        if name in SHIFTS:
            stride = domain_stride.get(name) or (
                df.agg(F.max(SHIFTS[name][0])).collect()[0][0] + 1
            )
            copies = None
            for i in range(COPIES):
                c = df
                for col in SHIFTS[name]:
                    c = c.withColumn(col, F.col(col) + F.lit(i * stride))
                copies = c if copies is None else copies.unionByName(c)
            df = copies
        df.write.mode("overwrite").parquet(out)


def main() -> None:
    specs = load_all_queries()
    # optional positional args: run only the named queries, in the given
    # order — keeps incremental re-measurement cheap; a typo'd name errors
    # before the stage is built instead of silently shrinking the run
    picked = [a for a in sys.argv[1:] if not a.startswith("--")]
    unknown = [a for a in picked if a not in specs]
    if unknown:
        sys.exit(f"scale_check: unknown query name(s): {', '.join(unknown)}")
    spark = get_spark(app_name="bigdatainfinance1_spark-scale-check")
    if "--rebuild" in sys.argv:
        import shutil

        shutil.rmtree(STAGE, ignore_errors=True)
    build_stage(spark)
    # The stage's calls run on a session of their own: a session's views
    # read one sf_dir, so alternating the two on one session would register
    # all ten views again in every sql_query call. Both register before the
    # loop, so no timed call pays it.
    staged = spark.newSession()
    register_views(spark, BASE_SF)
    register_views(staged, STAGE)
    warm_up(spark, BASE_SF)

    tiers = {"sf0.1": (spark, BASE_SF), f"sf{COPIES / 10:g}": (staged, STAGE)}
    for name in picked or specs:
        samples = sample(
            spark, {tier: partial(specs[name].fn, *on) for tier, on in tiers.items()}
        )
        spread = {tier: dispersion(ts) for tier, ts in samples.items()}
        base, scaled = (spread[tier]["median"] for tier in tiers)
        record = {"query": name, "copies": COPIES}
        for tier, d in spread.items():
            record[f"{tier}_sec"] = d["median"]
            record[f"{tier}_iqr"] = d["iqr"]
        record["scaling_factor"] = round(scaled / base, 2)
        record["samples"] = samples
        print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
