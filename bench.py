#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Usage: python bench.py [q_name ...]   (no names: the HEADLINE set; with
names, only those, under the same protocol and with the same JSON keys —
the r1 fields then sum the named queries among the first 13)

Each query is forced end-to-end with a noop-format write (full materialization
on the executors, nothing shipped to Python), after an untimed warmup of the
session + catalog.

Protocol (round-3 verdict task 5, tightened round 7 per VERDICT r6 task 3):
each query runs SPARK_GRAFT_BENCH_RUNS times (default 5) and reports the
per-query MEDIAN — the host-VM noise band (19.3-24 s on the r1 subset) made
single-shot driver artifacts diverge from the canonical end-of-round number
by up to 15%, and BENCH_r06's 3-sample medians could not distinguish host
contention from regression (intra-query spreads up to 3.3x). All samples are
emitted under "samples", and per-query min/median/IQR under "dispersion", so
a contended reading is machine-visible: trust the median only where the IQR
is small relative to it; otherwise read the min as the uncontended floor.
The harness also quiesces (gc + settle) before the first timed pass so a
preceding oracle sweep's memory pressure is not billed to the first query.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time
from functools import partial
from pathlib import Path
from typing import Callable

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame

from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.session import get_spark

# The 13 queries benched since round 1 — reported separately as
# r1_headline_seconds so round-over-round totals stay comparable after the
# round-3 set expansion.
R1_HEADLINE_N = 13

HEADLINE = [
    "q_pricing_summary",
    "q_star_join",
    "q_sessionization",
    "q_range_window_events",
    "q_running_total",
    "q_exact_dedup",
    "q_jaccard_neardup",
    "q_tfidf_top",
    "q_cosine_topk",
    "q_embedding_neardup",
    "q_top_terms",
    "q_stream_tumbling",
    "q_curation_pipeline",
    # Round-3 additions (VERDICT r2 task 5): the actual heaviest registered
    # queries, promoted from BASELINE.md prose so regressions are
    # machine-visible in BENCH_r{N}.json.
    "q_user_cf_neighbors",
    "q_minhash_lsh",
    "q_minhash_lsh_fast",
    "q_simhash",
    "q_fifo_allocation",
    "q_interval_overlap_bucketed",
    "q_triangle_count",
    "q_tpch_q5",
    "q_tpch_q18",
    # Round-3 continuation: the heaviest new operators (distributed BPE
    # merge training; SemDeDup's Lloyd + cluster-bounded pair join)
    "q_bpe_train",
    "q_semdedup",
    # Round-4 heavy additions: lossless prefix-filter similarity join,
    # the IVF nprobe recall/cost sweep (4 probe joins + exact ground
    # truth), and the amortization schedule (added as a 12-step recursive
    # CTE; its Spark side is now a closed-form projection)
    "q_prefix_filter_join",
    "q_ann_nprobe_sweep",
    "q_amortization_schedule",
    # Round-4 continuation heavies: the entity-resolution composite
    # (blocked levenshtein + iterative CC) and the winnowing fingerprint
    # pass (gram explode + per-doc window min + df-capped partner join)
    "q_entity_resolution",
    # Round-4 closing heavies: item-CF list-metrics (co-purchase model +
    # basket scoring join) and grid DBSCAN (cell census + pointer-jumping
    # connected components)
    "q_recsys_list_metrics",
    "q_grid_dbscan",
    "q_winnowing_fingerprint",
]


def materialize(df) -> None:
    """Force full execution without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def quiesce(spark) -> None:
    """Untimed inter-query hygiene: drop Python refs so the ContextCleaner
    reclaims the localCheckpoint blocks and shuffle files the previous query
    left, and nudge the JVM to run the cleanup. Without it a query measures
    its predecessor's memory pressure (q_minhash_lsh 56 s in-suite vs 11 s
    alone), and at 100x can fail its broadcast build on storage that is
    about to be freed (q_minhash_lsh_fast, green alone)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def warm_up(spark, sf_dir: str) -> None:
    """Untimed warmup: JVM + catalog + one tiny action, then quiesce so any
    preceding process activity (such as an oracle sweep run just before)
    settles before the first timed pass."""
    load_all_queries()["q_pricing_summary"].fn(spark, sf_dir).limit(1).collect()
    quiesce(spark)
    time.sleep(float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", "3")))


def sample(spark, calls: dict[str, Callable[[], DataFrame]]) -> dict[str, list[float]]:
    """Time every call once per pass, SPARK_GRAFT_BENCH_RUNS (default 5)
    interleaved passes: each sample builds the call's DataFrame and
    materializes it, and the session is quiesced after every sample."""
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    samples: dict[str, list[float]] = {key: [] for key in calls}
    for _ in range(runs):
        for key, call in calls.items():
            t0 = time.perf_counter()
            materialize(call())
            samples[key].append(round(time.perf_counter() - t0, 3))
            quiesce(spark)
    return samples


def quantile(sorted_ts: list[float], q: float) -> float:
    # linear interpolation (numpy default) over the sorted samples
    idx = q * (len(sorted_ts) - 1)
    lo, hi = int(idx), min(int(idx) + 1, len(sorted_ts) - 1)
    return sorted_ts[lo] + (sorted_ts[hi] - sorted_ts[lo]) * (idx - lo)


def dispersion(ts: list[float]) -> dict[str, float]:
    """min, median and interquartile range of one call's samples."""
    s = sorted(ts)
    return {
        "min": s[0],
        "median": round(quantile(s, 0.5), 3),
        "iqr": round(quantile(s, 0.75) - quantile(s, 0.25), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # a directory named sf<number> records that scale factor, any other -1.0
    m = re.search(r"sf(\d+(?:\.\d+)?)$", sf_dir.rstrip("/"))
    sf = float(m.group(1)) if m else -1.0
    specs = load_all_queries()
    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"bench: unknown query name(s): {', '.join(unknown)}")
    r1_names = [n for n in names if n in HEADLINE[:R1_HEADLINE_N]]
    spark = get_spark(app_name="bigdatainfinance1_spark-bench")
    warm_up(spark, sf_dir)
    samples = sample(
        spark, {name: partial(specs[name].fn, spark, sf_dir) for name in names}
    )
    runs = len(samples[names[0]])
    spread = {name: dispersion(ts) for name, ts in samples.items()}
    timings = {name: d["median"] for name, d in spread.items()}
    total = round(sum(timings.values()), 3)
    r1_total = round(sum(timings[n] for n in r1_names), 3)
    # Contention forensics: host load arrives in WAVES that inflate whole
    # interleaved passes (observed r6/r7: alternate passes 2x slower with
    # zero code change). Per-pass totals make a wave machine-visible, and
    # the min-floor aggregates are the uncontended readings to compare
    # round-over-round when the pass totals disagree by >1.5x.
    pass_totals = [
        round(sum(samples[n][r] for n in names), 3) for r in range(runs)
    ]
    total_min = round(sum(d["min"] for d in spread.values()), 3)
    r1_total_min = round(sum(spread[n]["min"] for n in r1_names), 3)
    payload = json.dumps(
        {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "samples": samples,
            "dispersion": spread,
            "runs_per_query": runs,
            "aggregation": "median",
            "sf": sf,
            "n_queries_registered": len(specs),
            "r1_headline_seconds": r1_total,
            "pass_totals": pass_totals,
            "suite_seconds_min_floor": total_min,
            "r1_headline_seconds_min_floor": r1_total_min,
            "note": f"headline set is {len(HEADLINE)} queries (13 until round 3, expanded since); "
            "compare r1_headline_seconds against the 19.3 s round-1 baseline, "
            "per-query rows in BASELINE.md for the rest; per-query values are "
            "medians over runs_per_query interleaved passes",
        }
    )
    # Round-over-round contract hardening (VERDICT r8 task 2): BENCH_r07 was
    # lost to stdout parsing (`parsed: null`) because nothing guaranteed the
    # one JSON line was the LAST stdout line if a JVM message interleaved.
    # (a) persist the identical payload to bench_out.json next to this file,
    # (b) stop the Spark session and flush both streams BEFORE printing, so
    # the JSON is emitted after every JVM stdout writer is gone.
    Path(__file__).resolve().parent.joinpath("bench_out.json").write_text(
        payload + "\n"
    )
    spark.stop()
    sys.stderr.flush()
    sys.stdout.flush()
    print(payload)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
