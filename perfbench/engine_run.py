"""Engine-side half of the benchmark: one closed-loop client in one process.

``run.py`` starts this module in a fresh interpreter with the environment
already prepared (``PYTHONPATH``, ``SPARK_GRAFT_CPUS``, scratch dirs) and
reads back the JSON record it writes to ``--out``. Everything here times
calls into the engine's public functions from the outside:

- setup: ``session.get_spark``, ``registry.load_all_queries`` and
  ``sources.catalog.register_views``;
- passes: every query of the workload once, in a seed-permuted order. Each
  query is built (the query-function call) and then forced with a noop write;
  an untimed gc/quiesce step runs between queries.

The first pass is the cold pass. It collects every result instead of the
noop write, and the results are compared with their DuckDB oracles after the
pass, outside all timing. Timed passes follow until ``--seconds`` is spent.

With ``--trace 1`` an unused warm pass comes first, then the passes alternate
untraced and traced. A traced pass records spans (run > setup/pass > query >
build/exec, with ``sources.load_table`` spans under build) and, between
queries, reads job, stage and SQL-metric deltas from Spark's own status
stores.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import re
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

from workloads import DATA_DIR, WORKLOADS

MB = 1024.0 * 1024.0
CLK_TCK = os.sysconf("SC_CLK_TCK")
# No timed pass may start if it would end later than this after spawn,
# which leaves room for teardown inside run.py's deadline.
TIMED_DEADLINE_S = 140.0

# SQL metrics read from the SQL status store, by their display names.
SCAN_BYTES = "size of files read"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_TOTAL = "time to run Python workers"
SQL_METRICS = (SCAN_BYTES, PY_SENT, PY_RECV, PY_BOOT, PY_TOTAL)


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: (name, start, end, parent index), monotonic s."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False

    def start(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.monotonic(), "end": None, "parent": parent})
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> float:
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx]['name']} closed out of order")
        span = self.spans[idx]
        span["end"] = time.monotonic()
        return span["end"] - span["start"]

    @contextmanager
    def span(self, name: str, on: bool = True):
        """Record a span around the block when ``on``; yields its index."""
        if not on:
            yield None
            return
        idx = self.start(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_time(self, idx: int) -> float:
        span = self.spans[idx]
        covered = sum(c["end"] - c["start"] for c in self.children(idx))
        return (span["end"] - span["start"]) - covered


def install_load_table_probe(tracer: Tracer, job_counter) -> dict:
    """Wrap ``catalog.load_table`` before any operator module imports it.

    Operators bind ``load_table`` by name at import time, so the wrapper must
    replace both the catalog attribute and the ``sources`` package re-export
    before ``load_all_queries()`` runs. Inside a traced pass every call gets
    a ``sources.load_table`` span; the jobs it ran are counted by job id.
    """
    import bigdatainfinance1_spark.sources as sources_pkg
    from bigdatainfinance1_spark.sources import catalog

    original = catalog.load_table
    stats = {"calls": 0, "jobs": 0}

    def load_table(spark, sf_dir, name):
        if not tracer.active:
            return original(spark, sf_dir, name)
        idx = tracer.start("sources.load_table")
        j0 = job_counter()
        try:
            return original(spark, sf_dir, name)
        finally:
            tracer.end(idx)
            stats["calls"] += 1
            stats["jobs"] += job_counter() - j0

    catalog.load_table = load_table
    sources_pkg.load_table = load_table
    return stats


# ---------------------------------------------------------------- host probes


def proc_table() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, cpu seconds)} for every process; cpu counts user+sys of
    the process and of its reaped children."""
    table: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we scanned
        fields = stat[stat.rfind(")") + 2 :].split()
        table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / CLK_TCK)
    return table


def proc_tree(root_pid: int) -> tuple[list[int], float]:
    """Pids of ``root_pid`` and all its descendants, and their CPU seconds."""
    table = proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table:
            pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids, sum(table[p][1] for p in pids)


def tree_cpu_s() -> float:
    return proc_tree(os.getpid())[1]


def vm_hwm_mb(pids: list[int]) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return total


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # guest time is already counted inside user/nice
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# ---------------------------------------------------------------- Spark stores


def parse_metric_value(text: str) -> float:
    """Total of a SQL metric as the SQL status store formats it.

    Formats: "1,234" (sum), "12.3 KiB" (size), "85 ms" / "1.2 s" (timing),
    each optionally as "total (min, med, max ...)\\n<total> (...)".
    Sizes are returned in bytes, timings in seconds.
    """
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    sizes = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
    times = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    if unit in sizes:
        return value * sizes[unit]
    if unit in times:
        return value * times[unit]
    return value


class SparkStores:
    """Reads jobs, stages and SQL executions newer than a mark.

    The status stores are serialized to JSON inside the JVM with Jackson (as
    Spark's REST API does), so one py4j call returns a whole list.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._jvm = jvm
        self._gw = sc._gateway
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = self._jsc.dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def next_stage_id(self) -> int:
        return int(self._dag.nextStageId())

    def wait_idle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_since(self, first_id: int) -> list[dict]:
        jobs = self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))
        return [j for j in jobs if j["jobId"] >= first_id]

    def stages_since(self, first_id: int) -> list[dict]:
        stages = self._json(
            self._store.stageList(
                self._jvm.java.util.ArrayList(),
                False,
                False,
                self._gw.new_array(self._jvm.double, 0),
                self._jvm.java.util.ArrayList(),
            )
        )
        return [s for s in stages if s["stageId"] >= first_id]

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._json(self._sql.executionsList(n - 1, 1))[0]["executionId"]

    def sql_metrics_since(self, first_id: int) -> dict[str, float]:
        totals = dict.fromkeys(SQL_METRICS, 0.0)
        n = self._sql.executionsCount()
        # executions are listed in id order; read back until the mark
        chunk, offset, found = 64, n, []
        while offset > 0:
            offset = max(0, offset - chunk)
            batch = self._json(self._sql.executionsList(offset, chunk))
            found.extend(e for e in batch if e["executionId"] >= first_id)
            if batch and batch[0]["executionId"] < first_id:
                break
        for ex in found:
            values = ex.get("metricValues") or {}
            for metric in ex.get("metrics", ()):
                if metric["name"] in totals:
                    text = values.get(str(metric["accumulatorId"]))
                    if text:
                        totals[metric["name"]] += parse_metric_value(text)
        return totals


# ---------------------------------------------------------------- oracle check


def check_results(results: dict, specs: dict) -> dict[str, str]:
    """Compare collected Spark results with their DuckDB oracles.

    Uses the tier-1 comparator from ``tests/conftest.py``. Returns
    {query: reason} for every mismatch.
    """
    import duckdb

    from bigdatainfinance1_spark.sources.catalog import TABLES
    from tests.conftest import assert_frames_match

    failures: dict[str, str] = {}
    con = duckdb.connect()
    try:
        for table in TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{DATA_DIR}/{table}.parquet')"
            )
        for name, pdf in results.items():
            try:
                duck = con.execute(specs[name].oracle).df()
                if len(duck) == 0:
                    raise AssertionError(f"{name}: oracle returned 0 rows")
                assert_frames_match(pdf, duck, name)
            except AssertionError as exc:
                failures[name] = str(exc)[:500]
    finally:
        con.close()
    return failures


# ---------------------------------------------------------------- the run


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.queries = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.run_span = self.tracer.start("run")
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.passes: list[dict] = []

    # -- setup

    def setup(self, spawned_at: float) -> None:
        tracer = self.tracer
        tracer.active = True  # setup spans are cheap; always kept
        setup_span = tracer.start("setup")
        idx = tracer.start("session")
        from bigdatainfinance1_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.session_s = tracer.end(idx)
        self.stores = SparkStores(self.spark) if self.args.trace else None
        if self.args.trace:
            self.load_stats = install_load_table_probe(tracer, self.stores.next_job_id)
        idx = tracer.start("registry")
        from bigdatainfinance1_spark.registry import load_all_queries

        self.specs = load_all_queries()
        self.registry_s = tracer.end(idx)
        idx = tracer.start("sources")
        from bigdatainfinance1_spark.sources.catalog import register_views

        register_views(self.spark, DATA_DIR)
        self.views_s = tracer.end(idx)
        tracer.end(setup_span)
        self.setup_s = time.monotonic() - spawned_at
        tracer.active = False
        self.jvm = self.spark.sparkContext._jvm
        # post-GC usage per heap pool: live data only, without the eden
        # regions other threads start filling right after the collection
        self.heap_pools = [
            pool
            for pool in self.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if pool.getType().name() == "HEAP" and pool.getCollectionUsage() is not None
        ]
        unchecked = [q for q in self.queries if q not in self.specs or self.specs[q].oracle is None]
        if unchecked:
            raise SystemExit(f"queries not registered or without a DuckDB oracle: {unchecked}")

    # -- one query

    def quiesce(self) -> float:
        """Untimed hygiene between queries; returns JVM heap used after GC."""
        gc.collect()
        self.jvm.System.gc()
        return sum(pool.getCollectionUsage().getUsed() for pool in self.heap_pools) / MB

    def run_query(self, name: str, collect: bool, traced: bool) -> dict:
        spec = self.specs[name]
        rec: dict = {"query": name, "ok": True}
        stores = self.stores if traced else None
        tracer = self.tracer
        if stores:
            marks = (stores.next_job_id(), stores.next_stage_id(), stores.last_execution_id() + 1)
            calls0, jobs0 = self.load_stats["calls"], self.load_stats["jobs"]
        cpu0 = tree_cpu_s()
        t0 = t1 = time.perf_counter()
        try:
            with tracer.span("query", traced):
                with tracer.span("operators.build", traced) as build:
                    df = spec.fn(self.spark, DATA_DIR)
                t1 = time.perf_counter()
                build_end_job = stores.next_job_id() if stores else 0
                with tracer.span("exec.run", traced):
                    if collect:
                        rec["result"] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failing query is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.failed += 1
            self.failures.setdefault(name, rec["error"])
        t2 = time.perf_counter()
        rec["wall_s"] = t2 - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        self.attempted += 1
        if stores and rec["ok"]:
            rec["build_self_s"] = tracer.self_time(build)
            rec["exec_s"] = t2 - t1
            rec["load_s"] = sum(c["end"] - c["start"] for c in tracer.children(build))
            rec["load_calls"] = self.load_stats["calls"] - calls0
            rec["load_jobs"] = self.load_stats["jobs"] - jobs0
            rec.update(self.layer_counts(marks, build_end_job))
        return rec

    def layer_counts(self, marks, build_end_job: int) -> dict:
        """Job/stage/SQL deltas of one query, all job groups included."""
        stores = self.stores
        stores.wait_idle()
        job0, stage0, exec0 = marks
        jobs = stores.jobs_since(job0)
        stages = [s for s in stores.stages_since(stage0) if s["status"] != "SKIPPED"]
        sql = stores.sql_metrics_since(exec0)
        input_b = sum(s["inputBytes"] for s in stages)
        return {
            "jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if j["jobId"] < build_end_job),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
            "scan_mb": sql[SCAN_BYTES] / MB,
            "ckpt_read_mb": max(0.0, input_b - sql[SCAN_BYTES]) / MB,
            "output_mb": sum(s["outputBytes"] for s in stages) / MB,
            "python_s": sql[PY_TOTAL],
            "arrow_sent_mb": sql[PY_SENT] / MB,
            "arrow_recv_mb": sql[PY_RECV] / MB,
        }

    # -- passes

    def run_pass(self, kind: str) -> dict:
        """kind: "cold" (collects results), "warm", "timed" or "traced"."""
        traced = kind == "traced"
        order = self.rng.sample(self.queries, len(self.queries))
        listener = None
        if traced:
            self.tracer.active = True
            p_span = self.tracer.start("pass")
            listener = self.add_stream_listener()
        records = []
        steal0 = cpu_times()
        started = time.monotonic()
        for name in order:
            rec = self.run_query(name, collect=kind == "cold", traced=traced)
            rec["heap_after_gc_mb"] = self.quiesce()
            records.append(rec)
        if traced:
            self.stores.wait_idle()
            self.spark.streams.removeListener(listener)
            self.tracer.end(p_span)
            self.tracer.active = False
        rec = {
            "kind": kind,
            "order": order,
            "wall_s": sum(r["wall_s"] for r in records),
            "elapsed_s": time.monotonic() - started,
            "steal_frac": steal_frac(steal0, cpu_times()),
            "cpu_s": sum(r["cpu_s"] for r in records),
            "queries": records,
        }
        if listener is not None:
            rec["stream_batches"] = listener.batches
            rec["stream_batch_s"] = listener.batch_ms / 1e3
        self.passes.append(rec)
        return rec

    def add_stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        class BatchCounter(StreamingQueryListener):
            def __init__(self) -> None:
                self.batches = 0
                self.batch_ms = 0

            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                self.batches += 1
                self.batch_ms += event.progress.batchDuration

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        listener = BatchCounter()
        self.spark.streams.addListener(listener)
        return listener

    def main(self, spawned_at: float) -> dict:
        steal0 = cpu_times()
        self.setup(spawned_at)
        cold = self.run_pass("cold")
        results = {r["query"]: r.pop("result") for r in cold["queries"] if r["ok"]}
        mismatches = check_results(results, self.specs)
        self.failed += len(mismatches)
        self.failures.update(mismatches)
        del results
        timed_start = time.monotonic()
        # Traced runs add an unused warm pass, then go untraced, traced,
        # traced, untraced (and repeat), so the still-falling pass times
        # cancel out of trace.overhead_frac.
        if self.args.trace:
            warm, cycle = 1, ["timed", "traced", "traced", "timed"]
        else:
            warm, cycle = 0, ["timed", "timed"]
        deadline = spawned_at + TIMED_DEADLINE_S
        n = 0
        while True:
            t = time.monotonic()
            self.run_pass("warm" if n < warm else cycle[(n - warm) % len(cycle)])
            n += 1
            # after the minimum, stop before a pass that would end past
            # --seconds or the deadline
            now = time.monotonic()
            if n >= warm + len(cycle) and (
                now - timed_start + (now - t) > self.args.seconds or now + (now - t) > deadline
            ):
                break
        steal1 = cpu_times()
        self.tracer.end(self.run_span)
        return self.summary(cold, steal0, steal1)

    # -- summary

    def summary(self, cold, steal0, steal1) -> dict:
        timed = [p for p in self.passes if p["kind"] == "timed"]
        traced = [p for p in self.passes if p["kind"] == "traced"]
        per_query = {
            q: statistics.median(r["wall_s"] for p in timed for r in p["queries"] if r["query"] == q)
            for q in self.queries
        }
        pass_s = statistics.median(p["wall_s"] for p in timed)
        # Upper quartile, not max, of the post-GC readings: Arrow UDF queries
        # leave ~32 MB of buffers reachable until a later query releases
        # them, so the max flips with the seed's query order.
        heap = [r["heap_after_gc_mb"] for p in timed for r in p["queries"]]
        end_to_end = {
            "pass_s": pass_s,
            "query_gmean_s": math.exp(statistics.fmean(math.log(t) for t in per_query.values())),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "heap_peak_mb": statistics.quantiles(heap, n=4)[2],
            "setup_s": self.setup_s,
        }
        sc = self.spark.sparkContext
        diagnostics = {
            "cold_pass_s": cold["wall_s"],
            "heap_max_mb": max(heap),
            "rss_hwm_mb": vm_hwm_mb(proc_tree(os.getpid())[0]),
            "host.steal_frac": steal_frac(steal0, steal1),
        }
        host = {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "seed": self.args.seed,
            "loadavg": list(os.getloadavg()),
            "data_dir": os.path.relpath(DATA_DIR, Path(__file__).resolve().parents[1]),
        }
        out = {
            "workload": self.args.workload,
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
            "end_to_end": end_to_end,
            "diagnostics": diagnostics,
            "host": host,
            "per_query_median_s": per_query,
            "passes": self.passes,
        }
        if traced:
            out["per_layer"] = self.per_layer(traced, pass_s) | diagnostics
            out["spans"] = self.tracer.spans
        return out

    def per_layer(self, traced: list[dict], untraced_pass_s: float) -> dict:
        def per_pass(key: str) -> float:
            return statistics.median(sum(r.get(key, 0) for r in p["queries"]) for p in traced)

        traced_pass_s = statistics.median(p["wall_s"] for p in traced)
        layer = {
            "session.start_s": self.session_s,
            "registry.load_s": self.registry_s,
            "sources.views_s": self.views_s,
            "sources.load_s": per_pass("load_s"),
            "sources.calls": per_pass("load_calls"),
            "sources.jobs": per_pass("load_jobs"),
            "operators.build_s": per_pass("build_self_s"),
            "operators.build_jobs": per_pass("build_jobs"),
            "exec.run_s": per_pass("exec_s"),
            "exec.jobs": per_pass("jobs"),
            "exec.stages": per_pass("stages"),
            "exec.tasks": per_pass("tasks"),
        }
        for key in (
            "executor_run_s",
            "executor_cpu_s",
            "jvm_gc_s",
            "shuffle_read_mb",
            "shuffle_write_mb",
            "spill_mb",
            "scan_mb",
            "ckpt_read_mb",
            "output_mb",
        ):
            layer[f"exec.{key}"] = per_pass(key)
        for key in ("python_s", "arrow_sent_mb", "arrow_recv_mb"):
            layer[f"udf.{key}"] = per_pass(key)
        # workers are started once, in the cold pass, and reused afterwards
        layer["udf.python_boot_s"] = self.stores.sql_metrics_since(0)[PY_BOOT]
        layer["streaming.batches"] = statistics.median(p["stream_batches"] for p in traced)
        layer["streaming.batch_s"] = statistics.median(p["stream_batch_s"] for p in traced)
        layer["trace.overhead_frac"] = traced_pass_s / untraced_pass_s - 1.0
        return layer

    def stop(self) -> None:
        """Stop Spark and wait for the JVM the session launched."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        record = run.main(args.spawned_at)
    finally:
        if hasattr(run, "spark"):
            run.stop()
    Path(args.out).write_text(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
