#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload jobs_overhead --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It starts the engine in a child process
(``engine_run.py``) on ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``, over
the fixed tables in ``perfbench/data``; the seed only permutes query order.
Human-readable lines (every metric with its unit, ``failed_frac``, host
context) come first; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` entries of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` entries. The full
record of every run, spans included, is kept in ``.perfbench_work/runs``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# The engine hard-codes these scratch roots; clearing them makes every run
# start from the same disk state (stream stages, sink and upsert directories).
ENGINE_SCRATCH = ("/tmp/bigdatainfinance1_*", "/tmp/spark_graft_*")
DEADLINE_S = 170.0


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def clear_scratch() -> None:
    for pattern in ENGINE_SCRATCH:
        for path in glob.glob(pattern):
            shutil.rmtree(path, ignore_errors=True)


def reap_group(pgid: int) -> None:
    """Stop whatever the engine left in its process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def engine_env(run_dir: Path) -> dict[str, str]:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.pop("PYTHONOPTIMIZE", None)  # the oracle comparator checks with assert
    env.update(
        {
            # Python workers import the package from any working directory
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_LOCAL_DIRS": str(local),
            # a fixed heap cap in place of the session's 16g default
            "SPARK_DRIVER_MEMORY": "4g",
            "TMPDIR": str(tmp),
            # JVM temp files (streaming checkpoints) stay in the run dir
            "PYSPARK_SUBMIT_ARGS": "--conf "
            + shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            )
            + " pyspark-shell",
            # driver-side set/dict iteration order repeats between runs
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "bigdatainfinance1_spark" / "__init__.py").is_file():
        return fail(f"engine package not found under {ROOT}")
    if not (ROOT / "tests" / "conftest.py").is_file():
        return fail(f"oracle comparator tests/conftest.py not found under {ROOT}")
    if not spec_path.is_file():
        return fail(f"{spec_path} not found")
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return fail(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    run_dir = WORK / "current"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "cwd").mkdir(parents=True)
    out = run_dir / "record.json"
    clear_scratch()
    spawned_at = time.monotonic()
    cmd = [
        sys.executable,
        str(HERE / "engine_run.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--spawned-at={spawned_at}",
        f"--out={out}",
    ]
    with open(run_dir / "engine.log", "wb") as log:
        proc = subprocess.Popen(
            cmd,
            cwd=run_dir / "cwd",
            env=engine_env(run_dir),
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
            proc.wait()
    clear_scratch()
    if code != 0:
        tail = (run_dir / "engine.log").read_text(errors="replace")[-4000:]
        print(tail, file=sys.stderr)
        reason = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: engine run {reason}", file=sys.stderr)
        return 1

    record = json.loads(out.read_text())
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    shutil.copy(out, runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json")

    values = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            return fail(f"run produced no value for metric {m['name']!r}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    attempted, failed = record["attempted"], record["failed"]

    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:>14.6g} {m['unit']}")
    print(f"{'failed_frac':28s} {failed / attempted:>14.6g} ({failed}/{attempted} executions)")
    for name, reason in record["failures"].items():
        print(f"FAILED {name}: {reason}")
    for name, value in record["diagnostics"].items():
        if name not in metrics:
            print(f"{name:28s} {value:>14.6g} (diagnostic)")
    print("host " + json.dumps(record["host"], sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
