#!/usr/bin/env python
"""One-command handoff gate (round-5 verdict task 8).

Runs the three release gates that were previously three manual
invocations, and writes a single GATES.json artifact consumed by
BASELINE.md's gate tables:

1. full local suite at sf0.001   (python -m pytest tests/ -q)
2. full oracle sweep at sf0.01   (SPARK_GRAFT_TEST_SF_DIR=... pytest tests/test_oracle.py -q)
3. canonical bench at sf0.1      (python bench.py — median-of-5 headline)

Exit code 0 iff every gate is green. Usage:

    python run_gates.py             # all three (~25 min)
    python run_gates.py --no-bench  # correctness gates only
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
SUMMARY_RE = re.compile(
    r"(?:(?P<failed>\d+) failed)?(?:, )?(?P<passed>\d+) passed"
    r"(?:, (?P<skipped>\d+) skipped)?(?:, \d+ warnings?)?"
    r"(?: in (?P<secs>[\d.]+)s)?"
)


def _pytest_gate(args: list[str], env_extra: dict[str, str]) -> dict:
    env = {**os.environ, **env_extra}
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", *args, "-q"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = round(time.perf_counter() - t0, 1)
    tail = [line for line in proc.stdout.splitlines() if line.strip()][-1:]
    summary = tail[0] if tail else ""
    m = None
    for line in reversed(proc.stdout.splitlines()):
        m = SUMMARY_RE.search(line)
        if m and m.group("passed"):
            summary = line.strip()
            break
    res = {
        "passed": int(m.group("passed")) if m and m.group("passed") else 0,
        "failed": int(m.group("failed")) if m and m.group("failed") else 0,
        "skipped": int(m.group("skipped")) if m and m.group("skipped") else 0,
        "seconds": wall,
        "summary": summary,
        "green": proc.returncode == 0,
    }
    if not res["green"]:
        res["tail"] = proc.stdout.splitlines()[-30:]
    return res


def _bench_gate() -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    wall = round(time.perf_counter() - t0, 1)
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.strip().startswith("{")), None
    )
    res = {"seconds": wall, "green": proc.returncode == 0 and line is not None}
    if line:
        res["result"] = json.loads(line)
    if not res["green"]:
        res["tail"] = (proc.stdout + proc.stderr).splitlines()[-20:]
    return res


def main() -> None:
    gates: dict = {}
    print("gate 1/3: full suite at sf0.001 ...", flush=True)
    gates["pytest_sf0001"] = _pytest_gate(["tests/"], {})
    print(f"  {gates['pytest_sf0001']['summary']}", flush=True)
    print("gate 2/3: oracle sweep at sf0.01 ...", flush=True)
    gates["oracle_sf001"] = _pytest_gate(
        ["tests/test_oracle.py"],
        {"SPARK_GRAFT_TEST_SF_DIR": "/root/testdata/sf0.01"},
    )
    print(f"  {gates['oracle_sf001']['summary']}", flush=True)
    if "--no-bench" in sys.argv:
        gates["bench_sf01"] = {"skipped": True, "green": True}
    else:
        print("gate 3/3: canonical bench at sf0.1 ...", flush=True)
        gates["bench_sf01"] = _bench_gate()
        if gates["bench_sf01"].get("result"):
            r = gates["bench_sf01"]["result"]
            print(f"  {r.get('metric')}: {r.get('value')} {r.get('unit')}", flush=True)
    gates["green"] = all(g.get("green") for g in gates.values() if isinstance(g, dict))
    (REPO / "GATES.json").write_text(json.dumps(gates, indent=2, sort_keys=True))
    print(f"GATES.json written — {'GREEN' if gates['green'] else 'RED'}")
    sys.exit(0 if gates["green"] else 1)


if __name__ == "__main__":
    main()
