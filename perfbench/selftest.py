"""Benchmark self-test at tiny scale.

    python3 perfbench/selftest.py

Run from the root of a checkout. Each workload (``dashboard_rollup`` too,
which ``BENCHMARK.json`` leaves out) runs for a few seconds on the tiny
tables, once untimed (``--trace 0``) and once traced
(``--trace 1``). The test checks that the last line of output names every
metric of ``BENCHMARK.json`` with its unit, that no answer failed, and
that no process the run started (its Spark JVM, the subshells that
launch it) outlives it, not even as a zombie. Exits 0 when
every run passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORK, WORKLOADS  # noqa: E402

LOGS = os.path.join(WORK, "selftest")


def check(result: dict, expected: list[dict]) -> list[str]:
    problems = []
    if result.get("failed") != 0 or result.get("correct") is not True:
        problems.append(f"failed={result.get('failed')} correct={result.get('correct')}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append(f"attempted={result.get('attempted')}")
    metrics = result.get("metrics", {})
    for m in expected:
        got = metrics.get(m["name"])
        if got is None:
            problems.append(f"missing {m['name']}")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{m['name']}: {got}")
    extra = set(metrics) - {m["name"] for m in expected}
    if extra:
        problems.append(f"unexpected metrics {sorted(extra)}")
    return problems


def _pids() -> set[int]:
    return {int(n) for n in os.listdir("/proc") if n.isdigit()}


def leftovers(run_pid: int, before: set[int]) -> list[str]:
    """Processes that were started while the run went and are still
    there: any whose command line names the run's scratch directory
    (``.perfbench_work/run-<pid>``), as the Spark JVM's does, and any new
    one left to init or left a zombie (a subshell of ``spark-class``)."""
    mark = f"run-{run_pid}"
    found = []
    for pid in _pids() - before:
        try:
            with open(f"/proc/{pid}/cmdline") as fh:
                cmd = fh.read().replace("\0", " ")
            with open(f"/proc/{pid}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if mark in cmd or state in ("Z", "X") or ppid == "1":
            found.append(f"{pid} [{state}]: {cmd[:80]}")
    return found


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ok = True
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "3", "--seconds", "3", "--trace", str(trace),
                   "--scale", "tiny"]
            # output goes to files, not pipes: a JVM left running would
            # hold a pipe open and make the run look unfinished
            os.makedirs(LOGS, exist_ok=True)
            out_path = os.path.join(LOGS, f"{wl}-{trace}.out")
            err_path = os.path.join(LOGS, f"{wl}-{trace}.err")
            before = _pids()
            with open(out_path, "w") as out_f, open(err_path, "w") as err_f:
                proc = subprocess.Popen(cmd, stdout=out_f, stderr=err_f)
                proc.wait(timeout=600)
            left = leftovers(proc.pid, before)
            with open(out_path) as fh:
                out = fh.read()
            with open(err_path) as fh:
                err = fh.read()
            lines = out.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems = [f"exit {proc.returncode}: {err[-2000:]}"]
            else:
                expected = bench["per_layer" if trace else "end_to_end"]
                problems = check(json.loads(lines[-1]), expected)
            problems += [f"left running: {p}" for p in left]
            ok = ok and not problems
            print(f"{wl} trace={trace}: {'ok' if not problems else '; '.join(problems)}",
                  flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
