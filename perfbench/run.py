"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload adhoc_sample --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine is driven in-process
through its HTTP layer (``create_app(engine).test_client()`` and
``POST /query``). Every answer is checked against DuckDB after the
timed phase. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("adhoc_sample", "dashboard_rollup", "ingest_refresh")
SETUP_REPS = 3
#: seed of the base tables. They are the same in every run, so the samples
#: the engine draws from them are too, and a run's accuracy moves with the
#: engine, not with the luck of one sample of one dataset. ``--seed`` draws
#: the request literals and the appended batches.
DATA_SEED = 0
UNITS = {
    "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "1/s",
    "rel_error_mean": "ratio", "ci_coverage": "ratio", "maintain_p50_ms": "ms",
    "setup_s": "s", "state_bytes_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work`` and size
    the session from the box: one local core per CPU, a heap well under
    the box's RAM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def cpu_canary() -> float:
    """A fixed pure-Python loop, timed: the box-noise canary (ms)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of ``pid`` from ``/proc``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1])


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (the Spark JVM and its workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parent[int(name)] = st[1]
    found: set[int] = set()
    frontier = {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def _alive(pid: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def stop_processes(pids: set[int], grace_s: float = 10.0) -> None:
    """SIGTERM ``pids``, SIGKILL what outlives ``grace_s``, and wait until
    every one has ended (a zombie has ended)."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        left = {p for p in pids if _alive(p)}
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and any(_alive(p) for p in left):
            for p in left:  # reap our own children
                try:
                    os.waitpid(p, os.WNOHANG)
                except OSError:
                    pass
            time.sleep(0.05)


def become_subreaper() -> None:
    """Have orphaned descendants reparent to this process instead of to
    init. ``spark-class`` forks a subshell and then ``exec``s into the
    JVM, which never reaps it; when the JVM exits, that subshell would be
    left to init as a zombie. As a subreaper, ``reap_children`` ends it."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_children(timeout_s: float = 30.0) -> None:
    """Kill what is left below this process and wait for every child,
    orphans reparented here included, until none is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            return
        for p in descendants(os.getpid()):
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(base, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def pct(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Bench:
    def __init__(self, args):
        self.args = args
        self.rng = random.Random(args.seed)
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = None
        #: one record per timed request
        self.records: list[dict] = []
        self.maintain_ms: list[float] = []
        #: data version -> parquet files of the (events or purchases) fact table
        self.versions: dict[int, list[str]] = {}
        self.version = 0
        self.req_id = 0
        self._lock = threading.Lock()

    # -- session, data and engine set-up --------------------------------
    def start(self):
        _configure_env(self.work)
        sys.path.insert(0, ROOT)
        import datagen
        from approximate_query_engine_spark import AQEngine, get_spark
        from approximate_query_engine_spark.api import create_app

        import truth
        import workloads

        self.AQEngine, self.create_app = AQEngine, create_app
        sizes = workloads.SIZES[self.args.scale]
        cache = os.path.join(WORK, "data")
        wl = self.args.workload
        self.dirs: dict[str, str] = {}
        if wl == "adhoc_sample":
            self.dirs["purchases"] = datagen.ensure_table(
                cache, "purchases", DATA_SEED, sizes["purchases"])
            fact = "purchases"
        else:
            n = sizes["events" if wl == "dashboard_rollup" else "ingest_events"]
            self.dirs["events"] = datagen.ensure_table(cache, "events", DATA_SEED, n)
            self.dirs["event_families"] = datagen.ensure_table(
                cache, "event_families", DATA_SEED, 8)
            fact = "events"
            if wl == "ingest_refresh":  # appends go to a private copy
                live = os.path.join(self.work, "events_live")
                shutil.copytree(self.dirs["events"], live)
                self.dirs["events"] = live
        self.fact = fact
        self.versions[0] = datagen.parquet_files(self.dirs[fact])
        self.base_bytes = sum(os.path.getsize(f) for f in self.versions[0])

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

        self.truth = truth.Truth(threads=os.cpu_count() or 4,
                                 temp_dir=os.path.join(self.work, "tmp"))
        self.truth.register(fact, self.versions[0])
        if "event_families" in self.dirs:
            self.truth.register("event_families",
                                datagen.parquet_files(self.dirs["event_families"]))

    def setup_engine(self):
        import workloads as W

        fn = {"adhoc_sample": W.setup_adhoc, "dashboard_rollup": W.setup_dashboard,
              "ingest_refresh": W.setup_ingest}[self.args.workload]
        self.setup_walls = []
        for rep in range(SETUP_REPS):
            wd = os.path.join(self.work, f"engine-{rep}")
            if self.tracer:
                self.tracer.phase = f"setup{rep}"
                self.tracer.active = True
            t0 = time.perf_counter()
            eng = self.AQEngine(self.spark, workdir=wd)
            fn(eng, self.spark, self.dirs)
            self.setup_walls.append(time.perf_counter() - t0)
            if self.tracer:
                self.tracer.active = False
            if rep < SETUP_REPS - 1:
                shutil.rmtree(wd, ignore_errors=True)
        self.eng, self.engine_dir = eng, wd
        self.client = self.create_app(eng).test_client()
        log(f"setup walls {[round(s, 3) for s in self.setup_walls]}")

    # -- one request -----------------------------------------------------
    def send(self, req: dict, client=None, due: float | None = None,
             timed: bool = True) -> dict:
        client = client or self.client
        with self._lock:
            self.req_id += 1
            rid = self.req_id
        traced = False
        span = None
        if self.tracer is not None:
            # alternate traced and untraced requests (overhead ratio)
            traced = rid % 2 == 0 and timed
            self.tracer.active = traced
            if traced:
                self.sc.setJobGroup(f"req-{rid}", req["template"])
                span = self.tracer.begin("api", req=rid)
        t0 = time.perf_counter()
        resp = client.post("/query", json={"sql": req["sql"], **req["body"]})
        t1 = time.perf_counter()
        if span is not None:
            self.tracer.end(span)
            self.tracer.active = False
        body = resp.get_json(silent=True) or {}
        rec = {
            "id": rid, "template": req["template"], "sql": req["sql"],
            "keys": req["keys"], "version": self.version,
            "ms": ((t1 - due) if due is not None else (t1 - t0)) * 1000.0,
            "http": resp.status_code, "status": body.get("status"),
            "plan": (body.get("plan") or {}).get("type"),
            "reason": (body.get("plan") or {}).get("reason", ""),
            "rows": body.get("result") or [], "traced": traced,
            "error": body.get("error"),
        }
        if traced:
            from tracing import spark_group_metrics

            rec["spark"] = spark_group_metrics(self.sc, f"req-{rid}")
        if timed:
            with self._lock:
                self.records.append(rec)
        return rec

    # -- workload drivers ------------------------------------------------
    def warm(self, reqs: list[dict]) -> None:
        for r in reqs:
            out = self.send(r, timed=False)
            if out["http"] != 200:
                log(f"warm-up {r['template']} failed: {out['error']}")

    def closed_loop(self, make, maintain_every: int = 0) -> float:
        """One client, back to back, for ``--seconds`` of requests. With
        ``maintain_every``, an idle ``maintain()`` pass follows every that
        many requests: its samples spread over the whole run as the
        requests' do, not bunched in one stretch of box noise. The passes
        extend the deadline and are left out of the returned wall."""
        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        maintain_s = 0.0
        i = 0
        while time.perf_counter() < deadline:
            self.send(make(self.rng, i))
            i += 1
            if maintain_every and i % maintain_every == 0:
                ms = self.maintain_pass(timed=True)
                maintain_s += ms / 1000.0
                deadline += ms / 1000.0
        return time.perf_counter() - t0 - maintain_s

    def open_loop(self, make, rate: float, senders: int) -> float:
        """Poisson arrivals at ``rate``; latency is timed from when each
        request was due."""
        schedule = []
        t = 0.0
        while True:
            t += self.rng.expovariate(rate)
            if t >= self.args.seconds:
                break
            schedule.append((t, make(self.rng, len(schedule))))
        start = time.perf_counter() + 0.05
        nxt = iter(schedule)
        lock = threading.Lock()

        def sender():
            client = self.create_app(self.eng).test_client()
            while True:
                with lock:
                    item = next(nxt, None)
                if item is None:
                    return
                due = start + item[0]
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.send(item[1], client=client, due=due)

        threads = [threading.Thread(target=sender) for _ in range(senders)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return max(time.perf_counter() - start, self.args.seconds)

    def ingest_loop(self, make) -> float:
        import workloads as W

        sizes = W.SIZES[self.args.scale]
        self.batch = max(sizes["ingest_events"] // 100, 10)
        self.next_id = sizes["ingest_events"] + 1
        self.rows = sizes["ingest_events"]
        # untimed steps first: the first maintain() passes run on a cold
        # JIT and would weigh more in a short run than in a long one
        for k in range(W.INGEST_WARM_STEPS):
            self.ingest_step(make, k * (W.INGEST_BURST + 1), timed=False)
        step = 0
        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        while time.perf_counter() < deadline or not self.maintain_ms:
            self.ingest_step(make, step * (W.INGEST_BURST + 1), timed=True)
            step += 1
        return time.perf_counter() - t0

    def ingest_step(self, make, i: int, timed: bool) -> None:
        """Append a batch, read once while the rollup is stale, maintain(),
        then a burst of reads; ``i`` is the index of the step's first
        request."""
        import datagen
        import workloads as W

        step = self.version + 1
        datagen.append_batch(self.dirs["events"], step, self.batch, self.next_id,
                             self.args.seed, late_rows=self.batch // 50)
        self.next_id += self.batch
        self.rows += self.batch
        # what an ingest client does after landing files: re-read the
        # directory and tell the engine the new row count
        self.spark.read.parquet(self.dirs["events"]).createOrReplaceTempView("events")
        self.eng.catalog.upsert_table_stats("events", self.rows)
        self.version = step
        self.versions[step] = datagen.parquet_files(self.dirs["events"])
        self.send(W.ingest_stale_request(self.rng, i), timed=timed)
        traced = self.tracer is not None and timed
        if traced:
            self.tracer.active = True
            self.tracer.phase = "maintain"
        m0 = time.perf_counter()
        self.eng.maintain(max_drift=0.05, refresh_stats=False)
        if timed:
            self.maintain_ms.append((time.perf_counter() - m0) * 1000.0)
        if traced:
            self.tracer.active = False
            self.tracer.phase = "timed"
        for k in range(W.INGEST_BURST):
            self.send(make(self.rng, i + 1 + k), timed=timed)

    def maintain_pass(self, timed: bool) -> float:
        """One ``maintain()`` pass over unchanged data (the freshness-check
        cost); returns its wall in ms, recorded when ``timed``."""
        traced = self.tracer is not None and timed
        if traced:
            phase, self.tracer.phase = self.tracer.phase, "maintain"
            self.tracer.active = True
        m0 = time.perf_counter()
        self.eng.maintain(max_drift=0.05)
        ms = (time.perf_counter() - m0) * 1000.0
        if traced:
            self.tracer.active = False
            self.tracer.phase = phase
        if timed:
            self.maintain_ms.append(ms)
        return ms

    def idle_maintenance(self, passes: int = 25, warm: int = 3) -> None:
        """dashboard_rollup: maintenance passes over unchanged data after
        the timed phase; the first ``warm`` passes are untimed."""
        for k in range(warm + passes):
            self.maintain_pass(timed=k >= warm)

    def run(self) -> float:
        import workloads as W

        wl = self.args.workload
        if self.tracer:
            self.tracer.phase = "warmup"
        if wl == "adhoc_sample":
            self.warm(W.adhoc_warmup())
            for _ in range(W.ADHOC_WARM_MAINTAIN):
                self.maintain_pass(timed=False)
            if self.tracer:
                self.tracer.phase = "timed"
            wall = self.closed_loop(W.adhoc_request, W.ADHOC_MAINTAIN_EVERY)
        elif wl == "dashboard_rollup":
            self.warm(W.dashboard_warmup())
            if self.tracer:
                self.tracer.phase = "timed"
            # one sender when traced: the tracer's on/off switch is global
            senders = 1 if self.tracer else min(W.DASHBOARD_SENDERS, os.cpu_count() or 1)
            wall = self.open_loop(W.dashboard_request, W.DASHBOARD_RATE, senders)
            self.idle_maintenance()
        else:
            self.warm(W.ingest_warmup())
            if self.tracer:
                self.tracer.phase = "timed"
            wall = self.ingest_loop(W.ingest_request)
        log(f"maintain walls ms {[round(m) for m in self.maintain_ms]}")
        lat = [round(r["ms"]) for r in self.records]
        log(f"request walls ms {lat}")
        return wall

    # -- checking ----------------------------------------------------------
    def check(self) -> dict:
        """Ground truth for every distinct (query text, data version),
        after the timed phase; returns the accuracy tallies."""
        from truth import check_answer

        #: template -> relative errors of its approximate answers
        errors: dict[str, list[float]] = {}
        ci_cells = ci_cov = failed = 0
        registered = 0
        by_version: dict[int, list[dict]] = {}
        for r in self.records:
            by_version.setdefault(r["version"], []).append(r)
        for v in sorted(by_version):
            if v != registered:
                self.truth.register(self.fact, self.versions[v])
                registered = v
            for r in by_version[v]:
                ok = r["http"] == 200 and r["status"] == "ok"
                if ok:
                    want = self.truth.rows(r["sql"], v)
                    chk = check_answer(r["plan"], r["rows"], want, tuple(r["keys"]))
                    ok = chk.ok
                    errors.setdefault(r["template"], []).extend(chk.errors)
                    ci_cells += chk.ci_cells
                    ci_cov += chk.ci_covered
                    if not ok:
                        r["error"] = chk.detail
                if not ok:
                    failed += 1
                    log(f"FAILED {r['template']} [{r['plan']}]: {r['error']}\n  {r['sql']}")
        mix: dict[str, int] = {}
        for r in self.records:
            key = f"{r['template']}:{r['plan']}"
            mix[key] = mix.get(key, 0) + 1
        log(f"plan mix {dict(sorted(mix.items()))}")
        log("rel error by template " + str({
            t: round(statistics.fmean(e), 4) for t, e in sorted(errors.items()) if e}))
        return {"failed": failed, "errors": errors, "ci_cells": ci_cells,
                "ci_covered": ci_cov}

    def end_to_end(self, wall: float, acc: dict) -> dict:
        lat = [r["ms"] for r in self.records]
        answered = sum(1 for r in self.records if r["http"] == 200)
        m = {
            "query_p50_ms": pct(lat, 0.5),
            "query_p90_ms": pct(lat, 0.9),
            "queries_per_s": answered / wall,
            # each template weighs the same, however many of its requests
            # fitted in the run
            "rel_error_mean": statistics.fmean(
                statistics.fmean(e) for e in acc["errors"].values() if e
            ) if any(acc["errors"].values()) else 0.0,
            "ci_coverage": acc["ci_covered"] / acc["ci_cells"] if acc["ci_cells"] else 0.0,
            "maintain_p50_ms": pct(self.maintain_ms, 0.5),
            "setup_s": statistics.median(self.setup_walls),
            "state_bytes_ratio": dir_bytes(self.engine_dir) / self.base_bytes,
        }
        above = sum(1 for x in lat if x > m["query_p90_ms"])
        if above < 10:
            log(f"only {above} samples above p90 ({len(lat)} requests)")
        return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}

    def close(self) -> None:
        """Stop DuckDB, Spark and the JVM gateway, then wait until every
        process this run started (the JVM, its Python workers) has ended:
        the JVM otherwise outlives ``spark.stop()`` until this process
        exits, and winds down after it."""
        started = descendants(os.getpid())
        try:
            self.truth.close()
        except Exception:  # noqa: BLE001 - best effort at exit
            pass
        gateway = None
        try:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gateway, "proc", None)
        try:
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                pass
        stop_processes(started | descendants(os.getpid()))
        reap_children()
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "approximate_query_engine_spark")):
        log("run from the root of a checkout: approximate_query_engine_spark/ not found")
        return 2
    sys.path.insert(0, HERE)
    become_subreaper()
    # a terminated run still goes through ``bench.close()``
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    canary_ms = cpu_canary()
    bench = Bench(args)
    try:
        phases: dict[str, float] = {}
        t0 = time.perf_counter()
        bench.start()
        if args.trace:
            from tracing import Tracer

            bench.tracer = Tracer()
            bench.tracer.install()
        phases["start"] = time.perf_counter() - t0
        bench.setup_engine()
        phases["setup"] = time.perf_counter() - t0 - sum(phases.values())
        wall = bench.run()
        phases["run"] = time.perf_counter() - t0 - sum(phases.values())
        acc = bench.check()
        phases["check"] = time.perf_counter() - t0 - sum(phases.values())
        attempted = len(bench.records)
        if args.trace:
            import layers

            metrics = layers.per_layer(bench)
        else:
            metrics = bench.end_to_end(wall, acc)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "cpu_canary_ms": round(canary_ms, 3),
                          "session_start_s": round(bench.session_s, 3),
                          "phases_s": {k: round(v, 2) for k, v in phases.items()},
                          "requests": attempted}))
        print(json.dumps({
            "correct": acc["failed"] == 0,
            "attempted": attempted,
            "failed": acc["failed"],
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        bench.close()


if __name__ == "__main__":
    sys.exit(main())
