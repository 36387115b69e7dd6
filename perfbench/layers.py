"""Per-layer metrics of a traced run, computed from the recorded spans,
the per-request Spark job-group metrics and the engine's workdir.

Every name in ``NAMES`` is printed for every workload; a layer that does
not run in a workload reports 0. Span files and each template's
executed Spark plan are written under ``.perfbench_work/trace/``.
"""

from __future__ import annotations

import os
import statistics

from tracing import self_ms

PLAN_TYPES = ("sample", "stratified", "sketch", "exact", "rollup")
MAINT_KINDS = ("rollup", "sample", "sketch", "analyze_stats", "partitioned_layout")
ARTIFACTS = ("samples", "sketches", "rollups", "layouts", "catalog")

NAMES = (
    [("api.self_ms_p50", "ms"), ("engine.self_ms_p50", "ms"),
     ("sqlparser.calls_per_query", "count"), ("sqlparser.ms_per_query", "ms"),
     ("planner.ms_p50", "ms"), ("planner.approx_share", "ratio")]
    + [(f"planner.plan_mix.{t}", "ratio") for t in PLAN_TYPES]
    + [("optimizer.ms_p50", "ms"), ("executor.dual_ms_p50", "ms")]
    + [(f"executor.{t}_ms_p50", "ms") for t in PLAN_TYPES]
    + [("spark.jobs_per_query", "count"), ("spark.tasks_per_query", "count"),
       ("spark.input_bytes_per_query", "bytes"), ("spark.shuffle_bytes_per_query", "bytes"),
       ("spark.executor_run_ms_per_query", "ms"),
       ("rollup.hit_share", "ratio"), ("partitioning.routed_share", "ratio"),
       ("maintenance.ms", "ms")]
    + [(f"maintenance.actions.{k}", "count") for k in MAINT_KINDS]
    + [("rollup.refresh_ms", "ms"), ("sampler.refresh_ms", "ms"),
       ("sampler.build_ms", "ms"), ("sketches.build_ms", "ms"), ("rollup.build_ms", "ms"),
       ("catalog.save_calls_per_query", "count"), ("catalog.save_ms", "ms")]
    + [(f"state.bytes.{a}", "bytes") for a in ARTIFACTS]
    + [("jvm.peak_rss_mb", "MB"), ("trace.overhead_ratio", "ratio")]
)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _plan_kind(rec: dict) -> str:
    """The record's plan type, with rollup-served answers split out."""
    if "rollup" in (rec.get("reason") or "") and rec.get("plan") in ("exact", "sketch"):
        return "rollup"
    return rec.get("plan") or "error"


def _artifact(name: str) -> str:
    n = name.lower()
    for key, art in (("sample", "samples"), ("strat", "samples"), ("sketch", "sketches"),
                     ("rollup", "rollups"), ("by_", "layouts"), ("partition", "layouts")):
        if key in n:
            return art
    return "catalog"


def state_bytes(engine_dir: str) -> dict[str, int]:
    out = dict.fromkeys(ARTIFACTS, 0)
    if not os.path.isdir(engine_dir):
        return out
    for entry in os.listdir(engine_dir):
        full = os.path.join(engine_dir, entry)
        size = 0
        for base, _, files in os.walk(full) if os.path.isdir(full) else [("", [], [full])]:
            for f in files:
                size += os.path.getsize(os.path.join(base, f))
        out[_artifact(entry)] += size
    return out


def jvm_peak_rss_mb(spark) -> float:
    try:
        pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except Exception:  # noqa: BLE001 - not on Linux, or the JVM is gone
        pass
    return 0.0


def dump_plans(bench) -> None:
    """Each template's executed Spark plan, for diffing across changes."""
    seen = {}
    for r in bench.records:
        seen.setdefault(r["template"], r)
    out = os.path.join(os.path.dirname(bench.work), "trace",
                       f"{bench.args.workload}-s{bench.args.seed}-plans.txt")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        for name in sorted(seen):
            r = seen[name]
            resp = bench.client.post("/query", json={"sql": r["sql"], "explain": True,
                                                     "max_rel_error": 0.05})
            body = resp.get_json(silent=True) or {}
            fh.write(f"=== {name} [{(body.get('plan') or {}).get('type')}]\n{r['sql']}\n")
            fh.write(f"{body.get('spark_plan') or body.get('error')}\n\n")


def per_layer(bench) -> dict:
    tr = bench.tracer
    spans = tr.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_id = {s.sid: s for s in spans}
    timed = [s for s in spans if s.phase == "timed"]
    reqs = [r for r in bench.records if r["traced"]]
    n = max(len(reqs), 1)

    def of(layer, phase_spans=timed):
        return [s for s in phase_spans if s.layer == layer]

    def top_level(layer):
        # outermost spans of a layer (parse may call itself via try_parse)
        return [s for s in of(layer)
                if s.parent is None or by_id.get(s.parent) is None
                or by_id[s.parent].layer != layer]

    m: dict[str, float] = {}
    m["api.self_ms_p50"] = _p50([self_ms(s, children.get(s.sid, [])) for s in of("api")])
    m["engine.self_ms_p50"] = _p50([
        s.ms - sum(c.ms for c in children.get(s.sid, [])
                   if c.layer in ("planner", "optimizer", "executor", "executor.dual"))
        for s in of("engine")])
    parse = top_level("sqlparser")
    m["sqlparser.calls_per_query"] = len(parse) / n
    m["sqlparser.ms_per_query"] = sum(s.ms for s in parse) / n
    planner = of("planner")
    m["planner.ms_p50"] = _p50([s.ms for s in planner])
    m["planner.approx_share"] = (sum(1 for s in planner if s.info != "exact") / len(planner)
                                 if planner else 0.0)
    kinds = [_plan_kind(r) for r in reqs]
    for t in PLAN_TYPES:
        m[f"planner.plan_mix.{t}"] = kinds.count(t) / n
    m["optimizer.ms_p50"] = _p50([s.ms for s in of("optimizer")])
    m["executor.dual_ms_p50"] = _p50([s.ms for s in of("executor.dual")])
    exec_by_req: dict[int, float] = {}
    for s in of("executor"):
        exec_by_req[s.req] = exec_by_req.get(s.req, 0.0) + s.ms
    for t in PLAN_TYPES:
        m[f"executor.{t}_ms_p50"] = _p50([exec_by_req[r["id"]] for r in reqs
                                          if _plan_kind(r) == t and r["id"] in exec_by_req])
    for key in ("jobs", "tasks", "input_bytes", "shuffle_bytes", "executor_run_ms"):
        m[f"spark.{key}_per_query"] = sum(r["spark"][key] for r in reqs) / n
    m["rollup.hit_share"] = sum(1 for s in of("rollup.route") if s.info == "hit") / n
    m["partitioning.routed_share"] = (
        sum(1 for s in of("partitioning.route") if s.info == "hit") / n)

    maint_phase = [s for s in spans if s.phase == "maintain"]
    passes = of("maintenance", maint_phase)
    m["maintenance.ms"] = _p50([s.ms for s in passes])
    for k in MAINT_KINDS:
        m[f"maintenance.actions.{k}"] = (
            sum(s.info.split(",").count(k) for s in passes) / max(len(passes), 1))
    m["rollup.refresh_ms"] = _p50([s.ms for s in maint_phase
                                   if s.layer in ("rollup.refresh", "rollup.build")])
    m["sampler.refresh_ms"] = _p50([s.ms for s in maint_phase if s.layer == "sampler.refresh"])

    def setup_sum(layer):
        reps = sorted({s.phase for s in spans if s.phase.startswith("setup")})
        return _p50([sum(s.ms for s in spans if s.phase == p and s.layer == layer
                         and (s.parent is None or by_id.get(s.parent) is None
                              or by_id[s.parent].layer != layer))
                     for p in reps])

    m["sampler.build_ms"] = setup_sum("sampler.build")
    m["sketches.build_ms"] = setup_sum("sketches.build")
    m["rollup.build_ms"] = setup_sum("rollup.build")
    saves = of("catalog.save")
    m["catalog.save_calls_per_query"] = len(saves) / n
    m["catalog.save_ms"] = _p50([s.ms for s in spans if s.layer == "catalog.save"])
    for art, size in state_bytes(bench.engine_dir).items():
        m[f"state.bytes.{art}"] = float(size)
    m["jvm.peak_rss_mb"] = jvm_peak_rss_mb(bench.spark)
    traced = [r["ms"] for r in bench.records if r["traced"]]
    plain = [r["ms"] for r in bench.records if not r["traced"]]
    m["trace.overhead_ratio"] = _p50(traced) / _p50(plain) if plain and traced else 0.0

    trace_dir = os.path.join(os.path.dirname(bench.work), "trace")
    tr.dump(os.path.join(trace_dir, f"{bench.args.workload}-s{bench.args.seed}-spans.jsonl"))
    dump_plans(bench)
    units = dict(NAMES)
    return {k: {"value": m[k], "unit": units[k]} for k, _ in NAMES}
