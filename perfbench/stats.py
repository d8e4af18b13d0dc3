"""Turns the harness's raw figures into the benchmark's metrics.

End-to-end metrics come from the cold pass and the untraced measured passes
of a run; per-layer metrics come from the spans of its traced passes.
Everything here is a pure function of the result file, so test_perfbench.py
can pin the rules.
"""
import math
import re
import statistics

# Innermost graft source file on a job's call stack -> the module it is
# charged to. A job submitted with no graft frame on its own stack (Spark 4
# runs most SQL jobs on a pool thread) is charged by the call site of the
# SQL action that started it; jobs with neither (the noop write the
# benchmark issues) go to the op span that encloses them in time.
FILE_MODULE = {
    "Tables.scala": "io.schema",
    "Ingest.scala": "io.write",
    "Writers.scala": "io.write",
    "DataQuality.scala": "dq",
    "Ckpt.scala": "ckpt",
    "Streaming.scala": "streaming",
}
GRAFT_FRAME = re.compile(r"(?:^|[/\s])graft\.[\w$.]+\((\w+\.scala):\d+\)")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Latency at the highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, n, rule_met). With fewer than 20 samples no
    percentile at or above the median has 10 beyond it; the median is
    returned and rule_met is False.
    """
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, False
    k = n - 10  # 1-based rank of the value with exactly 10 samples above it
    if k < math.ceil(n / 2):
        return median(xs), 50.0, n, False
    return xs[k - 1], 100.0 * k / n, n, True


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def module_of(callsite):
    """Module a job's call site is charged to, or None for no graft frame.

    The innermost graft frame decides: a DQ check run from Pipeline.run is
    `dq`, a table load inside a query builder is `io.schema`.
    Pipeline.scala is split by what Spark was asked to do there: the
    source read (`load`) is ingest, everything after the raw-zone write is
    read-back.
    """
    lines = callsite.splitlines()
    for line in lines:
        m = GRAFT_FRAME.search(line)
        if not m:
            continue
        f = m.group(1)
        if f == "Pipeline.scala":
            return "pipeline.ingest" if "DataFrameReader.load(" in lines[0] \
                else "pipeline.readback"
        return FILE_MODULE.get(f, "build")
    return None


def measured(passes, traced):
    """The measured passes (after the cold and the warm-up passes)."""
    return [p for p in passes if p["role"] == "measured" and p["traced"] == traced]


def op_failures(result, bad_ops):
    """(attempted, failed) over every timed op; bad_ops names ops whose
    output check failed after the run (queries checked against DuckDB)."""
    attempted = failed = 0
    for p in result["passes"]:
        for o in p["ops"]:
            attempted += 1
            if not o["ok"] or p["error"] or o["name"] in bad_ops:
                failed += 1
    return attempted, failed


def end_to_end(result):
    passes = result["passes"]
    hot = measured(passes, False)
    lat = [o["ms"] for p in hot for o in p["ops"]]
    t, pct, n, met = tail(lat)
    return {
        "setup_s": median(result["setup_s"]),
        "cold_s": passes[0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in hot]),
        "op_p50_ms": median(lat),
        "op_tail_ms": t,
    }, {"tail_pct": pct, "tail_n": n, "tail_rule_met": met}


def steal_frac(result):
    """Share of the passes' CPU capacity the hypervisor gave to other guests."""
    ps = result["passes"]
    cap = sum(p["wall_s"] for p in ps) * result["host"]["nproc"]
    return sum(p["steal_s"] for p in ps) / cap if cap else 0.0


def _union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def spans(result):
    """Op, phase and job spans of the traced passes, jobs charged to a module."""
    workload = result["workload"]
    default = {"queries": "action", "pipeline": "pipeline.other",
               "stream": "streaming.batch"}[workload]
    jobs = [s for s in result["spans"] if s["kind"] == "job"]
    out = []
    for p in result["passes"]:
        if not p["traced"]:
            continue
        for i, o in enumerate(p["ops"]):
            out.append({"span": "op", "pass": p["index"], "op": i, "name": o["name"],
                        "start": o["start"], "end": o["end"], "ms": o["ms"],
                        "build_ms": o["build_ms"]})
        for j in jobs:
            if not p["start"] <= j["start"] <= p["end"]:
                continue
            enclosing = [(i, o) for i, o in enumerate(p["ops"])
                         if o["start"] <= j["start"] <= o["end"]]
            op_i, op = enclosing[0] if enclosing else (None, None)
            in_build = op is not None and op["build_ms"] > 0 and \
                j["start"] < op["start"] + op["build_ms"]
            mod = (module_of(j["callsite"]) or module_of(j.get("sql_callsite", ""))
                   or ("build" if in_build else default))
            out.append({**{k: v for k, v in j.items() if k != "kind"},
                        "span": "job", "module": mod, "pass": p["index"], "op": op_i,
                        "in_build": in_build})
    return out


# (name, unit) of every per-layer metric, in report order.
LAYER_METRICS = [
    ("build.ms", "ms"), ("build.jobs", "count"),
    ("io.schema_jobs", "count"), ("io.schema_ms", "ms"),
    ("io.write_ms", "ms"), ("io.write_bytes", "bytes"), ("io.write_files", "count"),
    ("dq.jobs", "count"), ("dq.ms", "ms"),
    ("pipeline.jobs", "count"), ("pipeline.ingest_ms", "ms"), ("pipeline.readback_ms", "ms"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.log_ms", "ms"), ("streaming.plan_ms", "ms"), ("streaming.list_ms", "ms"),
    ("streaming.start_stop_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_commit_ms", "ms"),
    ("ckpt.jobs", "count"), ("ckpt.ms", "ms"), ("ckpt.block_bytes", "bytes"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimizer_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("codegen.warm_compiles", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.task_wait_ms", "ms"),
    ("exec.run_ms", "ms"), ("exec.deser_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.busy_frac", "fraction"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.bytes", "bytes"), ("exec.peak_mem_mb", "MB"),
    ("trace.overhead_frac", "fraction"), ("rss_peak_mb", "MB"),
]
# Counts that came out the same in two traced runs of each workload with one
# seed (see perfbench/BASELINE.md).
EXACT_COUNTS = ["build.jobs", "io.schema_jobs", "io.write_files", "dq.jobs",
                "pipeline.jobs", "ckpt.jobs", "sched.jobs", "sched.stages",
                "sched.tasks", "codegen.compiles", "codegen.warm_compiles",
                "streaming.state_rows"]


def _pass_layers(result, p, pass_spans):
    """Per-layer figures of one traced pass."""
    jobs = [s for s in pass_spans if s["span"] == "job"]
    ops = [s for s in pass_spans if s["span"] == "op"]
    sql = [s for s in result["spans"]
           if s["kind"] == "sql" and p["start"] <= s["time"] <= p["drained"]]
    prog = p["progress"]
    nproc = result["host"]["nproc"]

    def mod(*names):
        return [j for j in jobs if j["module"] in names]

    def span_ms(js):
        return _union_ms([(j["start"], j["end"]) for j in js])

    def dur(key):
        return float(sum(x["duration"].get(key, 0) for x in prog))

    stream = result["workload"] == "stream"
    run_ms = sum(j["run_ms"] for j in jobs)
    return {
        "build.ms": sum(o["build_ms"] for o in ops),
        "build.jobs": len([j for j in jobs if j["in_build"]]),
        "io.schema_jobs": len(mod("io.schema")), "io.schema_ms": span_ms(mod("io.schema")),
        "io.write_ms": span_ms(mod("io.write")),
        "io.write_bytes": sum(s["bytes"] for s in sql),
        "io.write_files": sum(s["files"] for s in sql),
        "dq.jobs": len(mod("dq")), "dq.ms": span_ms(mod("dq")),
        "pipeline.jobs": len(jobs) if result["workload"] == "pipeline" else 0,
        "pipeline.ingest_ms": span_ms(mod("pipeline.ingest")),
        "pipeline.readback_ms": span_ms(mod("pipeline.readback")),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.log_ms": dur("walCommit") + dur("commitOffsets"),
        "streaming.plan_ms": dur("queryPlanning"),
        "streaming.list_ms": dur("latestOffset") + dur("getBatch"),
        "streaming.start_stop_ms":
            sum(o["ms"] for o in ops) - dur("triggerExecution") if stream else 0.0,
        "streaming.state_rows": prog[-1]["state_rows"] if prog else 0,
        "streaming.state_commit_ms": float(sum(x["state_commit_ms"] for x in prog)),
        "ckpt.jobs": len(mod("ckpt")), "ckpt.ms": span_ms(mod("ckpt")),
        "ckpt.block_bytes": p["ckpt_block_bytes"],
        "catalyst.analysis_ms": sum(s["analysis_ms"] for s in sql),
        "catalyst.optimizer_ms": sum(s["optimizer_ms"] for s in sql),
        "catalyst.planning_ms": sum(s["planning_ms"] for s in sql),
        "codegen.compile_ms": p["codegen_ms"], "codegen.compiles": p["codegen_compiles"],
        "sched.jobs": len(jobs), "sched.stages": sum(j["stages"] for j in jobs),
        "sched.tasks": sum(j["tasks"] for j in jobs),
        "sched.task_wait_ms": float(sum(j["wait_ms"] for j in jobs)),
        "exec.run_ms": float(run_ms), "exec.deser_ms": float(sum(j["deser_ms"] for j in jobs)),
        "exec.gc_ms": float(sum(j["gc_ms"] for j in jobs)),
        "exec.busy_frac": run_ms / (p["wall_s"] * 1000.0 * nproc),
        "shuffle.write_bytes": sum(j["shuffle_write"] for j in jobs),
        "shuffle.read_bytes": sum(j["shuffle_read"] for j in jobs),
        "shuffle.fetch_wait_ms": float(sum(j["fetch_wait_ms"] for j in jobs)),
        "spill.bytes": sum(j["spill"] for j in jobs),
        "exec.peak_mem_mb": max([j["peak_mem"] for j in jobs], default=0) / 2**20,
    }


def layers(result):
    """Per-layer metrics of a traced run, plus its spans.

    Codegen figures are the cold pass's; every other figure is the median
    over the traced measured passes. trace.overhead_frac compares traced and
    untraced measured pass walls.
    """
    sp = spans(result)
    per_pass = {p["index"]: _pass_layers(result, p, [s for s in sp if s["pass"] == p["index"]])
                for p in result["passes"] if p["traced"]}
    cold = per_pass[0]
    traced_warm = [per_pass[p["index"]] for p in measured(result["passes"], True)]
    out = {}
    for name, _ in LAYER_METRICS:
        if name in ("codegen.compile_ms", "codegen.compiles"):
            out[name] = cold[name]
        elif name == "codegen.warm_compiles":
            out[name] = median([w["codegen.compiles"] for w in traced_warm])
        elif name == "rss_peak_mb":
            out[name] = result["rss_peak_mb"]
        elif name == "trace.overhead_frac":
            t = median([p["wall_s"] for p in measured(result["passes"], True)])
            u = median([p["wall_s"] for p in measured(result["passes"], False)])
            out[name] = t / u - 1.0 if u else 0.0
        else:
            out[name] = median([w[name] for w in traced_warm])
    return out, sp


def self_times(sp):
    """Self time per span kind: a phase's self time is its wall minus the
    union of the jobs inside it; a module's is the union of its jobs."""
    jobs = [s for s in sp if s["span"] == "job"]
    by_mod = {}
    for j in jobs:
        by_mod.setdefault(j["module"], []).append((j["start"], j["end"]))
    out = {m: _union_ms(iv) for m, iv in by_mod.items()}
    driver = 0.0
    for o in (s for s in sp if s["span"] == "op"):
        inside = [(j["start"], j["end"]) for j in jobs
                  if j["pass"] == o["pass"] and j["op"] == o["op"]]
        driver += max(0.0, o["ms"] - _union_ms(inside))
    out["driver (op wall outside jobs)"] = driver
    return out
