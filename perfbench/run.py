#!/usr/bin/env python3
"""graft benchmark: three workloads, measured from outside the program.

    python3 perfbench/run.py --workload queries|pipeline|stream \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the harness
from source with sbt (offline) when the sources changed, generates the
workload's inputs from the seed, runs one JVM, checks the outputs and prints
the metrics; the last line of stdout is one JSON object. With --trace 1 it
also writes the span file and the per-layer table under .bench_build/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

# One declared query from each of five tiers: session analytics,
# relational/TPC-H, declared DQ, LLM curation, iterative with checkpoints.
QUERIES = ["q_session_stats", "q_tpch_q3", "dq_verdict", "x_dedup_minhash",
           "x_dedup_cluster"]
QUERY_SF = 0.02
# The ops' cost must grow with their input, not be all fixed overhead; see
# BASELINE.md for the per-op cost these sizes were chosen from.
PIPELINE_DATES, PIPELINE_ROWS = 2, 200_000
STREAM_INCREMENTS, STREAM_EVENTS = 2, 100_000
# Passes run after the cold one and before the measured ones; the JIT is
# still speeding the driver up there (see README.md). In queries it is also
# the verification pass.
WARMUP = 1
HEAP = "3g"
# setup_s is the median over this many processes, each timed from its start
# until its session is ready: SETUPS - 1 set-up-only JVMs, then the run's own.
# Each set-up adds about 5 s to a run, so two.
SETUPS = 2
# A run must end within 180 s (900 s when it builds).
RUN_TIMEOUT_S = 130
SETUP_TIMEOUT_S = 20
CHECK_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 600
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms"),
              ("op_tail_ms", "ms")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, log, **kw):
    """Runs cmd in its own process group, output to log; kills the whole
    group and waits for it if it outlives the timeout. Returns the exit code,
    or None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def log_tail(log, n=30):
    lines = Path(log).read_text(errors="replace").splitlines()
    return "\n".join(lines[-n:])


def program_build(root):
    """The settings the benchmark shares with the program's build.sbt: the
    Scala version, the Spark jar directory and the JDK --add-opens list that
    Spark 4 needs outside spark-submit."""
    text = (root / "build.sbt").read_text()
    scala = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)", text, re.S)
    if not (scala and jars and opens):
        die("build.sbt no longer names scalaVersion, unmanagedBase and jdk17AddOpens "
            "the way perfbench/run.py reads them")
    add_opens = [a for p in re.findall(r'"([\w./]+)"', opens.group(1))
                 for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return scala.group(1), jars.group(1), add_opens


def sources_digest(root):
    h = hashlib.sha256()
    files = sorted(list((root / "src" / "main").rglob("*")) + list((HERE / "src").rglob("*"))
                   + [root / "build.sbt", HERE / "build.sbt",
                      HERE / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root, out, scala, jars):
    """Compiles the program's main sources and the harness; returns the
    runtime classpath. Skipped when the sources are unchanged."""
    stamp = out / "build.json"
    digest = sources_digest(root)
    if stamp.exists():
        b = json.loads(stamp.read_text())
        if b["digest"] == digest and all(Path(p).exists() for p in b["classpath"].split(":")[:1]):
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SCALA_VERSION=scala,
               PERFBENCH_SPARK_JARS=jars)
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log = out / "build.log"
    rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false",
                      "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                     BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    lines = [ln for ln in Path(log).read_text().splitlines() if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (exit {rc}):\n{log_tail(log)}")
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    return lines[-1]


def make_inputs(workload, seed, out):
    """Generates the seeded inputs once per (workload, seed, size, generator);
    inputs of other seeds of the workload are removed first."""
    size = {"queries": QUERY_SF, "pipeline": (PIPELINE_DATES, PIPELINE_ROWS),
            "stream": (STREAM_INCREMENTS, STREAM_EVENTS)}[workload]
    key = hashlib.sha256(f"{size}".encode() + (HERE / "gen.py").read_bytes()).hexdigest()[:12]
    d = out / "inputs" / f"{workload}-{seed}-{key}"
    if (d / ".done").exists():
        return d
    for old in (out / "inputs").glob(f"{workload}-*"):
        subprocess.run(["rm", "-rf", str(old)], check=True)
    if workload == "queries":
        gen.tables(str(d), seed, QUERY_SF)
    elif workload == "pipeline":
        gen.pipeline(str(d), seed, PIPELINE_DATES, PIPELINE_ROWS)
    else:
        gen.stream(str(d), seed, STREAM_INCREMENTS, STREAM_EVENTS)
    (d / ".done").write_text("")
    return d


def check_queries(root, data_dir, checks):
    """Hash-compares every dumped result with DuckDB through the program's
    own tools/check_correctness.py. Returns the queries that failed."""
    p = subprocess.run([sys.executable, str(root / "tools" / "check_correctness.py"),
                        str(data_dir), checks["result_dir"]],
                       capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    passed = set(re.findall(r"^\[pass\] (\S+):", p.stdout, re.M))
    passed |= set(re.findall(r"^\[rows-only\] (\S+): nonempty=True", p.stdout, re.M))
    bad = set(QUERIES) - passed
    for line in p.stdout.splitlines():
        if line.startswith(("[FAIL]", "[ERROR]")):
            print(f"  check: {line}", file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["queries", "pipeline", "stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check_correctness.py"):
        if not (root / need).is_file():
            die(f"run from the root of a graft checkout: {need} not found")
    out = root / ".bench_build" / "perfbench"
    out.mkdir(parents=True, exist_ok=True)

    scala, jars, add_opens = program_build(root)
    classpath = build(root, out, scala, jars)
    inputs = make_inputs(a.workload, a.seed, out)
    work = out / "work" / a.workload
    subprocess.run(["rm", "-rf", str(work)], check=True)
    (work / "tmp").mkdir(parents=True)
    raw = work / "result.json"
    java = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", *add_opens,
            "-cp", classpath, "perfbench.Harness", "--workload", a.workload,
            "--work", str(work), "--out", str(raw)]

    def harness(args, timeout):
        """Runs the harness JVM; returns its result and the seconds from the
        process's start until its session was ready."""
        raw.unlink(missing_ok=True)
        started = time.time()
        rc = run_bounded(java + args, timeout, work / "jvm.log", cwd=root)
        if rc != 0 or not raw.exists():
            die(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n"
                f"{log_tail(work / 'jvm.log')}")
        r = json.loads(raw.read_text())
        return r, r["ready_ms"] / 1000.0 - started

    setups = [harness(["--setup-only", "1"], SETUP_TIMEOUT_S)[1] for _ in range(SETUPS - 1)]
    args = ["--inputs", str(inputs), "--seconds", str(a.seconds),
            "--warmup", str(WARMUP), "--trace", str(a.trace), "--seed", str(a.seed)]
    if a.workload == "queries":
        args += ["--queries", ",".join(QUERIES)]
    result, ready_s = harness(args, RUN_TIMEOUT_S)
    result["setup_s"] = setups + [ready_s]

    bad = check_queries(root, inputs, result["checks"]) if a.workload == "queries" else set()
    attempted, failed = stats.op_failures(result, bad)
    e2e, tail_info = stats.end_to_end(result)
    for p in result["passes"]:
        for o in p["ops"]:
            if o["error"]:
                print(f"  failed op (pass {p['index']}): {o['error']}", file=sys.stderr)
        if p["error"]:
            print(f"  failed pass {p['index']}: {p['error']}", file=sys.stderr)

    host = result["host"]
    n_measured = len(stats.measured(result["passes"], False))
    ops_per_pass = len(result["passes"][0]["ops"])
    print(f"perfbench {a.workload} seed={a.seed}: {ops_per_pass} ops per pass; 1 cold, "
          f"{WARMUP} warm-up and {n_measured} measured passes; "
          f"inputs {json.dumps(result['inputs'])}")
    print(f"host: nproc={host['nproc']} MemTotal={host['mem_total_kb']} kB "
          f"Spark {host['spark']} JDK {host['jdk']} heap -Xmx{HEAP}; "
          f"confs {json.dumps(result['confs'], sort_keys=True)}")
    notes = {"setup_s": f"median of {len(result['setup_s'])} processes, each from its "
                        f"start until its session was ready",
             "op_tail_ms": f"p{tail_info['tail_pct']:.1f} of n={tail_info['tail_n']}" +
                           ("" if tail_info["tail_rule_met"] else
                            "; under 20 samples, so the median")}
    for name, unit in END_TO_END:
        print(f"  {name:<12} {e2e[name]:>12.4f} {unit:<3} {notes.get(name, '')}")
    # Printed with the end-to-end metrics but not bounded: G1's heap sizing
    # moves the peak by up to 2x between identical runs (see README.md), and
    # failed_frac is 0 whenever the program is correct.
    print(f"  {'rss_peak_mb':<12} {result['rss_peak_mb']:>12.4f} MB  VmHWM of the JVM")
    ff = stats.failed_frac(attempted, failed)
    print(f"  {'failed_frac':<12} {ff:>12.4f}     {failed} of {attempted} ops")
    print(f"  cpu steal    {stats.steal_frac(result):>12.4f}     share of the run's CPU "
          f"time the hypervisor gave to other guests (context for the timings)")
    if a.workload == "stream":
        events = result["inputs"]["events"]
        print(f"  {'events/s':<12} {events / e2e['pass_s']:>12.1f}     measured-pass throughput")

    if a.trace:
        layer, sp = stats.layers(result)
        tdir = out / "trace"
        tdir.mkdir(exist_ok=True)
        stem = tdir / f"{a.workload}-seed{a.seed}"
        with open(f"{stem}.spans.jsonl", "w") as f:
            for s in sp:
                f.write(json.dumps(s) + "\n")
        units = dict(stats.LAYER_METRICS)
        table = [f"per-layer metrics, {a.workload} seed={a.seed} (codegen: cold pass; "
                 f"others: median of traced measured passes)"]
        table += [f"  {n:<28} {v:>16.3f} {units[n]}" +
                  ("  [exact run to run]" if n in stats.EXACT_COUNTS else "")
                  for n, v in layer.items()]
        table.append("self time by layer over traced passes (ms):")
        table += [f"  {m:<28} {v:>16.1f}" for m, v in sorted(stats.self_times(sp).items())]
        Path(f"{stem}.layers.txt").write_text("\n".join(table) + "\n")
        print("\n".join(table))
        print(f"spans: {stem}.spans.jsonl")
        metrics = {n: {"value": float(layer[n]), "unit": units[n]} for n, _ in stats.LAYER_METRICS}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
