"""Tests of the benchmark's own rules: the tail percentile, failed_frac,
seed determinism of the generators, call-site -> module attribution, and
reading the program's build settings.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        for n in (20, 30, 41, 100, 1000):
            xs = list(range(n))
            value, pct, got_n, met = stats.tail(xs)
            self.assertTrue(met)
            self.assertEqual(got_n, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_hundred_samples_is_p90(self):
        self.assertEqual(stats.tail(range(1, 101))[:2], (90, 90.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_under_twenty_samples_falls_back_to_median(self):
        value, pct, n, met = stats.tail([3.0, 1.0, 2.0, 10.0, 4.0])
        self.assertEqual((value, pct, n, met), (3.0, 50.0, 5, False))

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0, False))


def _result(passes):
    return {"passes": [{"index": i, "role": "cold" if i == 0 else "warmup" if i == 1 else
                        "measured", "traced": False, "error": err,
                        "wall_s": 1.0 + i, "ops": [{"name": n, "ok": ok, "ms": 10.0}
                                                   for n, ok in ops]}
                       for i, (ops, err) in enumerate(passes)],
            "setup_s": [0.5, 0.1, 0.2]}


class FailedFrac(unittest.TestCase):
    def test_counts_every_timed_op(self):
        r = _result([([("a", True), ("b", True)], None)] * 4)
        self.assertEqual(stats.op_failures(r, set()), (8, 0))
        self.assertEqual(stats.failed_frac(8, 0), 0.0)

    def test_failed_op_pass_check_and_output_check(self):
        r = _result([([("a", True), ("b", False)], None),    # op threw
                     ([("a", True), ("b", True)], "sink differs"),  # pass check
                     ([("a", True), ("b", True)], None)])
        self.assertEqual(stats.op_failures(r, set()), (6, 3))
        # a query whose result mismatched DuckDB fails in every pass
        self.assertEqual(stats.op_failures(r, {"a"}), (6, 5))
        self.assertAlmostEqual(stats.failed_frac(6, 5), 5 / 6)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)

    def test_end_to_end_uses_measured_untraced_passes(self):
        r = _result([([("a", True)], None)] * 5)
        e2e, _ = stats.end_to_end(r)
        self.assertEqual(e2e["cold_s"], 1.0)
        self.assertEqual(e2e["pass_s"], 4.0)  # passes 2..4, walls 3, 4, 5
        self.assertEqual(e2e["setup_s"], 0.2)


def _files(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.relpath(os.path.join(base, n), d) for n in names]
    return sorted(out)


class SeedDeterminism(unittest.TestCase):
    def _same(self, a, b):
        if _files(a) != _files(b):
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
        return not mismatch and not errors

    def _check(self, make):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            make(a, 7)
            make(b, 7)
            make(c, 8)
            self.assertTrue(self._same(a, b), "same seed, different bytes")
            self.assertFalse(self._same(a, c), "different seeds, same bytes")

    def test_tables(self):
        self._check(lambda d, s: gen.tables(d, s, 0.001))

    def test_pipeline(self):
        self._check(lambda d, s: gen.pipeline(d, s, 5, 200))

    def test_stream(self):
        self._check(lambda d, s: gen.stream(d, s, 3, 100))

    def test_pipeline_plants_both_verdicts(self):
        import json
        for seed in range(10):
            with tempfile.TemporaryDirectory() as d:
                gen.pipeline(d, seed, 3, 100)
                with open(os.path.join(d, "planted.json")) as f:
                    planted = json.load(f)
                self.assertEqual({p["passed"] for p in planted}, {True, False})
                for p in planted:
                    self.assertEqual(p["failing"], [] if p["passed"] else gen.VIOLATIONS)

    def test_pipeline_work_does_not_depend_on_the_seed(self):
        import json
        rows = set()
        for seed in range(6):
            with tempfile.TemporaryDirectory() as d:
                gen.pipeline(d, seed, 2, 100)
                with open(os.path.join(d, "planted.json")) as f:
                    rows.add(tuple(sorted(p["rows"] for p in json.load(f))))
        self.assertEqual(rows, {(99, 100)})


def _site(*frames):
    return "\n".join(frames)


SPARK = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1499)"
READER = "org.apache.spark.sql.classic.DataFrameReader.load(DataFrameReader.scala:98)"
HARNESS = "perfbench.Harness$.main(Harness.scala:88)"
POOL = _site("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
             "(SQLExecution.scala:238)",
             "java.base/java.lang.Thread.run(Thread.java:840)")


class CallSiteModule(unittest.TestCase):
    def test_files_map_to_modules(self):
        cases = {
            "graft.io.Tables$.raw(Tables.scala:27)": "io.schema",
            "graft.io.Writers$.writeParquet(Writers.scala:30)": "io.write",
            "graft.io.Ingest$.writeRawZone(Ingest.scala:42)": "io.write",
            "graft.dq.DataQuality$.evaluate(DataQuality.scala:66)": "dq",
            "graft.util.Ckpt$CkptOps$.ckptDisk$extension(Ckpt.scala:62)": "ckpt",
            "graft.analytics.Sessions$.sessionize(Sessions.scala:40)": "build",
        }
        for frame, module in cases.items():
            self.assertEqual(stats.module_of(_site(SPARK, frame, HARNESS)), module, frame)

    def test_innermost_graft_frame_decides(self):
        site = _site(SPARK, "graft.dq.DataQuality$.evaluate(DataQuality.scala:66)",
                     "graft.pipeline.Pipeline$.run(Pipeline.scala:190)", HARNESS)
        self.assertEqual(stats.module_of(site), "dq")
        site = _site(SPARK, "graft.io.Writers$.writeParquet(Writers.scala:30)",
                     "graft.streaming.Streaming$.writeBatch(Streaming.scala:386)")
        self.assertEqual(stats.module_of(site), "io.write")
        site = _site(SPARK, "graft.io.Tables$.raw(Tables.scala:27)",
                     "graft.analytics.Neighbors$.kcore(Neighbors.scala:120)")
        self.assertEqual(stats.module_of(site), "io.schema")

    def test_pipeline_split_by_spark_call(self):
        run = "graft.pipeline.Pipeline$.run(Pipeline.scala:150)"
        parquet = "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)"
        self.assertEqual(stats.module_of(_site(READER, run)), "pipeline.ingest")
        self.assertEqual(stats.module_of(_site(parquet, run)), "pipeline.readback")
        self.assertEqual(stats.module_of(_site(SPARK, run)), "pipeline.readback")

    def test_no_graft_frame(self):
        self.assertIsNone(stats.module_of(_site(SPARK, HARNESS)))
        self.assertIsNone(stats.module_of(""))
        # Spark-package helpers that live in this repo are not graft frames
        bridge = "org.apache.spark.sql.graft.Bridge$.repairCheckpointLayout(Bridge.scala:12)"
        self.assertIsNone(stats.module_of(_site(SPARK, bridge)))

    def test_jdk_module_prefix(self):
        self.assertEqual(stats.module_of("app//graft.io.Tables$.raw(Tables.scala:27)"),
                         "io.schema")

    def test_unattributed_jobs_go_to_the_enclosing_phase(self):
        def job(i, start, site):
            return {"kind": "job", "id": i, "start": start, "end": start + 5,
                    "callsite": site}
        r = {"workload": "queries",
             "passes": [{"index": 0, "role": "cold", "traced": True, "start": 0, "end": 100,
                         "ops": [{"name": "q", "start": 0, "end": 100, "ms": 100.0,
                                  "build_ms": 40.0}]}],
             "spans": [job(0, 10, _site(SPARK, HARNESS)),
                       job(1, 20, _site(SPARK, "graft.io.Tables$.raw(Tables.scala:27)")),
                       job(2, 60, _site(SPARK, HARNESS)),
                       dict(job(3, 70, POOL), sql_callsite=_site(
                           SPARK, "graft.dq.DataQuality$.evaluate(DataQuality.scala:66)"))]}
        mods = [(s["id"], s["module"], s["in_build"]) for s in stats.spans(r)
                if s["span"] == "job"]
        self.assertEqual(mods, [(0, "build", True), (1, "io.schema", True),
                                (2, "action", False), (3, "dq", False)])


class ProgramBuild(unittest.TestCase):
    def test_reads_the_programs_build_sbt(self):
        from pathlib import Path
        scala, jars, add_opens = run.program_build(Path(run.HERE).parent)
        self.assertRegex(scala, r"^2\.13\.\d+$")
        self.assertTrue(jars.startswith("/"))
        self.assertEqual(add_opens[:2], ["--add-opens", "java.base/java.lang=ALL-UNNAMED"])
        self.assertEqual(add_opens[::2], ["--add-opens"] * (len(add_opens) // 2))
        self.assertIn("java.base/sun.nio.ch=ALL-UNNAMED", add_opens)


if __name__ == "__main__":
    unittest.main()
