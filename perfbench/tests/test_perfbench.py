"""Tests of the benchmark's own code.

Run from the checkout root:
  python3 -m unittest discover -s perfbench/tests -v

The last test compiles the benchmark (perfbench/build.py) and runs the JVM
self-checks in graft.perfbench.SelfTest: the corpus generators (same seed,
same bytes; text column equal to Html.parse(html).text) and the tracer.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in s["workloads"]],
                         ["crawl_governed", "search", "dedup_ops"])
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        names += [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)), "names are used once")
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_end_to_end_values_cover_the_declared_metrics(self):
        raw = {"setup_s": [2.0, 1.0, 1.5], "items": 100, "batch_s": [2.0, 4.0, 3.0],
               "op_ms": [10.0, 20.0, 30.0, 40.0]}
        values = run.end_to_end(raw)
        self.assertEqual(values["setup_s"], 1.5)
        self.assertAlmostEqual(values["throughput_per_s"], 100 / 3.0)
        self.assertAlmostEqual(values["op_p50_ms"], 25.0)
        metrics = run.assemble(spec(), False, values)
        self.assertEqual(list(metrics), [m["name"] for m in spec()["end_to_end"]])
        for m in spec()["end_to_end"]:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"])

    def test_missing_end_to_end_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.assemble(spec(), False, {"setup_s": 1.0})

    def test_per_layer_reports_idle_layers_as_zero(self):
        values = run.per_layer({"layers": {"crawler.jobs": [3.0, 5.0, 4.0]},
                                "traced_op_ms": [], "op_ms": [10.0]})
        metrics = run.assemble(spec(), True, values)
        self.assertEqual(list(metrics), [m["name"] for m in spec()["per_layer"]])
        self.assertEqual(metrics["crawler.jobs"]["value"], 4.0)
        self.assertEqual(metrics["ops.jaccard_s"]["value"], 0.0)
        self.assertEqual(metrics["trace.overhead_pct"]["value"], 0.0)

    def test_tracing_overhead_compares_medians(self):
        values = run.per_layer({"layers": {}, "traced_op_ms": [11.0, 13.0, 12.0],
                                "op_ms": [9.0, 10.0, 11.0, 10.0]})
        self.assertAlmostEqual(values["trace.overhead_pct"], 20.0)


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_tracer(self):
        try:
            cp = build.build(ROOT)
        except build.BuildError as e:
            self.skipTest(f"cannot build: {e}")
        opens = []
        for p in run.JVM_OPENS:
            opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
        tmp = os.path.join(ROOT, build.OUT, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
                           + opens + ["-cp", cp, "graft.perfbench.SelfTest"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=300)
        sys.stdout.write(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
