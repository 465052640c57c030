"""Smoke test of the benchmark: one short run of each workload on the
smallest data set (perfbench/data/sf0.001), untraced and traced.

Checks that every metric BENCHMARK.json names is emitted with its unit,
that the output check runs and passes, that it fires on a deliberately
wrong pin, and that another seed changes the query order but not the set
of queries.

Usage, from the repository root:  python3 perfbench/test_smoke.py
"""
import contextlib
import io
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

DATA = run.HERE / "data" / "sf0.001"
BENCHMARK = json.loads((run.HERE.parent / "BENCHMARK.json").read_text())
RESULTS = {}


def result(workload, seed, trace):
    """The harness result document of a short run (cached per test session)."""
    key = (workload, seed, trace)
    if key not in RESULTS:
        args = run.parse_args(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                               "--trace", str(trace), "--data", str(DATA)])
        out = build.WORK / f"smoke-{workload}-{seed}-trace{trace}.json"
        RESULTS[key] = run.harness(args, out, float("inf"))
    return RESULTS[key]


def report(res, pins, trace):
    with contextlib.redirect_stderr(io.StringIO()):
        return run.report(res, pins, trace)


def cold_order(res):
    passes = {s["id"]: s["name"] for s in res["spans"] if s["kind"] == "pass"}
    return [s["name"] for s in sorted(res["spans"], key=lambda s: s["start"])
            if s["kind"] == "query" and passes[s["parent"]] == "cold"]


class Smoke(unittest.TestCase):
    pins = json.loads(run.EXPECTED.read_text())[DATA.name]

    @classmethod
    def setUpClass(cls):
        build.build()

    def check_metrics(self, line, declared):
        self.assertTrue(line["correct"], line)
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        for m in declared:
            got = line["metrics"].get(m["name"])
            self.assertIsNotNone(got, f"{m['name']} not emitted")
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_emitted_with_its_unit(self):
        for w in BENCHMARK["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(report(result(w["name"], 1, 0), self.pins, 0),
                                   BENCHMARK["end_to_end"])
                self.check_metrics(report(result(w["name"], 1, 1), self.pins, 1),
                                   BENCHMARK["per_layer"])

    def test_output_check_fires_on_a_wrong_pin(self):
        res = result("explore", 1, 0)
        name = sorted(res["checks"])[0]
        wrong = dict(self.pins, **{name: dict(self.pins[name], sha="0" * 64)})
        line = report(res, wrong, 0)
        self.assertFalse(line["correct"])
        passes = 1 + sum(1 for s in res["spans"]
                         if s["kind"] == "pass" and s["name"].startswith("warm"))
        self.assertEqual(line["failed"], passes)
        self.assertEqual(run.check_outputs(res, wrong).keys(), {name})
        fewer = dict(self.pins, **{name: dict(self.pins[name], rows=self.pins[name]["rows"] + 1)})
        self.assertEqual(run.check_outputs(res, fewer).keys(), {name})

    def test_seed_permutes_order_not_deck(self):
        a, b = cold_order(result("explore", 1, 0)), cold_order(result("explore", 2, 0))
        self.assertEqual(sorted(a), sorted(b))
        self.assertEqual(sorted(a), sorted(result("explore", 1, 0)["deck"]))
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
