"""Self-test of the link-graph benchmark: every workload once at tiny input
sizes, with every output check, and the printed metric names and units
checked against BENCHMARK.json.

Run from the repository root (about seven minutes):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assertPassed(self, r, units, extra=()):
        """`extra`: name prefixes of metrics printed beyond `units`."""
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        printed = {k: v["unit"] for k, v in r["metrics"].items()
                   if k in units or not k.startswith(tuple(extra))}
        self.assertEqual(printed, units)

    def traced(self, workload, extra=()):
        r = bench(workload, 1)
        self.assertPassed(r, {m["name"]: m["unit"] for m in self.spec["per_layer"]}, extra)
        # warm-up, then untraced, traced and untraced job
        self.assertEqual(r["attempted"], 4)
        return {k: v["value"] for k, v in r["metrics"].items()}

    def test_end_to_end(self):
        r = bench("pr-web", 0)
        self.assertPassed(r, {m["name"]: m["unit"] for m in self.spec["end_to_end"]})
        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))

    def test_pr_web(self):
        m = self.traced("pr-web")
        self.assertEqual(m["graph.Salting.hub_count"], 0)
        self.assertGreater(m["graph.PageRank.supersteps"], 0)
        self.assertGreater(m["ckpt.IcebergLikeStore.saves"], 0)

    def test_hub_skew(self):
        m = self.traced("hub-skew")
        self.assertGreater(m["graph.Salting.hub_count"], 0)
        self.assertEqual(m["graph.PageRank.supersteps"], 20)
        self.assertEqual(m["ckpt.IcebergLikeStore.saves"], 0)

    def test_crawl_graph(self):
        m = self.traced("crawl-graph")
        for k in ("graph.GraphOps.edges", "graph.ConnectedComponents.components",
                  "graph.LabelPropagation.labels", "graph.Triangles.triangles"):
            self.assertGreater(m[k], 0, k)

    def test_docgraph_drivers(self):
        # not in BENCHMARK.json; it prints the SparkEntry layer's metrics too
        m = self.traced("docgraph-drivers", extra=("SparkEntry.", "spark.SparkEntry."))
        queries = [k for k in m if k.startswith("SparkEntry.q_")]
        self.assertEqual(len(queries), 48)
        for name in queries + ["spark.SparkEntry.jobs"]:
            self.assertGreater(m[name], 0, name)


if __name__ == "__main__":
    unittest.main()
