"""Self-check of the benchmark at sf0.001 (a few minutes).

    python3 -m unittest perfbench/test_perfbench.py

Run from the repository root. For every workload it makes one untraced
and one traced run and checks that every metric BENCHMARK.json names is
emitted with its unit, that the traced spans form a consistent tree per
op, that job time attributed to modules plus `attr.other_job_s` is the
total job time, and that the tracing overhead is reported, and that the timers inside the
migration code steps count only the traced passes. It also checks
that the runner refuses to run without the program's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SLACK_US = 2000  # listener times are whole milliseconds


def run(workload, trace, seed=5):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"], cwd=ROOT, capture_output=True, text=True,
        timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return result, json.load(fh)


def union(intervals, lo, hi):
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def op_trees(spans):
    """{op span: [every span of that op]} for the spans of kind `op`."""
    rows = [dict(id=s[0], parent=s[1], op=s[2], kind=s[3], name=s[4],
                 start=s[5], end=s[6]) for s in spans]
    ops = {r["id"]: r for r in rows if r["kind"] == "op"}
    trees = {i: [] for i in ops}
    for r in rows:
        if r["op"] in trees:
            trees[r["op"]].append(r)
    return [(ops[i], trees[i]) for i in ops]


class BenchmarkSelfCheck(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            for t in (0, 1):
                cls.runs[(w, t)] = run(w, t)

    def test_every_metric_is_emitted_with_its_unit(self):
        for (w, t), (result, _) in self.runs.items():
            self.assertTrue(result["correct"], (w, t))
            self.assertEqual(result["failed"], 0)
            names = SPEC["per_layer"] if t else SPEC["end_to_end"]
            self.assertEqual(set(result["metrics"]),
                             {m["name"] for m in names}, (w, t))
            for m in names:
                got = result["metrics"][m["name"]]
                self.assertEqual(got["unit"], m["unit"], (w, m["name"]))
                self.assertIsInstance(got["value"], (int, float))
            if not t:
                for k, v in result["metrics"].items():
                    self.assertGreater(v["value"], 0, (w, k))

    def test_span_tree_is_consistent_per_op(self):
        for w in WORKLOADS:
            _, art = self.runs[(w, 1)]
            trees = op_trees(art["spans"])
            self.assertTrue(trees, w)
            for op, spans in trees:
                by_id = {s["id"]: s for s in spans}
                for s in spans:
                    if s is op:
                        continue
                    p = by_id[s["parent"]]
                    self.assertGreaterEqual(s["start"], p["start"] - SLACK_US,
                                            (w, s, p))
                    self.assertLessEqual(s["end"], p["end"] + SLACK_US,
                                         (w, s, p))
                # self time: a span's duration less what its children
                # cover; concurrent sibling jobs count once, as their union
                total = 0
                for s in spans:
                    kids = [(c["start"], c["end"]) for c in spans
                            if c["parent"] == s["id"] and c is not s]
                    if s["kind"] == "job" and any(
                            c["kind"] == "job" for c in spans
                            if c["parent"] == s["parent"] and c is not s):
                        continue
                    total += (s["end"] - s["start"]) - union(
                        kids, s["start"], s["end"])
                jobs_by_parent = {}
                for s in spans:
                    if s["kind"] == "job":
                        jobs_by_parent.setdefault(s["parent"], []).append(s)
                for parent, js in jobs_by_parent.items():
                    if len(js) > 1:
                        total += union([(j["start"], j["end"]) for j in js],
                                       by_id[parent]["start"],
                                       by_id[parent]["end"])
                wall = op["end"] - op["start"]
                self.assertAlmostEqual(total / wall, 1.0, delta=0.10,
                                       msg=(w, op["name"]))

    def test_attributed_plus_other_is_total_job_time(self):
        for w in WORKLOADS:
            m = self.runs[(w, 1)][0]["metrics"]
            parts = [v["value"] for k, v in m.items()
                     if k.endswith(".job_s") and k != "exec.job_s"]
            other = m["attr.other_job_s"]["value"]
            self.assertAlmostEqual(sum(parts) + other, m["exec.job_s"]["value"],
                                   places=6, msg=w)

    def test_step_timers_count_only_traced_passes(self):
        m = self.runs[("migrate", 1)][0]["metrics"]
        traced = m["trace.traced_pass_s"]["value"]
        self.assertGreater(m["migrate.code_step_s"]["value"], 0)
        self.assertLessEqual(m["migrate.code_step_s"]["value"], traced)
        for k in ("migrate.BulkCopy.s", "migrate.SchemaEvolution.s",
                  "sources.JdbcSource.load_s"):
            self.assertLessEqual(m[k]["value"], m["migrate.code_step_s"]["value"], k)

    def test_tracing_overhead_is_reported(self):
        for w in WORKLOADS:
            m = self.runs[(w, 1)][0]["metrics"]
            self.assertIn("trace.overhead_s", m)
            self.assertAlmostEqual(
                m["trace.overhead_s"]["value"],
                m["trace.traced_pass_s"]["value"] -
                self.runs[(w, 1)][1]["end_to_end"]["pass_s"]["value"],
                places=6)

    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
