"""Tests of the benchmark's own code: metric names, input generators and
the run summary. Run from the repository root with

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# per-layer names are <workload>.<layer>.<name>; layers are graft's
# modules, plus `spark` (listener counters) and `bench` (the round itself)
LAYERS = ("pipeline", "io", "ops", "ops.ext", "core", "SparkEntry", "plans", "spark", "bench")
PER_LAYER = re.compile(r"^(%s)\.(%s)\.[a-z0-9_]+$" % (
    "|".join(run.WORKLOADS), "|".join(re.escape(l) for l in LAYERS)))


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class MetricNames(unittest.TestCase):

    def test_names_and_units_follow_the_grammar(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_per_layer_names_are_workload_layer_name(self):
        for m in spec()["per_layer"]:
            self.assertRegex(m["name"], PER_LAYER)

    def test_workloads_match_the_driver(self):
        self.assertEqual(tuple(w["name"] for w in spec()["workloads"]), run.WORKLOADS)

    def test_end_to_end_bounds(self):
        e2e = {m["name"]: m for m in spec()["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        for m in e2e.values():
            self.assertTrue(0 < m["bound"] <= 0.25)
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))


class Generators(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            for out, seed in ((a, 7), (b, 7), (c, 8)):
                os.makedirs(out)
                gen.write_documents(seed, 200, out)
                gen.write_ttl(seed, 1, out)
            cmp = filecmp.dircmp(a, b)
            self.assertFalse(_differences(cmp))
            self.assertTrue(_differences(filecmp.dircmp(a, c)))

    def test_the_cache_is_keyed_by_the_generator_version(self):
        with tempfile.TemporaryDirectory() as d:
            path, _ = gen.ensure_documents(d, 5, 50)
            self.assertTrue(path.endswith(gen.VERSION))

    def test_manifest_counts_match_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            path, info = gen.ensure_ttl(d, 3, 1)
            self.assertEqual(gen.ensure_ttl(d, 3, 1), (path, info))  # cached
            lines, size = {}, 0
            for root, _, files in os.walk(os.path.join(path, gen.RELEASE)):
                for f in files:
                    name = os.path.basename(root).rsplit("_", 1)[0]
                    with open(os.path.join(root, f), "rb") as fh:
                        data = fh.read()
                    lines[name] = lines.get(name, 0) + data.count(b"\n")
                    size += len(data)
            self.assertEqual(lines, info["triples"])
            self.assertEqual(size, info["ttl_bytes"])
            self.assertEqual(set(lines), {n for n, _ in gen.DATASETS})


def _differences(cmp):
    """Files that differ or exist on one side only, recursively."""
    out = cmp.diff_files + cmp.left_only + cmp.right_only
    # dircmp compares by os.stat signature; compare contents to be sure
    out += [f for f in cmp.same_files
            if not filecmp.cmp(os.path.join(cmp.left, f), os.path.join(cmp.right, f), shallow=False)]
    for sub in cmp.subdirs.values():
        out += _differences(sub)
    return out


class Summary(unittest.TestCase):

    def test_wrong_outputs_count_as_failed_not_as_fast(self):
        # b's output was wrong, c threw in round 1: no round is complete
        w = {"ops": [["a", 0, 1.0], ["b", 0, 0.1], ["c", 0, 0.5], ["a", 1, 1.2], ["b", 1, 0.1]],
             "runs": [["a", True], ["b", True], ["c", True], ["a", True], ["b", True], ["c", True],
                      ["a", True], ["b", True], ["c", False]],
             "checked": ["a", "b", "c"], "steal_pct": 0.0}
        rep, lat = run.summarize("curate", w, {"b": "rows 1 != oracle 2"})
        self.assertEqual(rep["attempted"], 9)
        self.assertEqual(rep["failed"], 4)  # the three runs of b, and the run of c that threw
        self.assertEqual(rep["timed_ops"], 3)
        self.assertEqual(rep["complete_rounds"], 0)
        self.assertIsNone(lat)

    def test_a_round_is_the_sum_of_its_passed_operations(self):
        w = {"ops": [["a", 0, 1.0], ["b", 0, 0.5], ["a", 1, 2.0], ["b", 1, 1.0], ["a", 2, 3.0]],
             "runs": [["a", True], ["b", True]] * 3 + [["a", True], ["b", False]],
             "checked": ["a", "b"], "steal_pct": 0.0}
        rep, lat = run.summarize("curate", w, {})
        self.assertEqual(rep["failed"], 1)
        self.assertEqual(rep["complete_rounds"], 2)
        self.assertEqual(rep["round_s"], 2.25)  # median of 1.5 and 3.0
        self.assertEqual(sorted(lat), [0.5, 1.0, 1.0, 2.0, 3.0])

    def test_an_edited_oracle_is_not_read_from_the_cache(self):
        a = run.oracle_cache("t", "q1", "SELECT 1")
        self.assertEqual(a, run.oracle_cache("t", "q1", "SELECT 1"))
        self.assertNotEqual(a, run.oracle_cache("t", "q1", "SELECT 2"))
        self.assertNotEqual(a, run.oracle_cache("t", "q2", "SELECT 1"))

    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([1.0, 2.0, 3.0, 4.0], 0.5), 2.5)
        self.assertEqual(run.quantile([5.0], 0.75), 5.0)


if __name__ == "__main__":
    unittest.main()
