"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The family-attribution test builds the harness if needed and asks the JVM
for the catalog key → family map."""

import csv
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(170), 94)
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertIsNone(stats.tail_percentile(10))
        for n in (11, 57, 100, 170, 1000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10)
            if p < 99:
                self.assertLess(stats.beyond(n, p + 1), 10)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([1.0] * 10), 0.0)
        self.assertGreater(stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8]), 0)


class FailedFrac(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(10, 0), 0.0)
        self.assertEqual(stats.failed_frac(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_summary_counts_wrong_outputs_and_final_checks(self):
        res = {"setup_s": [1.0, 2.0, 3.0], "window_s": 4.0,
               "ops": [{"kind": "cold_fold", "s": 3.0, "ok": True, "key": ""},
                       {"kind": "fold", "s": 4.0, "ok": True, "key": "cycle1"},
                       {"kind": "lookup", "s": 1.0, "ok": True, "key": ""},
                       {"kind": "lookup", "s": 1.0, "ok": False, "key": ""},
                       {"kind": "fold", "s": 2.0, "ok": True, "key": "cycle1"},
                       {"kind": "lookup", "s": 1.5, "ok": True, "key": ""}],
               "failures": ["lookup 1 returned an empty answer",
                            "final lookup 0 differs from the one-shot store"],
               "facts": {"final_checks": 3}}
        correct, attempted, failed, m = run.summarize(
            "ingest_serve", res, {}, trace=False)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (9, 2))
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertEqual(m["cold_s"]["value"], 3.0)
        # a cycle's folds are averaged: the amortized fold cost
        self.assertEqual(m["op2_p50_s"]["value"], 3.0)
        self.assertEqual(sorted(m), sorted(n for n, _ in run.END_TO_END))

    def test_malformed_conversion_output_is_a_failed_op(self):
        # the harness marks the op failed and carries on; the run is not
        # correct and the op counts toward failed_frac
        ops = [{"kind": k, "s": s, "ok": True, "key": ""} for k, s in
               (("cold_csv", 2.0), ("cold_xlsx", 1.5), ("csv", 0.5),
                ("xlsx", 0.3), ("csv", 0.6), ("xlsx", 0.4))]
        ops[4]["ok"] = False
        res = {"setup_s": [0.3, 0.3, 0.4], "window_s": 1.8, "ops": ops,
               "failures": ["csv: malformed output: JsonParseException"],
               "facts": {"layers": {}, "rows": 60, "json_bytes": 10,
                         "input_bytes": 5}}
        manifest = {"csv": {"bytes": 100}}
        correct, attempted, failed, m = run.summarize(
            "convert", res, manifest, trace=True)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertAlmostEqual(m["failed_frac"]["value"], 1 / 6)

    def test_catalog_percentiles_are_over_per_query_medians(self):
        # query a runs 1, 1, 9 s (one slow pass), b runs 2, 2, 2 s: the
        # median of 6 mixed samples would be 1.5; per query it is 1 and 2
        ops = [{"kind": "query", "s": s, "ok": True, "key": k}
               for k, s in (("a", 1.0), ("b", 2.0), ("a", 1.0), ("b", 2.0),
                            ("a", 9.0), ("b", 2.0))]
        ops += [{"kind": "pass", "s": 3.0, "ok": True, "key": ""},
                {"kind": "cold_pass", "s": 5.0, "ok": True, "key": ""}]
        res = {"setup_s": [1.0], "window_s": 6.0, "ops": ops, "failures": [],
               "facts": {}}
        correct, attempted, failed, m = run.summarize(
            "catalog", res, {}, trace=False)
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (6, 0))
        self.assertEqual(m["op_p50_s"]["value"], 1.5)
        self.assertEqual(m["op_p90_s"]["value"], 2.0)


class OutputChecks(unittest.TestCase):
    """The harness's conversion-output check reports a malformed output
    instead of throwing."""

    def check(self, kind, files):
        d = tempfile.mkdtemp(dir=run.STATE)
        try:
            for name, text in files.items():
                with open(os.path.join(d, name), "w", encoding="utf-8") as f:
                    f.write(text)
            out = subprocess.run(
                ["java", "-cp", f"{run.CLASSES}:{run.SPARK_JARS}/*",
                 "graft.perfbench.Harness", "check", kind, d],
                capture_output=True, text=True, check=True, timeout=120).stdout
            return json.loads(out.strip().splitlines()[-1])
        finally:
            shutil.rmtree(d)

    def test_outputs(self):
        run.build()
        rows = [{"l_orderkey": 1, "l_linenumber": 2, "l_comment": "a\n\"b\""},
                {"l_orderkey": 3, "l_linenumber": 1, "l_comment": "в"}]
        good = self.check("csv", {"part-0.json": "".join(
            json.dumps(r, ensure_ascii=False) + "\n" for r in rows)})
        keys = [f"{r['l_orderkey']}|{r['l_linenumber']}|{r['l_comment']}"
                for r in rows]
        self.assertEqual(good, {"rows": 2, "key_hash": str(gen.key_hash(keys))})
        for kind, files in (
                ("csv", {"part-0.json": '{"l_orderkey": 1, "l_linen'}),
                ("csv", {"part-0.json": '{"l_orderkey": 1}\n'}),
                ("xlsx", {"a.json": "[]", "b.json": "[]"}),
                ("xlsx", {"a.json": '{"o_orderkey": 1}'})):
            self.assertIn("malformed output", self.check(kind, files).get("error", ""))


class FamilyAttribution(unittest.TestCase):
    def test_every_catalog_key_has_exactly_one_family(self):
        run.build()
        out = subprocess.run(
            ["java", "-cp", f"{run.CLASSES}:{run.SPARK_JARS}/*",
             "graft.perfbench.Harness", "families"],
            capture_output=True, text=True, check=True, timeout=120).stdout
        fams = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(len(fams), 170)
        bad = {k: v for k, v in fams.items() if len(v) != 1}
        self.assertEqual(bad, {})
        self.assertEqual({v[0] for v in fams.values()}, set(run.FAMILIES))
        with open(run.CATALOG_CFG) as f:
            cfg = json.load(f)
        self.assertTrue(set(cfg["queries"]) <= set(fams))
        self.assertEqual({fams[q][0] for q in cfg["queries"]}, set(run.FAMILIES))


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.STATE, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.STATE)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(cmp.left_only + cmp.right_only + cmp.diff_files, [])
        for sub in cmp.common_dirs:
            self.same_tree(os.path.join(a, sub), os.path.join(b, sub))

    def test_same_seed_same_bytes(self):
        for w in ("convert", "ingest_serve"):
            a = os.path.join(self.tmp, f"{w}-a")
            b = os.path.join(self.tmp, f"{w}-b")
            c = os.path.join(self.tmp, f"{w}-c")
            gen.generate(w, 5, a)
            gen.generate(w, 5, b)
            gen.generate(w, 6, c)
            self.same_tree(a, b)
            with open(os.path.join(a, "MANIFEST.json")) as f, \
                    open(os.path.join(c, "MANIFEST.json")) as g:
                self.assertNotEqual(json.load(f), json.load(g))

    def test_csv_quoting_round_trips_to_the_manifest(self):
        d = os.path.join(self.tmp, "convert")
        m = gen.generate("convert", 9, d)
        with open(os.path.join(d, "lineitem.csv"), encoding="utf-8",
                  newline="") as f:
            rows = list(csv.DictReader(f))
        self.assertEqual(len(rows), m["csv"]["rows"])
        keys = [f"{r['l_orderkey']}|{r['l_linenumber']}|{r['l_comment']}"
                for r in rows]
        self.assertEqual(str(gen.key_hash(keys)), m["csv"]["key_hash"])
        tricky = [r["l_comment"] for r in rows if "\n" in r["l_comment"]]
        self.assertEqual(len(tricky), m["csv"]["quoted_rows"])
        self.assertTrue(all('"' in c and any("а" <= ch <= "я" for ch in c)
                            for c in tricky))


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_harness(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
