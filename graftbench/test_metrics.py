"""Tests of the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s graftbench
"""
import unittest

import datagen
import metrics


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 80), 80)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 80), 80)
        self.assertEqual(metrics.percentile([7.0], 80), 7.0)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 80), 4)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 80)


def span(i, parent, kind, name, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end}


def job(i, sid, start, end, site="collect at Harness.scala:10"):
    return {"id": i, "span": sid, "start": start, "end": end, "site": site,
            "stages": 1, "tasks": 4, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "in_bytes": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        self.assertEqual(metrics.self_ms(0, 100, []), 100)
        self.assertEqual(metrics.self_ms(0, 100, [(10, 30), (20, 40)]), 70)
        # children are clipped to the parent's interval
        self.assertEqual(metrics.self_ms(0, 100, [(-10, 10), (90, 120)]), 80)

    def test_layer_self_time_over_a_pass(self):
        spans = [span(0, -1, "pass", "warm1", 0, 100),
                 span(1, 0, "op", "q01", 0, 100),
                 span(2, 1, "build", "q01", 0, 40),
                 span(3, 1, "action", "q01", 40, 100),
                 span(4, 0, "check", "x", 100, 100)]
        jobs = [job(0, 2, 10, 30, "parquet at Tables.scala:17"),
                job(1, 3, 50, 90),
                # no span property: attributed to the innermost span by time
                job(2, None, 95, 97)]
        phases = [{"name": "planning", "start": 41, "end": 45}]
        t = metrics.Trace(spans, jobs, phases)
        self.assertEqual([j["id"] for j in t.jobs_of[3]], [1, 2])
        acc = t.layer_self_ms(0)
        self.assertAlmostEqual(acc["ops"], 20)        # 40 - loader job
        self.assertAlmostEqual(acc["tables"], 20)     # the loader job
        self.assertAlmostEqual(acc["plans"], 4)
        self.assertAlmostEqual(acc["exec"], 60 - 40 - 2 - 4 + 40 + 2)
        self.assertAlmostEqual(acc["harness"], 0)
        self.assertAlmostEqual(sum(acc.values()), 100)

    def test_check_spans_are_left_out(self):
        spans = [span(0, -1, "pass", "cold0", 0, 100),
                 span(1, 0, "check", "rebuild", 50, 100)]
        t = metrics.Trace(spans, [job(0, 1, 60, 90)], [])
        self.assertEqual(t.jobs_under(0), [])


class JobClassification(unittest.TestCase):
    def test_call_sites(self):
        c = metrics.classify_site
        self.assertEqual(c("parquet at Tables.scala:17"), "tables")
        self.assertEqual(c("count at Checkpoints.scala:40"), "checkpoint")
        self.assertEqual(c("count at Dedup.scala:812"), "Dedup")
        self.assertEqual(c("head at Similarity.scala:90"), "Similarity")
        self.assertEqual(c("collect at Harness.scala:231"), "action")
        self.assertEqual(c("parquet at VersionedCorpus.scala:70"), "sources")
        self.assertEqual(c("count at SparkEntry.scala:5"), "other")
        self.assertEqual(c(""), "other")

    def test_op_modules(self):
        self.assertEqual(metrics.op_module("q01_pricing_summary"), "Relational")
        self.assertEqual(metrics.op_module("tx48_bigram_surprise"), "Text")
        self.assertEqual(metrics.op_module("gr05_kcore"), "Graph")
        self.assertIsNone(metrics.op_module("src1_publish_keepers"))


class Generator(unittest.TestCase):
    def test_key_offset_keeps_operator_residues(self):
        for m in (2, 3, 4, 5, 7, 10, 13, 16, 17, 20, 23, 97, 100):
            self.assertEqual(datagen.key_offset(123) % m, 0)

    def test_suffix_is_letters_and_seeded(self):
        self.assertTrue(datagen.token_suffix(5).isalpha())
        self.assertNotEqual(datagen.token_suffix(1), datagen.token_suffix(2))


if __name__ == "__main__":
    unittest.main()
