"""Tests of the benchmark's own rules: python3 perfbench/test_analysis.py"""

import datetime
import json
import os
import re
import unittest

import analysis as A

HERE = os.path.dirname(os.path.abspath(__file__))
T0 = 1704067200000  # 2024-01-01T00:00:00Z


def prog(batch, start_ms, dur_ms, rows, updated=None):
    ts = datetime.datetime.fromtimestamp(start_ms / 1000.0,
                                         datetime.timezone.utc)
    p = {"batchId": batch, "numInputRows": rows,
         "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.") +
         "%03dZ" % (start_ms % 1000),
         "durationMs": {"triggerExecution": dur_ms}}
    if updated is not None:
        p["stateOperators"] = [{"numRowsUpdated": updated,
                                "numRowsTotal": 0, "memoryUsedBytes": 0}]
    return p


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(A.percentile(v, 50), 50)
        self.assertEqual(A.percentile(v, 90), 90)
        self.assertEqual(A.percentile(v, 99), 99)
        self.assertEqual(A.percentile([7], 90), 7)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        p, value, beyond = A.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, value, beyond), (90.0, 90, 10))
        # 1000 samples: p99 leaves 10 beyond
        p, _, beyond = A.tail_percentile(list(range(1000)))
        self.assertEqual((p, beyond), (99.0, 10))
        # 15 samples: even the median leaves only 7 beyond
        self.assertIsNone(A.tail_percentile(list(range(15))))
        self.assertEqual(A.tail_percentile(list(range(20)))[0], 50.0)


class AttributionTest(unittest.TestCase):
    def test_files_reach_gold_through_running_totals(self):
        files = [100, 100, 100, 100]
        silver = [prog(0, T0 + 1000, 500, 200, updated=190),
                  prog(1, T0 + 1600, 100, 0, updated=0),   # no-data batch
                  prog(2, T0 + 2000, 500, 200, updated=195)]
        gold = [prog(0, T0 + 1600, 800, 190),
                prog(1, T0 + 2600, 800, 195)]
        commits = {0: T0 + 2350, 1: T0 + 3350}
        out = A.attribute(files, silver, gold, commits)
        self.assertEqual([o["reach_ms"] for o in out],
                         [T0 + 2350, T0 + 2350, T0 + 3350, T0 + 3350])
        self.assertEqual(out[2]["gold_start_ms"], T0 + 2600)

    def test_silver_batch_that_emits_nothing(self):
        # file 2's rows are all dropped by silver batch 1; an earlier
        # gold batch already covers silver's running output, so the file
        # completes when its silver batch ends, not at that gold commit
        files = [100, 100]
        silver = [prog(0, T0 + 1000, 500, 100, updated=90),
                  prog(1, T0 + 3000, 400, 100, updated=0)]
        gold = [prog(0, T0 + 1600, 800, 90)]
        out = A.attribute(files, silver, gold, {0: T0 + 2350})
        self.assertEqual(out[0]["reach_ms"], T0 + 2350)
        self.assertEqual(out[1]["reach_ms"], T0 + 3400)
        self.assertIsNone(out[1]["gold_start_ms"])

    def test_file_not_yet_in_gold(self):
        files = [100, 100]
        silver = [prog(0, T0, 500, 200, updated=200)]
        gold = [prog(0, T0 + 600, 500, 200)]
        out = A.attribute(files + [100], silver, gold, {0: T0 + 1100})
        self.assertIsNone(out[2])

    def test_gold_total_must_equal_silver_output(self):
        silver = [prog(0, T0, 500, 200, updated=200)]
        gold = [prog(0, T0 + 600, 500, 150)]
        with self.assertRaises(A.AttributionError):
            A.attribute([200], silver, gold, {})

    def test_bronze_batches(self):
        bronze = [prog(0, T0, 300, 150), prog(1, T0 + 400, 300, 50)]
        out = A.bronze_batches([100, 100], bronze)
        self.assertEqual(out[0], (T0, T0 + 300))
        self.assertEqual(out[1], (T0 + 400, T0 + 700))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [{"id": "w", "parent": None, "start_ms": 0, "end_ms": 100},
                 {"id": "a", "parent": "w", "start_ms": 10, "end_ms": 40},
                 {"id": "b", "parent": "w", "start_ms": 30, "end_ms": 60},
                 {"id": "c", "parent": "a", "start_ms": 0, "end_ms": 20}]
        st = A.self_times(spans)
        self.assertEqual(st["w"], 50)
        self.assertEqual(st["a"], 20)  # child clipped to [10, 20]
        self.assertEqual(st["b"], 30)


def catalog_names():
    """Query names of SparkEntry.queries, read from the source."""
    path = os.path.join(HERE, "..", "src", "main", "scala", "graft",
                        "SparkEntry.scala")
    with open(path) as f:
        src = f.read()
    start = src.index("def queries:")
    end = src.index("def oracleSql:")
    return re.findall(r'^    "([a-z0-9_]+)" ->', src[start:end], re.M)


class FamilyTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, "battery.json")) as f:
            cls.spec = json.load(f)
        cls.rule = {"families": cls.spec["families"],
                    "rest": cls.spec["rest"]}

    def test_every_catalog_query_lands_in_exactly_one_family(self):
        names = catalog_names()
        self.assertGreater(len(names), 100)
        self.assertEqual(len(names), len(set(names)))
        fams = {n: A.family_of(n, self.rule) for n in names}  # raises on ties
        every = set(self.spec["families"]) | {self.spec["rest"]}
        self.assertEqual(set(fams.values()), every)

    def test_examples_from_the_rule(self):
        f = lambda n: A.family_of(n, self.rule)  # noqa: E731
        self.assertEqual(f("docs_minhash_admission_split"), "admission")
        self.assertEqual(f("docs_embed_admission"), "admission")
        self.assertEqual(f("docs_crossdup_pairs"), "dedup")
        self.assertEqual(f("dedup_embed_neardup"), "dedup")
        self.assertEqual(f("approx_top_tokens_sketch"), "docs")
        self.assertEqual(f("approx_top_tokens"), "docs")
        self.assertEqual(f("approx_distinct_users"), "sql")
        self.assertEqual(f("gold_upsert_batch"), "rides")
        self.assertEqual(f("upsert_scan_prune"), "tables")

    def test_same_level_tie_is_an_error(self):
        rule = {"families": {"a": {"prefixes": ["x_"]},
                             "b": {"prefixes": ["x_y"]}}, "rest": "c"}
        with self.assertRaises(ValueError):
            A.family_of("x_y1", rule)

    def test_battery_covers_every_family(self):
        fams = {A.family_of(q, self.rule) for q in self.spec["queries"]}
        self.assertEqual(fams, set(self.spec["families"]) |
                         {self.spec["rest"]})


if __name__ == "__main__":
    unittest.main()
