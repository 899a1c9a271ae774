"""Unit tests of the benchmark's own code.

Run from the root of the repo:

    python3 -m unittest discover -s perfbench/tests
"""
import gzip
import json
import os
import re
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SMALL = {"days": 2, "hours_per_day": 2, "events_per_hour": 600}


class MetricNames(unittest.TestCase):
    def test_names_units_and_counts(self):
        for group, limit in ((metrics.END_TO_END, 16), (metrics.PER_LAYER, 128)):
            names = [n for n, _ in group]
            self.assertLessEqual(len(names), limit)
            self.assertEqual(len(names), len(set(names)))
            for n, u in group:
                self.assertTrue(NAME.fullmatch(n), n)
                self.assertTrue(UNIT.fullmatch(u), u)
        self.assertIn(("setup_s", "s"), metrics.END_TO_END)

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in metrics._BENCH["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()), bounds)
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 31))  # cron_hourly's 30 hours
        value, p, n = metrics.tail_percentile(xs)
        self.assertEqual((p, n), (66, 30))
        self.assertEqual(sum(x > value for x in xs), 10)
        # one percentile higher leaves fewer than ten beyond
        rank = -(-(p + 1) * n // 100)
        self.assertLess(n - rank, 10)

    def test_exactly_on_the_edge(self):
        value, p, n = metrics.tail_percentile(list(range(100)))
        self.assertEqual((value, p), (89, 90))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))


@unittest.skipUnless(os.path.isdir(run.testdata(run.EVENTS_SF)), "test data not present")
class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(prefix="perfbench-gen-")

    def tearDown(self):
        self.tmp.cleanup()

    def make(self, seed):
        d = os.path.join(self.tmp.name, f"s{seed}-{len(os.listdir(self.tmp.name))}")
        events = os.path.join(run.testdata(run.EVENTS_SF), "events.parquet")
        return gen.generate("cron_hourly", seed, d, events, procs=2, shape=SMALL)

    def test_same_seed_same_files_and_gold(self):
        (m1, g1), (m2, g2) = self.make(7), self.make(7)
        self.assertEqual(m1["files"], m2["files"])
        self.assertEqual(m1["gold_sha256"], m2["gold_sha256"])
        self.assertEqual(g1, g2)

    def test_other_seed_other_files_and_gold(self):
        (m1, g1), (m2, g2) = self.make(7), self.make(8)
        self.assertNotEqual([f["sha256"] for f in m1["files"]],
                            [f["sha256"] for f in m2["files"]])
        self.assertNotEqual(m1["gold_sha256"], m2["gold_sha256"])

    def test_expected_counts_match_the_files(self):
        m, gold = self.make(7)
        d = os.path.join(self.tmp.name, os.listdir(self.tmp.name)[0])
        expected = Counter()
        for f in m["files"]:
            valid = 0
            with gzip.open(os.path.join(d, f["file"]), "rt") as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    valid += 1
                    r = e["repo"]
                    expected[(e["type"], r["id"], r["name"], r["url"], e["created_at"][:10])] += 1
            self.assertEqual(valid, f["valid"], f["file"])
        self.assertEqual(expected, gold)
        self.assertLess(m["valid_events"], m["events"])  # malformed lines were planted
        self.assertGreater(m["raw_bytes"] / m["bytes"], 3)  # not a repeated-text ratio


class GoldRows(unittest.TestCase):
    """The gold check compares whole rows, not sums per key."""
    GOLD = Counter({("PushEvent", 7, "o/r", "u", "2024-01-01"): 3})

    def table(self, rows):
        with tempfile.TemporaryDirectory(prefix="perfbench-gold-") as d:
            con = check.connect()
            values = ", ".join(f"('PushEvent', 7, 'o/r', 'u', TIMESTAMPTZ '{ts}', {n})"
                               for ts, n in rows)
            con.execute(f"COPY (SELECT * FROM (VALUES {values}) t(event_type, repo_id, "
                        "repo_name, repo_url, event_date, event_count)) "
                        f"TO '{d}/part-0.parquet' (FORMAT PARQUET)")
            return check.gold_table(con, d)

    def test_exact_rows_match(self):
        self.assertEqual(self.table([("2024-01-01 00:00:00+00", 3)]),
                         check.expected_rows(self.GOLD))

    def test_split_key_fails(self):
        got = self.table([("2024-01-01 00:00:00+00", 1), ("2024-01-01 00:00:00+00", 2)])
        self.assertNotEqual(got, check.expected_rows(self.GOLD))

    def test_time_not_at_midnight_fails(self):
        got = self.table([("2024-01-01 05:00:00+00", 3)])
        self.assertNotEqual(got, check.expected_rows(self.GOLD))

    def test_expected_rows_of_one_day(self):
        gold = self.GOLD + Counter({("PushEvent", 7, "o/r", "u", "2024-01-02"): 1})
        self.assertEqual(len(check.expected_rows(gold, "2024-01-02")), 1)


class CanonicalDigest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        con = check.connect()
        a = check.canonical(con, "SELECT * FROM (VALUES (1, 'x', 2.5), (2, NULL, 0.1)) t(k, s, v)")
        b = check.canonical(con, "SELECT v, s, k FROM (VALUES (2, NULL, 0.1), (1, 'x', 2.5)) t(k, s, v)")
        self.assertEqual(a, b)

    def test_values_and_types_matter(self):
        con = check.connect()
        base = check.canonical(con, "SELECT * FROM (VALUES (1, 2.5)) t(k, v)")
        self.assertNotEqual(base, check.canonical(con, "SELECT * FROM (VALUES (1, 2.6)) t(k, v)"))
        self.assertNotEqual(base, check.canonical(
            con, "SELECT k, CAST(v AS DECIMAL(4,2)) AS v FROM (VALUES (1, 2.5)) t(k, v)"))
        self.assertNotEqual(base, check.canonical(
            con, "SELECT * FROM (VALUES (1, 2.5), (1, 2.5)) t(k, v)"))


if __name__ == "__main__":
    unittest.main()
