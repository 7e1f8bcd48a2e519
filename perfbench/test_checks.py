#!/usr/bin/env python3
"""Tests of the benchmark's own checkers: each must accept a correct
output and reject a corrupted one (a dropped row, a wrong survivor, a
changed value, a row written twice).

    python3 perfbench/test_checks.py
"""
import copy
import os
import random
import shutil
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402


def small_source(hours, rows_per_hour=140):
    """A stand-in for the sf0.1 replay: `rows_per_hour` events an hour
    with rising ids, the five event types and a small vocabulary."""
    rng = random.Random(5)
    kinds = ["click", "error", "purchase", "signup", "view"]
    events, eid = [], 0
    for _ in range(hours):
        events.append([(eid + i, rng.choice(kinds), round(rng.uniform(0, 500), 2))
                       for i in range(rows_per_hour)])
        eid += rows_per_hour
    words = ["batch", "column", "data", "filter", "group", "hash", "join", "key",
             "merge", "order", "query", "row", "scan", "sort", "spark", "stream",
             "table", "value", "vector", "window"]
    return gen.Source(events, words, list(range(10, 101)),
                      [("de", 7), ("en", 20), ("fr", 7)], [f"src{i}" for i in range(20)])


def small_truth(hours, clusters, spread):
    tmp = tempfile.mkdtemp()
    try:
        _, truth = gen.generate(tmp, 11, "t", small_source(hours), clusters, spread)
    finally:
        shutil.rmtree(tmp)
    return truth


class QueryCheck(unittest.TestCase):
    def setUp(self):
        self.df = pd.DataFrame({"id": [3, 1, 2, 4], "label": ["c", "a", "b", "a"],
                                "score": [0.5, 1.25, -2.0, 1e-9]})
        self.want = checks.summary(self.df)

    def reject(self, df):
        self.assertIsNotNone(checks.verify_summary("q", checks.summary(df), self.want))

    def test_accepts_any_row_and_column_order(self):
        df = self.df.iloc[::-1][["score", "label", "id"]]
        self.assertIsNone(checks.verify_summary("q", checks.summary(df), self.want))

    def test_dropped_row(self):
        self.reject(self.df.iloc[1:])

    def test_wrong_survivor(self):
        df = self.df.copy()
        df.loc[df["id"] == 4, "id"] = 5  # another member kept in place of id 4
        self.reject(df)

    def test_changed_value(self):
        df = self.df.copy()
        df.loc[0, "score"] = 0.5000000000000001  # one ulp
        self.reject(df)

    def test_row_written_twice(self):
        self.reject(pd.concat([self.df, self.df.iloc[:1]]))

    def test_int_column_as_float(self):
        df = self.df.copy()
        df["id"] = df["id"].astype("float64")
        self.reject(df)


class EtlCheck(unittest.TestCase):
    HOURS = 4

    def setUp(self):
        self.truth = small_truth(self.HOURS, 5, spread=True)
        want = checks.expected_etl(self.truth, self.HOURS)
        self.got = {h: {k: copy.deepcopy(v) for k, v in want[h].items()}
                    for h in range(self.HOURS)}
        for h in range(self.HOURS):
            self.got[h]["counts"] = {k: len(v) for k, v in want[h].items()}

    def verify(self):
        return checks.verify_etl(self.got, self.truth, self.HOURS)

    def test_accepts_planted_truth(self):
        self.assertEqual(self.verify(), (True, None))

    def test_clusters_span_hours(self):
        hours = {}
        for t in self.truth:
            if t["cluster"] is not None:
                hours.setdefault(t["cluster"], set()).add(t["batch"])
        self.assertTrue(any(len(h) > 1 for h in hours.values()))

    def test_dropped_row(self):
        self.got[1]["clean"].pop()
        self.got[1]["counts"]["clean"] -= 1
        self.assertFalse(self.verify()[0])

    def test_dropped_row_counted_by_duckdb_only(self):
        self.got[2]["counts"]["curated"] -= 1
        self.assertFalse(self.verify()[0])

    def test_wrong_survivor(self):
        members = {}
        for t in self.truth:
            if t["cluster"] is not None and not t["filtered"]:
                members.setdefault(t["cluster"], []).append(t)
        cluster = next(m for m in members.values()
                       if len({t["batch"] for t in m}) == 1)
        first, second = sorted(cluster, key=lambda t: t["id"])[:2]
        cur = self.got[first["batch"]]["curated"]
        i = next(i for i, r in enumerate(cur) if r["id"] == first["id"])
        cur[i] = checks.expected_row(second)
        self.assertFalse(self.verify()[0])

    def test_changed_value(self):
        self.got[0]["clean"][3]["text"] += " x"
        self.assertFalse(self.verify()[0])

    def test_wrong_violated_rules(self):
        r = self.got[0]["rejects"][0]
        # one rule too few, or another rule when it broke only one
        r["violated_rules"] = (r["violated_rules"][:-1] or
                               [x for x in gen.RULES if x not in r["violated_rules"]][:1])
        self.assertFalse(self.verify()[0])

    def test_row_written_twice(self):
        self.got[3]["curated"].append(dict(self.got[3]["curated"][0]))
        self.got[3]["counts"]["curated"] += 1
        self.assertFalse(self.verify()[0])

    def test_report_miscounts(self):
        self.got[2]["report"][0]["docs"] += 1
        self.assertFalse(self.verify()[0])

    def test_loader_reads_what_duckdb_sees(self):
        tmp = tempfile.mkdtemp()
        try:
            dirs = {k: os.path.join(tmp, k) for k in checks.ETL_SINKS}
            for h in range(self.HOURS):
                for sink in checks.ETL_SINKS:
                    d = os.path.join(dirs[sink],
                                     f"run=h{h:03d}" if sink == "rejects" else f"h{h:03d}")
                    os.makedirs(d)
                    rows = self.got[h][sink]
                    if sink == "report":
                        rows = [{k: v for k, v in r.items() if k != "id"} for r in rows]
                    pd.DataFrame(rows).to_parquet(os.path.join(d, "part-0.parquet"))
            self.assertEqual(checks.check_etl(dirs, self.HOURS, self.truth), (True, None))
            dup = pd.DataFrame(self.got[1]["clean"][:1])
            dup.to_parquet(os.path.join(dirs["clean"], "h001", "part-1.parquet"))
            self.assertFalse(checks.check_etl(dirs, self.HOURS, self.truth)[0])
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
