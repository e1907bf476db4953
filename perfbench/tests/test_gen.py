"""Seed determinism of the input generator.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


class SeedDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def make(self, workload, seed, tag):
        out = os.path.join(self.tmp.name, tag)
        return out, gen.generate(workload, seed, out)

    def test_same_seed_same_bytes(self):
        for w in ("nightly", "curation"):
            a, ma = self.make(w, 11, f"{w}-a")
            b, mb = self.make(w, 11, f"{w}-b")
            self.assertEqual(ma, mb)
            self.assertEqual(files(a), files(b))
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)

    def test_other_seed_other_bytes(self):
        for w in ("nightly", "curation"):
            a, _ = self.make(w, 11, f"{w}-a")
            b, _ = self.make(w, 12, f"{w}-b")
            differ = [f for f in files(a) if f.endswith(".parquet")
                      and not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)]
            self.assertTrue(differ, w)

    def test_day2_adds_back_only_held_out_orders(self):
        import pyarrow.parquet as pq
        out, meta = self.make("nightly", 3, "n")
        d1 = pq.read_table(os.path.join(out, "day1", "orders.parquet")).to_pydict()
        d2 = pq.read_table(os.path.join(out, "day2", "orders.parquet")).to_pydict()
        held = set(d2["o_orderkey"]) - set(d1["o_orderkey"])
        self.assertEqual(len(held), meta["held_out_orders"])
        self.assertTrue(set(d1["o_orderkey"]) <= set(d2["o_orderkey"]))
        years = {d2["o_orderdate"][d2["o_orderkey"].index(k)].year for k in held}
        self.assertEqual(years, {meta["changed_year"]})
        i1 = pq.read_table(os.path.join(out, "day1", "lineitem.parquet")).to_pydict()
        self.assertFalse(held & set(i1["l_orderkey"]))

    def test_rows_and_bytes_are_recorded(self):
        out, meta = self.make("curation", 5, "c")
        for name, st in meta["sets"]["corpus"].items():
            p = os.path.join(out, "corpus", f"{name}.parquet")
            self.assertEqual(st["bytes"], os.path.getsize(p))
            self.assertGreater(st["rows"], 0)


if __name__ == "__main__":
    unittest.main()
