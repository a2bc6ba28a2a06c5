"""Tests of the snapshot inputs: the seeded re-layout and its output check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import snapdata


class SnapDataTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="snapdata-test")
        cls.pool = os.path.join(cls.tmp, "pool")
        snapdata.make_pool(cls.pool, 0.0005)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def layout(self, name, seed):
        out = os.path.join(self.tmp, name)
        snapdata.layout(self.pool, out, seed)
        return out

    def test_same_seed_same_bytes(self):
        a = snapdata.fingerprint(self.layout("a", 1))
        self.assertEqual(a, snapdata.fingerprint(self.layout("b", 1)))
        self.assertNotEqual(a, snapdata.fingerprint(self.layout("c", 2)))

    def test_several_files_per_table(self):
        out = self.layout("files", 3)
        for table, (_, files) in snapdata.TABLES.items():
            self.assertEqual(
                len(os.listdir(os.path.join(out, f"{table}.parquet"))), files)

    def test_expected_equals_an_independent_digest_of_the_layout(self):
        out = self.layout("indep", 4)
        with open(os.path.join(out, "expected.json")) as fh:
            expected = json.load(fh)
        con = snapdata._connect()
        for table, (dst, where, dropped) in snapdata.ROUTES.items():
            src = f"read_parquet('{out}/{table}.parquet/*.parquet')"
            kept = [c for c in snapdata._columns(con, src) if c not in dropped]
            got = snapdata._digest(
                con, f"(SELECT * FROM {src} WHERE {where})", kept)
            self.assertEqual(expected[dst], got, dst)
        con.close()

    def sink(self, data, name, drop_one_from=None):
        """A sink with exactly what the snapshot task must write, or with
        one row missing from one table."""
        sink = os.path.join(self.tmp, name)
        con = snapdata._connect()
        for table, (dst, where, dropped) in snapdata.ROUTES.items():
            src = f"read_parquet('{data}/{table}.parquet/*.parquet')"
            kept = [c for c in snapdata._columns(con, src) if c not in dropped]
            limit = ("OFFSET 1" if dst == drop_one_from else "")
            os.makedirs(os.path.join(sink, dst))
            con.execute(f"""COPY (SELECT {', '.join(kept)} FROM {src}
                            WHERE {where} ORDER BY ALL {limit})
                            TO '{sink}/{dst}/part-0.parquet' (FORMAT parquet)""")
        con.close()
        return sink

    def test_check_passes_a_correct_sink_and_fails_a_corrupted_one(self):
        data = self.layout("chk", 5)
        self.assertEqual(snapdata.check(data, self.sink(data, "good")),
                         (4, 0, []))
        n, failed, notes = snapdata.check(
            data, self.sink(data, "bad", drop_one_from="dw.orders"))
        self.assertEqual((n, failed), (4, 1))
        self.assertTrue(notes[0].startswith("dw.orders"))


if __name__ == "__main__":
    unittest.main()
