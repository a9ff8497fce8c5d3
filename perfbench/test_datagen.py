"""Self-test of the table generator: python3 -m unittest perfbench/test_datagen.py"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402

SF = 0.001


def _read(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.tables(a, 5, SF)
            datagen.tables(b, 5, SF)
            self.assertEqual(_read(a), _read(b))

    def test_seed_permutes_rows_of_the_same_content(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.tables(a, 5, SF)
            datagen.tables(b, 6, SF)
            self.assertNotEqual(_read(a)["lineitem.parquet"], _read(b)["lineitem.parquet"])
            for name in sorted(os.listdir(a)):
                ta = pq.read_table(os.path.join(a, name))
                tb = pq.read_table(os.path.join(b, name))
                keys = [(c, "ascending") for c, t in zip(ta.column_names, ta.schema.types)
                        if not str(t).startswith("list")]
                self.assertEqual(ta.sort_by(keys), tb.sort_by(keys), name)
                self.assertEqual(pq.ParquetFile(os.path.join(a, name)).num_row_groups, 1)


if __name__ == "__main__":
    unittest.main()
