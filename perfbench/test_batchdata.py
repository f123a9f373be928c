"""Tests of the batch_mix table generator and oracle comparison.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest
from decimal import Decimal

import pyarrow.parquet as pq

import batchdata


class ProvenTieTest(unittest.TestCase):
    def test_the_two_roundings_of_a_half_way_value_are_a_tie(self):
        exact = Decimal("5031999109.985000")
        self.assertTrue(batchdata.proven_tie(5031999109.99, 5031999109.98, exact))
        self.assertTrue(batchdata.proven_tie(5031999109.98, 5031999109.99, exact))
        # a double is taken at its shortest decimal form
        self.assertTrue(batchdata.proven_tie(25.5755, 25.5754, 25.57545))

    def test_a_value_that_is_not_half_way_proves_nothing(self):
        # off by one cent, but the exact sum ends in ...2075: not a tie at 2 places
        self.assertFalse(batchdata.proven_tie(5058722294.22, 5058722294.21,
                                              Decimal("5058722294.207500")))
        self.assertFalse(batchdata.proven_tie(25.4835, 25.4834, 25.48340339901576))

    def test_only_the_two_neighbours_of_the_tie_pass(self):
        exact = Decimal("5031999109.985")
        self.assertFalse(batchdata.proven_tie(5031999110.0, 5031999109.98, exact))
        self.assertFalse(batchdata.proven_tie(5031999109.97, 5031999109.98, exact))
        self.assertFalse(batchdata.proven_tie(5031999109.98, 5031999109.98, exact))
        self.assertFalse(batchdata.proven_tie(5, 6, Decimal("5.5")))


class StripRoundTest(unittest.TestCase):
    def test_round_calls_are_taken_out_and_a_decimal_stays_exact(self):
        sql = ("SELECT round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE), 2) AS s, "
               "round(CAST(sum(q) AS DOUBLE) / count(*), 4) AS a, 'round(x, 1)' AS t FROM l")
        self.assertEqual(batchdata.strip_round(sql),
                         "SELECT (sum(CAST(q AS DECIMAL(18,6)))) AS s, "
                         "(CAST(sum(q) AS DOUBLE) / count(*)) AS a, 'round(x, 1)' AS t FROM l")

    def test_nested_rounds_and_no_round(self):
        self.assertEqual(batchdata.strip_round("SELECT ROUND(round(x, 1) + 1, 2) FROM t"),
                         "SELECT ((x) + 1) FROM t")
        self.assertIsNone(batchdata.strip_round("SELECT x FROM t"))


class GenerateTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            batchdata.generate(3, a)
            batchdata.generate(3, b)
            for t in batchdata.TABLES:
                ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
                self.assertTrue(ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet"))), t)
            self.assertEqual(pq.read_table(os.path.join(a, "lineitem.parquet")).num_rows, 600_000)


if __name__ == "__main__":
    unittest.main()
