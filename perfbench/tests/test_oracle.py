"""Tests of the DuckDB twins and the result normalizer.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from oracle import Twin, normalize, same_rows  # noqa: E402

USERS = [("CompanyCode", "str"), ("Id", "str"), ("RegNo", "str"), ("Title", "str")]


def users(con, rows):
    values = ", ".join("(" + ", ".join("NULL" if v is None else f"'{v}'" for v in r) + ")" for r in rows)
    con.execute(f"CREATE OR REPLACE TABLE u AS SELECT * FROM (VALUES {values}) "
                f"t(CompanyCode, Id, RegNo, Title)")
    return Twin("u", USERS)


def argext(fn):
    return {"Conditions": {"Conditions": []}, "GroupBy": ["CompanyCode"],
            "Aggregation": {"AggregateProperty": "RegNo", "AggregateFunction": fn}}


class NormalizerTest(unittest.TestCase):
    cols = [("Id", "str"), ("Title", "str"), ("n", "int")]

    def test_missing_field_is_null(self):
        # toJSON drops null fields; Row.json and DuckDB keep them
        self.assertEqual(normalize([{"Id": "a", "n": 1}], self.cols),
                         normalize([{"Id": "a", "Title": None, "n": 1}], self.cols))

    def test_numeric_strings_stay_strings(self):
        self.assertNotEqual(normalize([{"Id": "0100"}], self.cols), normalize([{"Id": "100"}], self.cols))
        self.assertNotEqual(normalize([{"Id": "100"}], self.cols), normalize([{"Id": 100}], self.cols))

    def test_numbers_compare_by_value(self):
        rows = [normalize([{"n": v}], self.cols) for v in (3, 3.0, Decimal("3.000"))]
        self.assertEqual(rows[0], rows[1])
        self.assertEqual(rows[1], rows[2])

    def test_names_are_case_insensitive(self):
        self.assertEqual(normalize([{"ID": "a", "title": "x"}], self.cols),
                         normalize([{"Id": "a", "Title": "x"}], self.cols))

    def test_unknown_field_fails(self):
        self.assertIsNone(normalize([{"Id": "a", "extra": 1}], self.cols))

    def test_rows_are_a_multiset(self):
        self.assertNotEqual(normalize([{"Id": "a"}, {"Id": "a"}], self.cols),
                            normalize([{"Id": "a"}], self.cols))
        self.assertEqual(normalize([{"Id": "a"}, {"Id": "b"}], self.cols),
                         normalize([{"Id": "b"}, {"Id": "a"}], self.cols))

    def test_engine_timestamps_match_duckdb(self):
        con = duckdb.connect()
        rel = con.sql("SELECT TIMESTAMP '1995-03-15 00:00:00' AS ts, 1.5::DOUBLE AS d")
        self.assertTrue(same_rows([{"ts": "1995-03-15T00:00:00.000Z", "d": 1.5}], rel))
        rel = con.sql("SELECT TIMESTAMP '1995-03-15 00:00:00' AS ts, 1.5::DOUBLE AS d")
        self.assertFalse(same_rows([{"ts": "1995-03-15T00:00:01.000Z", "d": 1.5}], rel))


class TwinTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def rows(self, twin, rule):
        return sorted(self.con.sql(twin.rule(rule)).fetchall(), key=repr)

    def test_argmax_breaks_numeric_ties_on_the_whole_row(self):
        # "10" and "10.0" are the same number: the row ordering decides, Id "u2" > "u1"
        twin = users(self.con, [("C1", "u1", "10", "A"), ("C1", "u2", "10.0", "A"), ("C1", "u3", "9", "A")])
        self.assertEqual([r[1] for r in self.rows(twin, argext("Max"))], ["u2"])

    def test_argmin_orders_numerically_and_takes_unparseable_first(self):
        twin = users(self.con, [("C1", "u1", "10", "A"), ("C1", "u3", "9", "A")])
        self.assertEqual([r[1] for r in self.rows(twin, argext("Min"))], ["u3"])
        # a value the decimal lift cannot parse orders as null, below every number
        twin = users(self.con, [("C1", "u1", "10", "A"), ("C1", "u3", "n/a", "A")])
        self.assertEqual([r[1] for r in self.rows(twin, argext("Min"))], ["u3"])
        self.assertEqual([r[1] for r in self.rows(twin, argext("Max"))], ["u1"])

    def test_null_tie_break_column_orders_lowest(self):
        twin = users(self.con, [("C1", "u1", "5", None), ("C1", "u1", "5", "A")])
        self.assertEqual([r[3] for r in self.rows(twin, argext("Max"))], ["A"])
        self.assertEqual([r[3] for r in self.rows(twin, argext("Min"))], [None])

    def test_one_row_per_group(self):
        twin = users(self.con, [("C1", "u1", "5", "A"), ("C2", "u2", "7", "A"), ("C2", "u3", "8", "A")])
        self.assertEqual([r[1] for r in self.rows(twin, argext("Max"))], ["u1", "u3"])

    def test_ordered_comparison_lifts_strings_to_decimal(self):
        twin = users(self.con, [("C1", "u1", "01001", "A"), ("C1", "u2", "999", "A"), ("C1", "u3", "n/a", "A")])
        rule = {"Conditions": {"Conditions": [{"Property": "regno", "Operator": "GreaterThan", "Value": 1000}]}}
        self.assertEqual([r[1] for r in self.rows(twin, rule)], ["u1"])

    def test_negate_collapses_null_to_false_first(self):
        # Contains on a null Title is null; NOT over it keeps the row
        twin = users(self.con, [("C1", "u1", "5", None), ("C1", "u2", "5", "Manager")])
        rule = {"Conditions": {"Groups": [{"Negate": True, "Conditions": [
            {"Property": "Title", "Operator": "Contains", "Value": "Man"}]}]}}
        self.assertEqual([r[1] for r in self.rows(twin, rule)], ["u1"])

    def test_count_names_its_column_count(self):
        twin = users(self.con, [("C1", "u1", "5", "A"), ("C1", "u2", "5", None)])
        rule = {"Conditions": {"Conditions": []}, "GroupBy": ["CompanyCode"],
                "Aggregation": {"AggregateProperty": "Id", "AggregateFunction": "Count"}}
        self.assertTrue(same_rows([{"CompanyCode": "C1", "count": 2}], self.con.sql(twin.rule(rule))))


if __name__ == "__main__":
    unittest.main()
