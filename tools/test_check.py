"""Unit tests for tools/check.py (run: python3 -m unittest discover tools)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402


class StubConnection:
    """A DuckDB stand-in: each SQL text answers one row naming itself."""

    def __init__(self):
        self.executed = []
        self.description = None

    def execute(self, sql):
        self.executed.append(sql)
        self.description = [("q",)]
        self._rows = [(sql,)]
        return self

    def fetchall(self):
        return self._rows


class OraclesTest(unittest.TestCase):

    def test_repeated_sql_executes_once(self):
        con = StubConnection()
        sqls = ["SELECT 217", "SELECT 1", "SELECT 217"]
        oracles = check.Oracles(con, sqls)
        results = [oracles.result(sql) for sql in sqls]
        self.assertEqual(con.executed, ["SELECT 217", "SELECT 1"])
        self.assertEqual(results[0], ([("SELECT 217",)], ["q"]))
        self.assertEqual(results[2], results[0])
        self.assertEqual(oracles.kept, {})

    def test_distinct_sql_each_executes(self):
        con = StubConnection()
        sqls = ["SELECT 1", "SELECT 2"]
        oracles = check.Oracles(con, sqls)
        for sql in sqls:
            oracles.result(sql)
        self.assertEqual(con.executed, sqls)


if __name__ == "__main__":
    unittest.main()
