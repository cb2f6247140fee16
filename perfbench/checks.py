"""Output checks for the Spark workloads.

Hash-gated keys are compared with their DuckDB oracle by the same rules as
``scripts/check_oracle.py`` (row count, column names, per-column type
categories, order-insensitive values with float tolerance), whose helpers
are imported here.  The rows-only keys are compared on row count and schema
with the values recorded in ``expected.json``.
"""

from __future__ import annotations

import json
import os

from common import HERE, testdata_dir

EXPECTED_PATH = os.path.join(HERE, "expected.json")


def compare(s_rows, s_cols, d_rows, d_cols) -> list[str]:
    """check_oracle's verdict for one key: [] when the results match."""
    from scripts import check_oracle as co

    problems = []
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if not problems:
        problems.extend(co._type_problems(s_rows, s_cols, d_rows, d_cols))
    if not problems:
        ms_s = co._rows_to_multiset(s_rows, s_cols)
        ms_d = co._rows_to_multiset(d_rows, d_cols)
        if ms_s != ms_d:
            diffs, n_a, n_b = co._multiset_diff(ms_s, ms_d)
            if diffs:
                problems.append(
                    f"values differ ({n_a} spark-only / {n_b} duckdb-only); "
                    f"sample: {diffs[0]}"
                )
            else:
                problems.append("values equal only within tolerance")
    return problems


class OutputChecker:
    def __init__(self, sf: str) -> None:
        import duckdb

        import __spark_entry__
        from parquet_to_clickhouse_schema_spark.sources.io import TABLES

        self.sf_dir = testdata_dir(sf)
        # oracle SQL that reads footers names the gate scale's files
        self._gate_dir = testdata_dir("sf0.01")
        self.oracles = __spark_entry__.oracle_sql()
        with open(EXPECTED_PATH, encoding="utf-8") as fh:
            self.expected = json.load(fh)[sf]
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )

    def check(self, key: str, cols: list[str], schema: str, rows: list) -> list[str]:
        if key in self.oracles:
            res = self.con.execute(self.oracles[key].replace(self._gate_dir, self.sf_dir))
            return compare(rows, cols, res.fetchall(), [d[0] for d in res.description])
        want = self.expected.get(key)
        if want is None:
            return ["no oracle and no recorded row count"]
        problems = []
        if len(rows) != want["rows"]:
            problems.append(f"rowcount {len(rows)} != recorded {want['rows']}")
        if schema != want["schema"]:
            problems.append(f"schema {schema} != recorded {want['schema']}")
        return problems

    def close(self) -> None:
        self.con.close()
