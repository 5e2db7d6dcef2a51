"""Output check of a query's collected rows against its DuckDB oracle.

The comparison is the one ``tools/check_oracle.py`` applies (row count,
column names, type families, then exact values after ``normalize``);
its helpers are imported, not copied.
"""

from __future__ import annotations

import os

import duckdb

from tools.check_oracle import normalize, type_problems
from vega_spark import registry
from vega_spark.tables import TABLE_NAMES


class Oracle:
    """DuckDB views over one input directory, with each query's expected
    result computed once and compared with every execution."""

    def __init__(self, sf_dir: str):
        # one thread: a multi-threaded SUM over doubles is not repeatable
        self.con = duckdb.connect(config={"threads": 1})
        for t in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        self._expected: dict[str, tuple] = {}

    def close(self) -> None:
        self.con.close()

    def expected(self, name: str) -> tuple:
        if name not in self._expected:
            rel = self.con.sql(registry.ORACLES[name])
            cols = list(rel.columns)
            types = dict(zip(cols, (str(t) for t in rel.types)))
            rows = rel.fetchall()
            self._expected[name] = (cols, types, len(rows), normalize(rows, cols))
        return self._expected[name]

    def problems(self, name: str, cols: list[str], types: dict[str, str],
                 rows: list[tuple]) -> list[str]:
        """Why ``rows`` differ from the oracle's result; empty if equal."""
        dcols, dtypes, n, drows = self.expected(name)
        if len(rows) != n:
            return [f"rowcount spark={len(rows)} duckdb={n}"]
        if sorted(cols) != sorted(dcols):
            return [f"columns spark={sorted(cols)} duckdb={sorted(dcols)}"]
        probs = type_problems(types, dtypes)
        if not probs:
            got = normalize(rows, cols)
            if got != drows:
                diff = [(a, b) for a, b in zip(got, drows) if a != b][:2]
                probs.append(f"values differ, first diffs: {diff}")
        return probs
