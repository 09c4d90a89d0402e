"""Output checks against the DuckDB oracles of the registry.

Results are compared with the rules of ``tests/oracle_utils.py``: same
column names, same row count, and the same rows after sorting, with
floats compared exactly. Every oracle runs over the same derived inputs
the program read. Checks run outside every timed region.
"""

from __future__ import annotations

import pandas as pd
from oracle_utils import _normalize, duckdb_connection

from pos_pipeline_core_etl_spark import registry
from pos_pipeline_core_etl_spark.operators.qa import NEG_TOLERANCE


class Checker:
    """Compares program results with oracle results and keeps the list
    of mismatches. ``fault='drop_row'`` drops one row from the first
    result it is given, to show that the check catches it."""

    def __init__(self, sf_dir: str, fault: str | None = None):
        self.con = duckdb_connection(sf_dir)
        self.oracles = registry.all_oracles()
        self.fault = fault
        self.mismatches: list[str] = []
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def close(self) -> None:
        self.con.close()

    def sql(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        """Sorted columns and normalized rows of registry oracle ``name``."""
        if name not in self._cache:
            df = self.sql(self.oracles[name])
            self._cache[name] = (sorted(df.columns), _normalize(df))
        return self._cache[name]

    def same(self, label: str, got: pd.DataFrame, want: pd.DataFrame | tuple) -> bool:
        if self.fault == "drop_row" and len(got):
            got = got.iloc[1:]
            self.fault = None
        cols, rows = want if isinstance(want, tuple) else (sorted(want.columns), _normalize(want))
        if sorted(got.columns) != cols:
            return self.fail(f"{label}: columns {sorted(got.columns)} != {cols}")
        if len(got) != len(rows):
            return self.fail(f"{label}: {len(got)} rows, expected {len(rows)}")
        if _normalize(got) != rows:
            return self.fail(f"{label}: values differ")
        return True

    def oracle(self, name: str, got: pd.DataFrame) -> bool:
        return self.same(name, got, self.expected(name))

    def qa_summary(self, summary: dict) -> bool:
        """``operators.qa.run_payments_qa`` summary against the qa_* oracles."""
        neg = self.sql(self.oracles["qa_non_negative"]).iloc[0]
        cons = self.sql(self.oracles["qa_revenue_consistency"]).iloc[0]
        want = {
            "duplicates": len(self.expected("qa_duplicates")[1]),
            "negative_columns": int(sum(1 for v in neg if pd.notna(v) and v < NEG_TOLERANCE)),
            "tickets_no_revenue": int(cons["tickets_no_revenue"]),
            "revenue_no_tickets": int(cons["revenue_no_tickets"]),
            "missing_days": len(self.expected("qa_missing_days")[1]),
            "zscore_anomalies": len(self.expected("qa_zscore_anomalies")[1]),
            "zero_method_days": len(self.expected("qa_zero_method_flags")[1]),
        }
        got = {k: int(summary[k]) for k in want}
        if got != want:
            return self.fail(f"qa summary {got} != {want}")
        return True

    def fail(self, message: str) -> bool:
        self.mismatches.append(message)
        return False
