"""Reference outputs, computed with DuckDB from the generated inputs.

The reference never calls the program: it parses the audit text with
DuckDB's own regex engine, joins the benchmark's catalog and evaluates the
four route predicates. The firehose route hashes with Spark's ``xxhash64``,
which DuckDB lacks, so its flag comes from ``inputs.spark_xxhash64_str_int``.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench.inputs import CATALOG_ROWS, ROUTE_IDS, Transcripts

AUDIT_PATTERN = (
    r"\[(debug|info|warn|error|critical)\] actor=(\S+) action=(\S+) resource=(\S+)"
)

_FLAGS_SQL = f"""
WITH parsed AS (
  SELECT i, role, tool,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 1), '') AS severity,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 3), '') AS action
  FROM t
),
enriched AS (
  SELECT p.i, p.action,
    coalesce(p.severity, c.default_severity, 'unknown') AS severity,
    coalesce(c.category, 'unknown') AS category
  FROM parsed p LEFT JOIN catalog c ON p.tool = c.tool AND p.role = c.role
)
SELECT
  coalesce(severity IN ('error', 'critical'), false) AS "sec-alerts",
  coalesce(category = 'chat', false) AS "chat-archive",
  coalesce(action IN ('user_login', 'token_created', 'permission_granted'), false)
    AS "auth-audit"
FROM enriched
ORDER BY i
"""


@dataclass
class RouteReference:
    """Per-row route flags in table order (the table is sorted by ts)."""

    flags: np.ndarray  # (rows, 4) bool, columns in ROUTE_IDS order
    ts_us: np.ndarray  # int64, ascending

    def totals(self, lo: int = 0, hi: int | None = None) -> dict[str, int]:
        """Per-route counts over rows ``lo:hi`` of the table."""
        sums = self.flags[lo:hi].sum(axis=0)
        return {r: int(n) for r, n in zip(ROUTE_IDS, sums)}

    def window(self, end_us: int, length_us: int) -> tuple[int, int]:
        """Row range of ts in [end - length, end], both ends inclusive
        (``timerange.window_filter``'s BETWEEN)."""
        lo = np.searchsorted(self.ts_us, end_us - length_us, side="left")
        hi = np.searchsorted(self.ts_us, end_us, side="right")
        return int(lo), int(hi)


def route_reference(transcripts: Transcripts, threads: int) -> RouteReference:
    con = duckdb.connect(config={"threads": threads})
    try:
        rows = transcripts.table.select(["role", "tool", "text"])
        con.register("t", rows.append_column("i", pa.array(np.arange(rows.num_rows))))
        con.register(
            "catalog",
            pd.DataFrame(
                CATALOG_ROWS,
                columns=["tool", "role", "service", "category", "default_severity"],
            ),
        )
        out = con.execute(_FLAGS_SQL).arrow()
    finally:
        con.close()
    flags = np.column_stack(
        [out[r].to_numpy(zero_copy_only=False) for r in ROUTE_IDS[:3]]
        + [transcripts.firehose]
    )
    return RouteReference(flags=flags, ts_us=transcripts.ts_us)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, type-insensitive form of a result, compared the way
    the project's oracle check compares Spark against DuckDB."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v)
                if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"
                else v
            )
        df[c] = df[c].map(lambda v: None if pd.isna(v) else str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_frames(documents_path: str, queries: dict[str, str], threads: int) -> dict:
    """Run each oracle SQL over a ``documents`` view of ``documents_path``."""
    con = duckdb.connect(config={"threads": threads})
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
        )
        return {name: normalize(con.execute(sql).df()) for name, sql in queries.items()}
    finally:
        con.close()
