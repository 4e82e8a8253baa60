"""Local mirror of the driver's correctness gate.

For each queries() entry: run the Spark DataFrame and (when present) the DuckDB
oracle SQL on the same sf dir; compare row count, column-name set, and
order-insensitive values. Exits nonzero on any mismatch.

Usage: python scripts/check_oracles.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# check the checkout this script belongs to
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hatchery_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v)
                if isinstance(v, (list, tuple))
                or type(v).__name__ == "ndarray"
                else v
            )
        # unify numeric widths/timestamps as strings for robust compare
        df[c] = df[c].map(lambda v: None if pd.isna(v) else str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracles")  # SPARK_GRAFT_CPUS, as Tier-1
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            status = "rows-only"
            ok = len(got) >= 0
            print(f"ok   {name}: {len(got)} rows ({status})")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        if len(got) != len(want):
            failures.append((name, f"row count {len(got)} != {len(want)}"))
            print(f"FAIL {name}: row count {len(got)} != {len(want)}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
            print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            continue
        g, w = normalize(got), normalize(want)
        if not g.equals(w):
            diff_mask = (g != w).any(axis=1)
            sample = pd.concat(
                [g[diff_mask].head(3).assign(_side="spark"),
                 w[diff_mask].head(3).assign(_side="duckdb")]
            )
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch\n{sample.to_string()[:2000]}")
            continue
        print(f"ok   {name}: {len(got)} rows (value match)")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
