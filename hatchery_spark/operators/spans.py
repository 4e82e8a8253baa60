"""Distributed trace assembly: parent-pointer spans → rooted trees.

OTel-style traces arrive as flat span rows ``(trace_id, span_id,
parent_id)``; the read side needs depth, root path, and leaf-ness per
span (service maps, critical paths, orphan detection). Spark has no
recursive CTE, so the tree is assembled by BFS level propagation:

* level 0 = parentless roots;
* level k+1 = one equi-join of the span table against level k on
  ``(trace_id, parent_id = span_id)`` — a hash shuffle keyed by trace,
  so each trace's tree grows locally;
* the frontier is persisted per level and the loop stops on the first
  empty frontier (one cheap driver count per level — the number of
  levels is the tree DEPTH, log-ish in span count, not the span count;
  at 10^12 spans with depth ≤ 32 that is ≤ 32 joins, each
  partition-pruned to the still-unresolved remainder).

Spans whose parent chain never reaches a root (dropped parent, a real
collector failure mode) surface with ``depth = -1`` and ``path = NULL``
instead of silently vanishing — the dead-letter posture of
logship.stitch_multiline.

The oracle replays the same semantics with DuckDB's WITH RECURSIVE — a
genuinely independent evaluation strategy for the same fixpoint.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_span_tree(df: DataFrame, max_depth: int = 32) -> DataFrame:
    """``(trace_id, span_id, parent_id)`` → + ``depth``, ``path``,
    ``is_leaf``. ``parent_id`` NULL marks a root.

    Eager: the BFS runs one job per level, and the result is returned as an
    eager local checkpoint so every frame persisted on the way is released."""
    # the span frame is re-joined at EVERY BFS level (plus the orphan
    # anti-join and the parent flag derivation at the end) — persist it
    # once so each level probes a cached 3-column frame instead of
    # re-deriving the upstream plan per level
    spans = df.select("trace_id", "span_id", "parent_id").persist()

    roots = spans.where(F.col("parent_id").isNull()).select(
        "trace_id",
        "span_id",
        "parent_id",
        F.lit(0).alias("depth"),
        F.col("span_id").cast("string").alias("path"),
    )
    levels = [roots]
    frontier = roots.persist()
    children = spans.where(F.col("parent_id").isNotNull())
    for d in range(1, max_depth + 1):
        nxt = (
            children.alias("s")
            .join(
                frontier.select(
                    F.col("trace_id").alias("f_trace"),
                    F.col("span_id").alias("f_span"),
                    F.col("path").alias("f_path"),
                ),
                on=[
                    F.col("s.trace_id") == F.col("f_trace"),
                    F.col("s.parent_id") == F.col("f_span"),
                ],
            )
            .select(
                "s.trace_id",
                "s.span_id",
                "s.parent_id",
                F.lit(d).alias("depth"),
                F.concat(
                    F.col("f_path"), F.lit("/"), F.col("span_id").cast("string")
                ).alias("path"),
            )
            .persist()
        )
        if nxt.isEmpty():
            nxt.unpersist()
            break
        levels.append(nxt)
        frontier = nxt

    tree = reduce(lambda a, b: a.unionByName(b), levels)
    # orphans: parent chain never reached a root
    orphans = (
        spans.join(
            tree.select("trace_id", "span_id"), ["trace_id", "span_id"], "left_anti"
        )
        .select(
            "trace_id", "span_id", "parent_id",
            F.lit(-1).alias("depth"),
            F.lit(None).cast("string").alias("path"),
        )
    )
    full = tree.unionByName(orphans)
    parents = (
        spans.where(F.col("parent_id").isNotNull())
        .select("trace_id", F.col("parent_id").alias("span_id"))
        .distinct()
        .withColumn("has_child", F.lit(True))
    )
    out = (
        full.join(parents, ["trace_id", "span_id"], "left")
        .select(
            "trace_id", "span_id", "parent_id", "depth", "path",
            F.coalesce(~F.col("has_child"), F.lit(True)).alias("is_leaf"),
        )
        .localCheckpoint()
    )
    for frame in (spans, *levels):
        frame.unpersist()
    return out


def span_tree_oracle_sql(spans_sql: str, max_depth: int = 32) -> str:
    """DuckDB WITH RECURSIVE replay (independent fixpoint strategy)."""
    return f"""
        WITH RECURSIVE spans AS ({spans_sql}),
        tree AS (
          SELECT trace_id, span_id, parent_id, 0 AS depth,
                 cast(span_id AS string) AS path
          FROM spans WHERE parent_id IS NULL
          UNION ALL
          SELECT s.trace_id, s.span_id, s.parent_id, t.depth + 1,
                 concat(t.path, '/', cast(s.span_id AS string))
          FROM spans s
          JOIN tree t ON s.trace_id = t.trace_id AND s.parent_id = t.span_id
          WHERE t.depth < {max_depth}),
        full_t AS (
          SELECT * FROM tree
          UNION ALL
          SELECT s.trace_id, s.span_id, s.parent_id, -1, NULL
          FROM spans s
          WHERE NOT EXISTS (SELECT 1 FROM tree t
                            WHERE t.trace_id = s.trace_id
                              AND t.span_id = s.span_id))
        SELECT f.trace_id, f.span_id, f.parent_id, f.depth, f.path,
               NOT EXISTS (SELECT 1 FROM spans c
                           WHERE c.trace_id = f.trace_id
                             AND c.parent_id = f.span_id) AS is_leaf
        FROM full_t f"""
