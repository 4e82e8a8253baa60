"""Content-defined chunking (LBFS, Muthitacharoen et al. SOSP'01).

Fixed-size chunking (``corpus.chunk_documents``) breaks under insertion:
one added byte shifts every later boundary, so dedup against an earlier
corpus version loses every chunk after the edit.  Content-DEFINED
chunking places boundaries where a rolling window hash satisfies a
divisor predicate — boundaries are properties of the CONTENT, so an
edit only re-chunks its own neighborhood (shift resistance, the basis
of rsync/LBFS/backup dedup, and of training-corpus delta-dedup across
crawl snapshots).

This is the *stateless* variant: a position ``i`` ends a chunk iff the
md5 of the w-gram ending at ``i`` hits ``hash % divisor == 0`` —
every position is decided independently, so the whole operator is
relational (posexplode → window cumsum → rebuild) with ZERO Python and
an exact SQL replay.  Production FastCDC adds min/max chunk bounds,
which makes the scan sequential (gear hash in mapInPandas — same
pattern as ``remove_duplicate_substrings_fast``); the stateless form
trades slightly worse size variance for exact replayability and is the
one shipped here.

Scale shape: one posexplode (O(total bytes) rows, same class as the
winnowing/substring-dedup operators), one window keyed on doc_id, one
rebuild aggregate on (doc, chunk) — no corpus-wide state; the
first-occurrence pass is a map-side-combined min over chunk digests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cdc_chunk_documents(
    df: DataFrame,
    w: int = 8,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per (doc, chunk): ``(doc_id, chunk_idx, start, chunk_len,
    chunk_md5, is_first)`` — ``is_first`` marks the corpus-wide first
    occurrence of the chunk content (min (doc, chunk_idx) order), the
    hook a delta-dedup pass filters on."""
    base = df.select(id_col, F.col(text_col).alias("t"))
    n = F.length("t")
    t = F.col("t")
    # boundary positions as a PER-DOC array: no per-character explode, no
    # per-position shuffle. The earlier form exploded one row per char and
    # ran a window cumsum + groupBy over them — two corpus-character-sized
    # exchanges whose only purpose was rebuilding contiguous runs the
    # boundary array already determines. md5-per-position (the oracle-pinned
    # gear hash) is unchanged; only the chunk REBUILD went relational-array.
    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i >= F.lit(w))
        & (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.substring(t, i - (w - 1), w)), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(divisor),
            )
            == 0
        ),
    )
    # each array level lives in its OWN projection (the license-detect
    # lesson): a later lambda referencing a non-attribute array expression
    # re-evaluates it PER ELEMENT (no CSE across HOF bodies) — inlining
    # `starts` into the chunk transform re-ran the md5 boundary scan once
    # per chunk (measured ~30x slower). CollapseProject keeps the aliases
    # because each is expensive and referenced more than once downstream.
    staged = base.select(id_col, "t", bpos.alias("_bp"))
    # chunk k spans [starts[k], starts[k+1]-1]; a boundary at the last char
    # opens no new chunk (start n+1 filtered out)
    starts = F.filter(
        F.concat(F.array(F.lit(1)), F.transform(F.col("_bp"), lambda b: b + 1)),
        lambda s: s <= n,
    )
    staged2 = staged.select(id_col, "t", starts.alias("_st"))
    st = F.col("_st")
    # an empty document has no chunk starts: sequence(0, -1) would count
    # DOWN to -1 and element_at(st, 1) fail the whole query, so it yields
    # NULL instead and inline emits no rows (as for a NULL document)
    chunks = F.when(
        F.size(st) > 0,
        F.transform(
            F.sequence(F.lit(0), F.size(st) - 1),
            lambda j: F.struct(
                j.cast("int").alias("chunk_idx"),
                F.element_at(st, j + 1).cast("int").alias("start"),
                (
                    F.coalesce(F.try_element_at(st, j + 2), n + 1)
                    - F.element_at(st, j + 1)
                ).cast("int").alias("chunk_len"),
            ),
        ),
    )
    out = staged2.select(id_col, "t", F.inline(chunks)).select(
        id_col,
        "chunk_idx",
        "start",
        "chunk_len",
        F.md5(F.substring(t, F.col("start"), F.col("chunk_len"))).alias(
            "chunk_md5"
        ),
    )
    first = Window.partitionBy("chunk_md5").orderBy(id_col, "chunk_idx")
    return out.withColumn(
        "is_first", F.row_number().over(first) == 1
    )


def cdc_oracle_sql(
    table: str = "documents", w: int = 8, divisor: int = 32
) -> str:
    """DuckDB replay (positions → boundary predicate → islands →
    rebuild → first occurrence)."""
    digits = "0123456789abcdef"
    h32 = " + ".join(
        f"(strpos('{digits}', substr(md5(substr(t, i - {w - 1}, {w})),"
        f" {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    return f"""
        WITH base AS (SELECT doc_id, text AS t FROM {table}),
        pos AS (SELECT doc_id, t,
                       unnest(range(1, length(t) + 1)) AS i
                FROM base),
        b AS (SELECT doc_id, t, i,
                     CASE WHEN i >= {w} AND ({h32}) % {divisor} = 0
                          THEN 1 ELSE 0 END AS isb
              FROM pos),
        m AS (SELECT doc_id, t, i,
                     coalesce(sum(isb) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS chunk_idx
              FROM b),
        ck AS (SELECT doc_id, t, chunk_idx,
                      min(i) AS start, count(*) AS chunk_len
               FROM m GROUP BY 1, 2, 3),
        o AS (SELECT doc_id,
                     cast(chunk_idx AS int) AS chunk_idx,
                     cast(start AS int) AS start,
                     cast(chunk_len AS int) AS chunk_len,
                     md5(substr(t, cast(start AS int),
                                cast(chunk_len AS int))) AS chunk_md5
              FROM ck)
        SELECT doc_id, chunk_idx, start, chunk_len, chunk_md5,
               row_number() OVER (PARTITION BY chunk_md5
                                  ORDER BY doc_id, chunk_idx) = 1
                 AS is_first
        FROM o"""
