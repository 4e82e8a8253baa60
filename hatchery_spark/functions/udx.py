"""User-defined function surface: vectorized UDAF + UDTF examples.

The reference's extension surface is "any func(ctx, *Pipe) error is a Source"
(/root/reference/types.go:11, example/extend/main.go:14-26). The Spark-native
equivalents, in preference order:
  1. built-in expressions (everything in functions/text.py),
  2. Arrow-vectorized pandas_udf — scalar (parse.py) and GROUPED_AGG (here),
  3. Python UDTF (Spark 4 Arrow-optimized) for one-row→many-rows expansion,
  4. mapInPandas / applyInPandas(WithState) for whole-batch logic
     (multimodal.py, streaming/stateful.py).
Row-at-a-time `udf()` is deliberately absent — banned on the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf


@pandas_udf(T.DoubleType())
def error_burst_score(turn_idx: pd.Series, severity: pd.Series) -> float:
    """GROUPED_AGG pandas UDAF: longest consecutive run of error/critical
    turns within the group (in turn order), normalized by group size (0..1, 4dp).

    Arrow ships the whole group's columns as pandas Series; rows arrive in
    arbitrary order, so the group is sorted by turn_idx first. The run-length
    math is vectorized numpy, no per-row Python.
    """
    import numpy as np

    if len(severity) == 0:
        return 0.0
    order = turn_idx.to_numpy().argsort(kind="stable")
    is_err = severity.isin(["error", "critical"]).to_numpy()[order]
    if not is_err.any():
        return 0.0
    # longest run of True: diff of cumulative resets
    padded = np.concatenate([[False], is_err, [False]])
    edges = np.flatnonzero(padded[1:] != padded[:-1])
    run_lengths = edges[1::2] - edges[0::2]
    import math

    # half-up rounding (SQL ROUND semantics), not Python's half-to-even
    return math.floor(float(run_lengths.max()) / len(severity) * 10000 + 0.5) / 10000


@udtf(returnType="key string, value string")
class ParseKVPairs:
    """UDTF: explode one audit line into (key, value) rows.

    '[sev] actor=a action=b resource=c ip=d ...' → rows for each k=v token
    plus a ('severity', sev) row. One input row → N output rows, the shape
    regexp_extract can't produce.
    """

    def eval(self, text: str):  # noqa: D401
        if not text:
            return
        import re

        m = re.match(r"\[(\w+)\]", text)
        if m:
            yield ("severity", m.group(1))
        for k, v in re.findall(r"(\w+)=(\S+)", text):
            yield (k, v)


def conv_error_burst(df) -> "DataFrame":  # noqa: F821
    """Per-conversation error-burst score via the grouped-agg UDAF."""
    return df.groupBy("conv_id").agg(
        error_burst_score(F.col("turn_idx"), F.col("severity")).alias("burst")
    )


def grouped_apply(df, keys, fn, schema):
    """``applyInPandas``-equivalent with O(1) Python invocations per
    PARTITION instead of one per group: repartition on the group keys
    (hash co-location guarantees group wholeness), concatenate the
    partition's Arrow batches once, and run a pandas ``groupby`` calling
    ``fn(group_pdf)`` per group.

    For operators with MANY SMALL groups (one wire batch per
    conversation, one packet per flow window) the per-group pandas-frame
    setup inside applyInPandas dominates the stage; this form pays it
    once per partition and also spreads work over the full key space
    rather than inheriting a coarser upstream partitioning.
    ``fn`` must return a pandas DataFrame matching ``schema`` (or None).
    """
    keys = list(keys)

    def _apply(batches):
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        outs = []
        # dropna=False: a NULL key is a group, as in applyInPandas
        for _, grp in pdf.groupby(keys[0] if len(keys) == 1 else keys,
                                  sort=False, dropna=False):
            r = fn(grp)
            if r is not None and len(r):
                outs.append(r)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return df.repartition(*keys).mapInPandas(_apply, schema)
