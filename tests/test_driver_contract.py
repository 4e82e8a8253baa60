import importlib
import os
import sys

import pytest

# the checkout this file belongs to, not whatever is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

entry_mod = importlib.import_module("__spark_entry__")

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"route_id", "row_count"} <= set(df.columns)


def test_every_oracle_has_a_query():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_rows_only_queries_documented():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    rows_only = set(qs) - set(oracles)
    # the only intentional rows-only checks: physical partition ids have no
    # SQL equivalent (their global reduction is value-checked by
    # pipeline_lineage_totals instead), and the unigram-LM Viterbi DP is not
    # SQL-expressible (pinned by sequential-reference parity in
    # tests/test_unigram.py instead)
    assert rows_only == {"pipeline_lineage_metrics", "doc_unigram_tokens"}


@pytest.mark.parametrize(
    "name",
    ["pipeline_sink_counts", "rel_agg_pricing", "doc_token_count", "emb_cosine_topk"],
)
def test_representative_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() > 0
