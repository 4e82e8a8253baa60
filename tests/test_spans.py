"""Span-tree assembly (BFS level joins)."""

from __future__ import annotations

from hatchery_spark.operators.spans import assemble_span_tree


def _spans(spark, rows):
    return spark.createDataFrame(
        rows, "trace_id string, span_id int, parent_id int"
    )


def test_tree_depths_and_paths(spark):
    df = _spans(spark, [
        ("t1", 0, None),
        ("t1", 1, 0), ("t1", 2, 0),
        ("t1", 3, 1), ("t1", 4, 3),
        ("t2", 7, None),
    ])
    out = {(r["trace_id"], r["span_id"]): r
           for r in assemble_span_tree(df).collect()}
    assert out[("t1", 0)]["depth"] == 0 and out[("t1", 0)]["path"] == "0"
    assert out[("t1", 4)]["depth"] == 3 and out[("t1", 4)]["path"] == "0/1/3/4"
    assert out[("t2", 7)]["depth"] == 0
    assert out[("t1", 4)]["is_leaf"] and out[("t1", 2)]["is_leaf"]
    assert not out[("t1", 0)]["is_leaf"] and not out[("t1", 1)]["is_leaf"]


def test_orphan_subtree_dead_letters(spark):
    df = _spans(spark, [
        ("t1", 0, None),
        ("t1", 1, 99),      # parent never arrives
        ("t1", 2, 1),       # child of the orphan: also detached
    ])
    out = {r["span_id"]: r for r in assemble_span_tree(df).collect()}
    assert out[1]["depth"] == -1 and out[1]["path"] is None
    assert out[2]["depth"] == -1
    assert out[0]["depth"] == 0
    # orphan leaf-ness still computed from the raw parent table
    assert not out[1]["is_leaf"] and out[2]["is_leaf"]


def test_same_span_ids_across_traces_stay_separate(spark):
    df = _spans(spark, [
        ("a", 0, None), ("a", 1, 0),
        ("b", 0, None), ("b", 1, 0), ("b", 2, 1),
    ])
    out = {(r["trace_id"], r["span_id"]): r["depth"]
           for r in assemble_span_tree(df).collect()}
    assert out[("a", 1)] == 1 and out[("b", 2)] == 2


def test_deep_chain(spark):
    n = 9
    rows = [("t", 0, None)] + [("t", i, i - 1) for i in range(1, n)]
    out = assemble_span_tree(_spans(spark, rows)).collect()
    assert max(r["depth"] for r in out) == n - 1
    assert sum(r["is_leaf"] for r in out) == 1


def test_no_persisted_frame_outlives_the_call(spark, pinned_rdds):
    # the span frame, the roots and every kept level are released
    df = _spans(spark, [
        ("t1", 0, None), ("t1", 1, 0), ("t1", 2, 1), ("t1", 3, 77),
    ])
    before = pinned_rdds()
    assert len(assemble_span_tree(df).collect()) == 4
    assert pinned_rdds() == before
