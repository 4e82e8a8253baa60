"""Content-defined chunking: reconstruction, shift resistance, dedup hook."""

from pyspark.sql import functions as F

from hatchery_spark.functions.cdc import cdc_chunk_documents


def _chunks(spark, docs, **kw):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = cdc_chunk_documents(df, **kw).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    return by_doc


def test_chunks_reconstruct_text_exactly(spark):
    text = "the quick brown fox jumps over the lazy dog " * 20
    by = _chunks(spark, [(1, text)])
    got = by[1]
    assert got[0].start == 1
    # contiguous, non-overlapping, covering
    pos = 1
    for c in got:
        assert c.start == pos
        pos += c.chunk_len
    assert pos - 1 == len(text)


def test_shift_resistance_vs_fixed_chunking(spark):
    base = "abcdefgh ijklmnop qrstuvwx yz012345 " * 30
    edited = "XX" + base  # insertion at the front shifts everything
    by = _chunks(spark, [(1, base), (2, edited)])
    h1 = {c.chunk_md5 for c in by[1]}
    h2 = {c.chunk_md5 for c in by[2]}
    # most chunks survive the shift (only the edit neighborhood differs)
    shared = len(h1 & h2)
    assert shared >= len(h1) - 3, (shared, len(h1))


def test_is_first_marks_exactly_one_occurrence(spark):
    text = "repeat me please " * 40
    by = _chunks(spark, [(1, text), (2, text)])
    seen = {}
    for did in (1, 2):
        for c in by[did]:
            seen.setdefault(c.chunk_md5, []).append(
                (c.doc_id, c.chunk_idx, c.is_first)
            )
    for md5_, occ in seen.items():
        firsts = [o for o in occ if o[2]]
        assert len(firsts) == 1
        assert firsts[0][:2] == min(o[:2] for o in occ)


def test_short_text_single_chunk(spark):
    by = _chunks(spark, [(1, "abc")], w=8)  # shorter than the window
    assert len(by[1]) == 1 and by[1][0].chunk_len == 3


def test_empty_and_null_documents_yield_no_chunks(spark):
    # an empty or NULL document produces no chunk rows and fails nothing;
    # the other documents of the same batch still chunk
    by = _chunks(spark, [(1, ""), (2, None), (3, "abc")], w=8)
    assert set(by) == {3}
    assert by[3][0].chunk_len == 3
