"""Structured Streaming mode: the batch stage functions under readStream.

The reference is a cron-batch puller (docs/usage.md; tick loop
/root/reference/pkg/config/range.go:62-75), so batch is the primary mode; this
module runs the same parse/enrich/route code once per micro-batch:

  readStream(input dir) → foreachBatch(writer) → availableNow drain

Every stream here is built from three shared pieces:

  * one drain (`_read_stream` + `_drain`): a schema'd file-source stream
    under a checkpointed foreachBatch query. trigger(availableNow=True)
    drains everything available and stops — the streaming analog of one
    tick. Spark's offset/commit log is the ack: a batch is committed only
    after its writer returns, and an uncommitted batch is replayed with the
    same batch_id (the reference's ack-after-write,
    source/falcon_data_replicator/client.go:217-224).
  * one write contract (`sinks.overwrite_partitions`, the batch router's
    write): sinks are partitioned by batch_id and delta stores by v=<batch_id>,
    so a replay rewrites exactly its own partitions. The HLL and MG stores
    write a whole v=<batch_id>/ snapshot; the CDC writer commits through
    snapshot.SnapshotTable's txn map instead.
  * one versioned-store probe (`_store_versions`): committed versions are
    globbed through `fscommit`, so a plain path and a URI name the same store,
    and a replay of batch b reads only versions v < b — the history it saw.

Watermarked windows, sessions and stream-stream joins keep state bounded for
queries that run indefinitely.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hatchery_spark import fscommit
from hatchery_spark.config import RouteConfig, validate_routes
from hatchery_spark.datagen import service_catalog_df
from hatchery_spark.enrich import enrich_turns
from hatchery_spark.parse import parse_turns
from hatchery_spark.router import route_matches
from hatchery_spark.pipeline import TRANSCRIPT_COLUMNS
from hatchery_spark.sinks import overwrite_partitions

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _read_stream(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int | None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _drain(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    processing_time: str | None = None,
):
    """Run `write_batch` over each micro-batch of `stream`, checkpointed in
    `checkpoint_dir`. With no `processing_time`, drain everything available
    (availableNow), wait, and return the stopped query; otherwise return the
    query running on that processing-time trigger."""
    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def _store_versions(store_dir: str, committed_glob: str) -> list[int]:
    """Sorted versions <n> of the committed files matching
    `store_dir/<committed_glob>`, each of which sits in a v=<n>/ directory.

    The glob runs through `fscommit`, on any Hadoop FileSystem. Only committed
    files count: a crash mid-write leaves _temporary/ or a v= directory
    without _SUCCESS, and that must read as no version, not wedge every
    replay on a partial read.
    """
    return sorted({
        int(p.rsplit("/", 2)[1].split("=", 1)[1])
        for p in fscommit.glob(f"{store_dir}/{committed_glob}")
    })


def _latest_snapshot(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame | None:
    """Latest complete snapshot store_dir/v=<n>/ (one with _SUCCESS) with
    n < `before`, or None. A replay of batch b must merge against the pre-b
    state, not its own output."""
    versions = [
        v for v in _store_versions(store_dir, "v=*/_SUCCESS")
        if before is None or v < before
    ]
    return spark.read.parquet(f"{store_dir}/v={versions[-1]}") if versions else None


def read_transcripts_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    return _read_stream(spark, path, TRANSCRIPT_DDL, max_files_per_trigger)


def route_fanout_batch_writer(
    routes: Sequence[RouteConfig], out_dir: str, catalog: DataFrame
):
    """foreachBatch function: parse → enrich → one write per route into
    <out_dir>/<route_id>/batch_id=<b>/dt=YYYY-MM-DD/.

    Runs per micro-batch on the driver; each route's write is an independent
    action over the persisted batch (same shape as the batch router). If the
    driver dies after route 1 of 3, the restarted query replays the whole
    batch with the same batch_id, and `overwrite_partitions` makes the replay
    replace route 1's batch_id partition instead of duplicating its rows.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        enriched = enrich_turns(parse_turns(batch_df), catalog)
        enriched.persist()
        try:
            for route in routes:
                tagged = (
                    route_matches(enriched, route)
                    .withColumn("dt", F.to_date("ts"))
                    .withColumn("batch_id", F.lit(batch_id))
                )
                overwrite_partitions(tagged, "batch_id", "dt").parquet(
                    f"{out_dir}/{route.route_id}"
                )
        finally:
            enriched.unpersist()

    return _write


def run_streaming_pipeline(
    spark: SparkSession,
    input_path: str,
    routes: Sequence[RouteConfig],
    out_dir: str,
    checkpoint_dir: str,
    catalog: DataFrame | None = None,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
):
    """Start (and for availableNow: await) the streaming fan-out query."""
    validate_routes(routes)
    if catalog is None:
        catalog = service_catalog_df(spark)
    return _drain(
        read_transcripts_stream(spark, input_path, max_files_per_trigger).select(
            *TRANSCRIPT_COLUMNS
        ),
        route_fanout_batch_writer(routes, out_dir, catalog),
        checkpoint_dir,
        None if available_now else processing_time,
    )


def dedup_stream(
    stream: DataFrame,
    watermark: str = "30 minutes",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming exact-dedup with bounded state.

    At-least-once sources (the queue-driven scan, O12/O26 — SQS redelivers
    unacked messages) can replay a payload across micro-batches; batch-mode
    resume handles this at (run_ts, route) granularity via the manifest, and
    this is the streaming-row analog: `dropDuplicatesWithinWatermark` keeps
    only the first arrival of each key and — unlike a plain dropDuplicates,
    whose state grows forever — evicts key state once the watermark passes,
    so the query runs indefinitely at 10^12-turn scale with state bounded by
    the watermark horizon.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_sink_counts(
    stream: DataFrame,
    routes: Sequence[RouteConfig],
    catalog: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-(event-time window, route) counts with late-data watermarking.

    Stateful streaming aggregation: watermark bounds state retention so the
    job runs forever without unbounded memory.
    """
    from hatchery_spark.router import routed_union

    enriched = enrich_turns(parse_turns(stream), catalog)
    routed = routed_union(enriched, routes)
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "route_id")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "route_id",
            "row_count",
        )
    )


DEFAULT_DIGEST_BUCKETS = 64


def _bucketed_digests(df: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    """(bucket, _digest) distinct frame: the digest store's partition key is
    pmod(xxhash64(_digest), n_buckets) so store reads can partition-prune."""
    from hatchery_spark.functions.dedup import digest_store

    return digest_store(df, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("_digest"), F.lit(n_buckets)).cast("int")
    )


def has_committed_store(spark: SparkSession, store_dir: str) -> bool:
    """True iff the delta store (bucket=/v=) holds at least one COMMITTED
    part file.

    Bare-directory existence is not enough: a crash during the very first
    store write can leave store_dir containing only _temporary/, and reading
    that empty store would wedge every replay. No committed part file means
    the empty-history fallback is genuinely safe. Any OTHER read error
    (transient FS failure, corrupt footer, permissions) still fails the
    batch and retries rather than silently dropping history.
    """
    return bool(_store_versions(store_dir, "bucket=*/v=*/part-*"))


def _pruned_history(
    spark: SparkSession, store_dir: str, batch_rows: DataFrame, batch_id: int
) -> DataFrame:
    """Delta-store rows that can meet this batch: versions v < batch_id (a
    replay never sees its own half-written delta) in the buckets
    `batch_rows` touches. Both filters are directory-level PartitionFilters,
    so untouched buckets and later deltas are never read; the distinct-bucket
    collect is ≤ n_buckets ints."""
    buckets = [r[0] for r in batch_rows.select("bucket").distinct().collect()]
    return (
        spark.read.parquet(store_dir)
        .filter(F.col("v") < F.lit(batch_id))
        .filter(F.col("bucket").isin(buckets))
    )


def _land_batch(
    novel: DataFrame,
    batch_id: int,
    sink_dir: str,
    store_rows: Callable[[DataFrame], DataFrame],
    store_dir: str,
) -> None:
    """Write a dedup batch: `novel` to sink_dir/batch_id=<b>/ and
    `store_rows(novel)` to store_dir/bucket=<k>/v=<b>/. `novel` is persisted
    across both writes so its dedup plan runs once."""
    novel.persist()
    try:
        overwrite_partitions(
            novel.withColumn("batch_id", F.lit(batch_id)), "batch_id"
        ).parquet(sink_dir)
        overwrite_partitions(
            store_rows(novel).withColumn("v", F.lit(batch_id)), "bucket", "v"
        ).parquet(store_dir)
    finally:
        novel.unpersist()


def pruned_history_digests(
    spark: SparkSession,
    store_dir: str,
    batch_digests: DataFrame,
    batch_id: int,
) -> DataFrame:
    """History digests that can possibly match this batch — at per-batch cost
    O(matched-bucket scan), with ZERO history shuffle.

    Two prunes compose:
      * partition prune — the store is laid out bucket=<pmod(xxhash64,B)>/v=,
        and `_pruned_history` reads only this batch's buckets at v < batch_id.
      * broadcast semi-join — the (small) batch digest frame is the BUILD
        side and history the streamed probe side, so the full digest history
        is never sorted or exchanged. A plain `batch LEFT ANTI history`
        cannot do this: anti/semi joins can only broadcast their RIGHT side,
        which there is the unbounded history — every micro-batch would
        sort-merge (i.e. shuffle) the whole store.

    The result is ≤ |batch digests| rows, which then broadcasts as the anti-
    join build side in the writer. Replays are deterministic: v < batch_id
    excludes the replaying batch's own half-written delta.
    """
    history = _pruned_history(spark, store_dir, batch_digests, batch_id)
    return history.join(
        F.broadcast(batch_digests.select("bucket", "_digest")),
        on=["bucket", "_digest"],
        how="leftsemi",
    ).select("_digest")


def incremental_dedup_writer(
    sink_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_DIGEST_BUCKETS,
):
    """foreachBatch function: continuous-ingest exact dedup against a
    BATCH-VERSIONED, BUCKET-PARTITIONED digest store — each micro-batch
    emits only documents whose text was never seen in any earlier batch.

    State layout makes replays deterministic AND idempotent:

      * store_dir/bucket=<pmod(xxhash64(_digest), n_buckets)>/v=<batch_id>/
        — the digests first seen in that batch, partitioned so history reads
        partition-prune (see pruned_history_digests). `seen` for batch b
        reads partitions v < b ONLY, so a replayed batch recomputes against
        exactly the history it saw the first time (its own half-written
        digests are excluded, not double-counted).
      * both the novel-docs sink and the digest delta are partitioned by
        batch_id/v and written with `overwrite_partitions` — a replay
        replaces its own partitions byte-for-byte.

    Per-batch cost is O(novel + matched-bucket digest scan), never a full-
    history shuffle: the history side is partition-pruned and broadcast-semi-
    joined against the batch digests (history stays map-side), and the
    left-anti dedup then broadcasts the resulting ≤|batch|-row `seen` frame.
    The store is append-only deltas, never rewritten: batch b's write is
    O(novel_b) regardless of history size, and the read side is a digest-only
    scan (32 bytes/doc ever ingested — see dedup.digest_store). Streaming
    analog of the reference's ack-after-write at O(novel) cost
    (/root/reference/source/falcon_data_replicator/client.go:217-224)."""
    from hatchery_spark.functions.dedup import digest_store, incremental_exact_dedup

    def _digests(df: DataFrame) -> DataFrame:
        return _bucketed_digests(df, text_col, n_buckets)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_digests = None
        try:
            if has_committed_store(spark, store_dir):
                batch_digests = _digests(batch_df).persist()
                # seen ≤ |batch digests| rows → broadcast the anti-join build side
                seen = F.broadcast(
                    pruned_history_digests(spark, store_dir, batch_digests, batch_id)
                )
            else:  # first batch: no committed history yet
                seen = digest_store(batch_df.limit(0), text_col)
            novel, _ = incremental_exact_dedup(batch_df, seen, text_col, id_col)
            _land_batch(novel, batch_id, sink_dir, _digests, store_dir)
        finally:
            if batch_digests is not None:
                batch_digests.unpersist()

    return _write


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_path: str,
    sink_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    n_buckets: int = DEFAULT_DIGEST_BUCKETS,
):
    """Drain available input through the incremental-dedup writer
    (availableNow trigger — the streaming analog of one ingest tick).
    `text_col`/`id_col` name the schema's payload and id columns."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        incremental_dedup_writer(sink_dir, store_dir, text_col, id_col, n_buckets),
        checkpoint_dir,
    )


def _bucketed_band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    n_buckets: int,
) -> DataFrame:
    """(bucket, band, band_hash, id) LSH band rows: the band store's
    partition key is pmod(xxhash64(band, band_hash), n_buckets) so history
    candidate lookups can partition-prune exactly like the digest store."""
    from hatchery_spark.functions.dedup import minhash_band_rows

    return minhash_band_rows(
        df, text_col, id_col, num_hashes, bands, shingle_k
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("band", "band_hash"), F.lit(n_buckets)).cast("int")
    )


def pruned_history_band_matches(
    spark: SparkSession,
    band_store_dir: str,
    batch_bands: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(hist_id, v, new_id) candidate near-dup pairs between this batch and
    the emitted history, at per-batch cost O(matched-bucket scan) with ZERO
    history shuffle — the band-store twin of `pruned_history_digests`.

    The store scan filters bucket ∈ (batch buckets) ∧ v < batch_id — both
    directory-level PartitionFilters — and the (small) batch band frame is
    the broadcast BUILD side of the equality join, so historical band rows
    stream map-side and only colliding (band, band_hash) keys survive. The
    result is bounded by |batch band rows| × collisions-per-key; `v` rides
    along so the verifier knows which sink partitions hold each candidate's
    text. Replays are deterministic: v < batch_id excludes the replaying
    batch's own half-written band delta.
    """
    history = _pruned_history(spark, band_store_dir, batch_bands, batch_id)
    return (
        history.join(
            F.broadcast(
                batch_bands.select(
                    "bucket", "band", "band_hash", F.col(id_col).alias("new_id")
                )
            ),
            on=["bucket", "band", "band_hash"],
        )
        .select(F.col(id_col).alias("hist_id"), "v", "new_id")
        .distinct()
    )


def streaming_neardup_writer(
    sink_dir: str,
    band_store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    n_buckets: int = DEFAULT_DIGEST_BUCKETS,
):
    """foreachBatch function: continuous-ingest MinHash NEAR-dup suppression
    — each micro-batch emits only documents that are not near-duplicates
    (verified char-shingle Jaccard ≥ threshold) of an earlier-emitted or
    same-batch document. The near-dup analog of `incremental_dedup_writer`,
    closing the round-3 gap that continuous ingest deduped only byte-equal
    text (streaming analog of the reference's ack-after-write contract,
    /root/reference/source/falcon_data_replicator/client.go:217-224).

    Per batch:
      1. WITHIN batch — the batch operator chain verbatim: minhash_dedup →
         resolve_duplicate_groups; each verified component keeps its min-id
         member (near-dup is not transitive, so cluster semantics follow
         the batch operator exactly — a member suppressed by its cluster
         stays suppressed even if its representative then loses to
         history).
      2. ACROSS batches — candidates via `pruned_history_band_matches`
         (partition-pruned band store, broadcast batch side, no history
         shuffle), then EXACT Jaccard verification: candidate history
         texts are fetched from the sink itself — batch_id ∈ (candidate
         v's) partitions, semi-joined on the candidate ids — so no
         separate text/shingle store exists. State is the band-row index
         only: bands × 24 bytes per emitted doc, independent of text size.
      3. Novel docs land in sink_dir/batch_id=<b>/ and their band rows in
         band_store_dir/bucket=<pmod(xxhash64(band,band_hash),B)>/v=<b>/,
         both written with `overwrite_partitions` — a replayed batch
         recomputes against exactly the v < b history it saw the first time
         and rewrites its own partitions byte-for-byte.

    The store indexes the EMITTED corpus only: a doc suppressed as a
    near-dup leaves no band rows, so future docs dedup against the kept
    representative — the same retention semantics as the exact-dedup digest
    store. Driver-side collects are the distinct-bucket list (≤ n_buckets
    ints) and the candidate batch-version list (≤ distinct candidate
    batches) — both bounded, never corpus-sized. Assumes `id_col` is
    globally unique across batches (same contract as the exact writer).
    """
    from hatchery_spark.functions.dedup import (
        jaccard_verify,
        minhash_dedup,
        resolve_duplicate_groups,
    )

    def _band_rows(df: DataFrame) -> DataFrame:
        return _bucketed_band_rows(
            df, text_col, id_col, num_hashes, bands, shingle_k, n_buckets
        )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        kept = None
        kept_bands = None
        try:
            pairs = minhash_dedup(
                batch_df,
                text_col,
                id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                max_bucket=max_bucket,
            )
            resolved = resolve_duplicate_groups(pairs)
            dup_members = resolved.filter(
                F.col("doc_id") != F.col("canonical_id")
            ).select(F.col("doc_id").alias(id_col))
            kept = batch_df.join(
                F.broadcast(dup_members), id_col, "left_anti"
            ).persist()

            if has_committed_store(spark, band_store_dir):
                kept_bands = _band_rows(kept).persist()
                cand = pruned_history_band_matches(
                    spark, band_store_dir, kept_bands, batch_id, id_col
                ).persist()
                # candidate texts come from the sink's own batch partitions
                vs = [r[0] for r in cand.select("v").distinct().collect()]
                hist_docs = (
                    spark.read.parquet(sink_dir)
                    .filter(F.col("batch_id").isin(vs))
                    .join(
                        F.broadcast(
                            cand.select(F.col("hist_id").alias(id_col)).distinct()
                        ),
                        id_col,
                        "leftsemi",
                    )
                    .select(id_col, text_col)
                )
                both = hist_docs.unionByName(kept.select(id_col, text_col))
                verified = jaccard_verify(
                    cand.select(
                        F.col("hist_id").alias("id_a"), F.col("new_id").alias("id_b")
                    ),
                    both,
                    text_col,
                    id_col,
                    shingle_k=shingle_k,
                    threshold=threshold,
                )
                suppressed = verified.select(F.col("id_b").alias(id_col)).distinct()
                novel = kept.join(F.broadcast(suppressed), id_col, "left_anti")
                cand.unpersist()
            else:  # first batch: no committed band history yet
                novel = kept

            _land_batch(novel, batch_id, sink_dir, _band_rows, band_store_dir)
        finally:
            if kept_bands is not None:
                kept_bands.unpersist()
            if kept is not None:
                kept.unpersist()
            batch_df.unpersist()

    return _write


def run_streaming_neardup(
    spark: SparkSession,
    input_path: str,
    sink_dir: str,
    band_store_dir: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    **neardup_kw,
):
    """Drain available input through the streaming near-dup writer
    (availableNow trigger — one ingest tick). `neardup_kw` forwards the
    MinHash/verify knobs (num_hashes, bands, shingle_k, threshold,
    max_bucket, n_buckets)."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        streaming_neardup_writer(
            sink_dir, band_store_dir, text_col, id_col, **neardup_kw
        ),
        checkpoint_dir,
    )


def session_window_counts(
    stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
    key_col: str = "conv_id",
) -> DataFrame:
    """Per-key session aggregation with Spark's built-in session_window:
    a session extends while events arrive within `gap` of the previous one
    and closes (emitting one row) once the watermark passes the gap.

    The declarative complement to `stateful.conversation_sessionizer`
    (applyInPandasWithState): when the per-session output is an aggregate —
    counts, bounds — the built-in window needs no Python state code at all,
    and its state store is watermark-bounded the same way, so the query
    runs indefinitely. Use the stateful form only when the session payload
    is genuinely custom (running structures the agg functions can't
    express).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "first_ts",
            "last_ts",
        )
    )


def ann_ingest_writer(
    store_dir: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch function: continuous ANN-index ingest against a FROZEN
    coarse quantizer — the streaming counterpart of
    `similarity.build_ivf_index` (train the quantizer ONCE on a bootstrap
    corpus, then append forever — the standard IVF serving practice; the
    centroid matrix is O(n_cells × dim) and ships in the closure, exactly
    as in the batch Arrow-matmul assignment).

    Each micro-batch's vectors are cell-assigned and appended to a
    CELL-PARTITIONED, batch-versioned store:

        store_dir/cell=<nearest centroid>/v=<batch_id>/

    written with `overwrite_partitions`, so a replayed batch replaces its
    own partitions byte-for-byte and the store never rewrites history —
    batch b's write is O(|batch b|) however large the index has grown. The
    query side (`search_ann_store`) partition-prunes to probed cells, so a
    top-k probe reads ~corpus·n_probe/n_cells rows regardless of how many
    batches have ever been ingested.
    """
    from hatchery_spark.functions.similarity import _cell_assign_udf

    assign1 = _cell_assign_udf(centroids, 1)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("_cv"),
            )
            .withColumn("cell", F.element_at(assign1(F.col("_cv")), 1))
            .withColumn("v", F.lit(batch_id))
        )
        overwrite_partitions(cells, "cell", "v").parquet(store_dir)

    return _write


def run_ann_ingest_stream(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Drain available input through the ANN-ingest writer (availableNow
    trigger — one ingest tick; same harness as the dedup streams)."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        ann_ingest_writer(store_dir, centroids, id_col, vec_col),
        checkpoint_dir,
    )


def search_ann_store(
    spark: SparkSession,
    store_dir: str,
    centroids,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """Top-k cosine against the ingested store, reading only probed cells.

    The probed-cell union is computed from the query batch first (bounded by
    n_cells ints — queries are batch-sized, cells are few) and pushed as a
    partition filter on the store scan, so the read is pruned at PLANNING
    time to cell=… directories; `ivf_search` then runs its exact-cosine
    candidate join on the pruned scan. The store must have been written by
    `ann_ingest_writer` with the SAME centroid matrix (the quantizer is part
    of the index's identity, as in any IVF system).
    """
    from hatchery_spark.functions.similarity import (
        IVFIndex,
        _cell_assign_udf,
        ivf_search,
    )

    n_probe = min(n_probe, len(centroids))
    assign_n = _cell_assign_udf(centroids, n_probe)
    probed = [
        r.cell
        for r in queries.select(
            F.explode(
                assign_n(F.col(vec_col).cast("array<double>"))
            ).alias("cell")
        )
        .distinct()
        .collect()
    ]
    cells = (
        spark.read.parquet(store_dir)
        .filter(F.col("cell").isin(probed))
        .select(id_col, "_cv", "cell")
    )
    index = IVFIndex(centroids, cells)
    return ivf_search(
        index,
        queries,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


# --------------------------------------------------------------------- CDC


def cdc_merge_writer(
    table_path: str,
    key_col: str,
    delete_col: str | None = None,
    app_id: str = "cdc",
    run_ts: str = "",
):
    """foreachBatch function: apply a CHANGE-DATA-CAPTURE stream to a
    snapshot table as one atomic MERGE commit per micro-batch.

    Exactly-once on top of foreachBatch's at-least-once, via the Delta
    txn/appId pattern executed for real: every merge commit records
    (app_id, batch_id) in the manifest's carried-forward txn map, and the
    writer SKIPS any batch_id ≤ the table's committed txn for this app —
    so a driver crash between the table commit and the checkpoint ack
    replays the batch into a no-op instead of a double-apply. Readers see
    each batch's changes atomically or not at all (snapshot publish), and
    every historical batch boundary stays time-travelable.

    Caveat shared with the Delta pattern it mirrors: idempotence is keyed
    by (app_id, batch_id), so it holds across CHECKPOINTED restarts (same
    batching); discarding the checkpoint while keeping the table and
    app_id re-batches the input and must use a fresh app_id.

    Concurrent non-CDC writers are tolerated: a lost commit race refreshes
    the snapshot and retries the merge against the new parent."""
    from ..snapshot import ConcurrentCommitError, SnapshotTable

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        table = SnapshotTable(batch_df.sparkSession, table_path)
        last = table.txn_version(app_id)
        if last is not None and batch_id <= last:
            return  # replayed batch — already committed
        for attempt in range(3):
            try:
                table.merge(batch_df, key_col, delete_col=delete_col,
                            run_ts=run_ts, writer_id=f"{app_id}-b{batch_id}",
                            txn=(app_id, batch_id))
                return
            except ConcurrentCommitError:
                if attempt == 2:
                    raise
                last = table.txn_version(app_id)
                if last is not None and batch_id <= last:
                    return  # the race WAS this batch (duplicate driver)

    return _apply


def run_cdc_stream(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    delete_col: str | None = None,
    app_id: str = "cdc",
    run_ts: str = "",
    max_files_per_trigger: int | None = None,
):
    """Drain available change files into the snapshot table (availableNow
    trigger — one CDC apply tick). Change rows carry the key, any subset
    of the table's columns to update, and optionally a delete flag."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        cdc_merge_writer(table_path, key_col, delete_col, app_id, run_ts),
        checkpoint_dir,
    )


def interval_join_streams(
    requests: DataFrame,
    responses: DataFrame,
    key: str = "req_id",
    max_lag: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM interval join: pair each request with the responses
    arriving within ``[req_ts, req_ts + max_lag]`` for the same key — the
    request/response (impression/click, call/result) correlation pattern.

    Both sides carry watermarks AND the join condition bounds event time
    on both sides, which is exactly what lets Spark evict buffered state:
    a request older than the watermark minus ``max_lag`` can never match a
    future response, so its buffer entry is dropped — the join runs
    indefinitely with bounded state. ``how="left_outer"`` additionally
    emits unmatched requests (NULL response columns) once the watermark
    proves no match can arrive — the timeout-detection form. State is
    partitioned by the join key: one shuffle per side, skew bounded by
    per-key traffic.

    Requests schema: (key, req_ts, ...); responses: (key, resp_ts, ...).
    Reference analog: queue-driven sources pairing notifications with
    their objects (source/sqs.go:31) — here generalized to any keyed
    request/response correlation.
    """
    left = requests.withWatermark("req_ts", watermark)
    right = responses.withWatermark("resp_ts", watermark)
    cond = (
        (left[key] == right[key])
        & (F.col("resp_ts") >= F.col("req_ts"))
        & (F.col("resp_ts") <= F.col("req_ts") + F.expr(f"INTERVAL {max_lag}"))
    )
    return left.join(right, cond, how).drop(right[key])


def hll_ingest_writer(
    store_dir: str,
    key_col: str,
    group_cols: list[str],
):
    """foreachBatch function: continuous distinct-count sketching — the
    streaming counterpart of `operators.sketches.hll_registers`.

    State = the HLL register table itself (groups × ≤512 rows, bounded
    and corpus-independent — the whole reason to sketch at 10^12 turns:
    the raw keys are never stored, only max-rank registers). Each batch:

        new_version = merge(latest_version, registers(batch))

    written to ``store_dir/v=<batch_id>/``. Register merge is
    ``max(m_rank)`` — IDEMPOTENT — so an at-least-once replay of a batch
    rewrites its version dir with byte-identical state and the estimate
    never double-counts (the property a COUNT-based store cannot have).
    Reading the store = read the latest version only; every version is a
    complete snapshot, so time travel over ingest history is free.
    """
    from hatchery_spark.operators.sketches import hll_registers

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, key_col, group_cols)
        prev = _latest_snapshot(batch_df.sparkSession, store_dir, before=batch_id)
        if prev is not None:
            regs = (
                prev.unionByName(regs)
                .groupBy(*group_cols, "reg")
                .agg(F.max("m_rank").alias("m_rank"))
            )
        regs.write.mode("overwrite").parquet(f"{store_dir}/v={batch_id}")

    return _write


def hll_store_estimates(
    spark: SparkSession, store_dir: str, group_cols: list[str]
) -> DataFrame:
    """Cardinality estimates from the store's latest snapshot."""
    from hatchery_spark.operators.sketches import hll_estimate

    regs = _latest_snapshot(spark, store_dir)
    if regs is None:
        raise FileNotFoundError(f"no committed HLL snapshot in {store_dir}")
    return hll_estimate(regs, group_cols)


def run_hll_ingest_stream(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    group_cols: list[str],
    max_files_per_trigger: int | None = None,
):
    """Drain available input through the HLL writer (availableNow
    trigger — one ingest tick; same harness as the other streams)."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        hll_ingest_writer(store_dir, key_col, group_cols),
        checkpoint_dir,
    )


def sigma_alert_writer(rules, out_dir: str):
    """foreachBatch: parse the micro-batch, evaluate the WHOLE Sigma rule
    pack in one projection (operators/sigma.py — compiled once here on
    the driver, reused every batch), land alerts exactly-once in
    out_dir/alerts/batch_id=<b>/ via `overwrite_partitions`."""
    from hatchery_spark.operators.sigma import apply_rules

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        alerts = apply_rules(
            parse_turns(batch_df),
            rules,
            ["conv_id", "turn_idx", "ts"],
        )
        overwrite_partitions(
            alerts.withColumn("batch_id", F.lit(batch_id)), "batch_id"
        ).parquet(f"{out_dir}/alerts")

    return _write


def run_sigma_alert_stream(
    spark: SparkSession,
    input_path: str,
    rules,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming detection: the Sigma pack over a transcript file stream.
    availableNow + checkpoint ⇒ a restart resumes after the last committed
    batch; a replayed batch overwrites exactly its own partition."""
    return _drain(
        read_transcripts_stream(spark, input_path, max_files_per_trigger).select(
            *TRANSCRIPT_COLUMNS
        ),
        sigma_alert_writer(rules, out_dir),
        checkpoint_dir,
    )


def mg_ingest_writer(store_dir: str, key_col: str, k: int = 16):
    """foreachBatch: continuous Misra-Gries heavy-hitter tracking — the
    streaming counterpart of `operators.sketches.mg_sketch`, and the
    executed proof of the sketch's mergeability claim.

    State = ONE MG-k summary (≤ k counter rows + the accumulated
    deficit), written as complete snapshots to ``store_dir/v=<batch>``.
    Each batch summarizes ITSELF from exact batch counts, then merges
    with the previous snapshot through `mg_merge_all` (sum counters,
    rank-cut at k, deficit accumulates exactly). Unlike the HLL
    register merge (max — naturally idempotent), the MG merge is
    ADDITIVE, so replay safety comes entirely from the versioned-store
    contract: a replayed batch b re-merges against the pre-b snapshot
    and rewrites v=b byte-identically — never against its own output.

    The streamed summary's merge tree differs from a one-shot batch
    sketch, so counters may differ — but the Misra-Gries sandwich
    est ≤ true ≤ est + deficit holds for every key at every version,
    with the deficit carried EXACTLY (pytest-pinned against full-input
    ground truth).
    """
    from hatchery_spark.operators.sketches import mg_merge_all, mg_sketch

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = mg_sketch(
            batch_df, F.col(key_col), F.lit(0).cast("int"), k=k
        )
        prev = _latest_snapshot(batch_df.sparkSession, store_dir, before=batch_id)
        if prev is not None:
            prev_sk = prev.select(
                F.lit(1).cast("int").alias("shard"),
                "key",
                F.col("est").alias("c"),
                "deficit",
            )
            merged = mg_merge_all(
                batch_sk.select(
                    F.lit(0).cast("int").alias("shard"), "key", "c", "deficit"
                ).unionByName(prev_sk),
                k=k,
            )
        else:
            merged = mg_merge_all(batch_sk, k=k)
        merged.write.mode("overwrite").parquet(f"{store_dir}/v={batch_id}")

    return _write


def run_mg_ingest_stream(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    k: int = 16,
    max_files_per_trigger: int | None = None,
):
    """Drain available input through the MG writer (availableNow trigger;
    same harness as the HLL ingest stream)."""
    return _drain(
        _read_stream(spark, input_path, schema, max_files_per_trigger),
        mg_ingest_writer(store_dir, key_col, k=k),
        checkpoint_dir,
    )
