"""The reference's micro-batch ETL loop, Spark-native.

Reference shape (``main.R:202-212``): for each chunk — ingest a
bounded slice of the stream to a landing file (``get_tweets``,
``main.R:49-70``), transform it (``transform_tweets``,
``main.R:74-109``), append to the sink (``load_tweets``,
``main.R:113-121``).

Spark-native shape: the landing directory IS the stream.
``readStream.json`` (explicit schema) + ``foreachBatch`` running
the batch flagship transform itself
(:func:`twitter_etl_spark.pipeline.transform_documents` — one query
for batch and stream, no per-batch copy), appending through
:func:`twitter_etl_spark.sinks.append_table`. Every ``run_*`` loop
below differs only in its per-batch sink; the source, checkpoint,
trigger and await wiring live in one starter (:func:`_start`).
Differences from the reference, both deliberate upgrades:

- checkpointing makes the loop effectively-once (the reference
  loses the in-flight chunk on crash; SURVEY.md §1.3);
- ``availableNow`` reproduces the bounded run (N chunks then stop)
  while ``processingTime`` mirrors the 60 s cadence
  (``main.R:165-170``).

Dedup scope matches the reference exactly: per-batch keep-first
(``main.R:105``) — global dedup is the explicit q_dedup_* operator
family, not a sink property.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import transform_documents
from ..sinks import append_table
from ..sources import DOCUMENTS_SCHEMA, read_ndjson_stream


def _start(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink,
    *,
    cadence_seconds: int | None = None,
    await_seconds: int | None = None,
):
    """Start the checkpointed documents stream over ``landing_dir``
    with ``sink`` as its ``foreachBatch`` function. Without a
    cadence the run is bounded (``availableNow``) and awaited;
    with one it is a live ``processingTime`` stream, returned
    running."""
    writer = (
        read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if cadence_seconds is not None:
        return writer.trigger(processingTime=f"{cadence_seconds} seconds").start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(await_seconds)
    return q


def key_index_path(sink_path: str) -> str:
    """Location of the compact key-digest index maintained next to a
    global-dedup sink."""
    return sink_path.rstrip("/") + "_keyidx"


def run_microbatch_pipeline_global_dedup(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """The global-dedup upgrade of the loop (SURVEY.md §1.3):
    duplicates are dropped ACROSS batches, not just within one (the
    reference keeps cross-chunk duplicates, ``main.R:105``).

    Scale design: the sink itself is NEVER re-read. Each batch
    anti-joins against a compact **key-digest index**
    (:func:`key_index_path`) holding one 16-byte ``md5(content)``
    per sink row, and appends the surviving digests to the index —
    per-batch read cost follows the number of *keys ever written*
    (a few GB at 100 TB of documents), not sink size, and the scan
    is a single fixed-width column. On a cluster the index would be
    bucketed by digest so only the (small) batch side shuffles.

    Ordering: sink append happens before index append, so a crash
    between the two replays the batch and re-appends — at-least-once
    on the sink, never data loss (index-first would silently drop
    the replayed rows). The checkpoint makes replays rare; an
    idempotent sink (dynamic-overwrite partition per batch id, or a
    table format with txn commit) would close the remaining window.
    """
    index_path = key_index_path(sink_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform_documents(batch_df).withColumn(
            "__digest", F.md5(F.col("content"))
        )
        if os.path.exists(index_path):
            seen = spark.read.parquet(index_path)
            out = out.join(seen, out["__digest"] == seen["digest"], "left_anti")
        out = out.persist()  # one anti-join, two writes
        try:
            if out.isEmpty():
                return
            out.drop("__digest").write.mode("append").parquet(sink_path)
            out.select(F.col("__digest").alias("digest")).write.mode(
                "append"
            ).parquet(index_path)
        finally:
            out.unpersist()

    return _start(spark, landing_dir, checkpoint_dir, _sink, await_seconds=await_seconds)


def idempotent_batch_writer(sink_path: str, transform=transform_documents):
    """foreachBatch writer with **idempotent replay**: each batch
    lands in its own ``batch_id=N`` partition directory with
    overwrite semantics, so a batch replayed after a crash between
    write and checkpoint-commit overwrites its own output instead of
    appending a duplicate — effectively-once on top of the
    at-least-once checkpoint contract, with plain parquet (the same
    trick a table format's transactional commit generalizes).
    Readers scan the sink root; ``batch_id`` surfaces as a partition
    column and partition pruning gives per-batch access for free."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        if out.isEmpty():
            return
        out.write.mode("overwrite").parquet(
            f"{sink_path.rstrip('/')}/batch_id={batch_id}"
        )

    return _sink


def run_microbatch_pipeline_idempotent(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """The loop with :func:`idempotent_batch_writer` as the sink —
    the exactly-once-effective upgrade of the reference's
    at-least-once append (``main.R:118``; SURVEY.md §1.3)."""
    return _start(
        spark,
        landing_dir,
        checkpoint_dir,
        idempotent_batch_writer(sink_path),
        await_seconds=await_seconds,
    )


def run_microbatch_pipeline(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    bounded: bool = True,
    cadence_seconds: int = 60,
    await_seconds: int | None = None,
    transform=transform_documents,
):
    """Run the ETL loop. ``bounded=True`` = the reference's
    N-chunks-then-exit run (``availableNow``); otherwise a live
    ``processingTime`` cadence. ``transform`` defaults to the
    reference-parity flagship transform; each batch is appended with
    the reference's empty-chunk guard (``main.R:75-78, 114``).
    Returns the StreamingQuery (already awaited when bounded)."""
    return _start(
        spark,
        landing_dir,
        checkpoint_dir,
        lambda batch_df, _batch_id: append_table(transform(batch_df), sink_path),
        cadence_seconds=None if bounded else cadence_seconds,
        await_seconds=await_seconds,
    )


def run_streaming_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """Streaming MATERIALIZED-VIEW maintenance: each micro-batch is
    absorbed into the per-lang stats rollup via
    :func:`twitter_etl_spark.rollup.update_rollup` — O(batch +
    |rollup|) per trigger, history never re-read, every trigger an
    atomic `publish_version` snapshot (readers always see a complete
    rollup; a mid-batch crash leaves the previous version live and
    the checkpoint replays the batch).

    This is the streaming half of the incremental-rollup story the
    batch side proves (`q_agg_mergeable` merge algebra): the same
    partial-state monoid, driven by the micro-batch loop instead of
    a backfill job. Replay caveat: update_rollup is NOT idempotent
    per batch (a replayed batch would double-merge), so at-least-once
    delivery needs the batch_id recorded with the version — the
    version number returned per trigger serves as that marker; a
    production deployment gates on `batch_id > last_merged` exactly
    like `idempotent_batch_writer` gates its partition overwrite."""
    from ..rollup import update_rollup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_rollup(spark, rollup_dir, batch_df)

    return _start(spark, landing_dir, checkpoint_dir, _sink, await_seconds=await_seconds)
