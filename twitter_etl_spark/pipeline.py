"""Flagship dataflow: the reference's ``transform_tweets`` re-expressed.

Reference (``main.R:74-109``): NDJSON file -> parse -> filter
(``!is_retweet, lang == "es"``, main.R:82) -> transmute
(project + rename, main.R:83-92) -> mutate_at clean chain
(main.R:96-103) -> keep-first dedup on content (main.R:105).

Spark expression of the same semantics over the ``documents``
fixture (column mapping per FIXTURES.md: ``text -> content``,
``doc_id`` = load-order surrogate standing in for the SQLite rowid,
``source -> source``; ``is_retweet`` has no fixture column, so the
parity filter is the ``lang == 'es'`` predicate):

- The whole pre-dedup pipeline is a single codegen'd
  scan->filter->project stage; Catalyst pushes ``lang = 'es'`` into
  the parquet scan and prunes unread columns.
- Keep-first dedup is deterministic (SURVEY.md §4.3.1) and
  implemented as a **hash aggregate** — ``min_by(struct(row),
  tweet_id)`` grouped by ``content`` — not a window sort. The
  aggregate gets map-side partial combine (each partition reduces a
  viral duplicate to ONE candidate before the shuffle), so the
  skew hazard of hot ``content`` keys largely disappears and the
  shuffle carries one row per (partition, key). A
  ``row_number()``-window variant of the same contract lives in
  ``queries/ref_parity.q_dedup_keyed`` — same semantics, but the
  aggregate form is the 100 TB shape.

This is the engine's one keep-first transform: the micro-batch loop
(``streaming/microbatch.py``) runs :func:`transform_documents` on
each batch, and ``curation.curate`` dedups through
:func:`keep_first`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cleaning import clean_chain


def keep_first(df: DataFrame, key: str, order_col: str, payload_cols: list[str]) -> DataFrame:
    """Deterministic keep-first dedup as a two-phase hash aggregate:
    survivor = the row with the minimum ``order_col`` per ``key``.
    Partial aggregation collapses duplicates map-side before the
    shuffle — the skew-robust form of ``row_number() = 1``."""
    surv = F.min_by(F.struct(order_col, *payload_cols), F.col(order_col)).alias("__s")
    agg = df.groupBy(key).agg(surv)
    return agg.select(
        F.col(f"__s.{order_col}").alias(order_col),
        *[F.col(f"__s.{c}").alias(c) for c in payload_cols],
        F.col(key),
    )


def transform_documents(df: DataFrame) -> DataFrame:
    """transform_tweets-parity dataflow over a documents-shaped input."""
    cleaned = (
        df.filter(F.col("lang") == "es")
        .select(
            F.col("doc_id").alias("tweet_id"),
            F.col("lang"),
            F.col("text").alias("content"),
            F.col("source"),
        )
        .withColumn("content", clean_chain(F.col("content")))
    )
    return keep_first(
        cleaned, key="content", order_col="tweet_id", payload_cols=["lang", "source"]
    ).select("tweet_id", "lang", "content", "source")


def observed_transform(df: DataFrame):
    """The flagship transform instrumented with Spark's Observation
    API: named metrics (rows in, language-pass rows, total content
    chars) are collected DURING the action as accumulator-style
    aggregates — no second pass, no extra job, exactly how a 100 TB
    pipeline reports its own throughput/selectivity without paying
    for a count(). Returns ``(result_df, observation)``; read
    ``observation.get`` AFTER an action has materialized the frame.
    Works identically under ``foreachBatch`` for per-batch metrics.
    """
    from pyspark.sql import Observation

    obs = Observation("flagship_metrics")
    pre = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.col("lang") == "es").alias("rows_es"),
        F.sum(F.length("text")).alias("chars_in"),
    )
    return transform_documents(pre), obs
