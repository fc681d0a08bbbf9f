"""twitter_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL system (masher2/twitter-etl,
``main.R``) as an idiomatic Spark engine: DataFrame/SQL logical
plans optimized by Catalyst, Structured Streaming for the
micro-batch loop, and MLlib for similarity/near-dup extensions.

Layout
------
- :mod:`twitter_etl_spark.session` — SparkSession factory (UTC, AQE).
- :mod:`twitter_etl_spark.tables`  — fixture table loaders.
- :mod:`twitter_etl_spark.cleaning` — the reference's string-cleaning
  chain (reference ``main.R:96-103``) as pure column expressions.
- :mod:`twitter_etl_spark.pipeline` — the flagship
  ``transform_tweets``-parity dataflow (reference ``main.R:74-109``)
  and the engine's one keep-first dedup, shared by the batch query,
  the micro-batch loop and corpus curation.
- :mod:`twitter_etl_spark.sources` / :mod:`twitter_etl_spark.sinks`
  — NDJSON landing-zone source, append sink, DDL bootstrap
  (reference ``main.R:17-42, 49-70, 113-121``).
- :mod:`twitter_etl_spark.queries` — the checkable operator
  inventory (SURVEY.md §2): each query is a ``(spark, sf_dir) ->
  DataFrame`` callable plus a DuckDB oracle SQL string.
- :mod:`twitter_etl_spark.streaming` — Structured Streaming
  micro-batch loop running the flagship transform per batch, plus
  event-time windowing (reference ``main.R:202-212`` pattern).
- :mod:`twitter_etl_spark.index` — materialized IVF / IVF-PQ / PQ
  vector indexes: build, partition-pruned probe, incremental absorb.
"""

__version__ = "0.2.0"
