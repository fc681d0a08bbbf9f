"""End-to-end LLM corpus curation: the operator families composed
into the pipeline they exist for ([EXT]; the 100 TB analogue of the
reference's clean→dedup→append loop, ``main.R:82-121``).

Stages (each individually oracle-certified as a query; this module
is their composition):

1. **Normalize** — the 5-step cleaning chain (``cleaning.py``).
2. **Exact dedup** — keep-first by normalized digest
   (``q_dedup_normalized`` semantics): one hash-agg shuffle on a
   32-byte key.
3. **Quality gate** — minimum token count on the normalized text
   (the ``q_text_quality`` banding, reduced to its load-bearing
   predicate so the oracle stays simple).
4. **Leakage-safe split** — train/val/test by digest hash
   (``q_sample_leakage_safe``): duplicates co-travel by
   construction, because the split key IS the dedup key.
5. **Shard export** — deterministic content-keyed shards
   (``sinks.export_training_shards``).

Scale: stages 1/3/4 are per-row projections; stage 2 is the one
shuffle (on the digest); stage 5 is one shuffle on the shard id.
Nothing else moves data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cleaning import clean_chain
from .pipeline import keep_first

MIN_TOKENS = 3


def curate(
    docs: DataFrame,
    semantic_keep: DataFrame | None = None,
    neardup_keep: DataFrame | None = None,
) -> DataFrame:
    """documents -> curated rows (doc_id, text, norm_digest, split).

    Keep-first exact dedup on the normalized digest via the
    flagship's :func:`twitter_etl_spark.pipeline.keep_first` (hash
    agg, map-side combine — the skew-robust shape), then the quality
    gate and the digest-keyed split assignment.

    ``semantic_keep`` (r14 verdict #2) optionally inserts the
    near-dup/semantic stage every real pretraining pipeline runs
    between exact dedup and the quality gate: a (vec_id, kept) frame
    — ``q_dedup_semantic_adaptive``'s keep flags, or
    ``rollup.semdedup_adaptive_keeplist`` read from persisted state —
    left-joined on the exact-dedup KEEPER's doc_id (vec_id ↔ doc_id);
    a keeper judged a semantic duplicate (kept = 0) drops before the
    quality gate. Docs with no embedding row pass through (kept
    defaults to 1). One extra equi-join on a compact key; nothing
    else about the plan changes.

    ``neardup_keep`` (r15 verdict #2) likewise inserts the LEXICAL
    near-dup stage between exact dedup and the semantic stage: a
    (doc_id, kept) frame — ``queries.corpus.neardup_keep_flags``'s
    banded-MinHash cluster judgment, or the ingest-time rollup's
    regenerated keeplist — joined on the keeper's doc_id; keepers
    judged lexical near-duplicates (kept = 0) drop first. Absent
    doc_ids pass through. Stage order exact -> near-dup -> semantic
    -> quality matches ``q_llm_curation_neardup``'s certified
    funnel; because each stage's flag is computed globally, the
    filters commute and the composition equals the funnel's keep
    set exactly."""
    from .queries.sampling import hash_bucket

    norm = clean_chain(F.col("text"))
    d = docs.select(
        "doc_id", "text", F.md5(norm).alias("norm_digest"), norm.alias("__norm")
    )
    keeper = keep_first(
        d, key="norm_digest", order_col="doc_id", payload_cols=["text", "__norm"]
    )
    if neardup_keep is not None:
        nk = neardup_keep.select(
            F.col("doc_id").alias("__nk_id"), F.col("kept").alias("__nk_kept")
        )
        keeper = (
            keeper.join(nk, keeper.doc_id == nk.__nk_id, "left")
            .filter(F.coalesce("__nk_kept", F.lit(1)) == 1)
            .drop("__nk_id", "__nk_kept")
        )
    if semantic_keep is not None:
        sk = semantic_keep.select(
            F.col("vec_id").alias("__sk_id"), F.col("kept").alias("__sk_kept")
        )
        keeper = (
            keeper.join(sk, keeper.doc_id == sk.__sk_id, "left")
            .filter(F.coalesce("__sk_kept", F.lit(1)) == 1)
            .drop("__sk_id", "__sk_kept")
        )
    quality_ok = F.size(F.split(F.trim("__norm"), r"\s+")) >= MIN_TOKENS
    bucket = hash_bucket(F.col("norm_digest"))
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        keeper.filter(quality_ok)
        .select("doc_id", "text", "norm_digest", split.alias("split"))
    )


def curate_and_shard(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    semantic_keep: DataFrame | None = None,
    neardup_keep: DataFrame | None = None,
) -> dict:
    """Run the full pipeline and export per-split shard directories.
    Returns per-split row counts (one write action per split, ONE
    count job for all splits — not one count per split).
    ``semantic_keep``/``neardup_keep`` thread through to
    :func:`curate`."""
    from .sinks import export_training_shards

    curated = curate(
        docs, semantic_keep=semantic_keep, neardup_keep=neardup_keep
    ).cache()
    for split in ("train", "val", "test"):
        part = curated.filter(F.col("split") == split)
        export_training_shards(part, f"{out_dir}/{split}", "norm_digest", n_shards)
    counted = {
        r["split"]: r["n"]
        for r in curated.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    curated.unpersist()
    return {s: counted.get(s, 0) for s in ("train", "val", "test")}


def curate_webcorpus(spark, sf_dir: str, out_dir: str, n_shards: int = 8) -> dict:
    """The r7 web-corpus pretraining pipeline: the new curation
    operators composed end-to-end the way a crawl-to-training-set
    job runs them —

    1. **Span-level dedup** (`q_dedup_paragraph`): corpus-wide
       duplicated spans removed, documents reassembled; fully-
       duplicated docs drop out here.
    2. **Quality gate**: ``MIN_TOKENS`` on the DEDUPED text (a doc
       that was mostly boilerplate dies after its spans do).
    3. **Signal annotation**: DSIR importance weight
       (`q_text_dsir`) and CCNet per-language quality bucket
       (`q_text_ccnet_bucket`) joined on as metadata — downstream
       sampling weights, not filters, per both papers' usage.
    4. **Leakage-safe split**: train/val/test hashed from the
       DEDUPED-text digest, so any residual exact dups co-travel.
    5. **Shard export** per split (content-keyed, deterministic).

    Scale: stages reuse the certified single-query plans (each one
    shuffle on a compact key); the annotation joins are on doc_id.
    Returns an audit report: per-split counts, spans dropped by
    dedup, docs dropped by dedup/quality."""
    from .queries.dedup import q_dedup_paragraph
    from .queries.sampling import hash_bucket
    from .queries.webcorpus import q_text_ccnet_bucket, q_text_dsir
    from .sinks import export_training_shards
    from .tables import table

    n_docs = table(spark, sf_dir, "documents").count()
    spans = q_dedup_paragraph(spark, sf_dir)
    kept = spans.filter(
        (F.col("kept_spans") > 0)
        & (F.size(F.split(F.trim("text_dedup"), r"\s+")) >= MIN_TOKENS)
    )
    dsir = q_text_dsir(spark, sf_dir).select("doc_id", "dsir_logweight")
    ccnet = q_text_ccnet_bucket(spark, sf_dir).select(
        "doc_id", "lang", "bucket"
    )
    digest = F.md5("text_dedup")
    bucket = hash_bucket(digest)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    curated = (
        kept.join(dsir, "doc_id", "left")
        .join(ccnet, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.col("text_dedup").alias("text"),
            "kept_spans",
            "total_spans",
            F.coalesce("dsir_logweight", F.lit(0.0)).alias("dsir_logweight"),
            F.coalesce("bucket", F.lit("tail")).alias("quality_bucket"),
            digest.alias("norm_digest"),
            split.alias("split"),
        )
        .cache()
    )
    for s in ("train", "val", "test"):
        export_training_shards(
            curated.filter(F.col("split") == s),
            f"{out_dir}/{s}",
            "norm_digest",
            n_shards,
        )
    agg = curated.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("total_spans").alias("spans_in"),
        F.sum("kept_spans").alias("spans_kept"),
        *[
            F.sum((F.col("split") == s).cast("bigint")).alias(s)
            for s in ("train", "val", "test")
        ],
    ).collect()[0]
    curated.unpersist()
    return {
        "docs_in": n_docs,
        "docs_kept": agg["n_kept"],
        "docs_dropped": n_docs - agg["n_kept"],
        "spans_in": agg["spans_in"],
        "spans_dropped": agg["spans_in"] - agg["spans_kept"],
        "train": agg["train"],
        "val": agg["val"],
        "test": agg["test"],
    }
