"""Materialized IVF index: the 100 TB ANN serving path.

``q_sim_ann_ivf`` (queries/corpus.py) computes IVF in one job —
assignment, probe, and rank in a single plan — which is right for
ad-hoc analysis but wrong for a serving corpus: at 100 TB the
assignment scan must be paid ONCE at build time, and every probe
afterwards should read only the nprobe/K slice of the bytes. This
module materializes exactly that split (SCALE.md promises "on a
materialized index the probe join is partition pruning" — this is
the implementation, with the pruning asserted in
tests/test_retrieval.py):

- :func:`build_ivf_index` trains the coarse quantizer with the same
  Lloyd machinery as ``q_sim_kmeans`` (one training job), assigns
  every vector to its nearest centroid in one scan, and writes the
  corpus parquet PARTITIONED BY the cell id — so each IVF cell is a
  filesystem partition. The K×dim centroid table (a few KB) lands
  next to it as JSON.
- :func:`probe_ivf_index` picks the nprobe nearest cells DRIVER-side
  (K centroids, a numpy-free pure-Python loop — no Spark job), then
  reads the index with ``cell IN (...)``: Catalyst turns that into
  PartitionFilters, so the scan lists and reads ONLY the probed
  cells' files — nprobe/K of the corpus, the whole point of IVF.

Three layouts share one skeleton: every builder writes the
cell-partitioned ``data/`` directory plus ``_centroids.json``
through :func:`_write_index`, every probe and absorb reads the
quantizer through :func:`_load_centroids` (which also rejects a
query vector of the wrong length or zero norm), both absorbs run
:func:`_absorb`, and both two-pass probes refine their shortlist
through :func:`_shortlist_refine`.

Reference scope: the reference engine (main.R) has no vector
serving; this is [EXT] LLM-pipeline surface (SURVEY.md §2.6's ANN
row, taken from one-job form to build/serve form).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries.similarity import _as_double, _kmeans_assign, cosine, train_kmeans
from .tables import table

_CENTROIDS_FILE = "_centroids.json"
_DATA_DIR = "data"
_PQBOOK_FILE = "_pq_codebook.json"


def _with_v(df: DataFrame) -> DataFrame:
    """(vec_id, embedding, v) rows: ``v`` is the embedding as doubles."""
    return df.select("vec_id", "embedding", _as_double(F.col("embedding")).alias("v"))


def _vnorm() -> Column:
    """L2 norm of ``v`` as a left-to-right fold."""
    return F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _train(spark: SparkSession, sf_dir: str, k: int, iters: int, centroids: list | None):
    """The embeddings frame and its coarse quantizer: ``centroids``
    when given (a FIXED pre-trained quantizer), else one k-means
    training run."""
    e = _with_v(table(spark, sf_dir, "embeddings"))
    if centroids is None:
        centroids = train_kmeans(e.select("vec_id", "v"), k, iters)
    return e, centroids


def _write_index(rows: DataFrame, index_dir: str, centroids: list) -> None:
    """The builders' write: rows partitioned by ``cell`` under
    ``data/`` (overwriting), the quantizer next to them as
    ``_centroids.json``."""
    rows.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, _DATA_DIR)
    )
    with open(os.path.join(index_dir, _CENTROIDS_FILE), "w") as f:
        json.dump({str(cid): vec for cid, vec in centroids}, f)


def _load_centroids(index_dir: str, query_vec: list | None = None) -> list:
    """The index's frozen quantizer as ``[(cell, centroid), ...]``.

    With ``query_vec``, also check it can be probed: it must have the
    centroids' length (a short vector would be truncated by the cell
    pick and null-padded by ``cosine``) and a non-zero norm (cosine
    and the int8 query scale divide by it). Raises ``ValueError``."""
    with open(os.path.join(index_dir, _CENTROIDS_FILE)) as f:
        centroids = [(int(c), v) for c, v in json.load(f).items()]
    if query_vec is not None:
        dim = len(centroids[0][1])
        if len(query_vec) != dim:
            raise ValueError(
                f"query_vec has {len(query_vec)} dims, the index centroids have {dim}"
            )
        if sum(float(x) * float(x) for x in query_vec) == 0.0:
            raise ValueError("query_vec has zero norm")
    return centroids


def _nearest_cells(centroids: list, query_vec: list, nprobe: int) -> list:
    """Driver-side nprobe selection: K squared-distance evaluations
    over a few-KB table — never a Spark job."""
    scored = []
    for cid, vec in centroids:
        d2 = sum((a - b) * (a - b) for a, b in zip(vec, query_vec))
        scored.append((d2, cid))
    scored.sort()
    return [cid for _, cid in scored[:nprobe]]


def _probed_rows(spark: SparkSession, index_dir: str, query_vec: list, nprobe: int) -> DataFrame:
    """The index rows of the nprobe cells nearest ``query_vec``. The
    ``cell IN (...)`` filter is a PARTITION filter: the scan never
    lists, opens, or decodes the other cells."""
    cells = _nearest_cells(_load_centroids(index_dir, query_vec), query_vec, nprobe)
    return spark.read.parquet(os.path.join(index_dir, _DATA_DIR)).filter(
        F.col("cell").isin(cells)
    )


def _exact_cos(query_vec: list) -> Column:
    """Exact cosine of the raw ``embedding`` against the query, to 6 dp."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return F.round(cosine(_as_double(F.col("embedding")), qv), 6).alias("cos_sim")


def _ivf_state(e: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, embedding, cell) rows of the plain IVF layout."""
    return _kmeans_assign(e, centroids).select(
        "vec_id", "embedding", F.col("cluster").alias("cell")
    )


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = 8,
    iters: int = 3,
    centroids: list | None = None,
) -> list:
    """Train + assign + write. Returns the trained centroid list.

    The write is one shuffle on the cell id (partitionBy) over rows
    of (vec_id, embedding) — the embedding payload ships exactly
    once. Cell skew (a dominant cluster) shows up as a big partition
    directory, not a failed task: files within a partition still
    split across scan tasks on read.

    Pass ``centroids`` to skip training and build under a FIXED
    pre-trained quantizer (the rebuild-vs-absorb equivalence pin
    compares layouts under the same centroids — the
    :func:`build_ivfpq_index` convention)."""
    e, centroids = _train(spark, sf_dir, k, iters, centroids)
    _write_index(_ivf_state(e, centroids), index_dir, centroids)
    return centroids


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Exact cosine top-k within the nprobe nearest cells.

    The ``cell IN (...)`` filter is a PARTITION filter — the scan
    never lists, opens, or decodes the other K−nprobe cells
    (asserted on the physical plan in tests). Ranking is
    TakeOrderedAndProject over the probed slice. Raises
    ``ValueError`` for a query of the wrong length or zero norm."""
    data = _probed_rows(spark, index_dir, query_vec, nprobe)
    scored = data.select("vec_id", "cell", _exact_cos(query_vec))
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(topk)


def _shortlist_refine(
    data: DataFrame, pq_score: Column, query_vec: list, shortlist: int, topk: int
) -> DataFrame:
    """Second pass of the compressed-code probes: keep the
    ``shortlist`` best rows by the approximate ``pq_score``, then
    rank them by exact cosine via a broadcast join of the shortlist
    ids back onto the same pruned cells (the only rows whose
    ``embedding`` bytes are ever decoded)."""
    sl = (
        data.select("vec_id", "cell", F.round(pq_score, 6).alias("pq_score"))
        .orderBy(F.desc("pq_score"), "vec_id")
        .limit(shortlist)
    )
    refined = data.join(F.broadcast(sl.select("vec_id", "pq_score")), "vec_id").select(
        "vec_id", "cell", "pq_score", _exact_cos(query_vec)
    )
    return refined.orderBy(F.desc("cos_sim"), "vec_id").limit(topk)


def _pq_state(e: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, embedding, codes, scale, vnorm, cell) rows for a
    (vec_id, embedding, v) frame under a FIXED trained quantizer —
    shared by the full build and the incremental absorb so an
    absorbed vector's stored row is bit-identical to what a rebuild
    under the same centroids would write."""
    scale = F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    return (
        _kmeans_assign(e, centroids)
        .withColumn("scale", scale)
        .filter(F.col("scale") > 0)
        .withColumn(
            "codes",
            F.transform("v", lambda x: F.round(x / F.col("scale")).cast("int")),
        )
        .select(
            "vec_id",
            "embedding",
            "codes",
            "scale",
            _vnorm().alias("vnorm"),
            F.col("cluster").alias("cell"),
        )
    )


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = 8,
    iters: int = 3,
    centroids: list | None = None,
) -> list:
    """IVF + scalar-int8 codes: the serving-storage compose
    (Jégou et al. 2011's IVFADC layout with the ``q_sim_quantize``
    scalar quantizer — see ``q_sim_ann_ivfpq`` for the certified
    one-job twin). Same build as :func:`build_ivf_index` plus three
    narrow columns per vector: ``codes`` (int8-valued ints, 4 B/dim
    on disk before encoding — dictionary/bit-packing shrinks
    further), ``scale`` (the per-vector dequant factor) and
    ``vnorm`` (L2 norm, so the probe normalizes cosine without
    touching the raw embedding column).

    The probe then column-prunes to (vec_id, codes, scale, vnorm):
    the raw ``embedding`` doubles are read only by the refine join,
    for shortlist rows only.

    Pass ``centroids`` to skip training and build under a FIXED
    pre-trained quantizer — the rebuild-vs-absorb equivalence pin
    compares layouts under the same centroids."""
    e, centroids = _train(spark, sf_dir, k, iters, centroids)
    _write_index(_pq_state(e, centroids), index_dir, centroids)
    return centroids


def probe_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list,
    nprobe: int = 2,
    topk: int = 10,
    shortlist: int = 30,
) -> DataFrame:
    """Two-pass serve: (1) int8-space scoring over the probed cells'
    CODES columns only — the scan is partition-pruned to nprobe
    cells AND column-pruned to ~65 ints + 2 doubles per row, never
    the raw vector; (2) exact cosine refine of the ``shortlist``
    best (:func:`_shortlist_refine`). Output carries both scores
    (``pq_score`` approx, ``cos_sim`` exact) — the audited-error
    column pattern. Raises ``ValueError`` for a query of the wrong
    length or zero norm."""
    data = _probed_rows(spark, index_dir, query_vec, nprobe)
    qscale = max(abs(float(x)) for x in query_vec) / 127.0
    qcode = [int(round(float(x) / qscale)) for x in query_vec]
    qnorm = sum(float(x) * float(x) for x in query_vec) ** 0.5
    qc = F.array(*[F.lit(c) for c in qcode])
    int_dot = F.aggregate(
        F.zip_with(qc, F.col("codes"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pq_score = (
        int_dot.cast("double")
        * F.lit(qscale)
        * F.col("scale")
        / (F.lit(qnorm) * F.col("vnorm"))
    )
    return _shortlist_refine(data, pq_score, query_vec, shortlist, topk)


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = 8,
    iters: int = 3,
) -> tuple:
    """Trained-codebook PQ index — the materialized form of
    ``q_sim_ann_pq_trained`` (queries/similarity.py), completing the
    index family: raw-vector IVF → scalar-int8 IVF-PQ → trained-PQ.
    Same coarse quantizer and cell-partitioned layout as
    :func:`build_ivfpq_index`, but the stored code column is the
    m=8 per-subspace codebook assignment (ksub=16 → 4-bit codes:
    8 SMALL values per vector vs 64 int8s — 8x narrower again), and
    the codebook (m·ksub·(dim/m) doubles, a few KB) lands next to
    the centroids as JSON. Returns (centroids, codebook).

    The probe decodes via driver-side LUTs (ADC: per subspace,
    dot(q_sub, centroid[code]) — m element_at lookups per row, no
    raw vector bytes), shortlists, and refines exactly like the
    scalar probe. Recall behavior is the measured PQ trade
    (SCALE.md: shortlist 100 vs the scalar form's 30)."""
    from .queries.similarity import _pq_codes, train_pq_codebook

    e, centroids = _train(spark, sf_dir, k, iters, None)
    book = train_pq_codebook(e.select("vec_id", "v"), len(centroids[0][1]))
    rows = _kmeans_assign(e, centroids).select(
        "vec_id",
        "embedding",
        _pq_codes(book).alias("pq_codes"),
        _vnorm().alias("vnorm"),
        F.col("cluster").alias("cell"),
    )
    _write_index(rows, index_dir, centroids)
    with open(os.path.join(index_dir, _PQBOOK_FILE), "w") as f:
        json.dump(book, f)
    return centroids, book


def probe_pq_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list,
    nprobe: int = 2,
    topk: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """ADC probe of the trained-PQ index: per subspace j the dot
    product dot(q_j, centroid) is precomputed DRIVER-side into a
    ksub-entry LUT (the classic ADC table — m·ksub doubles per
    query), so scoring a candidate is m element_at lookups + adds
    over its 4-bit codes; the reconstruction norm comes from a
    second LUT of per-centroid squared norms. The scan is
    partition-pruned to nprobe cells and column-pruned to
    (vec_id, pq_codes, vnorm); raw embedding bytes are read only for
    the shortlist refine — identical serving shape to
    :func:`probe_ivfpq_index` at 1/8 the code bytes. Raises
    ``ValueError`` for a query of the wrong length or zero norm."""
    data = _probed_rows(spark, index_dir, query_vec, nprobe)
    with open(os.path.join(index_dir, _PQBOOK_FILE)) as f:
        book = json.load(f)
    m = len(book)
    d_sub = len(book[0][0])
    qnorm = sum(float(x) * float(x) for x in query_vec) ** 0.5
    # driver-side ADC LUTs: dot(q_j, c) and |c|^2 per (subspace, code)
    dot_lut, nsq_lut = [], []
    for j in range(m):
        qj = [float(x) for x in query_vec[j * d_sub : (j + 1) * d_sub]]
        dot_lut.append([sum(a * b for a, b in zip(qj, c)) for c in book[j]])
        nsq_lut.append([sum(a * a for a in c) for c in book[j]])

    def lut_sum(lut):
        return sum(
            (
                F.element_at(
                    F.array(*[F.lit(v) for v in lut[j]]),
                    F.element_at("pq_codes", j + 1) + 1,
                )
                for j in range(m)
            ),
            F.lit(0.0),
        )

    pq_score = lut_sum(dot_lut) / (F.lit(qnorm) * F.sqrt(lut_sum(nsq_lut)))
    return _shortlist_refine(data, pq_score, query_vec, shortlist, topk)


#: Cell-imbalance bar above which an absorb flags the index for
#: retraining. max/mean cell size of a healthy k-means
#: partition sits near 1-3; past 4x the hottest cell dominates probe
#: latency (a probe that lands there reads max_cell/mean_cell times
#: the average bytes) and the quantizer no longer reflects the data
#: distribution — rebuild with fresh training.
RETRAIN_IMBALANCE = 4.0


def _absorb(spark: SparkSession, index_dir: str, new_embeddings: DataFrame, state) -> dict:
    """Shared absorb: encode the batch under the frozen quantizer
    with ``state`` (the layout's build projection), append it, and
    report cell drift from a partition-column-only stats scan."""
    st = state(_with_v(new_embeddings), _load_centroids(index_dir))
    n_added = st.count()
    st.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, _DATA_DIR)
    )
    sizes = (
        spark.read.parquet(os.path.join(index_dir, _DATA_DIR))
        .groupBy("cell")
        .count()
    )
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("count").alias("max_cell"),
        F.avg("count").alias("mean_cell"),
    ).first()
    imbalance = float(row["max_cell"]) / float(row["mean_cell"])
    return {
        "n_added": n_added,
        "n_cells": int(row["n_cells"]),
        "max_cell": int(row["max_cell"]),
        "mean_cell": round(float(row["mean_cell"]), 2),
        "imbalance": round(imbalance, 3),
        "retrain": imbalance > RETRAIN_IMBALANCE,
    }


def absorb_ivfpq_batch(
    spark: SparkSession, index_dir: str, new_embeddings: DataFrame
) -> dict:
    """Absorb a NEW embedding batch into a built IVF-PQ index
    without a rebuild (r11 verdict #4): assign each vector to its
    nearest TRAINED cell (the quantizer is frozen — centroids load
    from the few-KB JSON, no training job), encode the same
    (codes, scale, vnorm) row the full build writes, and APPEND to
    the cell-partitioned parquet — one shuffle-free job over the
    batch; history bytes are never read, let alone rewritten
    (parquet append adds files inside existing ``cell=`` partition
    directories).

    Returns a drift report: per-cell size stats over the post-absorb
    index and ``retrain`` (imbalance > :data:`RETRAIN_IMBALANCE`) —
    the signal that the frozen quantizer has drifted from the data
    and the next maintenance window should rebuild. The stats scan
    reads ONLY the partition column (footer counts), not payloads.

    Probe-after-absorb is pytest-pinned row-identical to a full
    rebuild over the union under the same centroids, and recall@10
    >= 0.9 is re-pinned post-absorb (tests/test_retrieval.py).

    Caller contract: batch vec_ids are new (an upsert would need a
    read-side dedup or compaction pass — out of scope here, as for
    any append-only parquet layout)."""
    return _absorb(spark, index_dir, new_embeddings, _pq_state)


def absorb_ivf_batch(
    spark: SparkSession, index_dir: str, new_embeddings: DataFrame
) -> dict:
    """Absorb a NEW embedding batch into a built plain-IVF index
    without a rebuild (r15 verdict #7 — the raw-vector twin of
    :func:`absorb_ivfpq_batch`, completing the incremental-
    maintenance story for BOTH serving layouts): assign each batch
    vector to its nearest TRAINED cell (centroids load from the
    few-KB JSON — no training job) and APPEND (vec_id, embedding,
    cell) to the cell-partitioned parquet. One shuffle-free job over
    the batch; history bytes are never read or rewritten.

    Returns the same centroid-drift report as the IVF-PQ absorb:
    per-cell size stats over the post-absorb index and ``retrain``
    (imbalance > :data:`RETRAIN_IMBALANCE`) — the maintenance-window
    rebuild signal. The stats scan reads only the partition column.

    Probe-after-absorb is pytest-pinned row-identical to a full
    rebuild over the union under the same centroids
    (tests/test_retrieval.py — the absorb_ivfpq_batch convention).

    Caller contract: batch vec_ids are new (append-only layout)."""
    return _absorb(spark, index_dir, new_embeddings, _ivf_state)
