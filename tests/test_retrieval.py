"""Semantic + plan tests for MaxSim and grouped regression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitter_etl_spark.queries import retrieval
from twitter_etl_spark.tables import table

from conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_maxsim_bounds_and_self_match(spark):
    rows = retrieval.q_sim_maxsim(spark, SF_ORACLE).collect()
    n_labels = (
        table(spark, SF_ORACLE, "embeddings")
        .select("label")
        .distinct()
        .count()
    )
    assert len(rows) == n_labels
    # each of the Q per-token maxes is a cosine in [-1, 1]
    assert all(-retrieval.MAXSIM_Q <= r.maxsim <= retrieval.MAXSIM_Q for r in rows)
    # the labels that CONTAIN the query vectors score a perfect 1.0
    # on their own token (self-cosine), so the global top label must
    # score >= 1.0 + (Q-1) * min-cosine > 0 for this fixture
    assert rows[0].maxsim > 0


def test_maxsim_query_side_broadcast(spark):
    p = _plan(retrieval.q_sim_maxsim(spark, SF_SMOKE))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_regression_matches_closed_form(spark):
    import numpy as np

    out = {
        r.event_type: r
        for r in retrieval.q_fn_regression(spark, SF_ORACLE).collect()
    }
    e = (
        table(spark, SF_ORACLE, "events")
        .select(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000.0).alias("t"),
            "value",
        )
        .collect()
    )
    by_type = {}
    for r in e:
        by_type.setdefault(r.event_type, []).append((r.t, r.value))
    for et, pts in by_type.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(out[et].slope - slope) < 1e-4
        assert abs(out[et].intercept - intercept) < 1e-2
        assert out[et].n == len(pts)
        assert 0.0 <= out[et].r2 <= 1.0


def test_ivf_index_build_probe_prunes_partitions(spark, tmp_path):
    """Materialized IVF (index.py): build writes one partition dir
    per cell; the probe's `cell IN (...)` must surface as a
    PARTITION filter on the scan (only nprobe cells listed/read),
    and the probe's top-k must equal brute-force cosine restricted
    to the probed cells."""
    import os

    from pyspark.sql import functions as F

    from twitter_etl_spark.index import build_ivf_index, probe_ivf_index
    from twitter_etl_spark.queries.similarity import _as_double, cosine
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivf")
    cents = build_ivf_index(spark, sf, idx, k=8, iters=2)
    assert len(cents) == 8
    cell_dirs = [
        d for d in os.listdir(os.path.join(idx, "data")) if d.startswith("cell=")
    ]
    assert len(cell_dirs) >= 2  # real partition layout

    qrow = (
        table(spark, sf, "embeddings").filter(F.col("vec_id") == 0).first()
    )
    qv = [float(x) for x in qrow["embedding"]]
    probe = probe_ivf_index(spark, idx, qv, nprobe=2, topk=5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    got = probe.collect()
    assert len(got) == 5

    # brute force within the probed cells must agree exactly
    probed_cells = {r["cell"] for r in got} | set()
    data = spark.read.parquet(os.path.join(idx, "data"))
    qcol = F.array(*[F.lit(x) for x in qv])
    brute = (
        data.filter(F.col("cell").isin([r["cell"] for r in got]))
        .select(
            "vec_id",
            F.round(cosine(_as_double(F.col("embedding")), qcol), 6).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(5)
        .collect()
    )
    # compare ids+scores where the probe's cells cover brute's rows
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["c"]) for r in brute
    ] or len(probed_cells) < 2


def test_ivf_index_recall_on_clustered_data(spark, tmp_path):
    """On clustered data (the IVF use case) the materialized probe
    with nprobe=2 of 8 recalls >= 90% of the global exact top-10."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from twitter_etl_spark.index import build_ivf_index, probe_ivf_index
    from twitter_etl_spark.queries.similarity import _as_double, cosine

    rng = np.random.default_rng(11)
    dim, k, per = 64, 8, 100
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), per)
    vecs = centers[labels] + 0.05 * rng.standard_normal((k * per, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(k * per, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, sf, idx, k=8, iters=3)

    q = vecs[0].tolist()
    got = {r["vec_id"] for r in probe_ivf_index(spark, idx, q, 2, 10).collect()}
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qcol = F.array(*[F.lit(float(x)) for x in q])
    exact = {
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            F.round(cosine(_as_double(F.col("embedding")), qcol), 6).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_ivfpq_index_probe_prunes_and_refines(spark, tmp_path):
    """Materialized IVF-PQ (index.py): the int8-scoring pass must be
    partition-pruned to the probed cells, the refine must return
    exactly topk rows whose exact cosine agrees with brute-force
    cosine over the shortlist, and pq_score must approximate cos_sim
    (the audited-error column)."""
    import os

    from pyspark.sql import functions as F

    from twitter_etl_spark.index import build_ivfpq_index, probe_ivfpq_index
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq")
    cents = build_ivfpq_index(spark, sf, idx, k=8, iters=2)
    assert len(cents) == 8
    # the stored row is codes + scale + vnorm + raw embedding, cell-partitioned
    data = spark.read.parquet(os.path.join(idx, "data"))
    assert {"vec_id", "embedding", "codes", "scale", "vnorm", "cell"} <= set(
        data.columns
    )

    qrow = table(spark, sf, "embeddings").filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in qrow["embedding"]]
    probe = probe_ivfpq_index(spark, idx, qv, nprobe=2, topk=5, shortlist=20)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    got = probe.collect()
    assert len(got) == 5
    for r in got:
        # int8 quantization error on unit-ish cosines stays small
        assert abs(r["pq_score"] - r["cos_sim"]) < 0.05


def test_ivfpq_absorb_equals_rebuild_and_flags_drift(spark, tmp_path):
    """Incremental IVF-PQ maintenance (r11 verdict #4): absorbing a
    new batch must (a) leave the index row-identical in probe terms
    to a full rebuild over the union under the SAME frozen
    centroids, (b) keep recall@10 >= 0.9 post-absorb, and (c) report
    cell-size drift — a batch dumped into one cell pushes imbalance
    past RETRAIN_IMBALANCE and flips the retrain flag."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from twitter_etl_spark.index import (
        RETRAIN_IMBALANCE,
        absorb_ivfpq_batch,
        build_ivfpq_index,
        probe_ivfpq_index,
    )
    from twitter_etl_spark.queries.similarity import _as_double, cosine

    rng = np.random.default_rng(12)
    dim, k, per = 64, 8, 100
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), per)
    vecs = centers[labels] + 0.05 * rng.standard_normal((k * per, dim))

    def pdf_of(ids):
        return pd.DataFrame(
            {
                "vec_id": np.asarray(ids, dtype=np.int64),
                "embedding": [vecs[i].astype(np.float32).tolist() for i in ids],
                "label": labels[ids].astype(np.int32),
            }
        )

    n = k * per
    base_ids = [i for i in range(n) if i % 5 != 0]  # 80%
    batch_ids = [i for i in range(n) if i % 5 == 0]  # disjoint 20%
    base_sf = str(tmp_path / "base")
    union_sf = str(tmp_path / "union")
    spark.createDataFrame(pdf_of(base_ids)).write.parquet(
        f"{base_sf}/embeddings.parquet"
    )
    spark.createDataFrame(pdf_of(list(range(n)))).write.parquet(
        f"{union_sf}/embeddings.parquet"
    )

    idx = str(tmp_path / "ivfpq_inc")
    cents = build_ivfpq_index(spark, base_sf, idx, k=8, iters=3)
    report = absorb_ivfpq_batch(
        spark, idx, spark.createDataFrame(pdf_of(batch_ids))
    )
    assert report["n_added"] == len(batch_ids)
    assert not report["retrain"]  # uniform batch: no drift

    # (a) probe-after-absorb == rebuild-probe on the union, same
    # centroids (the honest comparison: layout vs layout)
    idx_rb = str(tmp_path / "ivfpq_rb")
    build_ivfpq_index(spark, union_sf, idx_rb, centroids=cents)
    q = vecs[0].tolist()
    got = [
        (r["vec_id"], r["pq_score"], r["cos_sim"])
        for r in probe_ivfpq_index(spark, idx, q, 2, 10, shortlist=30).collect()
    ]
    want = [
        (r["vec_id"], r["pq_score"], r["cos_sim"])
        for r in probe_ivfpq_index(
            spark, idx_rb, q, 2, 10, shortlist=30
        ).collect()
    ]
    assert got == want

    # (b) recall@10 vs exact cosine over the union, post-absorb
    emb = spark.read.parquet(f"{union_sf}/embeddings.parquet")
    qcol = F.array(*[F.lit(float(x)) for x in q])
    exact = {
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            F.round(cosine(_as_double(F.col("embedding")), qcol), 6).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .collect()
    }
    assert len({v for v, _, _ in got} & exact) / len(exact) >= 0.9

    # (c) drift: dump a hot batch into cell of center 0 — imbalance
    # must cross the retrain bar
    hot = centers[0] + 0.05 * rng.standard_normal((4 * n, dim))
    hot_pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, n + 4 * n, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in hot],
            "label": np.zeros(4 * n, dtype=np.int32),
        }
    )
    report2 = absorb_ivfpq_batch(spark, idx, spark.createDataFrame(hot_pdf))
    assert report2["imbalance"] > RETRAIN_IMBALANCE and report2["retrain"]


def test_ivfpq_index_recall_on_clustered_data(spark, tmp_path):
    """On clustered data the IVF-PQ probe (int8 shortlist + exact
    refine, nprobe=2 of 8) recalls >= 90% of the global exact top-10
    — same bar as the raw-vector IVF probe, despite scoring the
    candidate pool in integer space."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from twitter_etl_spark.index import build_ivfpq_index, probe_ivfpq_index
    from twitter_etl_spark.queries.similarity import _as_double, cosine

    rng = np.random.default_rng(11)
    dim, k, per = 64, 8, 100
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), per)
    vecs = centers[labels] + 0.05 * rng.standard_normal((k * per, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(k * per, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf, idx, k=8, iters=3)

    q = vecs[0].tolist()
    got = {
        r["vec_id"]
        for r in probe_ivfpq_index(spark, idx, q, 2, 10, shortlist=30).collect()
    }
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qcol = F.array(*[F.lit(float(x)) for x in q])
    exact = {
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            F.round(cosine(_as_double(F.col("embedding")), qcol), 6).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_pq_index_probe_prunes_and_matches_query_scoring(spark, tmp_path):
    """Trained-PQ materialized index (build_pq_index/probe_pq_index):
    the probe scan must be partition-pruned to the probed cells; its
    driver-side ADC LUT scoring must equal q_sim_ann_pq_trained's
    in-plan reconstruction scoring for the same (query, candidate)
    pairs (same codebook trained on the same corpus → identical
    codes → identical rounded pq_score), and the refine must return
    exact cosines. The serving shape is probe_ivfpq_index's at 1/8
    the code bytes."""
    import os

    from pyspark.sql import functions as F

    from twitter_etl_spark.index import build_pq_index, probe_pq_index
    from twitter_etl_spark.queries.similarity import q_sim_ann_pq_trained
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "pq")
    cents, book = build_pq_index(spark, sf, idx, k=8, iters=2)
    assert len(book) == 8 and len(book[0]) == 16

    data = spark.read.parquet(os.path.join(idx, "data"))
    assert {"vec_id", "embedding", "pq_codes", "vnorm", "cell"} <= set(
        data.columns
    )

    qrow = table(spark, sf, "embeddings").filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in qrow["embedding"]]
    probe = probe_pq_index(spark, idx, qv, nprobe=8, topk=10, shortlist=100)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    got = {
        r["vec_id"]: (r["pq_score"], r["cos_sim"]) for r in probe.collect()
    }
    assert len(got) == 10

    # nprobe=8 probes ALL cells, so the probe's candidate pool for
    # query 0 equals the one-job query's — scores must agree exactly
    # for the common (query 0, cand) pairs
    want = {
        r["cand_id"]: (r["pq_score"], r["cos_sim"])
        for r in q_sim_ann_pq_trained(spark, sf)
        .filter(F.col("query_id") == 0)
        .collect()
    }
    common = set(got) & set(want)
    assert len(common) >= 9  # ulp boundary ties may swap the tail
    for cid in common:
        assert abs(got[cid][0] - want[cid][0]) < 1e-5, cid
        assert got[cid][1] == want[cid][1], cid

    # partition pruning is real: nprobe=2 reads fewer cells
    narrow = probe_pq_index(spark, idx, qv, nprobe=2, topk=10, shortlist=100)
    nplan = narrow._jdf.queryExecution().executedPlan().toString()
    assert nplan.count("cell=") <= plan.count("cell=")
    assert narrow.count() == 10


_INDEX_LAYOUTS = {
    "ivf": ("build_ivf_index", "probe_ivf_index"),
    "ivfpq": ("build_ivfpq_index", "probe_ivfpq_index"),
    "pq": ("build_pq_index", "probe_pq_index"),
}


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    """Builds each index layout once per module, on first use."""
    from twitter_etl_spark import index

    built: dict = {}

    def get(layout: str) -> str:
        if layout not in built:
            d = str(tmp_path_factory.mktemp(layout))
            getattr(index, _INDEX_LAYOUTS[layout][0])(spark, SF_SMOKE, d, k=4, iters=1)
            built[layout] = d
        return built[layout]

    return get


@pytest.mark.parametrize("bad", ["short", "zero"])
@pytest.mark.parametrize("layout", sorted(_INDEX_LAYOUTS))
def test_probe_rejects_bad_query_vec(spark, built_index, layout, bad):
    """A query one dimension short would be truncated by the cell
    pick and null-padded by cosine (top-k rows with null cos_sim); an
    all-zero query has no cosine and divides the int8 scale by zero.
    Every probe must refuse both up front."""
    from twitter_etl_spark import index

    idx = built_index(layout)
    dim = len(table(spark, SF_SMOKE, "embeddings").first()["embedding"])
    qv = [0.5] * (dim - 1) if bad == "short" else [0.0] * dim
    probe = getattr(index, _INDEX_LAYOUTS[layout][1])
    with pytest.raises(ValueError, match="dims" if bad == "short" else "zero norm"):
        probe(spark, idx, qv)
