"""Semantic + plan tests for the time-series / graph / data-quality
operator families (``timeseries.py``, ``graph.py``, ``dq.py``).
Oracle parity is the harness's job; here we pin invariants and the
scale posture."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_etl_spark.queries import dq, graph, timeseries
from twitter_etl_spark.tables import table

from conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- time series --------------------------------------------------------------


def test_gapfill_grid_complete_and_conserves(spark):
    e = table(spark, SF_ORACLE, "events")
    n_events = e.count()
    n_types = e.select("event_type").distinct().count()
    out = timeseries.q_ts_gapfill(spark, SF_ORACLE).collect()
    days = {r.day for r in out}
    assert len(out) == n_types * len(days)  # dense grid
    assert sum(r.n for r in out) == n_events  # zero-fill adds nothing
    assert any(r.n == 0 for r in out) or n_events >= len(out)


def test_locf_carries_forward(spark):
    rows = timeseries.q_ts_locf(spark, SF_ORACLE).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    carried = 0
    for urows in by_user.values():
        urows.sort(key=lambda r: r.day)
        last = None
        for r in urows:
            if r.is_observed:
                last = r.value_filled
            else:
                assert r.value_filled == last  # LOCF, incl. leading None
                carried += r.value_filled is not None
    assert carried > 0  # the fixture has gaps that actually fill


def test_ohlc_bounds(spark):
    rows = timeseries.q_ts_resample_ohlc(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.low <= r.high
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high


def test_ohlc_is_hash_agg_not_window(spark):
    p = _plan(timeseries.q_ts_resample_ohlc(spark, SF_SMOKE))
    assert "Window" not in p  # min_by/max_by agg, no event-stream sort


def test_locf_window_partitioned_by_user(spark):
    p = _plan(timeseries.q_ts_locf(spark, SF_SMOKE))
    assert "hashpartitioning(user_id" in p


# -- graph --------------------------------------------------------------------


def test_triangles_degree_ordered_equals_naive(spark):
    # cross-validate the O(m^1.5) algorithm against the naive
    # a<b<c three-way join on the small fixture
    fast = graph.q_graph_triangles(spark, SF_SMOKE).first()[0]
    e = graph._edges(spark, SF_SMOKE)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    naive = e1.join(e2, "y").join(e3, ["x", "z"]).count()
    assert fast == naive
    assert fast > 0  # fixture co-purchase graph has triangles


def test_edges_are_distinct_ordered_pairs(spark):
    # labelprop's closed-form first round (min(dst) per node) is only
    # the vote argmax when every undirected edge appears exactly once
    # as a < b; pin that, and that no co-purchase pair is lost
    rows = [(r.a, r.b) for r in graph._edges(spark, SF_SMOKE).collect()]
    assert rows
    assert all(a < b for a, b in rows)
    assert len(rows) == len(set(rows))
    parts: dict = {}
    for r in table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey").collect():
        parts.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    want = {(a, b) for ps in parts.values() for a in ps for b in ps if a < b}
    assert set(rows) == want


def test_degree_report_ordered(spark):
    rows = graph.q_graph_degree(spark, SF_ORACLE).collect()
    assert len(rows) == 20
    degs = [r.degree for r in rows]
    assert degs == sorted(degs, reverse=True)


def test_pagerank_symmetric_cliques_converge_equal(spark):
    # nation graph = same-size cliques: by symmetry every node's
    # fixed-point rank is identical, and ~PR_SCALE (conservation)
    rows = graph.q_graph_pagerank(spark, SF_ORACLE).collect()
    assert len(rows) == 25
    ranks = {r.rank_fp for r in rows}
    assert len(ranks) == 1
    (r,) = ranks
    assert abs(r - graph.PR_SCALE) <= graph.PR_SCALE // 10**6


# -- data quality -------------------------------------------------------------


def test_dq_report_contents(spark):
    out = {r.check_name: r for r in dq.q_dq_checks(spark, SF_ORACLE).collect()}
    assert set(out) == {
        "not_null_o_custkey",
        "unique_o_orderkey",
        "accepted_values_o_orderstatus",
        "range_l_discount_policy",
        "positive_l_quantity",
        "ref_lineitem_orderkey",
    }
    # generator invariants hold...
    assert out["not_null_o_custkey"].n_violations == 0
    assert out["unique_o_orderkey"].n_violations == 0
    assert out["ref_lineitem_orderkey"].n_violations == 0
    # ...and the deliberately-tight policy checks catch real rows
    assert out["range_l_discount_policy"].n_violations > 0
    assert out["accepted_values_o_orderstatus"].n_violations > 0


def test_fuzzy_match_blocked_and_bounded(spark):
    out = dq.q_er_fuzzy_blocked(spark, SF_ORACLE)
    rows = out.collect()
    assert rows
    assert all(r.custkey_a < r.custkey_b and r.lev_dist <= 2 for r in rows)
    p = _plan(out)
    # equi-anchored on the block key — never a nested-loop all-pairs
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_sorted_neighborhood_subset_of_blocked(spark):
    """SN pairs are a subset of the full blocked comparison (the
    recall trade-off is one-directional), and the windows stay
    partitioned by the block key."""
    sn = {
        (r.custkey_a, r.custkey_b)
        for r in dq.q_er_sorted_neighborhood(spark, SF_ORACLE).collect()
    }
    full = {
        (r.custkey_a, r.custkey_b)
        for r in dq.q_er_fuzzy_blocked(spark, SF_ORACLE).collect()
    }
    assert sn  # finds real near-pairs
    assert sn <= full
    p = _plan(dq.q_er_sorted_neighborhood(spark, SF_SMOKE))
    assert "hashpartitioning(c_nationkey" in p
    assert "SinglePartition" not in p


def test_ewma_matches_pandas_for_short_series(spark, tmp_path):
    """For series shorter than the lookback cap (12), the bounded
    EWMA is definitionally identical to pandas
    ``ewm(alpha=0.25, adjust=True).mean()`` — pin the semantics on a
    synthetic events table with short per-user series."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.timeseries import (
        _EWMA_ALPHA,
        _EWMA_SPAN,
        q_ts_ewma,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 6):  # 5 users, series lengths 3..11 (< cap)
        for i in range(2 * u + 1):
            rows.append(
                (eid, base + dt.timedelta(minutes=eid), u, "click",
                 float((eid * 37) % 100) / 7.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    got = (
        q_ts_ewma(spark, sf)
        .orderBy("user_id", "ts_us", "event_id")
        .toPandas()
    )
    raw = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "t", "value", "p"])
    raw = raw.sort_values(["user_id", "ts", "event_id"])
    assert raw.groupby("user_id").size().max() <= _EWMA_SPAN
    want = (
        raw.groupby("user_id")["value"]
        .apply(lambda s: s.ewm(alpha=_EWMA_ALPHA, adjust=True).mean())
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["ewma"].reset_index(drop=True),
        want.round(4),
        check_names=False,
        atol=2e-4,
    )


def test_interval_join_boundary_semantics(spark, tmp_path):
    """Constructed events: the window is [ts, ts+1h) — an event AT
    the alert time counts, one exactly 1h later does not, the alert
    itself is excluded, and cross-bin matches (event in the next
    hour bin but inside the window) are found."""
    import datetime as dt

    from twitter_etl_spark.queries.joins import q_join_interval

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    rows = [
        # alert: value > 300 at 10:30
        (1, t0, 100, "click", 400.0, "{}"),
        (2, t0, 101, "view", 1.0, "{}"),                                  # at a_ts -> in
        (3, t0 + dt.timedelta(minutes=59), 102, "view", 1.0, "{}"),       # in (crosses into 11:00 bin)
        (4, t0 + dt.timedelta(hours=1), 103, "view", 1.0, "{}"),          # at a_ts+1h -> out
        (5, t0 - dt.timedelta(seconds=1), 104, "view", 1.0, "{}"),        # before -> out
        (6, t0 + dt.timedelta(minutes=30), 101, "view", 1.0, "{}"),       # in, same user as 2
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    out = q_join_interval(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["alert_id"] == 1
    assert r["n_overlap"] == 3  # events 2, 3, 6
    assert r["n_users"] == 2  # users 101, 102


def test_graph_jaccard_bounds_and_plan(spark):
    """q_graph_jaccard: jaccard in (0, 1], n_common bounded by both
    capped degrees, and the plan broadcasts the supplier-degree
    frame (key-space-bounded) rather than shuffling it."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.graph import q_graph_jaccard

    df = q_graph_jaccard(spark, SF_SMOKE)
    rows = df.collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["n_common"] >= 1
        assert r["s1"] < r["s2"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_agg_mode_tie_breaks_to_smallest(spark, tmp_path):
    """q_agg_mode's contract: ties go to the SMALLEST value (Spark's
    built-in mode() is nondeterministic on ties). Drives the REAL
    query over a constructed lineitem fixture where two values tie
    for most frequent."""
    from twitter_etl_spark.queries.extras import q_agg_mode

    df = spark.createDataFrame(
        [("A", 5.0), ("A", 5.0), ("A", 2.0), ("A", 2.0), ("A", 9.0)],
        ["l_returnflag", "l_quantity"],
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/lineitem.parquet")
    out = q_agg_mode(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["mode_qty"] == 2.0  # 2.0 and 5.0 tie at n=2
    assert out[0]["n_occurrences"] == 2


def test_bpe_pairs_matches_python_reference(spark):
    """q_text_bpe_pairs pinned against an independent pure-Python
    computation of the same statistic over the fixture."""
    import collections

    import pyarrow.parquet as pq

    from twitter_etl_spark.queries.text import BPE_TOPK, q_text_bpe_pairs

    tab = pq.read_table(SF_SMOKE + "/documents.parquet", columns=["text"])
    wc = collections.Counter()
    for txt in tab.column("text").to_pylist():
        for w in txt.strip().split():
            wc[w] += 1
    pc = collections.Counter()
    for w, n in wc.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += n
    expected = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]
    got = [
        (r["pair"], r["n"]) for r in q_text_bpe_pairs(spark, SF_SMOKE).collect()
    ]
    assert got == expected


def test_lttb_matches_scalar_reference(spark):
    """q_ts_lttb pinned against an independent scalar-Python LTTB
    (plain loops, no NumPy) on each series, plus the structural
    invariants: first/last points kept, one point per bucket,
    strictly increasing pick times."""
    import math

    import pyarrow.parquet as pq

    from twitter_etl_spark.queries.timeseries import _LTTB_N_OUT, q_ts_lttb

    def lttb_ref(points, n_out):
        # points: list of (ts_ns, value), pre-sorted
        n = len(points)
        if n <= n_out:
            return points
        every = (n - 2) / (n_out - 2)
        picked = [points[0]]
        a = 0
        for i in range(n_out - 2):
            rs = int(math.floor(i * every)) + 1
            re = int(math.floor((i + 1) * every)) + 1
            as_, ae = re, min(int(math.floor((i + 2) * every)) + 1, n)
            if as_ < ae:
                avg_x = sum(p[0] for p in points[as_:ae]) / (ae - as_)
                avg_y = sum(p[1] for p in points[as_:ae]) / (ae - as_)
            else:
                avg_x, avg_y = points[-1]
            best, best_area = rs, -1.0
            xa, ya = points[a]
            for j in range(rs, re):
                area = abs(
                    (xa - avg_x) * (points[j][1] - ya)
                    - (xa - points[j][0]) * (avg_y - ya)
                )
                if area > best_area:
                    best, best_area = j, area
            a = best
            picked.append(points[a])
        picked.append(points[-1])
        return picked

    tab = pq.read_table(
        SF_SMOKE + "/events.parquet",
        columns=["event_id", "event_type", "ts", "value"],
    ).to_pandas()
    got = (
        q_ts_lttb(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["event_type", "pick_order"])
    )
    for etype, g in got.groupby("event_type"):
        s = tab[tab["event_type"] == etype].sort_values(["ts", "event_id"])
        pts = list(
            zip(
                s["ts"].astype("datetime64[us]").astype("int64").astype(float).tolist(),
                s["value"].tolist(),
            )
        )
        exp = lttb_ref(pts, _LTTB_N_OUT)
        assert len(g) == min(len(pts), _LTTB_N_OUT)
        got_pts = list(zip(g["ts_us"].astype(float), g["value"]))
        assert got_pts[0] == pts[0] and got_pts[-1] == pts[-1]
        assert [p[0] for p in got_pts] == sorted(p[0] for p in got_pts)
        assert got_pts == exp, etype


def test_streaks_partition_active_days(spark):
    """q_behavior_streaks invariants: streaks partition each user's
    distinct active days exactly (sum of lengths == distinct days),
    and consecutive streaks of a user are separated by >= 2 days
    (else they'd be one streak)."""
    import datetime

    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.behavior import q_behavior_streaks
    from twitter_etl_spark.tables import table

    out = q_behavior_streaks(spark, SF_SMOKE).collect()
    days = (
        table(spark, SF_SMOKE, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        .groupBy("user_id")
        .count()
        .collect()
    )
    expected = {r["user_id"]: r["count"] for r in days}
    got = {}
    per_user = {}
    for r in out:
        got[r["user_id"]] = got.get(r["user_id"], 0) + r["streak_days"]
        s = datetime.date.fromisoformat(r["streak_start"])
        e = datetime.date.fromisoformat(r["streak_end"])
        assert (e - s).days == r["streak_days"] - 1
        per_user.setdefault(r["user_id"], []).append((s, e))
    assert got == expected
    for spans in per_user.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert (s2 - e1).days >= 2


def test_moments_match_numpy(spark):
    """q_agg_moments pinned against NumPy population moments on the
    same fixture (independent formulation: central moments of the
    raw array, not power sums)."""
    import numpy as np
    import pyarrow.parquet as pq

    from twitter_etl_spark.queries.extras import q_agg_moments

    tab = pq.read_table(
        SF_SMOKE + "/lineitem.parquet", columns=["l_returnflag", "l_quantity"]
    ).to_pandas()
    got = {r["l_returnflag"]: r for r in q_agg_moments(spark, SF_SMOKE).collect()}
    for flag, g in tab.groupby("l_returnflag"):
        x = g["l_quantity"].to_numpy(dtype=np.float64)
        m = x.mean()
        c = x - m
        var = (c**2).mean()
        skew = (c**3).mean() / var**1.5
        kurt = (c**4).mean() / var**2 - 3
        r = got[flag]
        assert r["n"] == len(x)
        assert abs(r["mean_qty"] - m) < 1e-4
        assert abs(r["var_pop"] - var) < 1e-4
        assert abs(r["skew_pop"] - skew) < 1e-4
        assert abs(r["kurt_pop"] - kurt) < 1e-4


def test_entropy_edge_cases(spark, tmp_path):
    """q_behavior_entropy closed-form pins, driving the REAL query
    over a constructed events fixture: one event type -> 0 bits; a
    uniform mix over 4 types -> exactly 2 bits."""
    from twitter_etl_spark.queries.behavior import q_behavior_entropy

    rows = [(1, "a")] * 6 + [(2, t) for t in "abcd" * 3]
    df = spark.createDataFrame(rows, ["user_id", "event_type"])
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    out = {
        r["user_id"]: (r["entropy_bits"], r["n_events"], r["n_types"])
        for r in q_behavior_entropy(spark, sf).collect()
    }
    assert out[1] == (0.0, 6, 1)
    assert out[2] == (2.0, 12, 4)


def test_new_r7_operator_plan_shapes(spark):
    """Plan pins for the late-r7 wave: the recursion compiles to the
    engine's UnionLoop operator (not a driver-side Python loop), the
    anomaly window and shard manifest partition by their natural
    keys, and none of them collapse a data path to one partition
    (the sweep also checks this; pinning the positive shape here)."""
    from twitter_etl_spark.queries import ALL_QUERIES

    def plan(name):
        return (
            ALL_QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("q_sql_recursive_bom")
    assert "UnionLoop" in p
    assert "hashpartitioning(event_type" in plan("q_ts_anomaly_window")
    assert "hashpartitioning(pack_group" in plan("q_multimodal_shard_manifest")
    p = plan("q_graph_jaccard")
    assert "BroadcastHashJoin" in p  # supplier-degree frames
    assert "CartesianProduct" not in p


def test_cache_latest_keeps_one_slot(spark):
    """cacheutil.cache_latest must release the previous cached frame
    when a slot is re-filled, so repeated query invocations hold ONE
    cached copy instead of leaking one per run."""
    from twitter_etl_spark import cacheutil
    from twitter_etl_spark.cacheutil import cache_latest

    a = cache_latest("test_slot", spark.range(100))
    try:
        a.count()
        assert a.storageLevel.useMemory
        b = cache_latest("test_slot", spark.range(200))
        b.count()
        assert b.storageLevel.useMemory
        # the first frame was unpersisted (non-blocking): its storage
        # level no longer requests memory
        assert not a.storageLevel.useMemory
    finally:
        # leave no cached frame or slot entry behind in the shared
        # session-scoped SparkSession
        held = cacheutil._SLOTS.pop("test_slot", None)
        if held is not None:
            held.unpersist(blocking=False)


def test_lttb_two_level_invariants(spark):
    """The runnable giant-series path: forcing multiple level-1
    chunks (64-row) must preserve the output contract — same schema,
    n_out points per long series, both endpoints identical to the
    single-level picks, pick_order sequential."""
    from twitter_etl_spark.queries.timeseries import _LTTB_N_OUT, q_ts_lttb

    from conftest import SF_SMOKE as _SF

    single = q_ts_lttb(spark, _SF).collect()
    double = q_ts_lttb(spark, _SF, two_level=True, level1_chunk=64).collect()
    assert {r.event_type for r in double} == {r.event_type for r in single}

    def by_series(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r.event_type, []).append(r)
        for v in out.values():
            v.sort(key=lambda r: r.pick_order)
        return out

    s1, s2 = by_series(single), by_series(double)
    for et, rows2 in s2.items():
        rows1 = s1[et]
        if len(rows1) == _LTTB_N_OUT:
            assert len(rows2) == _LTTB_N_OUT
        assert [r.pick_order for r in rows2] == list(range(len(rows2)))
        # endpoints survive both levels (LTTB always keeps first/last)
        assert rows2[0].ts_us == rows1[0].ts_us
        assert rows2[-1].ts_us == rows1[-1].ts_us
