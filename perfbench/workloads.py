"""The benchmark's workloads. Each drives the engine only through its
public functions:

- ``batch``: closed loop, one client. Whole passes, in seeded order,
  over oracle-backed queries from ``queries.ALL_QUERIES`` (one per
  relational query module, plus light curation operators) and
  ``curation.curate_and_shard``.
- ``online``: closed loop, one client, probing an IVF index
  (``index.probe_ivf_index``; every ABSORB_EVERY-th operation an
  ``index.absorb_ivf_batch``) while one generator thread lands NDJSON
  files at a fixed rate (open loop) into ``run_microbatch_pipeline``.

Every operation's output is checked, untimed; a failing operation is
counted and reported, never dropped.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
import stats

# One query per relational query module, picked from the first 18
# names of bench.py's HEADLINE list. The full list (TPC-H q1-q22 plus
# all 18 names) does not fit the per-run time budget with a warm-up
# pass.
ANALYTICS_OPS = [
    "q_flagship_transform",
    "q_agg_groupby",
    "q_tpch_q6",
    "q_join_multiway",
    "q_win_running",
    "q_limit_topk",
    "q_text_wordcount",
    "q_dedup_normalized",
    "q_sim_cosine_topk",
    "q_stream_tumbling_batch",
]

CURATE_AND_SHARD = "curate_and_shard"
# One light operator for each curation query module the analytics list
# does not already load (corpus, dq, multimodal_q) plus the composed
# pipeline. The iterative operators (q_llm_curation_neardup,
# q_dedup_minhash_recall, q_dedup_minhash_est, q_dedup_semantic,
# q_sim_knn_clusters, q_multimodal_dedup_cluster, q_er_cluster and the
# graph module's q_graph_*) take 1.5-20 s each and do not fit the
# per-run time budget.
CURATION_OPS = [
    "q_sample_leakage_safe",
    "q_er_fuzzy_blocked",
    "q_multimodal_shard_manifest",
    CURATE_AND_SHARD,
]
BATCH_WARMUP = ["q_tpch_q1"]
#: the measured loop runs at least this many passes (rounds), so a run
#: on a slow host still averages the same number of them
MIN_PASSES = 2


def _op(name: str, module: str) -> dict:
    """One measured operation: name, layer module, build/exec seconds
    (None when it raised), job counts (traced runs), ok flag, error."""
    return {"name": name, "module": module, "ok": True, "err": "", "build_s": None, "exec_s": None}


def _raised(op: dict, e: Exception) -> dict:
    op.update(ok=False, err=f"{type(e).__name__}: {str(e)[:300]}", build_s=None, exec_s=None)
    return op


def latency(op: dict) -> float | None:
    return None if op["exec_s"] is None else op["build_s"] + op["exec_s"]


class Workload:
    name = ""
    #: warm set-ups (session restart in the running JVM) after the
    #: measured loop; there the JIT is warm, so they differ only by
    #: host noise and by what the engine does at set-up
    WARM_SETUPS = 2
    #: tables regenerated per seed for this workload
    sf = 0.01
    n_embeddings: int | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.passes = 0
        self.layer: dict[str, float] = {}
        self.report: dict = {}

    def _duck(self):
        from twitter_etl_spark.harness import duckdb_connect

        con = duckdb_connect(self.ctx.sf_dir)
        con.execute(f"SET temp_directory='{self.ctx.tmp}/duckdb'")
        return con

    def _run_query(self, name: str, op_id: str, check: bool) -> dict:
        from twitter_etl_spark.harness import compare_query
        from twitter_etl_spark.queries import ALL_ORACLES, ALL_QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        fn = ALL_QUERIES[name]
        op = _op(name, fn.__module__.rsplit(".", 1)[-1])
        with tr.span(name, "op", op_id) as s_op, tr.job_group(ctx.spark, op_id, op):
            try:
                t0 = time.perf_counter()
                with tr.span("build", "queries." + op["module"], op_id):
                    df = fn(ctx.spark, ctx.sf_dir)
                t1 = time.perf_counter()
                with tr.span("exec", "queries." + op["module"], op_id):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                op.update(build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                _raised(op, e)
        if s_op is not None:
            s_op["attrs"].update(ok=op["ok"])
        if check and op["ok"]:
            with tr.span("check", "bench.check", op_id):
                shim = _Collected(df.schema, pdf)
                problems = compare_query(
                    ctx.spark, self.con, name, lambda s, d: shim, ALL_ORACLES[name], ctx.sf_dir
                )
            if problems:
                op.update(ok=False, err="; ".join(problems)[:300])
        return op

    def _closed_loop(self, names: list[str], deadline: float, run_one) -> None:
        """Whole passes in seeded order until ``deadline`` has passed
        and at least MIN_PASSES are done."""
        tr = self.ctx.tracer
        while True:
            order = list(names)
            self.ctx.rng.shuffle(order)
            with tr.span(f"pass{self.passes}", "pass"):
                for name in order:
                    op_id = f"{self.name}-p{self.passes}-{len(self.ops)}-{name}"
                    self.ops.append(run_one(name, op_id))
            self.passes += 1
            self.layer["cacheutil.persisted_rdds"] = float(
                len(self.ctx.spark.sparkContext._jsc.getPersistentRDDs())
            )
            if self.passes >= MIN_PASSES and time.perf_counter() >= deadline:
                self.ctx.window = (self.ctx.window[0], time.perf_counter())
                return

    def latencies(self, names=None) -> list[float]:
        """Seconds of every operation that ran (optionally only those
        named); operations that raised have no latency."""
        return [
            latency(o) for o in self.ops
            if latency(o) is not None and (names is None or o["name"] in names)
        ]

    def attempted_failed(self) -> tuple[int, int]:
        return len(self.ops), sum(1 for o in self.ops if not o["ok"])

    def module_layers(self) -> None:
        per = max(self.passes, 1)
        for o in self.ops:
            if o["name"] == CURATE_AND_SHARD or latency(o) is None:
                continue
            p = f"queries.{o['module']}."
            for k, v in (
                ("build_s", o["build_s"]),
                ("exec_s", o["exec_s"]),
                ("jobs", o.get("jobs", 0)),
                ("tasks", o.get("tasks", 0)),
            ):
                self.layer[p + k] = self.layer.get(p + k, 0.0) + v / per
        self.layer["queries.tasks_failed"] = float(
            sum(o.get("failed_tasks", 0) for o in self.ops)
        )


class _Collected:
    """A collected result posing as the DataFrame ``compare_query``
    expects, so the checked rows are the timed rows (no second
    execution)."""

    def __init__(self, schema, pdf):
        self.schema = schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf.copy()


class Batch(Workload):
    """Analytics queries and curation operators in one closed loop."""

    name = "batch"
    WARM_SETUPS = 4

    def setup(self, i: int) -> None:
        if i == 0:
            self.con = self._duck()
        for name in BATCH_WARMUP:
            self._run_query(name, f"warmup{i}-{name}", check=False)

    def _curate(self, name: str, op_id: str, check: bool = True) -> dict:
        from twitter_etl_spark.curation import curate_and_shard
        from twitter_etl_spark.queries import ALL_ORACLES
        from twitter_etl_spark.tables import table

        ctx, tr = self.ctx, self.ctx.tracer
        out_dir = os.path.join(ctx.tmp, "shards")
        shutil.rmtree(out_dir, ignore_errors=True)
        op = _op(name, "curation")
        with tr.span(name, "op", op_id), tr.job_group(ctx.spark, op_id, op):
            try:
                t0 = time.perf_counter()
                with tr.span("build", "curation", op_id):
                    docs = table(ctx.spark, ctx.sf_dir, "documents")
                t1 = time.perf_counter()
                with tr.span("exec", "curation", op_id):
                    counts = curate_and_shard(docs, out_dir)
                t2 = time.perf_counter()
                op.update(build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as e:  # noqa: BLE001
                return _raised(op, e)
        if not check:
            return op
        with tr.span("check", "bench.check", op_id):
            want = {
                r[0]: r[1]
                for r in self.con.execute(
                    f"SELECT split, n_docs FROM ({ALL_ORACLES['q_llm_curation']})"
                ).fetchall()
            }
            written = {
                s: self.con.execute(
                    f"SELECT count(*) FROM read_parquet('{out_dir}/{s}/*/*.parquet')"
                ).fetchone()[0]
                for s in counts
                if counts[s]
            }
            want = {s: want.get(s, 0) for s in counts}
            if counts != want or any(written[s] != counts[s] for s in written):
                op.update(ok=False, err=f"split counts {counts} written {written} oracle {want}")
        return op

    def _one(self, name: str, op_id: str) -> dict:
        if name != CURATE_AND_SHARD:
            return self._run_query(name, op_id, True)
        op = self._curate(name, op_id)
        for k, v in (("curation.shard_s", op["exec_s"] or 0.0), ("curation.shard_jobs", op.get("jobs", 0))):
            self.layer[k] = self.layer.get(k, 0.0) + v
        return op

    def run(self, deadline: float) -> None:
        # untimed warm-up pass: first executions pay per-plan code
        # generation and JIT warm-up, which would otherwise land on
        # whichever operators the seeded order puts first
        t0 = time.perf_counter()
        with self.ctx.tracer.span("warmup", "bench.warmup", "warmup-pass"):
            for name in ANALYTICS_OPS + CURATION_OPS:
                if name == CURATE_AND_SHARD:
                    self._curate(name, f"warmup-{name}", check=False)
                else:
                    self._run_query(name, f"warmup-{name}", check=False)
        self.report["warmup_pass_s"] = time.perf_counter() - t0
        self.ctx.window = (time.perf_counter(), None)
        deadline += self.ctx.window[0] - t0
        self._closed_loop(ANALYTICS_OPS + CURATION_OPS, deadline, self._one)
        for k in ("curation.shard_s", "curation.shard_jobs"):
            self.layer[k] /= self.passes
        self.module_layers()
        q, c = self.latencies(ANALYTICS_OPS), self.latencies(CURATION_OPS)
        self.report.update(
            query_p50_s=stats.pct_report(q, 50),
            query_p90_s=stats.pct_report(q, 90),
            query_tail_s=stats.tail_report(q),
            queries_per_min=len(q) / sum(q) * 60.0,
            pass_s=sum(c) / self.passes,
        )


class Online(Workload):
    name = "online"
    n_embeddings = 2000
    ABSORB_EVERY = 5  # every 5th client operation is an absorb
    ABSORB_ROWS = 20
    NPROBE, TOPK = 2, 10
    RATE = 0.3  # landed files per second, open loop
    FILE_ROWS = 250
    DUP_SHARE = 0.2  # rows whose text repeats an earlier file's text

    # ---- inputs, made before any timing ---------------------------
    def _ndjson_files(self, d: str, n: int, prefix: str, first_id: int) -> dict[str, int]:
        """Write ``n`` NDJSON files of FILE_ROWS rows; returns name -> rows."""
        rng = self.ctx.rng
        os.makedirs(d, exist_ok=True)
        out = {}
        for i in range(n):
            t = datagen.documents(rng, self.FILE_ROWS, first_id).to_pylist()
            first_id += self.FILE_ROWS
            for r in t:
                if self._texts and rng.random() < self.DUP_SHARE:
                    r["text"] = self._texts[int(rng.integers(0, len(self._texts)))]
                    r["n_chars"] = len(r["text"])
            self._texts.extend(r["text"] for r in t)
            name = f"{prefix}-{i:05d}.json"
            with open(os.path.join(d, name), "w") as f:
                for r in t:
                    f.write(json.dumps(r) + "\n")
            out[name] = len(t)
        return out

    def prepare(self, seconds: float) -> None:
        ctx = self.ctx
        self._texts: list[str] = []
        self.stage = os.path.join(ctx.tmp, "stage")
        self.landing = os.path.join(ctx.tmp, "landing")
        os.makedirs(self.landing)
        # enough files for the window plus a full round past the deadline
        n_open = int(2 * seconds * self.RATE) + 10
        self.open_files = self._ndjson_files(self.stage, n_open, "live", 10_000_000)
        self._next_vec = 1_000_000
        self.build_times: list[float] = []

    def setup(self, i: int) -> None:
        from twitter_etl_spark.index import build_ivf_index

        ctx, tr = self.ctx, self.ctx.tracer
        self.index_dir = os.path.join(ctx.tmp, f"index{i}")
        t0 = time.perf_counter()
        with tr.span("build", "index", f"setup{i}-build"):
            build_ivf_index(ctx.spark, ctx.sf_dir, self.index_dir)
        self.build_times.append(time.perf_counter() - t0)
        # the first build also pays the JVM's cold start
        self.layer["index.build_s"] = statistics.median(self.build_times[1:] or self.build_times)
        self._load_mirror()
        with tr.span("warmup", "bench.warmup", f"setup{i}-warmup"):
            self._probe(self._query_vec(), f"setup{i}-probe", check=False)

    # ---- serving ---------------------------------------------------
    def _load_mirror(self) -> None:
        """Exact copy of the index contents for the numpy oracle."""
        t = pq.read_table(os.path.join(self.index_dir, "data"), partitioning="hive")
        self.m_ids = t.column("vec_id").to_numpy()
        self.m_cell = np.asarray(t.column("cell").to_pylist(), dtype=np.int64)
        x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.m_x = x
        self.m_norm = np.sqrt((x * x).sum(1))
        with open(os.path.join(self.index_dir, "_centroids.json")) as f:
            c = json.load(f)
        self.c_ids = np.array([int(k) for k in c])
        self.c_vec = np.array([c[k] for k in c], dtype=np.float64)

    def _query_vec(self) -> list[float]:
        rng = self.ctx.rng
        base = self.m_x[int(rng.integers(0, len(self.m_x)))]
        q = base / np.linalg.norm(base) + rng.standard_normal(datagen.DIM) * (0.6 / np.sqrt(datagen.DIM))
        return (q / np.linalg.norm(q)).tolist()

    def _exact(self, q: np.ndarray, mask) -> tuple[np.ndarray, np.ndarray]:
        cos = np.round((self.m_x[mask] @ q) / (self.m_norm[mask] * np.linalg.norm(q)), 6)
        ids = self.m_ids[mask]
        order = np.lexsort((ids, -cos))[: self.TOPK]
        return ids[order], cos[order]

    def _probe(self, qv: list[float], op_id: str, check: bool = True) -> dict:
        from twitter_etl_spark.index import probe_ivf_index

        ctx, tr = self.ctx, self.ctx.tracer
        op = _op("probe", "index")
        with tr.span("probe", "op", op_id), tr.job_group(ctx.spark, op_id, op):
            try:
                t0 = time.perf_counter()
                with tr.span("build", "index", op_id):
                    df = probe_ivf_index(ctx.spark, self.index_dir, qv, self.NPROBE, self.TOPK)
                t1 = time.perf_counter()
                with tr.span("exec", "index", op_id):
                    rows = df.collect()
                t2 = time.perf_counter()
                op.update(build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as e:  # noqa: BLE001
                return _raised(op, e)
        if not check:
            return op
        with tr.span("check", "bench.check", op_id):
            q = np.asarray(qv)
            d2 = ((self.c_vec - q) ** 2).sum(1)
            cells = self.c_ids[np.lexsort((self.c_ids, d2))[: self.NPROBE]]
            want_ids, want_cos = self._exact(q, np.isin(self.m_cell, cells))
            got_ids = np.array([r["vec_id"] for r in rows])
            got_cos = np.array([r["cos_sim"] for r in rows])
            same = len(got_ids) == len(want_ids) and (
                np.array_equal(got_ids, want_ids)
                or (np.allclose(got_cos, want_cos, atol=2e-6)
                    and set(got_ids[got_cos > want_cos[-1] + 2e-6])
                    == set(want_ids[want_cos > want_cos[-1] + 2e-6]))
            )
            if not same:
                op.update(ok=False, err=f"probe top-{self.TOPK} {got_ids.tolist()} != exact {want_ids.tolist()}")
            true_ids, _ = self._exact(q, slice(None))
            op["recall"] = len(set(got_ids.tolist()) & set(true_ids.tolist())) / self.TOPK
        return op

    def _absorb(self, op_id: str) -> dict:
        from twitter_etl_spark.index import absorb_ivf_batch

        ctx, tr, rng = self.ctx, self.ctx.tracer, self.ctx.rng
        ids = np.arange(self._next_vec, self._next_vec + self.ABSORB_ROWS)
        self._next_vec += self.ABSORB_ROWS
        labels = rng.integers(0, 10, self.ABSORB_ROWS)
        vecs = datagen.unit_vectors(rng, len(ids), labels)
        batch = ctx.spark.createDataFrame(
            [(int(i), v.tolist(), int(lb)) for i, v, lb in zip(ids, vecs, labels)],
            "vec_id long, embedding array<float>, label int",
        )
        op = _op("absorb", "index")
        before = len(self.m_ids)
        with tr.span("absorb", "op", op_id), tr.job_group(ctx.spark, op_id, op):
            try:
                t0 = time.perf_counter()
                with tr.span("exec", "index", op_id):
                    rep = absorb_ivf_batch(ctx.spark, self.index_dir, batch)
                op.update(build_s=0.0, exec_s=time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                return _raised(op, e)
        with tr.span("check", "bench.check", op_id):
            self._load_mirror()
            if rep["n_added"] != len(ids) or len(self.m_ids) != before + len(ids):
                op.update(ok=False, err=f"absorb added {rep['n_added']} rows, index grew {len(self.m_ids) - before}")
            self.layer["index.imbalance"] = float(rep["imbalance"])
        return op

    # ---- ingest ----------------------------------------------------
    def _generator(self, t0: float) -> None:
        """Open loop: file i is due at t0 + i / RATE, landed by rename,
        until the client loop ends."""
        for i, name in enumerate(sorted(self.open_files)):
            due = t0 + i / self.RATE
            while (now := time.time()) < due and not self.stop_generator:
                time.sleep(min(due - now, 0.05))
            if self.stop_generator:
                return
            os.rename(os.path.join(self.stage, name), os.path.join(self.landing, name))
            self.landed[name] = (due, time.time())

    def _wait_committed(self, ckpt: str, names, timeout: float) -> dict[str, float]:
        end = time.time() + timeout
        while True:
            lags = stats.file_lags(ckpt, {n: 0.0 for n in names})
            if len(lags) == len(names) or time.time() > end:
                return lags
            time.sleep(0.1)

    def _sink_rows(self, sink: str) -> list[tuple]:
        if not os.path.isdir(sink):
            return []
        return sorted(
            duckdb.sql(
                f"SELECT tweet_id, lang, content, source FROM read_parquet('{sink}/*.parquet')"
            ).fetchall()
        )

    def run(self, deadline: float) -> None:
        from twitter_etl_spark.streaming.microbatch import run_microbatch_pipeline

        ctx, tr = self.ctx, self.ctx.tracer
        # untimed warm-up round: the first probes and absorb in a JVM pay
        # code generation, which would otherwise land on the first round
        t0 = time.perf_counter()
        with tr.span("warmup", "bench.warmup", "warmup-round"):
            for k in range(self.ABSORB_EVERY - 1):
                self._probe(self._query_vec(), f"warmup-probe{k}", check=False)
            self._absorb("warmup-absorb")
        ctx.window = (time.perf_counter(), None)
        deadline += ctx.window[0] - t0
        sink, ckpt = os.path.join(ctx.tmp, "sink"), os.path.join(ctx.tmp, "ckpt")
        self.landed: dict[str, tuple[float, float]] = {}
        self.stop_generator = False
        t_wall0 = time.time()
        with tr.span("ingest", "streaming", "ingest") as s_ing:
            q = run_microbatch_pipeline(
                ctx.spark, self.landing, sink, ckpt, bounded=False, cadence_seconds=0
            )
            gen = threading.Thread(target=self._generator, args=(t_wall0,), daemon=True)
            gen.start()
            # whole rounds of ABSORB_EVERY - 1 probes and one absorb, so
            # every run has the same operation mix
            while self.passes < MIN_PASSES or time.perf_counter() < deadline:
                for k in range(self.ABSORB_EVERY - 1):
                    op_id = f"online-r{self.passes}-probe{k}"
                    self.ops.append(self._probe(self._query_vec(), op_id))
                self.ops.append(self._absorb(f"online-r{self.passes}-absorb"))
                self.passes += 1
            self.stop_generator = True
            gen.join()
            ctx.window = (ctx.window[0], time.perf_counter())
            lags = self._wait_committed(ckpt, list(self.landed), 30.0)
            progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
            q.stop()
        self._ingest_layers(ckpt, sink, lags, progress, s_ing)
        self._serving_report()

    def _ingest_layers(self, ckpt, sink, lags, progress, s_ing) -> None:
        tr = self.ctx.tracer
        names = list(self.landed)
        rows_landed = sum(self.open_files[n] for n in names)
        got = self._sink_rows(sink)
        batch = stats.batch_of_file(ckpt)
        by_batch: dict[int, list[str]] = {}
        for n in names:
            if n in batch:
                by_batch.setdefault(batch[n], []).append(os.path.join(self.landing, n))
        ok = len(lags) == len(names) and got == ingest_oracle_rows(by_batch)
        self.file_ops = [(n, ok) for n in names]
        lag = [lags[n] - self.landed[n][0] for n in names if n in lags]
        commits = stats.commit_times(ckpt)
        intervals = [
            (self.landed[n][1], commits[batch[n]]) for n in names if n in batch and batch[n] in commits
        ]
        data = [p for p in progress if p.get("numInputRows", 0) > 0]

        def p50(key):
            xs = [p["durationMs"].get(key, 0) for p in data]
            return stats.percentile(xs, 50) if xs else 0.0

        win = self.ctx.window[1] - self.ctx.window[0]
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in data) / 1000.0
        self.layer.update(
            {
                "streaming.batches": float(len(data)),
                "streaming.trigger_ms_p50": p50("triggerExecution"),
                "streaming.latest_offset_ms_p50": p50("latestOffset"),
                "streaming.get_batch_ms_p50": p50("getBatch"),
                "streaming.query_planning_ms_p50": p50("queryPlanning"),
                "streaming.add_batch_ms_p50": p50("addBatch"),
                "streaming.wal_commit_ms_p50": p50("walCommit"),
                "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
                "streaming.idle_share": max(0.0, 1.0 - busy / win),
                "streaming.backlog_files_max": float(stats.max_backlog(intervals)),
                "streaming.source_scans_per_batch": (
                    sum(p["numInputRows"] for p in data) / rows_landed if rows_landed else 0.0
                ),
                "sources.files_landed": float(len(names)),
                "sources.rows_landed": float(rows_landed),
                "bench.generator_late_s_max": max(
                    (a - d for d, a in self.landed.values()), default=0.0
                ),
                "sinks.rows_written": float(len(got)),
                "sinks.keep_ratio": len(got) / rows_landed if rows_landed else 0.0,
                "sinks.files_written": float(_count_files(sink, ".parquet")),
                "sinks.bytes_per_row": _dir_bytes(sink) / len(got) if got else 0.0,
            }
        )
        if tr.enabled and s_ing is not None:
            for p in data:
                start = _iso_epoch(p["timestamp"])
                dur = p["durationMs"]
                tid = tr.add_span(
                    f"trigger{p['batchId']}", "streaming", start,
                    start + dur.get("triggerExecution", 0) / 1000.0, parent=s_ing["id"], op="ingest",
                )
                t = start
                for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                              "walCommit", "commitOffsets"):
                    d = dur.get(phase, 0) / 1000.0
                    tr.add_span(phase, "streaming", t, t + d, parent=tid, op="ingest")
                    t += d
        self.report.update(
            lag_p50_s=stats.pct_report(lag, 50),
            lag_p90_s=stats.pct_report(lag, 90),
            lag_tail_s=stats.tail_report(lag),
        )

    def _serving_report(self) -> None:
        probes = [o for o in self.ops if o["name"] == "probe" and latency(o) is not None]
        absorbs = [o for o in self.ops if o["name"] == "absorb" and latency(o) is not None]
        lat = [latency(o) for o in probes]
        recall = [o["recall"] for o in probes if "recall" in o]
        self.report.update(
            probe_p50_s=stats.pct_report(lat, 50),
            probe_p95_s=stats.pct_report(lat, 95),
            probe_tail_s=stats.tail_report(lat),
            absorb_p50_s=stats.pct_report([o["exec_s"] for o in absorbs], 50),
            recall_at_10=float(np.mean(recall)) if recall else None,
        )

        def med(xs):
            return stats.percentile(xs, 50) if xs else 0.0

        self.layer.update(
            {
                "index.probe_plan_ms": med([o["build_s"] * 1000 for o in probes]),
                "index.probe_exec_ms": med([o["exec_s"] * 1000 for o in probes]),
                "index.probe_jobs": med([o.get("jobs", 0) for o in probes]),
                "index.probe_tasks": med([o.get("tasks", 0) for o in probes]),
                "index.absorb_jobs": med([o.get("jobs", 0) for o in absorbs]),
                "index.data_files": float(_count_files(os.path.join(self.index_dir, "data"), ".parquet")),
            }
        )

    def attempted_failed(self) -> tuple[int, int]:
        a, f = super().attempted_failed()
        return a + len(self.file_ops), f + sum(1 for _, ok in self.file_ops if not ok)


def ingest_oracle_rows(batches: dict[int, list[str]]) -> list[tuple]:
    """The ``q_flagship_transform`` oracle applied once per micro-batch
    over the union of the NDJSON files that batch read: the engine
    keeps the first of each repeated text within a batch, not across
    batches. Returns the sorted sink rows the engine should write."""
    from twitter_etl_spark.queries import ALL_ORACLES

    con = duckdb.connect()
    out = []
    for files in batches.values():
        paths = ", ".join(f"'{p}'" for p in sorted(files))
        con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_json([{paths}], "
            "format='newline_delimited', columns={doc_id: 'BIGINT', text: 'VARCHAR', "
            "lang: 'VARCHAR', source: 'VARCHAR', n_chars: 'BIGINT'})"
        )
        out.extend(
            con.execute(
                f"SELECT tweet_id, lang, content, source FROM ({ALL_ORACLES['q_flagship_transform']})"
            ).fetchall()
        )
    con.close()
    return sorted(out)


def _count_files(d: str, suffix: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(d):
        n += sum(1 for f in files if f.endswith(suffix))
    return n


def _dir_bytes(d: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(d):
        n += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return n


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


WORKLOADS = {w.name: w for w in (Batch, Online)}
