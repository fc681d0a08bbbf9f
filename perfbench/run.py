"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Inputs are generated from the
seed (``datagen.py``); the engine is started with ``session.get_spark``
on ``local[<cpus>]`` with a 1g driver heap (see JVM_HEAP) and driven
only through its public functions. A run is: a cold set-up (JVM
start, session, warm-up operation, index build or oracle
preparation), an untimed warm-up, the measured closed loop for at
least ``--seconds`` and two passes or rounds (it stops at the end of
the one that crosses the deadline), warm set-ups (the same as the
cold one, restarting the session in the running JVM), then shutdown
of every process the run started.

Standard output ends with two JSON lines: a report (every workload
metric with its sample count, failures, and in traced runs the self
time per layer) and the result line ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics
named in BENCHMARK.json, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The engine's default driver heap is 8g. The JVM then lets garbage
# pile up to several GB before collecting, so peak RSS measured when
# the collector happened to run: on a 4-core host five seeds spread
# 0.15 (batch) and 0.46 (online) of their median. With 1g the peak
# follows the workload (spread 0.03-0.12) at ~1.4 GB for both
# processes together.
JVM_HEAP = "1g"


class Ctx:
    def __init__(self, seed: int, tmp: str, tracer):
        import numpy as np

        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.tmp = tmp
        self.tracer = tracer
        self.spark = None
        self.sf_dir = os.path.join(tmp, "data")
        self.window = (0.0, 0.0)


def _env(work: str, trace: bool, cpus: int) -> str | None:
    """Point every temp/scratch location into the checkout; returns the
    event log directory of a traced run."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts (spark-submit's launcher too) would
    # otherwise keep its jstat counters in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = [f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    events = None
    if trace:
        events = os.path.join(work, "events")
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "twitter_etl_spark")):
        print(f"no twitter_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]

    import datagen
    import stats
    from tracing import Tracer, event_log_totals
    from workloads import WORKLOADS, latency

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = _env(work, bool(a.trace), cpus)

    tracer = Tracer(bool(a.trace))
    ctx = Ctx(a.seed, work, tracer)
    wl = WORKLOADS[a.workload](ctx)
    datagen.write_tables(ctx.sf_dir, a.seed, wl.sf, wl.n_embeddings)
    if hasattr(wl, "prepare"):
        wl.prepare(a.seconds)

    from twitter_etl_spark.session import get_spark

    spark = None
    setup_s, start_s = [], []

    def set_up() -> None:
        nonlocal spark
        i = len(setup_s)
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span(f"setup{i}", "bench", f"setup{i}"):
            with tracer.span("start", "session", f"setup{i}"):
                spark = ctx.spark = get_spark("perfbench")
            start_s.append(time.perf_counter() - t0)
            wl.setup(i)
        setup_s.append(time.perf_counter() - t0)

    try:
        with tracer.span("workload", "bench", a.workload):
            set_up()
            ctx.window = (time.perf_counter(), None)
            wl.run(ctx.window[0] + a.seconds)
            to_wall = time.time() - time.perf_counter()
            wall0, wall1 = ctx.window[0] + to_wall, ctx.window[1] + to_wall
            for _ in range(wl.WARM_SETUPS):
                set_up()
        peak = stats.vm_hwm_mb() + stats.vm_hwm_mb(_jvm_pid())
    finally:
        _shutdown(spark)

    lat = wl.latencies()
    attempted, failed = wl.attempted_failed()
    # the first set-up also starts the JVM; setup_s is the median of the
    # warm ones, which repeat everything the engine does at set-up
    e2e = {
        "setup_s": statistics.median(setup_s[1:]),
        "op_gmean_s": statistics.geometric_mean(lat) if lat else 0.0,
        "ops_per_min": len(lat) / sum(lat) * 60.0 if lat else 0.0,
        "peak_rss_mb": peak,
    }
    layer = dict(wl.layer)
    layer["session.start_s"] = statistics.median(start_s[1:])
    layer["session.cold_start_s"] = start_s[0]
    layer["bench.cold_setup_s"] = setup_s[0]
    if a.trace:
        layer.update(event_log_totals(events, wall0, wall1, cpus))
        layer.update({f"trace.{k}": v for k, v in e2e.items()})
        layer["trace.overhead_s"] = tracer.overhead_s
        tracer.write(os.path.join(base, "traces", f"{a.workload}-s{a.seed}.jsonl"))

    report = {
        "workload": a.workload,
        "seed": a.seed,
        "cpus": cpus,
        "setups_s": setup_s,
        "ops": len(lat),
        "passes": wl.passes,
        "fail_ratio": failed / attempted,
        **wl.report,
        "failures": [f"{o['name']}: {o['err']}" for o in wl.ops if not o["ok"]][:10],
        "op_s": [[o["name"], latency(o)] for o in wl.ops],
    }
    if a.trace:
        report["self_time_s"] = tracer.self_times()
    print(json.dumps({"report": report}, default=float))

    kind = "per_layer" if a.trace else "end_to_end"
    values = layer if a.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
