"""Benchmark of the go_muse_spark engine: one workload, one seed, one run.

    python3 musebench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts a session sized from the host, warms up with untimed
operations (search: one request of every query plan the timed requests
run; ingest: the first two deliveries), then runs operations back to back (one client, closed loop)
until ``--seconds`` have passed, finishing the operation in flight. After
the timed window every operation's result is checked against an
independent reference. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when ``--trace 0`` and the per-layer metrics
when ``--trace 1``. The line before it records the host, the session
settings, library versions and the raw per-operation latencies. Every
file the run writes lives under ``.musebench_work/`` in the current
directory and is removed at the end.

Workloads (see workloads.py): ``search``, a stream of muse searches over
a materialised 1m rollup, and ``ingest``, daily transcript deltas merged
into the retention tiers of a parquet store. ``spread.py`` runs one
workload over several seeds and prints each metric's median and
interquartile share; ``tests/`` holds the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "turns_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.empty_job_s": "s",
    "session.python_task_s": "s",
    "sources.generate_s": "s",
    "sources.turns": "count",
    "store.upsert_s": "s",
    "store.upsert_calls": "count",
    "store.read_s": "s",
    "store.rows_written": "count",
    "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.bytes_per_turn": "bytes",
    "continuous.ingest_s": "s",
    "continuous.self_s": "s",
    "continuous.jobs_per_batch": "count",
    "continuous.dup_keys": "count",
    "continuous.replay_s": "s",
    "rollup.self_s": "s",
    "rollup.rows_in": "count",
    "rollup.rows_out": "count",
    "compress.encode_self_s": "s",
    "compress.decode_self_s": "s",
    "compress.tasks": "count",
    "compress.points_out": "count",
    "compress.bytes_out": "bytes",
    "compress.bytes_per_point": "bytes",
    "compress.partition_rows_max_over_median": "ratio",
    "compress.fused_s": "s",
    "compress.fused_points_per_s": "1/s",
    "compress.fused_bytes_per_point": "bytes",
    "search.bounds_s": "s",
    "search.score_self_s": "s",
    "search.topk_self_s": "s",
    "search.series_scored": "count",
    "search.series_per_s": "1/s",
    "search.nfft": "count",
    "search.tasks": "count",
    "search.shuffle_bytes": "bytes",
    "kernels.batch_xcorr_s": "s",
    "kernels.series_per_s": "1/s",
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "entry.plan_s": "s",
    "entry.exec_s": "s",
    "entry.single_task_stages": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
    "host.steal_ratio": "ratio",
    "host.cpu_pressure_some": "ratio",
    "host.peak_rss_mb": "MB",
}

GENERATE_REPEATS = 2
SESSION_PROBE_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _median_time(fn, n: int) -> float:
    return statistics.median(_timed(fn)[0] for _ in range(n))


def session_probes(spark) -> dict:
    """The overhead floor: an empty job, and a trivial mapInPandas with
    one task per core."""
    cpus = spark.sparkContext.defaultParallelism

    def empty_job():
        spark.range(1).write.format("noop").mode("overwrite").save()

    def python_tasks():
        spark.range(cpus).repartition(cpus).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()

    return {
        "session.empty_job_s": _median_time(empty_job, SESSION_PROBE_REPEATS),
        "session.python_task_s": _median_time(python_tasks, SESSION_PROBE_REPEATS),
    }


def timed_window(wl, tracer, args) -> tuple[list, list, list, int]:
    """Operations back to back until ``args.seconds`` have passed. A
    traced run alternates untraced and traced operations, and runs at
    least three, so the tracing overhead can be read from operations
    after the first (see layer_metrics)."""
    latencies, results, kinds, op_turns = [], [], [], 0
    t_window = time.perf_counter()
    for i in range(wl.max_ops):
        kind = "op.traced" if args.trace and i % 2 else "op.plain"
        t0 = time.perf_counter()
        with tracer.span(kind):
            if kind == "op.plain":
                with tracer.suspended():
                    res = wl.op(i)
            else:
                res = wl.op(i)
        latencies.append(time.perf_counter() - t0)
        results.append(res)
        kinds.append(kind)
        op_turns += wl.op_turns(i)
        if time.perf_counter() - t_window >= args.seconds and (not args.trace or i >= 2):
            break
    return latencies, results, kinds, op_turns


def layer_metrics(wl, tracer, spark, latencies, kinds) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(session_probes(spark))
    metrics.update(wl.layer_probes())
    plain = [lat for lat, k in zip(latencies, kinds) if k == "op.plain"]
    # the first operation is left out of the overhead ratio: it can still
    # carry warm-up cost that the later ones do not
    traced = [lat for lat, k in zip(latencies[1:], kinds[1:]) if k == "op.traced"]
    untraced = [lat for lat, k in zip(latencies[1:], kinds[1:]) if k == "op.plain"]
    # whole-operation job counts come from the untraced operations, whose
    # plans the tracer did not change
    per_op = tracer.stats("op.plain")
    n_plain = max(len(plain), 1)
    metrics.update({
        "spark.jobs": per_op.jobs / n_plain,
        "spark.stages": per_op.stages / n_plain,
        "spark.tasks": per_op.tasks / n_plain,
        "spark.shuffle_bytes": per_op.shuffle_bytes / n_plain,
        "trace.overhead_ratio": (
            statistics.median(traced) / statistics.median(untraced)
            if traced and untraced else 0.0
        ),
    })
    if wl.name == "ingest":
        reads = tracer.stats("store.read")
        n_reads = max(len(tracer.named("store.read")), 1)
        metrics["continuous.jobs_per_batch"] = per_op.jobs / n_plain - reads.jobs / n_reads
    return metrics


def run(args, work_dir: str) -> tuple[dict, dict]:
    import host
    import workloads
    from spans import Tracer

    load = host.HostLoad()
    settings = host.session_settings(work_dir)
    wl = workloads.WORKLOADS[args.workload](work_dir, args.seed)
    spark = None
    try:
        with host.RssSampler() as rss:
            # generation is repeatable, so setup takes its median
            gen, engine_gen = [], []
            for _ in range(GENERATE_REPEATS):
                gen.append(_timed(wl.generate))
                engine_gen.append(wl.engine_gen_s)
            gen_s = statistics.median(t for t, _ in gen)
            start_s, spark = _timed(lambda: host.start_session(settings))
            java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")  # noqa: SLF001
            tracer = Tracer(spark, bool(args.trace))
            wl.bind(spark, tracer)
            with tracer.span("setup"):
                prepare_s, _ = _timed(wl.prepare)
            with tracer.suspended():
                warm_s, _ = _timed(wl.warm_up)
            setup_s = gen_s + start_s + prepare_s + warm_s
            latencies, results, kinds, op_turns = timed_window(wl, tracer, args)
        check_s, checks = _timed(lambda: wl.check(results))
        host_load = load.read()
        if args.trace:
            metrics = layer_metrics(wl, tracer, spark, latencies, kinds)
            metrics.update({
                "session.start_s": start_s,
                "sources.generate_s": statistics.median(engine_gen),
                "sources.turns": wl.engine_turns,
                "host.steal_ratio": host_load["steal_ratio"],
                "host.cpu_pressure_some": host_load["cpu_pressure_some"],
                "host.peak_rss_mb": rss.peak / 2**20,
            })
            units = PER_LAYER
        else:
            busy = sum(latencies)
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": len(latencies) / busy,
                "latency_p50_s": statistics.median(latencies),
                "turns_per_s": op_turns / busy,
            }
            units = END_TO_END
    finally:
        wl.close()
        if spark is not None:
            host.stop_session(spark)

    failed = sum(not ok for ok in checks)
    result = {
        "correct": failed == 0 and all(wl.probe_checks.values()),
        "attempted": len(latencies),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": wl.size.__dict__,
        "host": host.host_facts(),
        "session": settings,
        "versions": dict(host.versions(), java=java),
        "host_load": host_load,
        "setup": {
            "generate_s": [t for t, _ in gen], "session_start_s": start_s,
            "prepare_s": prepare_s, "warm_up_s": warm_s,
        },
        "check_s": check_s,
        "peak_rss_mb": rss.peak / 2**20,
        "latencies_s": latencies,
        "samples": len(latencies),
        "op_kinds": kinds,
        "checks": checks,
        "probe_checks": wl.probe_checks,
    }
    return result, record


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_muse_spark  # noqa: F401
    except ImportError as exc:
        print(f"musebench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work_dir = os.path.join(
        os.getcwd(), ".musebench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes, Spark's and the JVM's temporary files too,
    # stays inside the work directory
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    try:
        result, record = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
