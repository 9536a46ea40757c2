#!/usr/bin/env python3
"""Lakehouse benchmark: one seeded workload per run, every result checked.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 24 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(``perfbench/datagen.py``, sf0.01 shape) and sets up three times on them:
session start (the first also launches the JVM), a warm-up query and the
workload's staging. It then warms the workload up once, computes
expected results with DuckDB, and runs the workload as a closed loop with
one client. A run is a whole number of the workload's units (decks or
passes; see each workload's module), sized so it lasts about
``--seconds`` on a 4-core box: every run of a workload does the same work,
whatever the machine's speed. Scratch files live under ``.perfbench_work/``
and are removed at exit; ``--trace 1`` also writes the run's spans to
``.perfbench_traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``, each ``{"value", "unit"}``). The line
before it records the machine, versions, calibration and any failed ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402  (stdlib only; safe before pyspark)

SF = 0.01
SETUPS = 3
WORKLOADS = ("dashboard", "batch")
LAYERS = (
    "bench",
    "tables",
    "analytics",
    "f1",
    "copilot",
    "plans",
    "quality",
    "txn",
    "mor",
    "operators",
    "pipeline",
)

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms/op",
    "peak_rss_mb": "MB",
}


COMMON_LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "spark.jobs_per_op": "jobs/op",
    "spark.stages_per_op": "stages/op",
    "spark.tasks_per_op": "tasks/op",
    "trace.overhead_pct": "%",
    "trace.spans_per_op": "spans/op",
    # wall-clock times: here, not end to end, because their run-to-run
    # spread follows the host's load and exceeded the largest bound
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "cpu.python_ms_per_op": "ms/op",
    "cpu.jvm_ms_per_op": "ms/op",
    "cpu.workers_ms_per_op": "ms/op",
    **{f"layer.{name}.self_ms_per_op": "ms/op" for name in LAYERS},
    "calib.jvm_sum_100m_s": "s",
    "calib.lineitem_count_s": "s",
}


# the workload modules import the package, whose session module reads the
# env knobs at import time: import them only after configure_env
def workload_classes() -> dict:
    from perfbench.batch import Batch
    from perfbench.dashboard import Dashboard

    return {"dashboard": Dashboard, "batch": Batch}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric any workload reports, with its unit."""
    from perfbench import batch, dashboard, mor_churn, refresh

    return {
        **COMMON_LAYER_METRICS,
        **dashboard.METRICS,
        **refresh.METRICS,
        **mor_churn.METRICS,
        **batch.METRICS,
    }


def calibrate(spark, data_dir: str) -> dict[str, float]:
    """bench.py's two reference ops, timed warm: machine speed, not code."""
    from f1_lakehouse_spark.tables import load_table

    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id)").collect()
    t1 = time.perf_counter()
    load_table(spark, data_dir, "lineitem").count()
    t2 = time.perf_counter()
    return {"calib.jvm_sum_100m_s": t1 - t0, "calib.lineitem_count_s": t2 - t1}


def set_up(args, work: str, tracer: harness.Tracer) -> dict:
    """The inputs, generated once from the seed (the benchmark's own work,
    not timed), then ``SETUPS`` set-ups on them, each a fresh session with
    its own warehouse and work directory; the last one's state is kept.
    Then the workload's warm-up."""
    from f1_lakehouse_spark.session import get_spark
    from f1_lakehouse_spark.tables import load_table
    from perfbench import datagen

    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(datagen.build_tables(args.seed, SF), data_dir)
    st: dict = {"setup_s": [], "datagen_s": time.perf_counter() - t0}
    for i in range(SETUPS):
        if "ctx" in st:
            st["ctx"].spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf=harness.session_conf(work, i),
        )
        st["spark"] = spark
        t1 = time.perf_counter()
        lineitem = load_table(spark, data_dir, "lineitem")
        lineitem.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        setup_work = os.path.join(work, f"setup{i}")
        os.makedirs(setup_work)
        st["ctx"] = harness.Ctx(
            spark, args.seed, data_dir, setup_work, tracer, None, jvm=harness.jvm_pid()
        )
        st["wl"] = workload_classes()[args.workload](st["ctx"])
        st["wl"].stage()
        st["setup_s"].append(time.perf_counter() - t0)
        if i == 0:
            st["session.start_s"], st["session.warmup_s"] = t1 - t0, t2 - t1
    t0 = time.perf_counter()
    st["wl"].warm_up()
    st["workload_warmup_s"] = time.perf_counter() - t0
    return st


def wall_clock(ops) -> dict[str, float]:
    lat = [op.seconds * 1000 for op in ops if op.in_latency]
    return {
        "latency_p50_ms": harness.median(lat),
        # the client's waiting time, without the untimed checks
        "ops_per_s": len(ops) / sum(op.seconds for op in ops),
    }


def traced_metrics(st: dict, calib: dict) -> dict[str, float]:
    ctx, tracer = st["ctx"], st["ctx"].tracer
    ops = ctx.ops
    op_s = sum(op.seconds for op in ops)
    counts = ctx.jobs.counts([op.jobs for op in ops], [f"op-{i}" for i in range(len(ops))])
    self_ms = harness.self_ms_by_layer(tracer.spans)
    metrics = {name: 0.0 for name in per_layer_metrics()}
    metrics.update(
        {
            "session.start_s": st["session.start_s"],
            "session.warmup_s": st["session.warmup_s"],
            "spark.jobs_per_op": sum(c[0] for c in counts) / len(ops),
            "spark.stages_per_op": sum(c[1] for c in counts) / len(ops),
            "spark.tasks_per_op": sum(c[2] for c in counts) / len(ops),
            "trace.overhead_pct": 100 * tracer.overhead_s / (op_s - tracer.overhead_s),
            "trace.spans_per_op": len(tracer.spans) / len(ops),
            **wall_clock(ops),
            "latency_p90_ms": harness.percentile(
                [op.seconds * 1000 for op in ops if op.in_latency], 90
            ),
            **{
                f"cpu.{part}_ms_per_op": 1000 * sum(op.cpu[i] for op in ops) / len(ops)
                for i, part in enumerate(("python", "jvm", "workers"))
            },
            **{
                f"layer.{name}.self_ms_per_op": self_ms.get(name, 0.0) / len(ops)
                for name in LAYERS
            },
            **calib,
        }
    )
    metrics.update(st["wl"].layer_metrics(counts))
    return metrics


def measure(args, work: str) -> tuple[dict, dict]:
    import duckdb
    import numpy as np
    import pyspark

    from perfbench import check

    tracer = harness.Tracer(enabled=False)  # on for the measured loop only
    st: dict = {}
    try:
        st = set_up(args, work, tracer)
        spark, ctx, wl = st["spark"], st["ctx"], st["wl"]
        t0 = time.perf_counter()
        oracle = check.Oracle(ctx.data_dir)
        wl.expect(oracle)
        oracle.close()
        expect_s = time.perf_counter() - t0

        undo = lambda: None  # noqa: E731
        if args.trace == 1:
            tracer.enabled = True
            ctx.jobs = harness.JobCounter(spark)
            tracer.job_mark = ctx.jobs.mark
            undo = wl.instrument()
        rng = np.random.default_rng([args.seed, 1])
        ticks = harness.cpu_ticks()
        t0 = time.perf_counter()
        wl.run(max(1, round(args.seconds / wl.unit_s)), rng)
        measured_s = time.perf_counter() - t0
        steal = harness.steal_pct(ticks, harness.cpu_ticks())
        undo()

        ops = ctx.ops
        calib = calibrate(spark, ctx.data_dir)
        rss_jvm = harness.peak_rss_mb([harness.jvm_pid()])
        rss = harness.peak_rss_mb([None]) + rss_jvm
        if tracer.enabled:
            metrics = traced_metrics(st, calib)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl")
            )
            unit_of = per_layer_metrics()
        else:
            metrics = {
                "setup_s": harness.median(st["setup_s"]) + st["workload_warmup_s"],
                "cpu_ms_per_op": 1000 * sum(sum(op.cpu) for op in ops) / len(ops),
                "peak_rss_mb": rss,
            }
            unit_of = END_TO_END
    finally:
        if "spark" in st:
            harness.stop_spark(st["spark"])

    failed = sum(1 for op in ops if not op.ok)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": SF,
        "cpus": harness.cpu_count(),
        "heap_mb": harness.driver_heap_mb(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "datagen_s": st["datagen_s"],
        "setup_s": st["setup_s"],
        "workload_warmup_s": st["workload_warmup_s"],
        "expect_s": expect_s,
        "measured_s": measured_s,
        "cpu_steal_pct": steal,
        "latency_samples": sum(1 for op in ops if op.in_latency),
        **wall_clock(ops),
        "peak_rss_mb": rss,
        "peak_rss_jvm_mb": rss_jvm,
        **calib,
        "errors": ctx.errors,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit_of[k]} for k in unit_of},
    }
    return env, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        harness.configure_env(ROOT, work)
        env, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    for err in env["errors"]:
        print(err, file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
