"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans and probes on and prints the
per-layer metrics instead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it records
the pinned environment. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from timing import Tracer  # noqa: E402
from workloads import ANALYTICS_QUERIES, WORKLOADS, Run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Pinned so that runs on one machine are comparable: every core, and a heap
# well below RAM (the engine's 16g default pre-touches 12 GB on start).
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}


PER_LAYER = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "sources.gen_late_p99_s": "s",
    "cdc_stream.trigger_wait_p50_s": "s",
    "cdc_stream.latest_offset_p50_ms": "ms",
    "cdc_stream.query_planning_p50_ms": "ms",
    "cdc_stream.wal_commit_p50_ms": "ms",
    "cdc_stream.commit_offsets_p50_ms": "ms",
    "cdc_stream.add_batch_p50_ms": "ms",
    "cdc_stream.jobs_per_epoch": "count",
    "cdc_stream.events_per_epoch": "count",
    "cdc_stream.merge_p50_s": "s",
    "cdc_stream.merge_p90_s": "s",
    "cdc_stream.merge_busy_frac": "ratio",
    "cdc_stream.bytes_written_per_event": "B",
    "cdc_stream.versions": "count",
    "cdc_stream.read_view_s": "s",
    "operators.cdc.kernel_events_per_s": "1/s",
    "operators.cdc.malformed_events": "count",
    "registry.build_p50_s": "s",
    "analytics.jobs_per_query": "count",
    "analytics.tasks_per_query": "count",
    "analytics.exec_p50_s": "s",
    "analytics.exec_p90_s": "s",
    **{f"analytics.q.{q}_s": "s" for q in ANALYTICS_QUERIES},
    "jvm.gc_s": "s",
    "jvm.gc_count": "count",
    "trace.throughput_per_s": "1/s",
    "trace.latency_p50_s": "s",
}


def _pin_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "debezium_cdc_kafka_spark")):
        print(f"error: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    env = _pin_env(work)
    sys.path.insert(0, ROOT)
    import pyspark

    run = Run(
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        tracer=Tracer(enabled=bool(args.trace)),
        t_start=T_START,
    )
    try:
        res = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        if run.tracer.enabled:
            run.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layer = dict(run.layer)
        layer["trace.throughput_per_s"] = res.e2e["throughput_per_s"]
        layer["trace.latency_p50_s"] = res.e2e["latency_p50_s"]
        # layers a workload does not exercise report 0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    record = {
        "env": {
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
            "seed": args.seed,
            "seconds": args.seconds,
            "workload": args.workload,
            "trace": args.trace,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }
    }
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({**record, **result}, f)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
