"""The three workloads. Each takes a started ``Run`` and returns a ``Result``.

The program is driven only through its public surface: the
``run_cdc_stream``/``file_change_stream`` entry points with the duck-typed
``merge_epoch`` target contract, ``registry.all_queries()``, and
``oracle_check.compare_one`` for the analytics gate. Timing happens here.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

import gen
from check import check_replica
from timing import (
    Tracer,
    attribute_latency,
    job_tasks,
    jvm_gc,
    peak_rss_mb,
    quantile,
    source_log_batches,
)

# cdc_backfill: one file per epoch. The first WARM_FILES epochs (stream
# start, then JIT: epoch times keep falling for about five epochs) belong to
# set-up; one measured epoch per second of --seconds.
BACKFILL_RECORDS_PER_FILE = 10_000
BACKFILL_WARM_FILES = 5

# cdc_live: an open loop well below capacity. Files arrive every TICK_S
# (a tenth of the 1 s processing-time trigger) with ±40 % seeded jitter, so
# each trigger sees ~10 arrivals spread over its whole interval.
LIVE_RATE = 500  # events/s
LIVE_TICK_S = 0.1
LIVE_JITTER = 0.4
LIVE_HOT_KEYS = 2000
LIVE_MAX_FILES_PER_TRIGGER = 64
LIVE_PRIMING_FILES = 3  # in place before the stream starts: first-epoch JIT
# The generator runs this long before the measured window. Epoch times keep
# falling for ~10 epochs after the first (about 0.95 s to 0.55 s on a 4-core
# VM); measuring earlier straddles the 1 s trigger, and runs then split
# between trigger-paced and back-to-back epochs.
LIVE_WARM_S = 10.0

# analytics_mix: one registry query per operator family, drawn from the
# repository's headline list (copied, not imported, so editing that list
# cannot silently change this benchmark). Nine, not the list's 21: the
# oracle pass, the warm-up pass and at least two timed passes must fit one
# run, and on a 4-core machine each query costs 0.2-1.5 s even at this scale.
ANALYTICS_QUERIES = [
    "q01_pricing_summary",  # scan + grouped aggregate
    "q05_local_supplier_volume",  # six-way join
    "q_distinct_agg",  # distinct aggregation
    "q_topk_parts_per_brand",  # window ranking
    "cdc_final_state",  # envelope decode + last-event-wins
    "q_sessionize_30m",  # sessionization
    "dedup_minhash_lsh",  # near-duplicate detection
    "ann_bruteforce_topk",  # vector top-k
    "text_quality_stats",  # text statistics
]
# Table scale relative to the engine's sf0.1 fixture (0.1 ≈ sf0.01).
ANALYTICS_SCALE = 0.1
# Pass times keep falling for about six passes (JIT); one untimed pass after
# the oracle pass takes the steepest part out of the timed region.
ANALYTICS_WARM_PASSES = 1
ANALYTICS_MIN_PASSES = 2


@dataclass
class Run:
    seed: int
    seconds: int
    work: str
    tracer: Tracer
    t_start: float  # process start (wall clock): set-up runs from here
    spark: object = None
    layer: dict[str, float] = field(default_factory=dict)

    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            from debezium_cdc_kafka_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.range(1).count()  # the JVM is up and runs jobs
            self.layer["session.start_s"] = time.perf_counter() - t


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict[str, float]


class TimedTarget:
    """``merge_epoch`` target that delegates to the program's own target and
    records one wall-clock timestamp when each call returns."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.done: dict[int, float] = {}

    def merge_epoch(self, changes, epoch_id, after_cols=("value", "ts")):
        if self.tracer.enabled:
            with self.tracer.span("cdc_stream.merge_epoch", epoch=epoch_id):
                self.inner.merge_epoch(changes, epoch_id, after_cols)
        else:
            self.inner.merge_epoch(changes, epoch_id, after_cols)
        self.done[epoch_id] = time.time()


def _progress_listener(run: Run):
    """Collects the stream's progress events (traced runs only)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Collector(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, batches, timeout_s: float = 30.0) -> None:
            """Progress events arrive asynchronously, possibly after the
            query has stopped: wait until every batch in ``batches`` has one."""
            deadline = time.time() + timeout_s
            while not set(batches) <= {p["batchId"] for p in self.events}:
                if time.time() > deadline:
                    raise TimeoutError(f"no progress event for batches {sorted(batches)}")
                time.sleep(0.05)

    c = _Collector()
    run.spark.streams.addListener(c)
    return c


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _stream_layers(run: Run, listener, batches: set[int], query, target_path: str,
                   events: int, wall_s: float, timed: TimedTarget) -> None:
    """Per-layer stream metrics over ``batches`` (the measured epochs)."""
    L = run.layer
    listener.wait_for(timed.done)
    prog = [p for p in listener.events if p["batchId"] in batches and p["numInputRows"] > 0]
    for key, name in [
        ("latestOffset", "latest_offset"),
        ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("addBatch", "add_batch"),
    ]:
        L[f"cdc_stream.{name}_p50_ms"] = quantile(
            [p["durationMs"].get(key, 0) for p in prog], 0.5
        )
    L["cdc_stream.events_per_epoch"] = quantile([p["numInputRows"] for p in prog], 0.5)
    jobs, _ = job_tasks(
        run.spark,
        run.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)),
    )
    L["cdc_stream.jobs_per_epoch"] = jobs / len(timed.done)
    merges = [
        s["end"] - s["start"]
        for s in run.tracer.spans
        if s["name"] == "cdc_stream.merge_epoch" and s["epoch"] in batches
    ]
    L["cdc_stream.merge_p50_s"] = quantile(merges, 0.5)
    L["cdc_stream.merge_p90_s"] = quantile(merges, 0.9)
    L["cdc_stream.merge_busy_frac"] = sum(merges) / wall_s
    written = 0
    for root, _, files in os.walk(target_path):
        written += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    L["cdc_stream.bytes_written_per_event"] = written / events
    L["cdc_stream.versions"] = float(len(timed.inner.versions()))


def _check_cdc(run: Run, topic_dir: str, timed: TimedTarget, topic_malformed: int) -> tuple[int, int]:
    """Replica + malformed-count gate → (attempted, failed) over keys."""
    from debezium_cdc_kafka_spark.operators.cdc import decode_envelope
    from pyspark.sql import functions as F

    with run.tracer.span("cdc_stream.read_view"):
        t = time.perf_counter()
        replica = timed.inner.read_view(run.spark).toArrow()
        run.layer["cdc_stream.read_view_s"] = time.perf_counter() - t
    res = check_replica(os.path.join(topic_dir, "*.parquet"), replica)
    raw = run.spark.read.parquet(topic_dir)
    malformed = decode_envelope(raw).filter(F.col("is_malformed")).count()
    run.layer["operators.cdc.malformed_events"] = float(malformed)
    bad_malformed = int(malformed != topic_malformed or res.malformed != topic_malformed)
    return res.keys + 1, res.wrong_keys + bad_malformed


def _kernel(run: Run, topic_dir: str, events: int) -> None:
    """``materialize(decode_envelope(...))`` once as a batch over the topic."""
    from debezium_cdc_kafka_spark.operators.cdc import decode_envelope, materialize

    raw = run.spark.read.parquet(topic_dir)
    with run.tracer.span("operators.cdc.kernel"):
        t = time.perf_counter()
        materialize(decode_envelope(raw)).write.format("noop").mode("overwrite").save()
        run.layer["operators.cdc.kernel_events_per_s"] = events / (time.perf_counter() - t)


def _events_in(table) -> int:
    return table.num_rows - table.column("value").null_count


def cdc_backfill(run: Run) -> Result:
    from debezium_cdc_kafka_spark.streaming.cdc_stream import (
        ParquetSnapshotTarget,
        file_change_stream,
        run_cdc_stream,
    )

    n_files = BACKFILL_WARM_FILES + run.seconds
    topic_dir = os.path.join(run.work, "topic")
    with run.tracer.span("sources.stage"):
        t = time.perf_counter()
        topic = gen.cdc_topic(
            run.seed, n_files * BACKFILL_RECORDS_PER_FILE * 96 // 100,
            BACKFILL_RECORDS_PER_FILE, gen.BACKFILL_MIX,
        )
        paths = gen.write_topic(topic.files, topic_dir)
        run.layer["sources.stage_s"] = time.perf_counter() - t
    run.start_session()
    spark = run.spark
    listener = _progress_listener(run) if run.tracer.enabled else None
    target_path = os.path.join(run.work, "replica")
    ckpt = os.path.join(run.work, "checkpoint")
    timed = TimedTarget(ParquetSnapshotTarget(target_path), run.tracer)
    gc0 = jvm_gc(spark) if run.tracer.enabled else None
    with run.tracer.span("cdc_stream.drain"):
        q = run_cdc_stream(
            spark,
            file_change_stream(spark, topic_dir, max_files_per_trigger=1),
            target_path,
            ckpt,
            available_now=True,
            target=timed,
        )
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"backfill stream failed: {q.exception()}")
    file_batch = source_log_batches(ckpt)
    names = [os.path.basename(p) for p in paths]
    batch_events: dict[int, int] = {}
    for name, table in zip(names, topic.files):
        b = file_batch[name]
        batch_events[b] = batch_events.get(b, 0) + _events_in(table)
    done = sorted(timed.done.items())
    warm_end = done[BACKFILL_WARM_FILES - 1][1]
    measured = done[BACKFILL_WARM_FILES:]
    wall = measured[-1][1] - warm_end
    events = sum(batch_events[b] for b, _ in measured)
    ends = [warm_end] + [t for _, t in measured]
    intervals = [b - a for a, b in zip(ends, ends[1:])]
    e2e = {
        "setup_s": warm_end - run.t_start,
        "throughput_per_s": events / wall,
        "latency_p50_s": quantile(intervals, 0.5),
        "latency_p90_s": quantile(intervals, 0.9),
        "peak_rss_mb": peak_rss_mb(),
    }
    if run.tracer.enabled:
        mbatches = {b for b, _ in measured}
        _stream_layers(run, listener, mbatches, q, target_path, topic.events, wall, timed)
        # no trigger wait in an availableNow drain: each epoch starts when
        # the previous one ends
        starts = {p["batchId"]: _iso_s(p["timestamp"]) for p in listener.events}
        run.layer["cdc_stream.trigger_wait_p50_s"] = quantile(
            [max(0.0, starts[b] - timed.done[b - 1]) for b in mbatches if b - 1 in timed.done],
            0.5,
        )
        run.layer["sources.gen_late_p99_s"] = 0.0
        gc1 = jvm_gc(spark)  # over the whole drain, warm-up epochs included
        run.layer["jvm.gc_s"] = gc1[0] - gc0[0]
        run.layer["jvm.gc_count"] = float(gc1[1] - gc0[1])
    attempted, failed = _check_cdc(run, topic_dir, timed, topic.malformed)
    if run.tracer.enabled:
        _kernel(run, topic_dir, topic.events)
        # The analytics layers, measured after the drain in the same session
        # (analytics_mix is not a gated workload; see README.md).
        sf_dir = os.path.join(run.work, "sf")
        gen.write_tables(gen.analytics_tables(run.seed, ANALYTICS_SCALE), sf_dir)
        a, f, _, _ = _query_mix(run, sf_dir)
        attempted, failed = attempted + a, failed + f
    return Result(attempted, failed, e2e)


class _Generator(threading.Thread):
    """One thread that moves pre-written files into the watched directory
    at their due times (rename is atomic, so the source never sees a
    partial file) and records how late each move was."""

    def __init__(self, pending: str, topic_dir: str, names: list[str], due: list[float]):
        super().__init__(daemon=True)
        self.pending, self.topic_dir = pending, topic_dir
        self.names, self.due = names, due
        self.moved: dict[str, float] = {}

    def run(self) -> None:
        for name, t_due in zip(self.names, self.due):
            wait = t_due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.pending, name), os.path.join(self.topic_dir, name))
            self.moved[name] = time.time()


def cdc_live(run: Run) -> Result:
    from debezium_cdc_kafka_spark.streaming.cdc_stream import (
        ParquetSnapshotTarget,
        file_change_stream,
        run_cdc_stream,
    )

    per_file = int(LIVE_RATE * LIVE_TICK_S)
    n_sched = int((LIVE_WARM_S + run.seconds) / LIVE_TICK_S)
    n_files = LIVE_PRIMING_FILES + n_sched
    topic_dir = os.path.join(run.work, "topic")
    pending = os.path.join(run.work, "pending")
    with run.tracer.span("sources.stage"):
        t = time.perf_counter()
        topic = gen.cdc_topic(
            run.seed, n_files * per_file, per_file, gen.LIVE_MIX, hot_keys=LIVE_HOT_KEYS
        )
        gen.write_topic(topic.files[:LIVE_PRIMING_FILES], topic_dir)
        paths = gen.write_topic(topic.files[LIVE_PRIMING_FILES:], pending, LIVE_PRIMING_FILES)
        offsets = gen.arrival_schedule(run.seed + 1, len(paths), LIVE_TICK_S, LIVE_JITTER)
        run.layer["sources.stage_s"] = time.perf_counter() - t
    names = [os.path.basename(p) for p in paths]
    events_of = {
        n: _events_in(tb) for n, tb in zip(names, topic.files[LIVE_PRIMING_FILES:])
    }
    run.start_session()
    spark = run.spark
    listener = _progress_listener(run) if run.tracer.enabled else None
    target_path = os.path.join(run.work, "replica")
    ckpt = os.path.join(run.work, "checkpoint")
    timed = TimedTarget(ParquetSnapshotTarget(target_path), run.tracer)
    q = run_cdc_stream(
        spark,
        file_change_stream(spark, topic_dir, max_files_per_trigger=LIVE_MAX_FILES_PER_TRIGGER),
        target_path,
        ckpt,
        available_now=False,
        target=timed,
    )
    try:
        deadline = time.time() + 120
        while not timed.done:  # the priming epoch: stream start and first-run JIT
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"live stream did not start: {q.exception()}")
            time.sleep(0.05)
        # The processing-time trigger fires on whole multiples of its
        # interval in wall-clock time, so anchoring the schedule to a whole
        # second gives every run the same arrival phase against the trigger.
        t0 = float(int(time.time()) + 1)
        due = [t0 + float(x) for x in offsets]
        t_measure = t0 + LIVE_WARM_S
        g = _Generator(pending, topic_dir, names, due)
        g.start()
        gc0 = jvm_gc(spark) if run.tracer.enabled else None
        g.join()
        q.processAllAvailable()
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"live stream failed: {q.exception()}")
    setup_s = t_measure - run.t_start
    file_batch = source_log_batches(ckpt)
    measured = [n for n, d in zip(names, due) if d >= t_measure]
    due_of = dict(zip(names, due))
    lat = attribute_latency({n: due_of[n] for n in measured}, file_batch, timed.done)
    # every event of a file shares that file's latency
    per_event = [lat[n] for n in measured for _ in range(events_of[n])]
    events = len(per_event)
    wall = max(timed.done[file_batch[n]] for n in measured) - t_measure
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": events / wall,
        "latency_p50_s": quantile(per_event, 0.5),
        "latency_p90_s": quantile(per_event, 0.9),
        "peak_rss_mb": peak_rss_mb(),
    }
    if run.tracer.enabled:
        gc1 = jvm_gc(spark)
        run.layer["jvm.gc_s"] = gc1[0] - gc0[0]
        run.layer["jvm.gc_count"] = float(gc1[1] - gc0[1])
        mbatches = {file_batch[n] for n in measured}
        _stream_layers(run, listener, mbatches, q, target_path, topic.events, wall, timed)
        bounds = {
            p["batchId"]: (
                _iso_s(p["timestamp"]),
                _iso_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0,
            )
            for p in listener.events
        }
        waits = []
        for n in measured:
            b = file_batch[n]
            prev_end = bounds.get(b - 1, (0.0, 0.0))[1]
            waits.append(max(0.0, bounds[b][0] - max(g.moved[n], prev_end)))
        run.layer["cdc_stream.trigger_wait_p50_s"] = quantile(waits, 0.5)
        run.layer["sources.gen_late_p99_s"] = quantile(
            [g.moved[n] - due_of[n] for n in measured], 0.99
        )
    attempted, failed = _check_cdc(run, topic_dir, timed, topic.malformed)
    if run.tracer.enabled:
        _kernel(run, topic_dir, topic.events)
    return Result(attempted, failed, e2e)


def _query_mix(run: Run, sf_dir: str) -> tuple[int, int, float, dict[str, float]]:
    """The registry query mix over the tables in ``sf_dir``: an oracle pass,
    ANALYTICS_WARM_PASSES untimed passes, then whole timed passes until
    ``run.seconds`` have elapsed (at least ANALYTICS_MIN_PASSES).

    Returns (attempted, failed, wall-clock end of the warm-up, timings) and,
    on traced runs, fills the ``registry.*``/``analytics.*`` layer metrics.
    Latency percentiles are taken over each query's median, so that one slow
    execution does not move the rank a percentile lands on."""
    from debezium_cdc_kafka_spark import oracle_check, registry
    from debezium_cdc_kafka_spark.session import release_persisted

    spark = run.spark
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    attempted = failed = 0
    rows: dict[str, int] = {}
    # The oracle pass is also the first warm-up pass: each query's first
    # execution pays its codegen/JIT cost here, outside the timed region.
    con = oracle_check.duckdb_connect(sf_dir)
    try:
        for name in ANALYTICS_QUERIES:
            attempted += 1
            with run.tracer.span("analytics.oracle", query=name):
                try:
                    res = oracle_check.compare_one(
                        spark, con, sf_dir, name, queries[name], oracles[name]
                    )
                except Exception as e:  # a raised query is a failed operation
                    res = {"ok": False, "error": repr(e)}
            release_persisted(spark)
            if res["ok"]:
                rows[name] = res["spark_rows"]
            else:
                failed += 1
                print(f"# oracle mismatch: {name}: {res}", flush=True)
    finally:
        con.close()
    rng = random.Random(run.seed)
    sc = spark.sparkContext
    lat: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    builds, execs, jobs, tasks = [], [], [], []
    n_exec = 0

    def one_pass(timed: bool) -> None:
        """Every query once, in a seeded order, each result collected whole."""
        nonlocal attempted, failed, n_exec
        order = list(ANALYTICS_QUERIES)
        rng.shuffle(order)
        for name in order:
            attempted += 1
            n_exec += 1
            if timed and run.tracer.enabled:
                sc.setJobGroup(f"perfbench-{n_exec}", name)
            with run.tracer.span("analytics.query", query=name, timed=timed):
                try:
                    t0 = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    got = len(df.collect())
                    t2 = time.perf_counter()
                except Exception as e:
                    failed += 1
                    print(f"# query raised: {name}: {e!r}", flush=True)
                    release_persisted(spark)
                    continue
            release_persisted(spark)
            if got != rows.get(name, -1):
                failed += 1
            if not timed:
                continue
            lat[name].append(t2 - t0)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            if run.tracer.enabled:
                j, k = job_tasks(spark, sc.statusTracker().getJobIdsForGroup(f"perfbench-{n_exec}"))
                jobs.append(j)
                tasks.append(k)

    for _ in range(ANALYTICS_WARM_PASSES):
        one_pass(timed=False)
    warm_end = time.time()
    gc0 = jvm_gc(spark) if run.tracer.enabled else None
    t_begin = time.perf_counter()
    passes = 0
    while passes < ANALYTICS_MIN_PASSES or time.perf_counter() - t_begin < run.seconds:
        one_pass(timed=True)
        passes += 1
    wall = time.perf_counter() - t_begin
    per_query = [quantile(xs, 0.5) for xs in lat.values() if xs]
    timings = {
        "throughput_per_s": sum(len(xs) for xs in lat.values()) / wall,
        "latency_p50_s": quantile(per_query, 0.5),
        "latency_p90_s": quantile(per_query, 0.9),
    }
    if run.tracer.enabled:
        gc1 = jvm_gc(spark)
        timings["gc_s"] = gc1[0] - gc0[0]
        timings["gc_count"] = float(gc1[1] - gc0[1])
        L = run.layer
        L["registry.build_p50_s"] = quantile(builds, 0.5)
        L["analytics.exec_p50_s"] = quantile(execs, 0.5)
        L["analytics.exec_p90_s"] = quantile(execs, 0.9)
        L["analytics.jobs_per_query"] = quantile(jobs, 0.5)
        L["analytics.tasks_per_query"] = quantile(tasks, 0.5)
        for name, xs in lat.items():
            if xs:
                L[f"analytics.q.{name}_s"] = quantile(xs, 0.5)
    return attempted, failed, warm_end, timings


def analytics_mix(run: Run) -> Result:
    sf_dir = os.path.join(run.work, "sf")
    with run.tracer.span("sources.stage"):
        t = time.perf_counter()
        gen.write_tables(gen.analytics_tables(run.seed, ANALYTICS_SCALE), sf_dir)
        run.layer["sources.stage_s"] = time.perf_counter() - t
    run.start_session()
    attempted, failed, warm_end, timings = _query_mix(run, sf_dir)
    e2e = {
        "setup_s": warm_end - run.t_start,
        "throughput_per_s": timings["throughput_per_s"],
        "latency_p50_s": timings["latency_p50_s"],
        "latency_p90_s": timings["latency_p90_s"],
        "peak_rss_mb": peak_rss_mb(),
    }
    if run.tracer.enabled:
        run.layer["jvm.gc_s"] = timings["gc_s"]
        run.layer["jvm.gc_count"] = timings["gc_count"]
    return Result(attempted, failed, e2e)


WORKLOADS = {
    "cdc_backfill": cdc_backfill,
    "cdc_live": cdc_live,
    "analytics_mix": analytics_mix,
}
