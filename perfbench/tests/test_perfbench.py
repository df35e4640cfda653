"""Tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
from check import check_replica  # noqa: E402
from timing import attribute_latency, quantile, source_log_batches  # noqa: E402


def _topics(seed):
    return [
        gen.cdc_topic(seed, 3000, 1000, gen.BACKFILL_MIX),
        gen.cdc_topic(seed, 3000, 50, gen.LIVE_MIX, hot_keys=200),
    ]


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_generators_are_deterministic_per_seed(seed):
    for t1, t2 in zip(_topics(seed), _topics(seed)):
        assert (t1.events, t1.malformed) == (t2.events, t2.malformed)
        assert len(t1.files) == len(t2.files)
        assert all(a.equals(b) for a, b in zip(t1.files, t2.files))
    a = gen.analytics_tables(seed, 0.02)
    b = gen.analytics_tables(seed, 0.02)
    assert a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)
    assert (
        gen.arrival_schedule(seed, 50, 0.1, 0.4) == gen.arrival_schedule(seed, 50, 0.1, 0.4)
    ).all()


def test_seeds_give_different_inputs():
    t0, t1 = _topics(0)[0], _topics(1)[0]
    assert not t0.files[0].equals(t1.files[0])
    assert not gen.analytics_tables(0, 0.02)["lineitem"].equals(
        gen.analytics_tables(1, 0.02)["lineitem"]
    )


def test_topic_shape():
    t = gen.cdc_topic(3, 5000, 700, gen.BACKFILL_MIX)
    whole = pa.concat_tables(t.files)
    assert all(f.num_rows == 700 for f in t.files[:-1])
    assert whole.column("offset").to_pylist() == list(range(whole.num_rows))
    values = whole.column("value").to_pylist()
    # every delete is followed at the next offset by a tombstone for its key
    for i, v in enumerate(values):
        if v is not None and '"op": "d"' in v:
            assert values[i + 1] is None
    assert values.count(gen.CORRUPT) == t.malformed > 0
    assert t.events == 5000


def test_schedule_is_strictly_increasing_with_subtick_jitter():
    due = gen.arrival_schedule(5, 200, 0.1, 0.4)
    assert (due[1:] > due[:-1]).all()
    assert abs(due - [i * 0.1 for i in range(200)]).max() <= 0.04 + 1e-12


def _write_log(d, name, entries):
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": f"file://{path}", "timestamp": 0, "batchId": batch}) + "\n")


def test_attribution_reads_compact_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    files = {b: [f"/w/topic/part-{b:02d}-{i}.parquet" for i in range(2)] for b in range(13)}
    # batches 0-8 as plain files; batch 9 exists only inside 9.compact,
    # which repeats every earlier entry; 10-12 plain again
    for b in range(9):
        _write_log(log, str(b), [(p, b) for p in files[b]])
    _write_log(log, "9.compact", [(p, b) for b in range(10) for p in files[b]])
    for b in range(10, 13):
        _write_log(log, str(b), [(p, b) for p in files[b]])
    (log / ".9.compact.crc").write_text("ignored")

    mapping = source_log_batches(str(tmp_path))
    assert len(mapping) == 26
    assert mapping["part-09-0.parquet"] == 9 and mapping["part-09-1.parquet"] == 9

    due = {os.path.basename(p): 100.0 + b for b, ps in files.items() for p in ps}
    done = {b: 100.0 + b + 0.5 + 0.1 * b for b in range(13)}
    lat = attribute_latency(due, mapping, done)
    assert lat["part-09-1.parquet"] == pytest.approx(0.5 + 0.9)
    assert lat["part-00-0.parquet"] == pytest.approx(0.5)

    without_compact = {k: v for k, v in mapping.items() if v != 9}
    with pytest.raises(KeyError):
        attribute_latency(due, without_compact, done)
    with pytest.raises(KeyError):
        attribute_latency(due, mapping, {b: t for b, t in done.items() if b != 12})


def _python_replay(topic):
    """Reference last-event-wins replay, independent of the DuckDB gate."""
    state = {}
    for t in topic.files:
        for v in t.column("value").to_pylist():
            if v is None:
                continue
            try:
                p = json.loads(v)["payload"]
            except json.JSONDecodeError:
                continue
            key = (p["after"] or p["before"])["id"]
            state[key] = None if p["op"] == "d" else (p["after"]["value"], p["after"]["ts"])
    rows = [(k, v[0], v[1]) for k, v in state.items() if v is not None]
    return pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "value": pa.array([r[1] for r in rows], pa.float64()),
            "ts": pa.array([r[2] for r in rows], pa.string()),
        }
    )


@pytest.mark.parametrize("hot", [None, 100])
def test_gate_accepts_correct_and_rejects_corrupted_replica(tmp_path, hot):
    mix = gen.BACKFILL_MIX if hot is None else gen.LIVE_MIX
    topic = gen.cdc_topic(11, 4000, 500, mix, hot_keys=hot)
    gen.write_topic(topic.files, str(tmp_path))
    glob = str(tmp_path / "*.parquet")
    good = _python_replay(topic)

    res = check_replica(glob, good)
    assert res.ok and res.wrong_keys == 0
    assert res.malformed == topic.malformed > 0

    values = good.column("value").to_pylist()
    values[3] += 1.0
    wrong_value = good.set_column(1, "value", pa.array(values, pa.float64()))
    assert check_replica(glob, wrong_value).wrong_keys == 1
    assert check_replica(glob, good.slice(1)).wrong_keys == 1
    extra = pa.concat_tables([good, good.slice(0, 1).set_column(0, "id", pa.array([-1], pa.int64()))])
    assert check_replica(glob, extra).wrong_keys == 1
    duplicated = pa.concat_tables([good, good.slice(5, 1)])
    assert not check_replica(glob, duplicated).ok


def test_quantile_matches_linear_interpolation():
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([5], 0.9) == 5
    assert quantile(range(11), 0.9) == pytest.approx(9.0)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gated = {w["name"] for w in bench["workloads"]}
    # analytics_mix stays runnable but is not gated; the traced cdc_backfill
    # run measures its layers
    assert gated == set(run.WORKLOADS) - {"analytics_mix"}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _rec(wl, trace, **metrics):
    return {
        "env": {"workload": wl, "trace": trace},
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def test_report_flags_disagreeing_medians_and_wide_spreads():
    bench = {
        "end_to_end": [
            {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        ]
    }
    a = [_rec("w", 0, latency_p50_s=1.0 + i / 100, setup_s=10.0 + i) for i in range(10)]
    same = [_rec("w", 0, latency_p50_s=1.01 + i / 100, setup_s=10.5 + i) for i in range(10)]
    rows, _ = report.compare(a, same, bench)
    lat = [r for r in rows if r["metric"] == "latency_p50_s"][0]
    setup = [r for r in rows if r["metric"] == "setup_s"][0]
    assert lat["agree"] and lat["spread_ok"]
    assert setup["spread_ok"]  # setup_s is exempt from the spread check

    slower = [_rec("w", 0, latency_p50_s=1.2 + i / 100, setup_s=10.0) for i in range(10)]
    lat = [r for r in report.compare(a, slower, bench)[0] if r["metric"] == "latency_p50_s"][0]
    assert not lat["agree"]

    wide = [_rec("w", 0, latency_p50_s=v, setup_s=10.0) for v in [0.5, 1.5] * 5]
    lat = [r for r in report.compare(a, wide, bench)[0] if r["metric"] == "latency_p50_s"][0]
    assert not lat["spread_ok"]

    traced = a + [_rec("w", 1, **{"trace.latency_p50_s": 1.1})]
    _, overhead = report.compare(traced, same, bench)
    assert overhead[0]["overhead"] == pytest.approx(1.1 / 1.045 - 1.0)
