"""Measurement helpers: spans, percentiles, process RSS, JVM counters, and
the file → epoch attribution read back from a stream's checkpoint.

Nothing here runs inside the program under test. Spans are recorded around
calls into the program's public functions, kept in memory, and written out
once when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


def quantile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; the ppid follows its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants (the JVM)."""
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


def jvm_gc(spark) -> tuple[float, int]:
    """(total GC seconds, total collections) over the JVM's GC MXBeans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    secs, count = 0.0, 0
    for bean in beans.getGarbageCollectorMXBeans():
        secs += max(0, bean.getCollectionTime()) / 1000.0
        count += max(0, bean.getCollectionCount())
    return secs, count


def job_tasks(spark, job_ids: Iterable[int]) -> tuple[int, int]:
    """(jobs, tasks) for ``job_ids`` from ``SparkContext.statusTracker``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return jobs, tasks


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File path → micro-batch id, from the file source's metadata log.

    The log holds one file per batch, except that every compaction batch is
    written only as ``<n>.compact`` and repeats all earlier entries, so the
    ``.compact`` files have to be read too or those batches' files vanish.
    """
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def attribute_latency(
    due: dict[str, float],
    file_batch: dict[str, int],
    batch_done: dict[int, float],
) -> dict[str, float]:
    """Per file: seconds from when it was due until the ``merge_epoch`` call
    of the batch that read it returned. Raises if a file was never read or
    its batch never returned (a lost file must not vanish from the sample)."""
    out = {}
    for name, t_due in due.items():
        if name not in file_batch:
            raise KeyError(f"{name} is in no batch of the source log")
        b = file_batch[name]
        if b not in batch_done:
            raise KeyError(f"batch {b} (file {name}) never returned from merge_epoch")
        out[name] = batch_done[b] - t_due
    return out
