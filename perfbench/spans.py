"""Tracing for the benchmark's traced mode, measured from outside the
program: spans around calls into each layer, Structured Streaming
progress from a ``StreamingQueryListener`` and task metrics from the
Spark event log.  In untraced runs a span costs one attribute test.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: (id, parent, layer, name, start, end).  The parent
    is the innermost open span of the same thread, so spans opened inside
    a ``foreachBatch`` callback nest under the batch span of that thread."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[tuple[int, int | None, str, str, float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, layer, name, t0, t1))

    def add_batch_spans(self, progress: list[dict]) -> None:
        """Micro-batch spans from streaming progress (its start timestamp
        and triggerExecution time); the sink and DLQ write spans of the
        same batch id inside that interval become their children."""
        from datetime import datetime

        to_perf = time.time() - time.perf_counter()
        batches: dict[str, tuple[int, float, float]] = {}
        for p in progress:
            t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            t0 -= to_perf
            t1 = t0 + p["ms"].get("triggerExecution", 0) / 1000
            sid = next(self._ids)
            batches[str(p["batch"])] = (sid, t0, t1)
            self.spans.append((sid, None, "pipeline.batch", str(p["batch"]), t0, t1))

        def parent_of(span):
            _, parent, layer, name, t0, t1 = span
            b = batches.get(name)
            # progress timestamps have millisecond resolution
            if layer.endswith("_write") and b and b[1] - 0.01 <= t0 and t1 <= b[2] + 0.01:
                return b[0]
            return parent

        self.spans = [(s[0], parent_of(s), *s[2:]) for s in self.spans]

    def self_times(self) -> dict[str, tuple[int, float]]:
        """Per layer: (span count, self seconds).  A span's self time is its
        duration minus the part of it its child spans cover."""
        child_cover: dict[int, float] = defaultdict(float)
        for _, parent, _, _, t0, t1 in self.spans:
            if parent is not None:
                child_cover[parent] += t1 - t0
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for sid, _, layer, _, t0, t1 in self.spans:
            out[layer][0] += 1
            out[layer][1] += max(0.0, (t1 - t0) - child_cover[sid])
        return {k: (v[0], v[1]) for k, v in out.items()}


class ProgressCollector(StreamingQueryListener):
    """Keeps the progress report (start time, input rows, phase durations)
    of every micro-batch of every streaming query in the session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if not p.numInputRows:
            return  # idle polls of a continuous trigger carry no batch
        self.progress.append(
            {
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the engine's own phase timings."""

    def med(key: str) -> float:
        vals = [p["ms"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    out = {
        "pipeline.batches": float(len(progress)),
        "pipeline.planning_ms": med("queryPlanning"),
        "pipeline.addbatch_ms": med("addBatch"),
        "pipeline.commit_ms": (
            float(
                statistics.median(
                    p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0)
                    for p in progress
                )
            )
            if progress
            else 0.0
        ),
        "sources.offset_ms": med("latestOffset"),
        "sources.getbatch_ms": med("getBatch"),
        "sources.rows_per_batch": (
            float(statistics.median(p["rows"] for p in progress)) if progress else 0.0
        ),
    }
    return out


def event_log_metrics(
    log_dir: str, win0_ms: float, win1_ms: float, cores: int
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Task metrics from the Spark event log for the jobs submitted inside
    the timed window [win0_ms, win1_ms) (epoch ms).  Returns the totals
    and the same figures per job group (streaming jobs carry none)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[int, list[float]] = defaultdict(list)
    # one log per SparkContext; the timed window ran in the newest.  Spark 4
    # writes a rolling log: a directory of numbered event files.
    apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    newest = apps[-1] if apps else log_dir
    paths = (
        sorted(
            glob.glob(os.path.join(newest, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if os.path.isdir(newest)
        else [newest]
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not win0_ms <= ev.get("Submission Time", 0) < win1_ms:
                        continue
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "ungrouped"
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    a = acc[group]
                    run_ms = m.get("Executor Run Time", 0)
                    a["tasks"] += 1
                    a["executor_run_s"] += run_ms / 1000
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    stage_runs[ev["Stage ID"]].append(run_ms)
    skew = [
        max(r) / max(1.0, statistics.median(r))
        for r in stage_runs.values()
        if len(r) >= 2
    ]
    total: dict[str, float] = defaultdict(float)
    for a in acc.values():
        for k, v in a.items():
            total[k] += v
    wall_s = (win1_ms - win0_ms) / 1000
    out = {
        "spark.jobs": float(sum(jobs.values())),
        "spark.tasks": total["tasks"],
        "spark.executor_run_s": total["executor_run_s"],
        "spark.busy_frac": total["executor_run_s"] / max(1e-9, wall_s * cores),
        "spark.shuffle_write_mb": total["shuffle_write_mb"],
        "spark.shuffle_read_mb": total["shuffle_read_mb"],
        "spark.spill_mb": total["spill_mb"],
        "spark.gc_ms": total["gc_ms"],
        "spark.task_skew_max": max(skew) if skew else 1.0,
    }
    per_group = {g: {**dict(a), "jobs": float(jobs[g])} for g, a in acc.items()}
    return out, per_group


def conf_dir(run_dir: str, traced: bool) -> str:
    """A Spark conf dir owned by the run: keeps scratch, the warehouse and
    (traced runs only) the event log inside the run dir."""
    d = os.path.join(run_dir, "conf")
    os.makedirs(d, exist_ok=True)
    lines = [
        f"spark.local.dir {os.path.join(run_dir, 'local')}",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
    ]
    if traced:
        log = os.path.join(run_dir, "eventlog")
        os.makedirs(log, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            f"spark.eventLog.dir file://{log}",
        ]
    with open(os.path.join(d, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return d
