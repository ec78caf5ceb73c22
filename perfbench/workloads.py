"""The benchmark's workloads.  Each one makes its inputs (``prepare``),
has a set-up step that runs after every session build (``warm``), an
untimed warm-up before the window (``prime``), a timed window
(``measure``) and a check of the program's outputs outside that window
(``check``).  Only public functions of the program are called; the
benchmark wraps them to time them.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


class Ctx:
    """What a workload needs from the run: its scratch dir, seed, window
    length, tracer and the current session."""

    def __init__(self, run_dir, seed, seconds, tracer):
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.layers: dict[str, float] = {}

    def fresh(self, name: str) -> str:
        d = os.path.join(self.run_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# ------------------------------------------------------------------ bus
class TimedSink:
    """Proxy around a sink: records when each ``write`` of each batch
    started and returned, so a batch's Ack time is known from outside."""

    def __init__(self, inner, role: str, acks: list, tracer) -> None:
        self.inner = inner
        self.role = role
        self.acks = acks
        self.tracer = tracer

    def write(self, df, default_dest, batch_id=None):
        t0 = time.monotonic_ns()
        with self.tracer.span(f"pipeline.{self.role}_write", str(batch_id)):
            self.inner.write(df, default_dest, batch_id=batch_id)
        self.acks.append((batch_id, self.role, t0, time.monotonic_ns()))


def spark_event_schema():
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("id", StringType()),
            StructField("data", BinaryType()),
            StructField("ts", TimestampType()),
            StructField("dest", StringType()),
            StructField("kind", StringType()),
            StructField("due_ns", LongType()),
        ]
    )


def bus_pipeline(
    ctx: Ctx, landing: str, tag: str, acks: list, live: bool, max_files: int | None = None
):
    """FileReplaySource → sep_transformer → fail_predicate → ParquetSink,
    failed rows to a DLQ ParquetSink, each wrapped in a TimedSink."""
    from pyspark.sql import functions as F

    from frizzle_spark.streaming.metrics import DictStats
    from frizzle_spark.streaming.pipeline import FileReplaySource, ParquetSink, Pipeline
    from frizzle_spark.streaming.transforms import sep_transformer

    stats = DictStats()
    sink_dir, dlq_dir = ctx.fresh(f"{tag}_sink"), ctx.fresh(f"{tag}_dlq")
    pipe = Pipeline(
        ctx.spark,
        FileReplaySource(
            path=landing,
            schema=spark_event_schema(),
            max_files_per_trigger=max_files,
            allow_empty=live,
        ),
        TimedSink(ParquetSink(sink_dir), "sink", acks, ctx.tracer),
        default_dest="main",
        fail_sink=(TimedSink(ParquetSink(dlq_dir), "dlq", acks, ctx.tracer), "dlq"),
        transformers=[sep_transformer(gen.SEP)],
        fail_predicate=F.col("kind") == gen.FAIL_KIND,
        stats=stats,
        checkpoint_dir=ctx.fresh(f"{tag}_ckpt"),
    )
    return pipe, stats, sink_dir, dlq_dir


def read_bus_output(sink_dir: str, dlq_dir: str) -> pa.Table:
    """Main sink and DLQ rows, with the ``dest`` and ``_batch`` partition
    values the ParquetSink layout carries."""
    cols = ["id", "data", "kind", "due_ns", "dest", "_batch"]
    parts = []
    for d in (sink_dir, dlq_dir):
        files = parquet_files(d)
        if files:
            t = ds.dataset(
                files, format="parquet", partitioning="hive", partition_base_dir=d
            ).to_table(columns=cols)
            parts.append(
                t.set_column(4, "dest", pc.cast(t["dest"], pa.string())).set_column(
                    5, "_batch", pc.cast(t["_batch"], pa.int64())
                )
            )
    return pa.concat_tables(parts)


def check_bus(out: pa.Table, landing: str, n_generated: int, stats) -> tuple[int, dict]:
    """Every generated id exactly once across main and DLQ, ``dest``
    agreeing with the fail predicate, the separator round trip, and the
    pipeline's own received count equal to the number generated.
    Returns (wrong operations, accounting)."""
    from frizzle_spark.streaming import metrics as M

    src = ds.dataset(landing, format="parquet").to_table(columns=["id", "data", "kind"])
    n = src.num_rows
    src_idx = pc.cast(src["id"], pa.int64()).to_numpy()
    order = np.argsort(src_idx)
    src = src.take(pa.array(order))
    src_idx = src_idx[order]
    idx = pc.cast(out["id"], pa.int64()).to_numpy()
    seen = np.bincount(idx, minlength=n) if len(idx) else np.zeros(n, np.int64)
    if len(seen) > n or not np.array_equal(src_idx, np.arange(n)):
        return n, {"bad_ids": True}
    missing = int((seen == 0).sum())
    dup = int((seen > 1).sum())
    # routing is judged against what was generated, not what came out
    failed = pc.equal(src["kind"], gen.FAIL_KIND).to_numpy(zero_copy_only=False)[idx]
    dest = out["dest"].to_numpy(zero_copy_only=False)
    misrouted = int(((dest == "dlq") != failed).sum() + (dest[~failed] != "main").sum())
    orig = pc.cast(src["data"], pa.string()).take(pa.array(idx))
    stripped = pc.replace_substring_regex(orig, r"\|ok$", "")
    want = pc.if_else(
        pa.array(failed),
        stripped,
        pc.binary_join_element_wise(stripped, gen.SEP.decode(), ""),
    )
    same = pc.equal(pc.cast(out["data"], pa.string()), want)
    bad_data = int((~same.to_numpy(zero_copy_only=False)).sum())
    rcv = stats.counts.get(M.RCV, 0)
    wrong = missing + dup + misrouted + bad_data + abs(rcv - n_generated) + abs(n - n_generated)
    acc = {
        "missing": missing,
        "duplicated": dup,
        "misrouted": misrouted,
        "bad_payload": bad_data,
        "rcv": rcv,
        "generated": n_generated,
        "pipeline.ack_ratio": stats.counts.get(M.ACK, 0) / max(1, rcv),
        "pipeline.fail_ratio": stats.counts.get(M.FAIL, 0) / max(1, rcv),
    }
    return wrong, acc


class BusSteady:
    """Open loop: a generator process drops one parquet file per tick at a
    fixed rate; the pipeline runs back-to-back micro-batches; an event's
    latency runs from its due time until its batch's sink and DLQ writes
    have returned."""

    RATE = 5_000  # events/s
    # one file a second, above the ~0.5 s a one-file micro-batch takes on
    # 4 cores, so each file is a batch of its own: a tick close to the
    # batch time lets the batch size, and with it the latency, settle at
    # either of two file counts per batch
    TICK_S = 1.0
    FAIL_FRAC = 0.02
    SKIP_S = 3.0  # open-loop start excluded from the window
    PRIME_BATCHES = 6

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self) -> None:
        rng = np.random.default_rng(self.ctx.seed + 1)
        self.warm_dir = self.ctx.fresh("warm_landing")
        self.prime_dir = self.ctx.fresh("prime_landing")
        for d, files, rows in ((self.warm_dir, 1, 2000), (self.prime_dir, self.PRIME_BATCHES, 5000)):
            for i in range(files):
                t = gen.events(rng, i * rows, rows, self.FAIL_FRAC, time.monotonic_ns())
                gen.write_atomic(t, os.path.join(d, f"w-{i}.parquet"))

    def warm(self) -> None:
        pipe, _, _, _ = bus_pipeline(self.ctx, self.warm_dir, "warm", [], live=False)
        pipe.start()
        pipe.stop(flush_timeout=120)

    def prime(self) -> None:
        """Back-to-back batches, one file each, until the JIT has settled:
        without them the sink writes still get ~30% faster across the
        window."""
        pipe, _, _, _ = bus_pipeline(
            self.ctx, self.prime_dir, "prime", [], live=False, max_files=1
        )
        pipe.start()
        pipe.stop(flush_timeout=120)

    def measure(self) -> dict:
        ctx = self.ctx
        landing = ctx.fresh("landing")
        acks: list = []
        pipe, stats, sink_dir, dlq_dir = bus_pipeline(ctx, landing, "bus", acks, live=True)
        duration = self.SKIP_S + ctx.seconds
        t0 = time.monotonic_ns() + int(1.0e9)
        report = os.path.join(ctx.run_dir, "gen_report.json")
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"),
            "--out", landing, "--report", report, "--seed", str(ctx.seed),
            "--rate", str(self.RATE), "--tick", str(self.TICK_S),
            "--duration", str(duration), "--fail-frac", str(self.FAIL_FRAC),
            "--t0-ns", str(t0),
        ]
        lag: list[int] = []
        per_tick = int(round(self.RATE * self.TICK_S))
        stop_sampling = threading.Event()

        def sample_lag():
            from frizzle_spark.streaming import metrics as M

            while not stop_sampling.wait(1.0):
                made = sum(1 for f in os.listdir(landing) if f.endswith(".parquet"))
                lag.append(made * per_tick - stats.counts.get(M.RCV, 0))

        proc = subprocess.Popen(cmd)
        sampler = threading.Thread(target=sample_lag, daemon=True)
        try:
            with ctx.tracer.span("pipeline", "start"):
                q = pipe.start(trigger={"processingTime": "0 seconds"})
            if ctx.tracer.on:
                sampler.start()
            proc.wait(timeout=duration + 60)
            if proc.returncode:
                raise RuntimeError(f"event generator exited with {proc.returncode}")
            with ctx.tracer.span("pipeline", "drain"):
                q.processAllAvailable()
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            stop_sampling.set()
            if sampler.is_alive():
                sampler.join()
            with ctx.tracer.span("pipeline", "stop"):
                pipe.stop(flush_timeout=0.01)
        with open(report) as fh:
            rep = json.load(fh)
        return {
            "landing": landing, "acks": acks, "stats": stats, "sink": sink_dir,
            "dlq": dlq_dir, "gen": rep, "t0": t0, "lag": lag,
        }

    def check(self, m: dict) -> dict:
        ctx = self.ctx
        out = read_bus_output(m["sink"], m["dlq"])
        wrong, acc = check_bus(out, m["landing"], m["gen"]["events"], m["stats"])
        ack_ns: dict[int, int] = {}
        sink_ms: dict[int, float] = {}
        dlq_ms: dict[int, float] = {}
        for bid, role, s, e in m["acks"]:
            ack_ns[bid] = max(ack_ns.get(bid, 0), e)
            (sink_ms if role == "sink" else dlq_ms)[bid] = (e - s) / 1e6
        w0 = m["t0"] + int(self.SKIP_S * 1e9)
        w1 = w0 + int(ctx.seconds * 1e9)
        due = out["due_ns"].to_numpy()
        batch = out["_batch"].to_numpy()
        in_win = (due >= w0) & (due < w1)
        lut = np.zeros(max(ack_ns) + 1, dtype=np.int64)
        for b, t in ack_ns.items():
            lut[b] = t
        lat_ms = (lut[batch[in_win]] - due[in_win]) / 1e6
        # delivered rate: least-squares slope of events acked so far
        # against Ack time, over the batches acked inside the window
        counts = np.bincount(batch, minlength=len(lut))
        win_batches = sorted(b for b, t in ack_ns.items() if w0 <= t < w1)
        if len(win_batches) < 3:
            raise RuntimeError(f"too few micro-batches in the window: {win_batches}")
        t_ack = np.array([ack_ns[b] for b in win_batches]) / 1e9
        rate = float(np.polyfit(t_ack, np.cumsum(counts[win_batches]), 1)[0])
        n_files, n_bytes = dir_files(m["sink"])
        d_files, d_bytes = dir_files(m["dlq"])
        batches = max(1, len(ack_ns))
        ctx.layers.update(
            {
                "gen.late_p99_ms": m["gen"]["late_p99_ms"],
                "sources.files_per_batch": m["gen"]["files"] / batches,
                "sources.lag_events_max": float(max(m["lag"], default=0)),
                "pipeline.sink_write_ms": statistics.median(sink_ms.values()),
                "pipeline.dlq_write_ms": statistics.median(dlq_ms.values()) if dlq_ms else 0.0,
                "pipeline.files_written": float(n_files + d_files),
                "pipeline.bytes_written": float(n_bytes + d_bytes),
                "pipeline.ack_ratio": acc["pipeline.ack_ratio"],
                "pipeline.fail_ratio": acc["pipeline.fail_ratio"],
            }
        )
        return {
            "write_ms": {b: sink_ms.get(b, 0.0) + dlq_ms.get(b, 0.0) for b in ack_ns},
            "attempted": m["gen"]["events"],
            "failed": wrong,
            "throughput": rate,
            "latencies_ms": lat_ms,
            # every event of a file shares its due time and its batch's Ack,
            # so the independent latency samples are the batches
            "samples": len(set(batch[in_win].tolist())),
            "detail": {
                "events_in_window": int(in_win.sum()),
                **{k: v for k, v in acc.items() if not k.startswith("pipeline.")},
                "batch_rows": [int(counts[b]) for b in win_batches],
                "ack_gaps_ms": [
                    round((ack_ns[b] - ack_ns[a]) / 1e6)
                    for a, b in zip(win_batches, win_batches[1:])
                ],
                "write_ms": [
                    round(sink_ms.get(b, 0) + dlq_ms.get(b, 0)) for b in win_batches
                ],
                "batch_latency_ms": [
                    round((ack_ns[b] - int(due[batch == b].min())) / 1e6) for b in win_batches
                ],
            },
        }


# ------------------------------------------------------------ analytics
# One query from each of nine plans/ and operators/ modules (tpch_extra
# and graph are left out to keep a run short); the oracle-backed ones
# are checked against DuckDB.
# qz13_curation_ingest runs the curation bus (stream_dedup_ingest over
# four crawl slices, then ingest_assignment).
MIX = [
    "q1_pricing_summary",
    "q10_session_windows",
    "qz16_band_join",
    "qz14_bm25",
    "qz11_minhash_lsh",
    "q12_cosine_topk",
    "q20_range_frame",
    "qz15_phash_neardup",
    "qz13_curation_ingest",
]
TABLE_SEED = 20_180_610  # the tables are fixed; the run seed orders the mix
TABLE_SCALE = 10
EXPECTED_ROWS = os.path.join(HERE, "expected_rows.json")


class _Collected:
    """Lets ``tests.oracle.assert_matches`` check a result collected in
    the timed window without running the query again."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf.copy()


class Analytics:
    """One closed-loop client runs the mix, in an order shuffled by the
    seed, after one untimed warm pass; each query's result is collected
    into this process inside its timed call."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self) -> None:
        import __spark_entry__  # noqa: F401  (populates the registry)
        from frizzle_spark.plans.registry import REGISTRY

        self.tables = os.path.join(self.ctx.run_dir, "tables")
        gen.star_tables(self.tables, TABLE_SEED, TABLE_SCALE)
        self.specs = {q: REGISTRY[q] for q in MIX}

    def run_query(self, name: str, group: str = "measure"):
        spec = self.specs[name]
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        with self.ctx.tracer.span(f"query.{module}", name):
            self.ctx.spark.sparkContext.setJobGroup(f"{group}.{name}", name)
            t = time.perf_counter()
            pdf = spec.fn(self.ctx.spark, self.tables).toPandas()
            return pdf, time.perf_counter() - t

    def warm(self) -> None:
        self.run_query(MIX[0], "setup")

    def prime(self) -> None:
        for q in MIX:
            self.run_query(q, "warm")

    def measure(self) -> dict:
        c = self.ctx
        order = MIX[:]
        rng = random.Random(c.seed)
        results: list[tuple[str, object, float]] = []
        passes: list[float] = []
        t_end = time.perf_counter() + c.seconds
        while not passes or time.perf_counter() < t_end:
            rng.shuffle(order)
            t = time.perf_counter()
            for q in order:
                t_q = time.perf_counter()
                try:
                    pdf, wall = self.run_query(q)
                except Exception:  # a failing query is counted, not fatal
                    traceback.print_exc()
                    pdf, wall = None, time.perf_counter() - t_q
                results.append((q, pdf, wall))
            passes.append(time.perf_counter() - t)
        return {"results": results, "passes": passes}

    def check(self, m: dict) -> dict:
        from tests.oracle import assert_matches

        with open(EXPECTED_ROWS) as fh:
            expected = json.load(fh)
        wrong = 0
        bad: list[str] = []
        for name, pdf, _ in m["results"]:
            spec = self.specs[name]
            try:
                if pdf is None:
                    raise AssertionError("raised")
                if spec.oracle:
                    assert_matches(_Collected(pdf), spec.oracle, self.tables)
                elif len(pdf) != expected.get(name):
                    raise AssertionError(f"{len(pdf)} rows, expected {expected.get(name)}")
            except AssertionError as ex:
                wrong += 1
                bad.append(f"{name}: {str(ex)[:160]}")
        per_module: dict[str, float] = {}
        for name, _, wall in m["results"]:
            module = self.specs[name].fn.__module__.rsplit(".", 1)[-1]
            per_module[module] = per_module.get(module, 0.0) + wall
        n_pass = len(m["passes"])
        for module, s in per_module.items():
            self.ctx.layers[f"analytics.{module}_s"] = s / n_pass
        walls_ms = [w * 1000 for _, _, w in m["results"]]
        return {
            "attempted": len(m["results"]),
            "failed": wrong,
            "throughput": len(m["results"]) / sum(m["passes"]),
            "latencies_ms": walls_ms,
            "samples": len(walls_ms),
            "detail": {
                "passes": n_pass,
                "pass_s": m["passes"],
                "query_ms": {
                    q: [round(w * 1000) for n, _, w in m["results"] if n == q] for q in MIX
                },
                "bad": bad,
            },
        }


WORKLOADS = {"bus_steady": BusSteady, "analytics": Analytics}
