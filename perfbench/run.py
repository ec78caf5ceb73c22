"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bus_steady --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run builds a Spark session through
``frizzle_spark.session.get_spark`` with every core the process may
use, makes its inputs from ``--seed`` under ``.perfbench_runs/``,
measures for ``--seconds``, checks the program's outputs outside the
timed window, removes its scratch and prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans, streaming progress and the Spark event log),
with span self times and the tracing overhead against the last
untraced run of the same workload.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5  # session rebuilds per run; setup_s is their median
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "throughput": "items/s",
    "latency_p50_ms": "ms",
    "cpu_ms_per_item": "ms",
}
PER_LAYER = {
    "mem.peak_rss_mb": "MiB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "gen.late_p99_ms": "ms",
    "sources.offset_ms": "ms",
    "sources.getbatch_ms": "ms",
    "sources.files_per_batch": "count",
    "sources.rows_per_batch": "count",
    "sources.lag_events_max": "count",
    "pipeline.batches": "count",
    "pipeline.planning_ms": "ms",
    "pipeline.addbatch_ms": "ms",
    "pipeline.route_ms": "ms",
    "pipeline.commit_ms": "ms",
    "pipeline.sink_write_ms": "ms",
    "pipeline.dlq_write_ms": "ms",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.ack_ratio": "ratio",
    "pipeline.fail_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.gc_ms": "ms",
    "spark.task_skew_max": "ratio",
    **{
        f"analytics.{m}_s": "s"
        for m in (
            "relational", "windows", "joins_extra", "text_queries", "dedup",
            "similarity", "sql_surface", "multimodal_queries", "streaming_queries",
        )
    },
}


def _since_process_start() -> float:
    """Seconds since this process was created (field 22 of /proc/self/stat
    is its start time in clock ticks after boot)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_stats(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait shares of all CPU time over a window, and the
    1-minute load average at its end."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d[:8]))
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {
        "steal_pct": 100.0 * d[7] / total,
        "iowait_pct": 100.0 * d[4] / total,
        "loadavg1": load1,
    }


def _cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of a process's own threads (fields 14
    and 15 of /proc/<pid>/stat; time stolen by the hypervisor is not in
    them)."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def build_session(ctx):
    from frizzle_spark.session import get_spark

    with ctx.tracer.span("session", "get_spark"):
        ctx.spark = get_spark("perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")


def set_env(root: str, run_dir: str, cores: int, traced: bool) -> None:
    from spans import conf_dir

    for d in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_CONF_DIR": conf_dir(run_dir, traced),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "FRIZZLE_SCRATCH_CKPT_BASE": os.path.join(run_dir, "ckpt"),
            # no hsperfdata file under the system /tmp
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            ),
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )


def run(workload: str, seed: int, seconds: int, traced: bool, run_dir: str):
    import tempfile

    import numpy as np

    import spans as tr
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    tempfile.tempdir = None  # re-read TMPDIR
    tracer = tr.Tracer(traced)
    ctx = W.Ctx(run_dir, seed, seconds, tracer)
    wl = W.WORKLOADS[workload](ctx)
    jvm = None
    marks: dict[str, float] = {}  # seconds since process start at each phase end
    try:
        with tracer.span("phase", "setup"):
            build_session(ctx)
            jvm = _jvm_proc(ctx.spark)
            start_s = _since_process_start()
            with tracer.span("gen", "inputs"):
                wl.prepare()
            marks["inputs"] = _since_process_start()
            t = time.perf_counter()
            wl.warm()
            warmup_s = time.perf_counter() - t
            setups = []
            for _ in range(SETUPS):
                t = time.perf_counter()
                ctx.spark.stop()
                build_session(ctx)
                wl.warm()
                setups.append(time.perf_counter() - t)
        marks["setup"] = _since_process_start()
        with tracer.span("phase", "prime"):
            wl.prime()
        marks["prime"] = _since_process_start()
        listener = None
        if traced:
            listener = tr.ProgressCollector()
            ctx.spark.streams.addListener(listener)
        cpu0 = _cpu_times()
        proc_cpu0 = _cpu_s("self") + _cpu_s(jvm.pid)
        t_wall0, t0 = time.time(), time.perf_counter()
        with tracer.span("phase", "measure"):
            raw = wl.measure()
        measure_s = time.perf_counter() - t0
        t_wall1 = time.time()
        host = host_stats(cpu0, _cpu_times())
        proc_cpu_s = _cpu_s("self") + _cpu_s(jvm.pid) - proc_cpu0
        rss = _hwm_mb("self") + _hwm_mb(jvm.pid)
        marks["measure"] = _since_process_start()
        with tracer.span("phase", "check"):
            res = wl.check(raw)
        marks["check"] = _since_process_start()
        if listener is not None:
            tracer.add_batch_spans(listener.progress)
            ctx.layers.update(tr.progress_metrics(listener.progress))
            write_ms = res.get("write_ms", {})
            route = [
                p["ms"].get("addBatch", 0) - write_ms.get(p["batch"], 0.0)
                for p in listener.progress
                if p["batch"] in write_ms
            ]
            ctx.layers["pipeline.route_ms"] = statistics.median(route) if route else 0.0
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        if jvm is not None:
            # the gateway JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    lat = res["latencies_ms"]
    metrics = {
        "setup_s": statistics.median(setups),
        "throughput": res["throughput"],
        "latency_p50_ms": float(np.percentile(lat, 50)),
        # CPU of this process and the JVM over the measure phase per item in it
        "cpu_ms_per_item": 1000 * proc_cpu_s / res["attempted"],
    }
    ctx.layers["mem.peak_rss_mb"] = rss
    ctx.layers["session.start_s"] = start_s
    ctx.layers["session.warmup_s"] = warmup_s
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        spark_m, per_group = tr.event_log_metrics(
            log_dir, t_wall0 * 1000, t_wall1 * 1000, cores
        )
        ctx.layers.update(spark_m)
    info = {
        "workload": workload,
        "seed": seed,
        "cores": cores,
        "measure_s": measure_s,
        "latency_samples": res["samples"],
        # too few samples for a bounded tail: the 90th percentile of 8-20
        # rests on the slowest two
        "latency_p90_ms": float(np.percentile(lat, 90)),
        "setup_samples_s": setups,
        "phase_end_s": {"session": start_s, **marks},
        "host": host,
        **res["detail"],
    }
    out = {"metrics": metrics, "info": info, "attempted": res["attempted"], "failed": res["failed"]}
    if traced:
        out["layers"] = ctx.layers
        out["self_times"] = tracer.self_times()
        out["per_group"] = per_group
    return out


def report(out: dict, traced: bool, baseline_path: str) -> dict:
    """Print the human-readable tables; return the metrics of the last line."""
    info = out["info"]
    print(f"# {info['workload']} seed={info['seed']} cores={info['cores']} "
          f"window={info['measure_s']:.1f}s latency samples={info['latency_samples']}")
    print("# host " + json.dumps({k: round(v, 3) for k, v in info["host"].items()}))
    print("# detail " + json.dumps({k: v for k, v in info.items() if k not in ("host",)}, default=str))
    for name, v in out["metrics"].items():
        print(f"{name:<20} {v:>14.4f} {END_TO_END[name]}")
    if not traced:
        with open(baseline_path, "w") as fh:
            json.dump(out["metrics"], fh)
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in out["metrics"].items()}
    layers = {k: float(out["layers"].get(k, 0.0)) for k in PER_LAYER}
    print("# per-layer")
    for name, v in layers.items():
        print(f"{name:<28} {v:>16.4f} {PER_LAYER[name]}")
    print("# span self time by layer: spans, seconds")
    for layer, (n, s) in sorted(out["self_times"].items(), key=lambda kv: -kv[1][1]):
        print(f"{layer:<28} {n:>6} {s:>10.3f}")
    if out["per_group"]:
        print("# spark task metrics by job group")
        for g, a in sorted(out["per_group"].items()):
            print(f"{g:<36} " + " ".join(f"{k}={v:.1f}" for k, v in sorted(a.items())))
    if os.path.exists(baseline_path):
        with open(baseline_path) as fh:
            base = json.load(fh)
        print("# tracing overhead: traced - untraced (last untraced run of this workload)")
        for k, v in out["metrics"].items():
            if k in base:
                d = v - base[k]
                print(f"{k:<20} {d:>+14.4f} {END_TO_END[k]} ({100 * d / base[k]:+.1f}%)")
    else:
        print("# tracing overhead: no untraced run of this workload to compare with")
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "frizzle_spark", "streaming", "pipeline.py")):
        print("perfbench: run from the repository root (frizzle_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads as W

    if a.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    runs = os.path.join(root, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    set_env(root, run_dir, len(os.sched_getaffinity(0)), bool(a.trace))
    sys.path.insert(1, root)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _deadline)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)
    try:
        out = run(a.workload, a.seed, a.seconds, bool(a.trace), run_dir)
        metrics = report(out, bool(a.trace), os.path.join(runs, f"untraced_{a.workload}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    line = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
