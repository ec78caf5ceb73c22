"""Seeded input generators for the benchmark.

Everything a workload feeds the program is made here: the open-loop
event generator (run as its own process, see ``main``), seeded by the
run's ``--seed``, and the fixed star-schema tables for the analytics
mix.  Only numpy and pyarrow are used, so generation never touches
Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEP = b"|ok"
FAIL_KIND = "error"

EVENT_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("data", pa.binary()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("dest", pa.string()),
        ("kind", pa.string()),
        ("due_ns", pa.int64()),
    ]
)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write a parquet file under a hidden name, then rename it into place,
    so a file-stream listing never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def events(
    rng: np.random.Generator,
    first_seq: int,
    n: int,
    fail_frac: float,
    due_ns: int,
) -> pa.Table:
    """``n`` envelope events with ids ``first_seq ..``; a ``fail_frac``
    share has kind ``error`` (the fail predicate's target); about half of
    the payloads already end with the ``|ok`` separator."""
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    ids = pc.cast(pa.array(seq), pa.string())
    u = pc.cast(pa.array(rng.integers(0, 1_000_000, n)), pa.string())
    k = pc.cast(pa.array(rng.integers(0, 100, n)), pa.string())
    tail = pa.array(np.where(rng.random(n) < 0.5, SEP.decode(), ""))
    data = pc.cast(
        pc.binary_join_element_wise('{"u": ', u, ', "k": ', k, "}", tail, ""),
        pa.binary(),
    )
    kind = pa.array(np.where(rng.random(n) < fail_frac, FAIL_KIND, "ok"))
    dest = pa.nulls(n, pa.string())  # unrouted: the pipeline's default dest
    ts = pa.array(np.full(n, time.time_ns() // 1000, dtype=np.int64)).cast(
        pa.timestamp("us", tz="UTC")
    )
    due = pa.array(np.full(n, due_ns, dtype=np.int64))
    return pa.Table.from_arrays([ids, data, ts, dest, kind, due], schema=EVENT_SCHEMA)


# ------------------------------------------------------------ open loop
def open_loop(
    out_dir: str,
    seed: int,
    rate: int,
    tick_s: float,
    duration_s: float,
    fail_frac: float,
    t0_ns: int,
) -> dict:
    """Drop one file of ``rate * tick_s`` events every tick from ``t0_ns``
    (CLOCK_MONOTONIC, shared by every process on the host) for
    ``duration_s``.  Each event is stamped with its tick's due time; the
    schedule never waits for the consumer.  Returns how late the writes
    ran against their due times."""
    rng = np.random.default_rng(seed)
    per_tick = max(1, int(round(rate * tick_s)))
    n_ticks = int(round(duration_s / tick_s))
    late_ms: list[float] = []
    seq = 0
    for i in range(n_ticks):
        due = t0_ns + int(i * tick_s * 1e9)
        # the file is made before its due time, so lateness is the write alone
        t = events(rng, seq, per_tick, fail_frac, due)
        wait = (due - time.monotonic_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        write_atomic(t, os.path.join(out_dir, f"tick-{i:06d}.parquet"))
        late_ms.append((time.monotonic_ns() - due) / 1e6)
        seq += per_tick
    late = np.asarray(late_ms or [0.0])
    return {
        "events": seq,
        "files": n_ticks,
        "per_tick": per_tick,
        "late_p50_ms": float(np.percentile(late, 50)),
        "late_p99_ms": float(np.percentile(late, 99)),
        "late_max_ms": float(late.max()),
    }


# ------------------------------------------------------ analytics tables
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window line sort order data column join small customer query "
    "big filter group stream vector"
).split()


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64)).cast(pa.timestamp("us"))


def star_tables(out_dir: str, seed: int, scale: int) -> None:
    """The star schema the registry queries read (``region nation customer
    supplier part orders lineitem events documents embeddings``), one
    parquet file per table, at ``scale`` times 1,500 orders.  Column names
    and types follow the repository's test tables."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev, n_doc, n_emb = 1500 * scale, 1000 * scale, 500, 500
    day = 86_400_000_000
    t1995 = 788_918_400_000_000  # 1995-01-01 in micros
    t2024 = 1_704_067_200_000_000  # 2024-01-01 in micros

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": money(1000, 500000, n_ord),
                "o_orderdate": _ts(t1995 + rng.integers(0, 2404, n_ord) * day),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(t1995 + rng.integers(1, 2500, n_li) * day),
        }
    )
    ev_ts = np.sort(t2024 + rng.integers(0, 30 * day, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 150, n_ev)),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]) for _ in range(n_doc)]
    # a few planted near-copies so the dedup operators have work to find
    for i in range(0, n_doc, 25):
        w = texts[i].split(" ")
        w[-1] = "edited"
        texts[min(n_doc - 1, i + 7)] = " ".join(w)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    """Entry point of the open-loop generator process: writes its lateness
    report as JSON to ``--report`` when the schedule is done."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--duration", type=float, required=True)
    ap.add_argument("--fail-frac", type=float, required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    a = ap.parse_args()
    rep = open_loop(a.out, a.seed, a.rate, a.tick, a.duration, a.fail_frac, a.t0_ns)
    with open(a.report, "w") as fh:
        json.dump(rep, fh)


if __name__ == "__main__":
    main()
