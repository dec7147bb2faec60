"""keyed_state_fold: the state layer in a closed loop, without Structured
Streaming.

One caller applies pre-staged keyed-event batches by calling the fold
closures of ``statefold.bucketed_monoid_fold`` (sum, min, max, bit_or)
and ``statefold.bucketed_latest_fold`` directly, with rising batch ids;
that is one operation. After each batch it makes one point and one
range read through ``statefold.read_state`` and replays one earlier
batch id, alternating the store from cycle to cycle. Keys
are Zipf-distributed and every batch adds new keys, so the state grows,
and each bucket reaches the compaction threshold every few batches.

Reads share the state layer with writes, so a change that buys cheaper
writes with dearer reads, or with more bytes on disk, shows here: reads
and replays run inside the timed loop, and ``throughput_rps`` counts
keyed events applied per second spent in folds, reads and replays.

Correctness, after every batch: both stores read straight from their
parquet files must equal a Python model of the folds; every read must
return the model's rows; a replayed batch id must leave every file of
the fenced monoid store unchanged. The latest-wins store is idempotent
by its merge and rewrites the buckets it touches on replay by design,
so its replays are checked by content and counted as
``statefold.replay_rewrites``.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from stats import dir_bytes, median, tail

N_BUCKETS = 8
ROWS = 2000
NEW_KEYS = 200
WARMUP_BATCHES = 3
#: a run makes ceil(--seconds / NOMINAL_CYCLE_S) cycles, at least
#: MIN_CYCLES, so every run of one ``--seconds`` does the same work.
#: Every batch touches every bucket, so batch 8 compacts all of them
#: (the threshold is 8 segments): the timed window holds one compaction.
NOMINAL_CYCLE_S = 2.5
MIN_CYCLES = 6
REPLAY_LAG = 2
RANGE_WIDTH = 50
MONOID_COLS = {"s_sum": "sum", "s_min": "min", "s_max": "max", "s_or": "bit_or"}


def listing(path: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def fingerprint(path: str) -> dict[str, str]:
    """relative path → sha1 of the bytes, for every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha1(f.read()).hexdigest()
    return out


def segments_per_bucket(listed: dict[str, tuple[int, int]]) -> dict[str, int]:
    out: dict[str, int] = {}
    for rel in listed:
        head, name = os.path.split(rel)
        if head.startswith("bucket=") and name.endswith(".parquet"):
            out[head] = out.get(head, 0) + 1
    return out


def _reduce_by_key(k, cols):
    """Sort by key and fold each column with its op, as numpy arrays."""
    order = np.argsort(k, kind="stable")
    k = k[order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    ops = {"sum": np.add, "min": np.minimum, "max": np.maximum, "bit_or": np.bitwise_or}
    return k[starts], {c: ops[op].reduceat(v[order], starts) for c, (v, op) in cols.items()}


def model_monoid(applied):
    k = np.concatenate([t["k"].to_numpy() for t in applied])
    v = np.concatenate([t["v"].to_numpy() for t in applied])
    bits = np.concatenate([t["bits"].to_numpy() for t in applied])
    return _reduce_by_key(
        k, {"s_sum": (v, "sum"), "s_min": (v, "min"), "s_max": (v, "max"), "s_or": (bits, "bit_or")}
    )


def model_latest(applied):
    k = np.concatenate([t["k"].to_numpy() for t in applied])
    ts = np.concatenate([t["ts"].to_numpy() for t in applied])
    uid = np.concatenate([t["uid"].to_numpy() for t in applied])
    v = np.concatenate([t["v"].to_numpy() for t in applied])
    order = np.lexsort((uid, ts, k))
    k, ts, uid, v = k[order], ts[order], uid[order], v[order]
    last = np.flatnonzero(np.r_[k[1:] != k[:-1], True])
    return k[last], {"ts": ts[last], "uid": uid[last], "v": v[last]}


def disk_monoid(path):
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["k", *MONOID_COLS]
    )
    return _reduce_by_key(
        t["k"].to_numpy(), {c: (t[c].to_numpy(), op) for c, op in MONOID_COLS.items()}
    )


def disk_latest(path):
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["k", "ts", "uid", "v"]
    )
    k = t["k"].to_numpy()
    order = np.argsort(k, kind="stable")
    return k[order], {c: t[c].to_numpy()[order] for c in ("ts", "uid", "v")}


def same(a, b) -> bool:
    ka, ca = a
    kb, cb = b
    return np.array_equal(ka, kb) and all(np.array_equal(ca[c], cb[c]) for c in ca)


def expect_rows(model, lo: int, hi: int) -> set:
    k, cols = model
    sel = (k >= lo) & (k <= hi)
    names = sorted(cols)
    return {(int(kk), *(int(cols[c][i]) for c in names)) for i, kk in zip(np.flatnonzero(sel), k[sel])}


def run(r) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from hailstorm_spark.streaming import statefold

    spark = r.build_session()
    tracer = r.tracer
    t_inputs = time.time()
    stage = r.dir("batches")
    m_dir = os.path.join(r.dir("state"), "monoid")
    l_dir = os.path.join(r.dir("state"), "latest")
    n_cycles = max(MIN_CYCLES, math.ceil(r.seconds / NOMINAL_CYCLE_S))
    n_batches = WARMUP_BATCHES + n_cycles
    batches = gen.keyed_batches(r.seed, n_batches, ROWS, NEW_KEYS)
    paths = []
    for i, t in enumerate(batches):
        p = os.path.join(stage, f"b{i:05d}.parquet")
        pq.write_table(t, p)
        paths.append(p)

    monoid_fold = statefold.bucketed_monoid_fold(m_dir, key="k", cols=MONOID_COLS, n_buckets=N_BUCKETS)
    latest_fold = statefold.bucketed_latest_fold(l_dir, key="k", order_cols=("ts", "uid"), n_buckets=N_BUCKETS)
    if r.trace:
        monoid_fold = tracer.wrap("statefold.fold", monoid_fold, store="monoid")
        latest_fold = tracer.wrap("statefold.fold", latest_fold, store="latest")
        read_state = tracer.wrap("statefold.read_state", statefold.read_state)
    else:
        read_state = statefold.read_state

    def frames(i):
        df = spark.read.parquet(paths[i])
        mono = df.select(
            "k",
            F.col("v").alias("s_sum"),
            F.col("v").alias("s_min"),
            F.col("v").alias("s_max"),
            F.col("bits").alias("s_or"),
        )
        return mono, df.select("k", "ts", "uid", "v")

    r.notes["setup_inputs_s"] = time.time() - t_inputs
    rng = np.random.default_rng([r.seed, 4])
    applied = []
    fold_lat, read_lat, cycles = [], [], []
    traced_ops, bare_ops = [], []
    fold_io = []  # (store, bytes written, input bytes, compactions)
    replay_skipped = replay_rewrites = 0

    def apply(i, account_io: bool):
        mono, latest = frames(i)
        before = (listing(m_dir), listing(l_dir)) if account_io else None
        t = time.perf_counter()
        with tracer.span("op", op=i):
            monoid_fold(mono, i)
            latest_fold(latest, i)
        dt = time.perf_counter() - t
        if account_io:
            after = (listing(m_dir), listing(l_dir))
            for store, b, a in (("monoid", before[0], after[0]), ("latest", before[1], after[1])):
                written = sum(sz for rel, (sz, mt) in a.items() if b.get(rel) != (sz, mt))
                seg_b, seg_a = segments_per_bucket(b), segments_per_bucket(a)
                compactions = sum(1 for bk, n in seg_b.items() if seg_a.get(bk, 0) < n)
                fold_io.append((store, written, os.path.getsize(paths[i]), compactions))
        applied.append(batches[i])
        return dt

    def check(i):
        m, l = model_monoid(applied), model_latest(applied)
        if not same(disk_monoid(m_dir), m):
            r.fail(f"monoid state after batch {i} differs from the model")
        if not same(disk_latest(l_dir), l):
            r.fail(f"latest-wins state after batch {i} differs from the model")
        return m, l

    def reads(m, l, store: str) -> float:
        """One point and one range read of ``store``, through read_state."""
        path, model = (m_dir, m) if store == "monoid" else (l_dir, l)
        cols = sorted(model[1])
        k = int(rng.integers(0, len(l[0])))
        spent = 0.0
        for lo, hi in ((k, k), (k, k + RANGE_WIDTH)):
            t = time.perf_counter()
            with tracer.span("read", store=store):
                got = read_state(spark, path).filter(F.col("k").between(lo, hi)).select("k", *cols).collect()
            read_lat.append(time.perf_counter() - t)
            spent += read_lat[-1]
            r.attempted += 1
            if {tuple(int(x) for x in row) for row in got} != expect_rows(model, lo, hi):
                r.fail(f"{store} read of keys [{lo}, {hi}] differs from the model")
        return spent

    def replay(j, store: str):
        nonlocal replay_skipped, replay_rewrites
        mono, latest = frames(j)
        path = m_dir if store == "monoid" else l_dir
        before = fingerprint(path)
        t = time.perf_counter()
        with tracer.span("replay", op=j, store=store):
            if store == "monoid":
                monoid_fold(mono, j)
            else:
                latest_fold(latest, j)
        spent = time.perf_counter() - t
        r.attempted += 1
        changed = fingerprint(path) != before
        if store == "latest":
            replay_rewrites += changed
        elif changed:
            r.fail(f"replay of batch {j} changed the fenced monoid store")
        else:
            replay_skipped += 1
        return spent

    t_warm = time.time()
    for i in range(WARMUP_BATCHES):
        apply(i, False)
        r.attempted += 1
        m, l = check(i)
    reads(m, l, "monoid")
    reads(m, l, "latest")
    del read_lat[:]
    r.setup_done()
    r.notes["setup_warmup_s"] = time.time() - t_warm

    busy = 0.0  # time inside the program's calls; the checks are excluded
    for i in range(WARMUP_BATCHES, n_batches):
        traced = r.trace and len(cycles) % 2 == 0
        tracer.enabled = traced
        dt = apply(i, r.trace)
        fold_lat.append(dt)
        (traced_ops if traced else bare_ops).append(dt)
        r.attempted += 1
        m, l = check(i)
        store = ("monoid", "latest")[len(cycles) // 2 % 2]
        busy += dt + reads(m, l, store) + replay(i - REPLAY_LAG, store)
        m, l = check(i)
        tracer.enabled = False
        cycles.append(i)

    tail_v, tail_p, n = tail(fold_lat)
    r.notes["latency_tail"] = {"percentile": tail_p, "samples": n}
    r.notes["ops_s"] = fold_lat
    e2e = {
        "latency_p50_s": median(fold_lat),
        "latency_tail_s": tail_v,
        "throughput_rps": len(cycles) * ROWS / busy,
        "peak_rss_mb": r.peak_rss_mb(),
    }
    if not r.trace:
        return e2e, {}

    from spans import account_spans, per_op

    ops = tracer.named("op")
    op_ids = {s["id"] for s in ops}
    folds = [s for s in tracer.named("statefold.fold") if s["parent"] in op_ids]
    rd = tracer.named("read")
    files = sum(1 for rel in [*listing(m_dir), *listing(l_dir)] if rel.endswith(".parquet"))
    state_bytes = dir_bytes(m_dir) + dir_bytes(l_dir)
    with r.collecting():
        slots = r.notes["parallelism"]
        layers = per_op(account_spans(tracer, r.status, ops, slots))
        fold_jobs = [a["spark.jobs"] for a in account_spans(tracer, r.status, folds, slots)]
        read_jobs = [a["spark.jobs"] for a in account_spans(tracer, r.status, rd, slots)]
    layers.update(
        {
            "statefold.fold_s": median(s["end"] - s["start"] for s in folds),
            "statefold.fold_jobs": median(fold_jobs),
            "statefold.read_s": median(s["end"] - s["start"] for s in rd),
            "statefold.read_tail_s": tail([s["end"] - s["start"] for s in rd])[0],
            "statefold.read_jobs": median(read_jobs),
            "statefold.files": files,
            "statefold.state_bytes": state_bytes,
            "statefold.state_bytes_per_key": state_bytes / len(l[0]),
            "statefold.bytes_written": median(w for _s, w, _i, _c in fold_io),
            "statefold.write_amp": median(w / inp for _s, w, inp, _c in fold_io),
            "statefold.compactions": sum(c for s, _w, _i, c in fold_io if s == "monoid"),
            "statefold.replay_skipped": replay_skipped,
            "statefold.replay_rewrites": replay_rewrites,
            "trace.overhead_share": median(traced_ops) / median(bare_ops) - 1,
        }
    )
    return e2e, layers
