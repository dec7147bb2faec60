"""wordcount_stream: the reference's word-count topology as an open loop.

spout → count → topN → merge → sink (WordCountSample.hs), assembled from
the program's public pieces: ``sources.file_lines_stream`` →
``bolt.streaming_word_counts`` (RocksDB state store) →
``sinks.topk_file_sink``, on a processing-time trigger.

One generator thread writes pre-generated files on a fixed schedule,
whatever the engine does, so a slow trigger makes later files wait.
Each file is timed from when it was due. Schedule slots sit at fixed
offsets inside each wall-clock second, and the processing-time trigger
fires on whole multiples of its interval, so the wait a file spends for
the next trigger is the same from run to run; what varies is the engine.

The run: warm-up (into ``setup_s``), a steady phase at the offered rate,
a stop that interrupts a running batch while the generator keeps
writing, and a restart from the same checkpoint. At the end the
published top-20 must equal the generator's own counts over every file
written: the exactly-once check across the stop.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import gen
from stats import dir_bytes, median, tail

TRIGGER_S = 1.0
FILE_PERIOD_S = 0.1
WORDS_PER_FILE = 2000  # offered rate: 20k words/s
WARMUP_BATCHES = 4
TOP_K = 20
#: a file waits at most one trigger interval, then one batch runs; past
#: this the backlog has not drained
LATENCY_LIMIT_S = 2.5
STOP_S_SHARE = 0.2
RECOVER_S_MIN = 3.0
DRAIN_TIMEOUT_S = 60.0


class Generator(threading.Thread):
    """Writes ``payloads[k]`` as ``f<k>.txt`` at ``t0 + k * period``
    (tmp + rename, so the source never sees a partial file)."""

    def __init__(self, payloads: list[bytes], out_dir: str, tmp_dir: str, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.payloads = payloads
        self.out_dir = out_dir
        self.tmp_dir = tmp_dir
        self.t0 = t0
        self.written: list[float] = []
        self.late_max_s = 0.0
        self._halt = threading.Event()

    def due(self, k: int) -> float:
        return self.t0 + k * FILE_PERIOD_S

    def run(self) -> None:
        for k, payload in enumerate(self.payloads):
            wait = self.due(k) - time.time()
            if wait > 0 and self._halt.wait(wait):
                return
            if self._halt.is_set():
                return
            name = f"f{k:06d}.txt"
            tmp = os.path.join(self.tmp_dir, name)
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, os.path.join(self.out_dir, name))
            now = time.time()
            self.written.append(now)
            self.late_max_s = max(self.late_max_s, now - self.due(k))

    def halt(self) -> int:
        self._halt.set()
        self.join(timeout=10)
        return len(self.written)


def read_source_log(ckpt: str) -> dict[str, int]:
    """file name → batch id, from the file source's metadata log
    ``sources/0/<id>`` (and its ``<id>.compact`` roll-ups)."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def log_times(ckpt: str, log: str) -> dict[int, float]:
    """batch id → mtime of ``<log>/<id>`` (``offsets``: the batch
    started; ``commits``: the batch committed)."""
    d = os.path.join(ckpt, log)
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def file_latencies(ckpt: str, due: dict[str, float]) -> dict[str, dict]:
    """Per generated file: the batch that consumed it, that batch's start
    and commit time, and latency = commit − due."""
    batch_of = read_source_log(ckpt)
    starts = log_times(ckpt, "offsets")
    commits = log_times(ckpt, "commits")
    out = {}
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b is None or b not in commits:
            continue
        out[name] = {
            "batch": b,
            "due": t_due,
            "start": starts.get(b, commits[b]),
            "commit": commits[b],
            "latency": commits[b] - t_due,
        }
    return out


def _running_batch(ckpt: str) -> bool:
    started = log_times(ckpt, "offsets")
    done = log_times(ckpt, "commits")
    return bool(started) and max(started) not in done


def run(r) -> tuple[dict, dict]:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from hailstorm_spark.streaming import bolt, sinks, sources

    spark = r.build_session()
    tracer = r.tracer
    in_dir, tmp_dir, ckpt = r.dir("input"), r.dir("gen-tmp"), r.dir("ckpt")
    out_path = os.path.join(r.dir("out"), "top_words.txt")
    horizon = 30.0 + r.seconds * (1 + STOP_S_SHARE) + RECOVER_S_MIN + 10.0
    payloads = gen.word_files(r.seed, int(horizon / FILE_PERIOD_S), WORDS_PER_FILE)

    published: list[int] = []

    def traced_sink_writer(fn):
        # even batches run inside a span, odd ones bare: the two halves
        # give the tracing overhead within one run
        def write_batch(df, batch_id):
            published.append(batch_id)
            if tracer.enabled and batch_id % 2 == 0:
                with tracer.span("sinks.batch", op=batch_id):
                    return fn(df, batch_id)
            return fn(df, batch_id)

        return write_batch

    def start_query():
        words = sources.file_lines_stream(spark, in_dir).select(F.col("line").alias("word"))
        counts = bolt.streaming_word_counts(words)
        if not r.trace:
            writer = sinks.topk_file_sink(counts, out_path, ckpt, k=TOP_K)
        else:
            # install the wrapper around the sink's own batch writer
            orig = DataStreamWriter.foreachBatch
            DataStreamWriter.foreachBatch = lambda self, fn: orig(self, traced_sink_writer(fn))
            try:
                writer = sinks.topk_file_sink(counts, out_path, ckpt, k=TOP_K)
            finally:
                DataStreamWriter.foreachBatch = orig
        return writer.trigger(processingTime=f"{int(TRIGGER_S * 1000)} milliseconds").start()

    tracer.enabled = r.trace
    t0 = math.ceil(time.time()) + FILE_PERIOD_S / 2
    generator = Generator(payloads, in_dir, tmp_dir, t0)
    generator.start()
    q = start_query()
    while len(log_times(ckpt, "commits")) < WARMUP_BATCHES:
        if q.exception() is not None or time.time() - t0 > 120:
            raise RuntimeError(f"word-count stream did not warm up: {q.exception()}")
        time.sleep(0.05)
    r.setup_done()
    t_warm = time.time()

    time.sleep(max(0.0, t_warm + r.seconds - time.time()))
    t_stop_req = time.time()
    deadline = t_stop_req + 3 * TRIGGER_S
    while not _running_batch(ckpt) and time.time() < deadline:
        time.sleep(0.002)
    interrupted = _running_batch(ckpt)
    q.stop()
    t_stop = time.time()
    progress = [json.loads(p.json) for p in q.recentProgress]

    time.sleep(STOP_S_SHARE * r.seconds)
    t_restart = time.time()
    q = start_query()
    time.sleep(RECOVER_S_MIN)
    n_written = generator.halt()
    names = [f"f{k:06d}.txt" for k in range(n_written)]
    drain_deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < drain_deadline:
        batch_of = read_source_log(ckpt)
        commits = log_times(ckpt, "commits")
        if all(batch_of.get(n) in commits for n in names):
            break
        time.sleep(0.05)
    q.stop()
    progress += [json.loads(p.json) for p in q.recentProgress]

    # --- correctness: every file committed, top-20 exactly once
    due = {n: generator.due(k) for k, n in enumerate(names)}
    lat = file_latencies(ckpt, due)
    r.attempted += n_written + 1
    missing = [n for n in names if n not in lat]
    if missing:
        r.fail(f"{len(missing)} file(s) never committed, first {missing[0]}", len(missing))
    want = [f"{w},{c}" for w, c in gen.top_k(gen.word_counts(payloads[:n_written]), TOP_K)]
    got = []
    if os.path.exists(out_path):
        with open(out_path, encoding="utf-8") as f:
            got = f.read().splitlines()
    if got != want:
        r.fail(f"top-{TOP_K} after stop/restart differs from the generator's counts")

    # --- open-loop latency over the steady phase
    steady = [
        v for v in lat.values() if t_warm <= v["due"] < t_stop_req and v["commit"] <= t_stop
    ]
    steady_batches = sorted({v["batch"] for v in steady})
    by_batch = {p["batchId"]: p for p in progress}
    prog = [by_batch[b] for b in steady_batches]
    first = min(steady, key=lambda v: v["batch"])
    last = max(steady, key=lambda v: v["batch"])
    # sustained rate: records committed after the first steady commit,
    # per second until the last one
    committed_rps = sum(p["numInputRows"] for p in prog[1:]) / (last["commit"] - first["commit"])

    # files written but not yet taken by a batch, when each batch started;
    # a backlog that keeps growing at the offered rate is a failure
    batch_of = [lat[n]["batch"] if n in lat else math.inf for n in names]
    started = {v["batch"]: v["start"] for v in steady}
    backlog = [
        sum(1 for w, fb in zip(generator.written, batch_of) if w <= started[b] and fb > b)
        for b in steady_batches
    ]
    r.attempted += 1
    if max(backlog) > 3 * TRIGGER_S / FILE_PERIOD_S:
        r.fail(f"backlog grew to {max(backlog)} files at the offered rate")

    lats = [v["latency"] for v in steady]
    tail_v, tail_p, n = tail(lats)
    r.notes["latency_tail"] = {"percentile": tail_p, "samples": n}
    r.notes["stop_interrupted_batch"] = interrupted
    r.notes["steady_trigger_ms"] = [p["durationMs"]["triggerExecution"] for p in prog]
    r.notes["gen_late_max_s"] = generator.late_max_s
    offered_rps = (n_written - 1) * WORDS_PER_FILE / (generator.written[-1] - generator.written[0])
    r.notes["gen_offered_rps"] = offered_rps
    e2e = {
        "latency_p50_s": median(lats),
        "latency_tail_s": tail_v,
        "throughput_rps": committed_rps,
        "peak_rss_mb": r.peak_rss_mb(),
    }
    if not r.trace:
        return e2e, {}

    from spans import account_spans, per_op

    # recovery: restart → commit of the last batch holding a file over
    # the latency limit; the batches up to it drained the backlog
    after = [v for v in lat.values() if v["commit"] > t_restart]
    over = [v["commit"] for v in after if v["latency"] > LATENCY_LIMIT_S]
    t_rec = max(over) if over else min(v["commit"] for v in after)
    drained = {v["batch"] for v in after if v["commit"] <= t_rec}
    sink_spans = [s for s in tracer.named("sinks.batch") if s["op"] in steady_batches]
    with r.collecting():
        acc = account_spans(tracer, r.status, sink_spans, r.notes["parallelism"])

    def phase(key: str) -> float:
        return median(p["durationMs"].get(key, 0) for p in prog)

    state = [p["stateOperators"][0] for p in prog]
    even = [v["latency"] for v in steady if v["batch"] % 2 == 0]
    odd = [v["latency"] for v in steady if v["batch"] % 2 == 1]
    layers = per_op(acc)
    layers.update(
        {
            "trigger.count": len(by_batch),
            "trigger.input_rows": median(p["numInputRows"] for p in prog),
            "trigger.total_ms": phase("triggerExecution"),
            "trigger.latest_offset_ms": phase("latestOffset"),
            "trigger.planning_ms": phase("queryPlanning"),
            "trigger.get_batch_ms": phase("getBatch"),
            "trigger.add_batch_ms": phase("addBatch"),
            "trigger.commit_ms": phase("commitOffsets"),
            "trigger.wal_commit_ms": phase("walCommit"),
            "trigger.queue_wait_s": median(v["start"] - v["due"] for v in steady),
            "trigger.engine_overhead_ms": median(
                p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in prog
            ),
            "sources.backlog_files": median(backlog),
            "sources.backlog_max_files": max(backlog),
            "gen.late_max_s": generator.late_max_s,
            "gen.offered_rps": offered_rps,
            "bolt.state_rows": state[-1]["numRowsTotal"],
            "bolt.rows_updated": median(o["numRowsUpdated"] for o in state),
            "bolt.state_commit_ms": median(o["commitTimeMs"] for o in state),
            "bolt.state_memory_bytes": median(o["memoryUsedBytes"] for o in state),
            "bolt.checkpoint_bytes": dir_bytes(ckpt),
            "sinks.batch_s": median(s["end"] - s["start"] for s in sink_spans),
            "sinks.publishes": len(published),
            "sinks.republishes": len(published) - len(set(published)),
            # records per second of trigger execution: the rate the
            # engine could sustain back to back
            "stream.capacity_rps": median(
                p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0) for p in prog
            ),
            "stream.catchup_rps": sum(by_batch[b]["numInputRows"] for b in drained) / (t_rec - t_restart),
            "stream.recovery_s": t_rec - t_restart,
            "trace.overhead_share": median(even) / median(odd) - 1 if even and odd else 0.0,
        }
    )
    return e2e, layers
