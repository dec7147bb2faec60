"""Self-tests of the benchmark's own rules; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import time

import numpy as np
import pytest

import gen
import wl_statefold
import wl_wordcount
from spans import Tracer, account
from stats import self_times, tail


def test_tail_falls_back_to_max_below_eleven_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


@pytest.mark.parametrize("n", [11, 37, 100, 1000])
def test_tail_has_exactly_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    value, pct, count = tail(xs)
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    if n == 100:
        assert pct == 90.0


def _write(path, text, mtime):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    os.utime(path, (mtime, mtime))


def test_file_batch_commit_attribution(tmp_path):
    ckpt = str(tmp_path)
    entry = lambda name, b: json.dumps(  # noqa: E731
        {"path": f"file:///in/{name}", "timestamp": 0, "batchId": b}
    )
    # batch 0..1 rolled up in a compact file, batch 2 in its own entry,
    # batch 3 started but never committed
    _write(f"{ckpt}/sources/0/1.compact", "v1\n" + "\n".join([entry("f0.txt", 0), entry("f1.txt", 1)]) + "\n", 1)
    _write(f"{ckpt}/sources/0/2", "v1\n" + entry("f2.txt", 2) + "\n", 1)
    _write(f"{ckpt}/sources/0/3", "v1\n" + entry("f3.txt", 3) + "\n", 1)
    for b, (start, commit) in enumerate([(100.0, 100.5), (101.0, 101.25), (102.0, 102.75)]):
        _write(f"{ckpt}/offsets/{b}", "v1\n{}\n", start)
        _write(f"{ckpt}/commits/{b}", "v1\n{}\n", commit)
    _write(f"{ckpt}/offsets/3", "v1\n{}\n", 103.0)
    due = {"f0.txt": 99.5, "f1.txt": 100.2, "f2.txt": 101.9, "f3.txt": 102.5, "f4.txt": 103.1}
    lat = wl_wordcount.file_latencies(ckpt, due)
    assert sorted(lat) == ["f0.txt", "f1.txt", "f2.txt"]
    assert lat["f1.txt"]["batch"] == 1
    assert lat["f1.txt"]["start"] == pytest.approx(101.0)
    assert lat["f1.txt"]["latency"] == pytest.approx(101.25 - 100.2)
    assert lat["f2.txt"]["latency"] == pytest.approx(102.75 - 101.9)
    assert wl_wordcount._running_batch(ckpt)


def test_generator_writes_on_schedule_with_rename(tmp_path):
    payloads = gen.word_files(5, 4, 10)
    out, tmp = tmp_path / "in", tmp_path / "tmp"
    out.mkdir()
    tmp.mkdir()
    g = wl_wordcount.Generator(payloads, str(out), str(tmp), time.time() + 0.05)
    g.start()
    g.join(timeout=10)
    assert not g.is_alive()
    assert sorted(os.listdir(out)) == [f"f{k:06d}.txt" for k in range(4)]
    assert os.listdir(tmp) == []
    assert (out / "f000002.txt").read_bytes() == payloads[2]
    for k, written in enumerate(g.written):
        assert written >= g.due(k)


def test_generators_are_deterministic(tmp_path):
    a = gen.word_files(7, 3, 500)
    b = gen.word_files(7, 3, 500)
    c = gen.word_files(8, 3, 500)
    assert a == b and a != c
    counts = gen.word_counts(a)
    assert sum(counts.values()) == 1500
    assert counts.most_common(1)[0][0] == gen.HOT_WORD

    ka = gen.keyed_batches(7, 4, 100, 10)
    kb = gen.keyed_batches(7, 4, 100, 10)
    assert all(x.equals(y) for x, y in zip(ka, kb))
    assert not ka[1].equals(gen.keyed_batches(8, 4, 100, 10)[1])
    # every batch adds its fresh keys
    assert ka[3]["k"].to_numpy().max() >= 30

    for d in ("x", "y"):
        gen.write_tables(7, str(tmp_path / d), 50, 20, 200)
    for name in os.listdir(tmp_path / "x"):
        import pyarrow.parquet as pq

        assert pq.read_table(tmp_path / "x" / name).equals(pq.read_table(tmp_path / "y" / name))


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 2, "start": 3.5, "end": 4.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_spans_nest_per_thread_and_switch_off():
    import threading

    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass

        def worker():
            with tr.span("worker"):
                pass

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=5)
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["worker"]["parent"] is None  # another thread's stack
    tr.enabled = False
    with tr.span("off") as sid:
        assert sid is None
    assert "off" not in {s["name"] for s in tr.spans}


def test_account_skips_skipped_stages_and_derives_floor():
    stages = {
        1: {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 4, "numFailedTasks": 0,
            "executorRunTime": 2000, "executorCpuTime": 1e9, "firstTaskLaunchedTime": 1000,
            "completionTime": 2000, "inputRecords": 10},
        2: {"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0, "numFailedTasks": 0},
        3: {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 2, "numFailedTasks": 0,
            "executorRunTime": 1000, "firstTaskLaunchedTime": 1500, "completionTime": 2500},
    }
    a = account([{"stageIds": [1, 2]}, {"stageIds": [3]}], stages, wall_s=4.0, slots=2)
    assert a["spark.jobs"] == 2 and a["spark.stages"] == 2 and a["spark.tasks"] == 6
    assert a["spark.sched_floor_s"] == pytest.approx(4.0 - 1.5)
    assert a["spark.slot_util"] == pytest.approx(3.0 / 8.0)
    assert a["io.input_rows"] == 10


def test_fold_models_match_a_naive_dict_fold():
    batches = gen.keyed_batches(3, 5, 300, 40)
    mono_k, mono = wl_statefold.model_monoid(batches)
    last_k, last = wl_statefold.model_latest(batches)
    naive, latest = {}, {}
    for t in batches:
        for k, v, bits, ts, uid in zip(*(t[c].to_pylist() for c in ("k", "v", "bits", "ts", "uid"))):
            s, lo, hi, b = naive.get(k, (0, v, v, 0))
            naive[k] = (s + v, min(lo, v), max(hi, v), b | bits)
            if k not in latest or (ts, uid) > latest[k][:2]:
                latest[k] = (ts, uid, v)
    assert mono_k.tolist() == sorted(naive)
    for i, k in enumerate(mono_k.tolist()):
        assert (mono["s_sum"][i], mono["s_min"][i], mono["s_max"][i], mono["s_or"][i]) == naive[k]
    assert last_k.tolist() == sorted(latest)
    for i, k in enumerate(last_k.tolist()):
        assert (last["ts"][i], last["uid"][i], last["v"][i]) == latest[k]
