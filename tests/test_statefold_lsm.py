"""r15 state-layer internals: log-structured monoid folds, threshold
compaction, the committed-frontier fast path, touched hints, and the
append-path uniqueness guard.

The structural claims these pin:
- a monoid fold's write path APPENDS O(|batch partials|) bytes and
  never rewrites standing segment files (the LSM contract);
- read_state's merging view equals the eager fold's table exactly;
- a bucket's segment count is bounded by the compaction threshold and
  compaction preserves the per-bucket replay fence;
- the frontier fast path changes no answers, and a fresh closure (a
  restarted process — where replays actually arrive) is still fenced;
- a batch violating the immutable stores' key-uniqueness contract
  dies loudly instead of appending silent duplicate state;
- read_state on a fold-written store runs no Spark job before its
  action (the ``_schema.json`` stamp replaces the footer merge), and
  the stamped read equals the footer-merged read on every layout;
- the monoid append and the latest-wins rewrite shuffle once.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming.statefold import (
    _COMPACT_SEGMENTS,
    bucketed_latest_fold,
    bucketed_monoid_fold,
    read_state,
)

B = 8
MSCHEMA = "user_id long, one long, cents long"


def _files(state_dir: str) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for root, _dirs, names in os.walk(state_dir):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, state_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def _mrows(spark, d):
    return {
        r["user_id"]: (r["one"], r["cents"])
        for r in read_state(spark, d).collect()
    }


def test_monoid_fold_appends_without_rewriting_standing_segments(
    spark, tmp_path
):
    d = str(tmp_path / "state")
    fold = bucketed_monoid_fold(
        d, key="user_id", cols={"one": "sum", "cents": "sum"}, n_buckets=B
    )
    fold(
        spark.createDataFrame([(u, 1, 10 * u) for u in range(30)], MSCHEMA), 0
    )
    snap0 = _files(d)
    fold(spark.createDataFrame([(3, 1, 100)], MSCHEMA), 1)
    snap1 = _files(d)
    # LSM: batch 1 only ADDED files — every batch-0 segment untouched
    for path, meta in snap0.items():
        assert snap1.get(path) == meta, f"standing segment rewritten: {path}"
    assert len(snap1) > len(snap0)
    # and the merging read folds the segments
    got = _mrows(spark, d)
    assert got[3] == (2, 130)
    assert got[4] == (1, 40)


def test_monoid_read_merge_equals_eager_fold_table(spark, tmp_path):
    lsm = str(tmp_path / "lsm")
    fold = bucketed_monoid_fold(
        lsm,
        key="user_id",
        cols={"one": "sum", "cents": "min"},
        n_buckets=B,
    )
    batches = [
        [(u, 1, 100 - u) for u in range(20)],
        [(u, 1, 7) for u in range(0, 20, 3)],
        [(5, 1, 999), (21, 1, 1)],
    ]
    acc: dict[int, tuple[int, int]] = {}
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, MSCHEMA), i)
        for u, one, c in rows:
            po, pc = acc.get(u, (0, None))
            acc[u] = (po + one, c if pc is None else min(pc, c))
    assert _mrows(spark, lsm) == acc


def test_monoid_compaction_bounds_segments_and_keeps_fence(spark, tmp_path):
    d = str(tmp_path / "state")
    log: list = []
    fold = bucketed_monoid_fold(
        d, key="user_id", cols={"one": "sum"}, n_buckets=2, touched_log=log
    )
    n_batches = _COMPACT_SEGMENTS + 3
    one = spark.createDataFrame([(1, 1)], "user_id long, one long")
    for i in range(n_batches):
        fold(one, i)
    # the touched bucket's segment count stays bounded by the threshold
    # (compaction folds it to 1 whenever the count reaches K)
    from hailstorm_spark.streaming.statefold import _bucket_file_counts

    counts = _bucket_file_counts(d)
    assert max(counts.values()) <= _COMPACT_SEGMENTS
    got = {
        r["user_id"]: r["one"] for r in read_state(spark, d).collect()
    }
    assert got == {1: n_batches}
    # fence survived compaction: replaying ANY earlier batch is a no-op
    snap = _files(d)
    for i in range(n_batches):
        fold(one, i)
    assert _files(d) == snap
    assert got == {
        r["user_id"]: r["one"] for r in read_state(spark, d).collect()
    }


def test_monoid_frontier_fast_path_matches_fenced_path(spark, tmp_path):
    fast_d = str(tmp_path / "fast")
    slow_d = str(tmp_path / "slow")
    log: list = []  # touched_log disables the fast path
    fast = bucketed_monoid_fold(
        fast_d, key="user_id", cols={"one": "sum"}, n_buckets=B
    )
    slow = bucketed_monoid_fold(
        slow_d, key="user_id", cols={"one": "sum"}, n_buckets=B,
        touched_log=log,
    )
    for i in range(4):
        rows = spark.createDataFrame(
            [(u, 1) for u in range(i, 10 + i)], "user_id long, one long"
        )
        fast(rows, i)
        slow(rows, i)
    want = {
        r["user_id"]: r["one"] for r in read_state(spark, slow_d).collect()
    }
    got = {
        r["user_id"]: r["one"] for r in read_state(spark, fast_d).collect()
    }
    assert got == want
    # a FRESH closure (= restarted process) replaying an old batch is
    # fenced by the standing _b stamps, not by any in-memory state
    snap = _files(fast_d)
    fresh = bucketed_monoid_fold(
        fast_d, key="user_id", cols={"one": "sum"}, n_buckets=B
    )
    fresh(
        spark.createDataFrame([(u, 1) for u in range(2, 12)],
                              "user_id long, one long"),
        2,
    )
    assert _files(fast_d) == snap


def test_immutable_compaction_bounds_files_and_keeps_rows(spark, tmp_path):
    d = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        d, key="event_id", order_cols=("event_id",), n_buckets=2,
        immutable=True,
    )
    n_batches = _COMPACT_SEGMENTS + 3
    for i in range(n_batches):
        fold(
            spark.createDataFrame(
                [(i, 100 + i, 1, f"v{i}")],
                "user_id long, event_id long, ts_us long, payload string",
            ),
            i,
        )
    from hailstorm_spark.streaming.statefold import _bucket_file_counts

    assert max(_bucket_file_counts(d).values()) <= _COMPACT_SEGMENTS
    rows = {
        (r["event_id"], r["payload"])
        for r in read_state(spark, d).collect()
    }
    assert rows == {(100 + i, f"v{i}") for i in range(n_batches)}
    # fence survived compaction: stale replays no-op, file-identical
    snap = _files(d)
    for i in range(n_batches):
        fold(
            spark.createDataFrame(
                [(i, 100 + i, 1, f"v{i}")],
                "user_id long, event_id long, ts_us long, payload string",
            ),
            i,
        )
    assert _files(d) == snap


def test_immutable_append_rejects_duplicate_keys_in_bucket(spark, tmp_path):
    d = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        d, key="user_id", order_cols=("user_id",), n_buckets=B,
        immutable=True,
    )
    dup = spark.createDataFrame(
        [(7, 1, 1, "a"), (7, 2, 2, "b")],
        "user_id long, event_id long, ts_us long, payload string",
    )
    with pytest.raises(Exception, match="not key-unique"):
        fold(dup, 0)


def test_latest_fold_touched_hint_is_equivalent(spark, tmp_path):
    from hailstorm_spark.functions.hashing import spark_bucket

    hint_d = str(tmp_path / "hint")
    ref_d = str(tmp_path / "ref")
    hint = bucketed_latest_fold(
        hint_d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B
    )
    ref = bucketed_latest_fold(
        ref_d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B
    )
    batches = [
        [(u, u, 100, "a") for u in range(12)],
        [(3, 30, 200, "b"), (5, 50, 200, "c")],
        [(3, 31, 150, "stale")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long, payload string"
        )
        hint(df, i, touched_hint={spark_bucket(r[0], B) for r in rows})
        ref(df, i)
    assert set(map(tuple, read_state(spark, hint_d).collect())) == set(
        map(tuple, read_state(spark, ref_d).collect())
    )


# --------------------------------- stamped reads and single-shuffle writes


def _tagged_jobs(spark, tag: str) -> list[int]:
    return list(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(tag))


def _write_exchanges(spark, run) -> list[int]:
    """Call ``run()`` and return, for every SQL execution it submitted
    that writes files, the number of shuffle ``Exchange`` nodes in its
    physical plan (read from the SQL status store after the listener
    bus drains)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next().executionId()

    first = max(executions(), default=-1) + 1
    run()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for eid in executions():
        if eid < first:
            continue
        nodes = store.planGraph(eid).allNodes().iterator()
        names = []
        while nodes.hasNext():
            names.append(nodes.next().name())
        if any(n.startswith("Execute InsertIntoHadoopFsRelation") for n in names):
            out.append(names.count("Exchange"))
    return out


def test_read_state_submits_no_job_before_its_action(spark, tmp_path):
    """A fold-written store carries its merged schema in a sidecar, so
    building the read_state frame runs no footer-merge job: the first
    Spark job of a read is its own action."""
    m = str(tmp_path / "m")
    lw = str(tmp_path / "l")
    mono = bucketed_monoid_fold(
        m, key="user_id", cols={"one": "sum", "cents": "max"}, n_buckets=B
    )
    latest = bucketed_latest_fold(
        lw, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B
    )
    for i in range(2):
        mono(spark.createDataFrame([(u, 1, u + i) for u in range(20)], MSCHEMA), i)
        latest(
            spark.createDataFrame(
                [(u, i, 10 * i, f"v{i}") for u in range(20)],
                "user_id long, event_id long, ts_us long, payload string",
            ),
            i,
        )
    sc = spark.sparkContext
    for d in (m, lw):
        tag = f"read-state-{os.path.basename(d)}"
        sc.addJobTag(tag)
        try:
            df = read_state(spark, d)
            assert _tagged_jobs(spark, tag) == [], "read_state ran a job"
            assert df.count() == 20
            assert _tagged_jobs(spark, tag), "the action's jobs were not tagged"
        finally:
            sc.removeJobTag(tag)


def test_fold_writes_cross_exactly_one_exchange(spark, tmp_path):
    """Fold writes partition by bucket FIRST and aggregate inside that
    partitioning: the monoid append and the latest-wins rewrite
    (bucketing on the key) each shuffle once."""
    from hailstorm_spark.functions.hashing import spark_bucket

    mono = bucketed_monoid_fold(
        str(tmp_path / "m"), key="user_id", cols={"one": "sum", "cents": "min"},
        n_buckets=B,
    )
    batch = spark.createDataFrame(
        [(u % 13, 1, u) for u in range(60)], MSCHEMA
    )
    mono(batch, 0)
    # batch 1 rides the committed-frontier fast path: the append write
    # is the fold's only job
    assert _write_exchanges(spark, lambda: mono(batch, 1)) == [1]

    latest = bucketed_latest_fold(
        str(tmp_path / "l"), key="user_id", order_cols=("ts_us", "event_id"),
        n_buckets=B,
    )
    schema = "user_id long, event_id long, ts_us long, payload string"
    rows0 = [(u, u, 100, "a") for u in range(30)]
    rows1 = [(u, 100 + u, 200, "b") for u in range(0, 30, 3)]
    latest(spark.createDataFrame(rows0, schema), 0)
    hint = {spark_bucket(r[0], B) for r in rows1}
    assert _write_exchanges(
        spark,
        lambda: latest(spark.createDataFrame(rows1, schema), 1, touched_hint=hint),
    ) == [1]
    got = {
        r["user_id"]: r["payload"]
        for r in read_state(spark, str(tmp_path / "l")).collect()
    }
    assert got == {u: "b" if u % 3 == 0 else "a" for u in range(30)}


# the layouts the statefold tests build, each as (state dir, whether the
# footer-merged read's column order is deterministic)
LSCHEMA = "user_id long, event_id long, ts_us long, payload string"


def _latest(d, **kw):
    return bucketed_latest_fold(
        d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B, **kw
    )


def _layout_monoid(spark, d):
    fold = bucketed_monoid_fold(
        d, key="user_id", cols={"one": "sum", "cents": "min"}, n_buckets=B
    )
    for i in range(3):
        fold(spark.createDataFrame([(u, 1, u * i) for u in range(i, 20)], MSCHEMA), i)
    return True


def _layout_latest(spark, d):
    fold = _latest(d)
    fold(spark.createDataFrame([(u, u, 100, f"v{u}") for u in range(30)], LSCHEMA), 0)
    fold(spark.createDataFrame([(3, 50, 200, "new")], LSCHEMA), 1)
    return True


def _layout_immutable(spark, d):
    fold = bucketed_latest_fold(
        d, key="event_id", order_cols=("event_id",), n_buckets=B, immutable=True
    )
    for i in range(3):
        fold(
            spark.createDataFrame(
                [(u, 100 * i + u, i, f"v{i}") for u in range(10)], LSCHEMA
            ),
            i,
        )
    return True


def _layout_added_last(spark, d):
    fold = _latest(d)
    fold(spark.createDataFrame([(u, u, 100, f"v{u}") for u in range(30)], LSCHEMA), 0)
    fold(
        spark.createDataFrame(
            [(7, 70, 200, "de", "DE")], LSCHEMA + ", country string"
        ),
        1,
    )
    return True


def _layout_added_mid(spark, d):
    fold = _latest(d)
    fold(spark.createDataFrame([(u, u, 100, f"v{u}") for u in range(30)], LSCHEMA), 0)
    fold(
        spark.createDataFrame(
            [(7, "DE", 70, 200, "de")],
            "user_id long, country string, event_id long, ts_us long, payload string",
        ),
        1,
    )
    # the footer merge orders columns by whichever file it lists first
    return False


def _layout_dropped(spark, d):
    fold = _latest(d)
    fold(spark.createDataFrame([(u, u, 100, f"v{u}") for u in range(30)], LSCHEMA), 0)
    fold(
        spark.createDataFrame(
            [(7, 70, 200)], "user_id long, event_id long, ts_us long"
        ),
        1,
    )
    assert not os.path.exists(os.path.join(d, "_schema.json")), (
        "a batch dropping a stamped column must delete the stamp"
    )
    return True


def _layout_rebucketed(spark, d):
    from hailstorm_spark.streaming.statefold import rebucket_state

    _layout_added_last(spark, d)
    rebucket_state(spark, d, key="user_id", new_n_buckets=4)
    return True


def _layout_compacted(spark, d):
    from hailstorm_spark.streaming.statefold import compact_expired_tombstones

    fold = _latest(d)
    fold(
        spark.createDataFrame(
            [(u, u, 100 * u, u % 3 == 0) for u in range(30)],
            "user_id long, event_id long, ts_us long, is_delete boolean",
        ),
        0,
    )
    dirty = compact_expired_tombstones(
        spark, d, F.col("is_delete") & (F.col("ts_us") < 1500)
    )
    assert dirty
    return True


@pytest.mark.parametrize(
    "build",
    [
        _layout_monoid,
        _layout_latest,
        _layout_immutable,
        _layout_added_last,
        _layout_added_mid,
        _layout_dropped,
        _layout_rebucketed,
        _layout_compacted,
    ],
    ids=lambda f: f.__name__.removeprefix("_layout_"),
)
def test_stamped_read_matches_footer_merged_read(spark, tmp_path, build):
    """read_state through the schema stamp returns the same column
    names, types and rows as the footer-merging read of the same files
    (the stamp removed). Column order is compared too, except for a
    column added mid-schema: there the footer merge orders columns by
    file listing, so names and types compare as sets."""
    import shutil

    d = str(tmp_path / "state")
    ordered = build(spark, d)
    ref = str(tmp_path / "merged")
    shutil.copytree(d, ref, ignore=shutil.ignore_patterns("_schema.json"))
    got, want = read_state(spark, d), read_state(spark, ref)
    fields = [(f.name, f.dataType) for f in got.schema.fields]
    want_fields = [(f.name, f.dataType) for f in want.schema.fields]
    if ordered:
        assert fields == want_fields
    else:
        assert sorted(fields, key=str) == sorted(want_fields, key=str)
    names = sorted(want.columns)
    assert sorted(map(repr, got.select(*names).collect())) == sorted(
        map(repr, want.select(*names).collect())
    )
