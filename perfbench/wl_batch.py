"""batch_probe: the pinned scaling probe of ``bench.py`` as a closed loop.

``q1_pricing_summary``, ``er_qgram_blocked_match`` and
``dedup_setsim_exact_jaccard_join``, one after another, each through
``registry.all_queries()[name].fn`` plus a noop write; one pass over the
three is one operation. The probe touches neither the streaming engine
nor the state layer, so a streaming or state change must predict no
change here; its time is set by ``io`` scans, the similarity and
selection operators, Spark's planning and scheduling floor and task
skew.

Inputs are generated from the seed with the test tables' schemas,
smaller than sf0.1 (lineitem 100k rows, customer 2.5k, documents 250):
the registered set-similarity oracle compares every pair of documents
in DuckDB and must run inside each benchmark run, and the benchmark's
time budget allows about 35 s per run. At this size a pass is mostly
the planning and scheduling floor, which dominates at sf0.1 as well.

Correctness: the warm-up pass collects each result and compares it with
the registered DuckDB oracle. Every timed run observes a row count and
an order-insensitive hash sum of its output through ``Dataset.observe``
(accumulated during the noop write, no extra job), which must equal the
verified warm-up's.
"""

from __future__ import annotations

import math
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from stats import median, tail

#: a run makes ceil(--seconds / this) timed passes, at least two, so
#: every run of one ``--seconds`` does the same work (a warm pass takes
#: about 4 s at local[4])
NOMINAL_PASS_S = 3.4
QUERIES = ("q1_pricing_summary", "er_qgram_blocked_match", "dedup_setsim_exact_jaccard_join")
CUSTOMERS = 2_500
DOCUMENTS = 250
LINEITEMS = 100_000
#: the tables each query scans, for the rows-per-second figure
SCANS = {
    "q1_pricing_summary": ("lineitem",),
    "er_qgram_blocked_match": ("customer",),
    "dedup_setsim_exact_jaccard_join": ("documents",),
}


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(cols, rows) -> tuple[list, list]:
    """Order-insensitive form: columns sorted by name, then rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def oracle_rows(data_dir: str, specs) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in ("region", "nation", "customer", "documents", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in QUERIES:
            rel = con.execute(specs[name].oracle)
            out[name] = canon([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def run(r) -> tuple[dict, dict]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from hailstorm_spark.registry import all_queries

    spark = r.build_session()
    tracer = r.tracer
    t_inputs = time.time()
    data = r.dir("data")
    counts = gen.write_tables(r.seed, data, CUSTOMERS, DOCUMENTS, LINEITEMS)
    specs = all_queries()
    # the oracle runs in DuckDB's own threads while Spark's cold pass
    # compiles; its rows are needed only once that pass is collected
    pool = ThreadPoolExecutor(max_workers=1)
    oracle = pool.submit(oracle_rows, data, specs)
    r.notes["setup_inputs_s"] = time.time() - t_inputs
    pass_rows = sum(counts[t] for q in QUERIES for t in SCANS[q])

    def observed(df):
        obs = Observation()
        digest = F.sum(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)"))
        return df.observe(obs, F.count(F.lit(1)).alias("n"), digest.alias("h")), obs

    t_warm = time.time()
    verified, got = {}, {}
    for name in QUERIES:
        df, obs = observed(specs[name].fn(spark, data))
        got[name] = canon(df.columns, [tuple(row) for row in df.collect()])
        verified[name] = (obs.get["n"], obs.get["h"])
    expected = oracle.result()
    pool.shutdown()
    for name in QUERIES:
        r.attempted += 1
        if got[name] != expected[name]:
            r.fail(f"{name} differs from its DuckDB oracle")

    per_query = {name: [] for name in QUERIES}

    def run_pass(op: int) -> float:
        t = time.perf_counter()
        with tracer.span("op", op=op):
            for name in QUERIES:
                tq = time.perf_counter()
                with tracer.span("query", query=name):
                    with tracer.span("queries.build"):
                        df, obs = observed(specs[name].fn(spark, data))
                    with tracer.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                per_query[name].append(time.perf_counter() - tq)
                r.attempted += 1
                if (obs.get["n"], obs.get["h"]) != verified[name]:
                    r.fail(f"{name} output changed between runs of the same input")
        return time.perf_counter() - t

    # the verification pass collected; one untimed pass compiles the
    # noop-write path, so the timed passes are alike
    run_pass(-1)
    r.setup_done()
    r.notes["setup_warmup_s"] = time.time() - t_warm
    for times in per_query.values():
        times.clear()

    passes, traced_ops, bare_ops = [], [], []
    for op in range(max(2, math.ceil(r.seconds / NOMINAL_PASS_S))):
        traced = r.trace and op % 2 == 0
        tracer.enabled = traced
        dt = run_pass(op)
        tracer.enabled = False
        passes.append(dt)
        (traced_ops if traced else bare_ops).append(dt)

    tail_v, tail_p, n = tail(passes)
    r.notes["latency_tail"] = {"percentile": tail_p, "samples": n}
    r.notes["passes_s"] = passes
    r.notes["queries_s"] = per_query
    e2e = {
        "latency_p50_s": median(passes),
        "latency_tail_s": tail_v,
        "throughput_rps": pass_rows / median(passes),
        "peak_rss_mb": r.peak_rss_mb(),
    }
    if not r.trace:
        return e2e, {}

    from spans import account_spans, per_op

    ops = tracer.named("op")
    with r.collecting():
        slots = r.notes["parallelism"]
        layers = per_op(account_spans(tracer, r.status, ops, slots))
        # task skew belongs to one query's longest stage: report the
        # worst query of the pass (the set-similarity join)
        queries = account_spans(tracer, r.status, tracer.named("query"), slots)
    layers["spark.task_skew"] = max(a["spark.task_skew"] for a in queries)
    # the scan counters must see every parquet row the pass reads
    r.notes["io_rows_per_parquet_row"] = layers["io.input_rows"] / pass_rows
    layers["queries.build_s"] = sum(s["end"] - s["start"] for s in tracer.named("queries.build")) / len(ops)
    layers["queries.exec_s"] = sum(s["end"] - s["start"] for s in tracer.named("queries.exec")) / len(ops)
    layers["trace.overhead_share"] = (
        median(traced_ops) / median(bare_ops) - 1 if bare_ops else 0.0
    )
    return e2e, layers
