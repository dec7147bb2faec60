"""Seeded input generators. Every input a workload uses comes from here,
so one ``--seed`` fixes every byte the program reads.

- ``word_files``: the word-count stream's payloads, the reference's
  ``skewdata.txt`` shape — one hot key carrying most of the mass, the
  rest Zipf-distributed over a fixed vocabulary.
- ``keyed_batches``: keyed events for the state-fold loop. Keys are
  Zipf over the keys seen so far, and each batch adds new keys, so the
  state grows batch by batch.
- ``write_tables``: the star-schema tables the batch probe reads, with
  the schemas and value domains of the repository's test tables
  (TESTDATA.md).
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_WORD = "hello"
HOT_SHARE = 0.9
VOCAB_SIZE = 5000
ZIPF_S = 1.1


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def word_files(seed: int, n_files: int, words_per_file: int) -> list[bytes]:
    """``n_files`` newline-separated word payloads."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)
    p = _zipf_p(VOCAB_SIZE, ZIPF_S)
    payloads: list[bytes] = []
    for _ in range(n_files):
        words = vocab[rng.choice(VOCAB_SIZE, size=words_per_file, p=p)]
        words[rng.random(words_per_file) < HOT_SHARE] = HOT_WORD
        payloads.append(("\n".join(words.tolist()) + "\n").encode("ascii"))
    return payloads


def word_counts(payloads: list[bytes]) -> Counter:
    counts: Counter = Counter()
    for p in payloads:
        counts.update(p.decode("ascii").split())
    return counts


def top_k(counts: Counter, k: int) -> list[tuple[str, int]]:
    """Top-k by count descending, word ascending — the sink's order."""
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def keyed_batches(
    seed: int, n_batches: int, rows: int, new_keys: int
) -> list[pa.Table]:
    """Batches of ``(k, v, bits, ts, uid)``. Batch ``i`` introduces
    ``new_keys`` fresh keys; its other rows draw Zipf over every key
    introduced so far. ``(ts, uid)`` is unique, so latest-wins is total."""
    rng = np.random.default_rng([seed, 2])
    out = []
    uid = 0
    n_keys = 0
    for i in range(n_batches):
        fresh = np.arange(n_keys, n_keys + new_keys, dtype=np.int64)
        n_keys += new_keys
        old = rng.choice(n_keys, size=rows - new_keys, p=_zipf_p(n_keys, ZIPF_S))
        keys = np.concatenate([fresh, old.astype(np.int64)])
        rng.shuffle(keys)
        out.append(
            pa.table(
                {
                    "k": keys,
                    "v": rng.integers(-1000, 1000, size=rows, dtype=np.int64),
                    "bits": np.left_shift(
                        np.int64(1), rng.integers(0, 62, size=rows, dtype=np.int64)
                    ),
                    "ts": rng.integers(0, 1 << 40, size=rows, dtype=np.int64),
                    "uid": np.arange(uid, uid + rows, dtype=np.int64),
                }
            )
        )
        uid += rows
    return out


_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_US_PER_DAY = 86_400_000_000
_SHIP_DAY0 = 9132  # 1995-01-02 in epoch days


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, size=n)
    return cents / 100.0


def write_tables(seed: int, out_dir: str, customers: int, documents: int, lineitems: int) -> dict[str, int]:
    """Write region, nation, customer, documents and lineitem parquet
    files under ``out_dir``; returns row counts per table."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION{i:02d}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(customers)],
                "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, customers),
                "c_mktsegment": np.array(_SEGMENTS, dtype=object)[
                    rng.integers(0, 5, customers)
                ].tolist(),
            }
        ),
    }
    lens = rng.integers(10, 101, documents)
    vocab = np.array(_DOC_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)].tolist()) for n in lens]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(documents, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS, dtype=object)[
                rng.choice(5, documents, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ].tolist(),
            "source": [f"src{i % 20}" for i in range(documents)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n = lineitems
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, n // 4), n, dtype=np.int64),
            "l_partkey": rng.integers(0, 20000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1000, n, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 104999.99, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
                rng.integers(0, 3, n)
            ].tolist(),
            "l_linestatus": np.array(["F", "O"], dtype=object)[
                rng.integers(0, 2, n)
            ].tolist(),
            "l_shipdate": pa.array(
                (_SHIP_DAY0 + rng.integers(0, 2498, n)) * _US_PER_DAY,
                pa.timestamp("us"),
            ),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
