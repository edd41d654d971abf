"""Seeded benchmark inputs, generated once per (spec, seed) and cached.

The engine only ever sees files: a change feed (``multi_table_plugins_spark.feed``)
for the CDC workload, and a star-schema + text + embedding table set in the
shape of the repository's query test data for the query suite. Everything is
written under the benchmark's own work directory, keyed by a digest of the
spec, so a second run with the same seed skips generation.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from multi_table_plugins_spark.feed import FeedSpec, generate_feed

#: CDC feed shapes per size: the bench feed's key skew and op mix (15% of
#: events on 8 hot keys, I/U/D 50/40/10, ~64 tokens) spread over 16
#: tables, with one feed file per batch. A full-size file holds ~62
#: events per table, so each batch touches all 4 buckets of every table.
#: 14 files are two set-up batches and four timed compaction cycles.
FEEDS = {
    "full": dict(n_events=14 * 1_000, n_tables=16, keys_per_table=2_000, n_files=14),
    "smoke": dict(n_events=9 * 100, n_tables=16, keys_per_table=200, n_files=9),
}
#: query-suite scale factor per size
SCALE = {"full": 0.01, "smoke": 0.001}


def feed_spec(size: str, seed: int) -> FeedSpec:
    """The CDC feed spec for ``size`` and ``seed``."""
    return FeedSpec(
        hot_fraction=0.15,
        hot_keys=8,
        p_insert=0.5,
        p_update=0.4,
        p_delete=0.1,
        avg_tokens=64,
        seed=seed,
        **FEEDS[size],
    )


def _cached(root: str, kind: str, key: dict, build) -> tuple[str, float]:
    """Directory for ``key`` under ``root`` — built by ``build(dir)`` unless
    a finished copy exists. Returns (dir, generation seconds; 0 if cached)."""
    digest = hashlib.sha1(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(root, "inputs", f"{kind}-{digest}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d, 0.0
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    build(d)
    with open(done, "w") as f:
        json.dump(key, f)
    return d, time.perf_counter() - t0


def cached_feed(root: str, spec: FeedSpec) -> tuple[list[str], float]:
    """Feed files (LSN order) for ``spec`` and the generation seconds."""
    d, gen_s = _cached(
        root, "feed", dataclasses.asdict(spec), lambda d: generate_feed(d, spec)
    )
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    return files, gen_s


def cached_tables(root: str, sf: float, seed: int) -> tuple[str, float]:
    """Directory holding the query suite's tables at scale ``sf``."""
    return _cached(
        root,
        "tables",
        {"sf": sf, "seed": seed, "v": 2},
        lambda d: write_tables(d, sf, seed),
    )


_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "blue cold hot red small new old large".split()
_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.43, 0.14, 0.14, 0.15, 0.14]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _days(rng, n: int, lo_day: int, span: int) -> pa.Array:
    """Midnight timestamps ``lo_day + [0, span)`` days after 1995-01-01."""
    d = rng.integers(lo_day, lo_day + span, size=n).astype(np.int64)
    return pa.array((_EPOCH_1995 * 1_000_000) + d * _DAY_US, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_tables(out: str, sf: float, seed: int) -> None:
    """Write the ten query-suite tables at scale ``sf``: the same names,
    column types and value domains as the repository's query test data
    (TPC-H-like star schema, an event stream, text documents, embeddings)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 100)
    n_li, n_ev = max(int(6_000_000 * sf), 400), max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    put("region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    put("customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    put("supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    put("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    put("orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    put("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 1, 2498),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024 * 1_000_000
    put("events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    put("documents", {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
