"""Seeded fixture tables for the benchmark.

Writes the ten tables the engine's plans read (``catalog.TABLES``) as
single-file parquet, with the schemas and physical types of the
TPC-H-ish fixtures the engine is developed against: int64 keys, naive
``timestamp[us]`` dates, ``list<float>`` embeddings, word-salad
documents with injected exact and near duplicates. Row counts scale
with ``sf`` like those fixtures (lineitem ~6M rows per unit of sf).

The value sets (nations, segments, priorities, part words, the common
vocabulary, event types) are ``tools/gen_fixtures.py``'s, imported from
it. The distributions follow it too, except where a table of a few
hundred rows needs otherwise:

- an exact duplicate document every 300 docs, not every 500, so a
  500-doc corpus holds some;
- a tail of 2,000 rare terms, not ``2000 * sqrt(n_docs / 5000)``, so
  unrelated small documents rarely look alike and the dedup queries'
  work comes from the injected pairs rather than from the seed;
- draws from one seeded numpy generator instead of ``xxhash64`` of
  the key, so a seed picks a different table.

Every value comes from one ``numpy`` generator seeded by ``seed``, so
the same (seed, sf) always gives byte-identical tables. Generation runs
in the benchmark's own process with numpy and pyarrow only: it starts no Spark
job, so the engine's status store sees nothing but the workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_fixtures import (
    ADJS, EVENT_TYPES, MKTSEGS, NATIONS, NOUNS, PRIORITIES, REGIONS, TYPES, VOCAB,
)

TAIL_TERMS = 2_000

#: Natural keys, used by the migration workload's skip-duplicates path.
#: ``lineitem`` has none (two lines of one order may share a line
#: number), so it copies through the multiset ``exceptAll`` path.
KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word salad, 15..95 tokens drawn Zipf-wise from the common words
    plus a long tail of rare terms, as real corpora have; every 300th
    doc repeats an earlier doc exactly and every 50th repeats one with
    two tokens edited, so the dedup queries find both kinds of pair.
    The tail keeps chance similarity between unrelated docs rare, so
    the dedup work depends on the injected pairs, not on the seed."""
    vocab = np.asarray(VOCAB + [f"term{k}" for k in range(TAIL_TERMS)], dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    lengths = rng.integers(15, 96, n)
    docs = [list(vocab[rng.choice(len(vocab), k, p=zipf)]) for k in lengths]
    for i in range(n):
        if i % 300 == 7 and i > 300:
            docs[i] = list(docs[i - 300])
        elif i % 50 == 2 and i > 50:
            src = list(docs[i - 25])
            src[0] = "edited"
            src[len(src) // 2] = "slightly"
            docs[i] = src
    text = [" ".join(d) for d in docs]
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(["en" if i % 20 else "de" for i in ids]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """64-dim float32 vectors around 10 cluster centres; label = cluster."""
    centers = rng.standard_normal((10, 64)).astype("float32") * 0.3
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.standard_normal((n, 64)).astype("float32") * 0.12
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * 64, 64, dtype="int32"))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, sf), in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(REGIONS), pa.int32()),
        "r_name": pa.array([f"Region#{i}" for i in range(REGIONS)]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS), pa.int32()),
        "n_name": pa.array([f"Nation#{i}" for i in range(NATIONS)]),
        "n_regionkey": pa.array(np.arange(NATIONS) % REGIONS, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, 0, 10_000, n_cust)),
        "c_mktsegment": _pick(rng, MKTSEGS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, 0, 10_000, n_supp)),
    })
    adj = np.asarray(ADJS, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
    })
    order_day = rng.integers(0, 2_400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995_US + order_day * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    n_li = 4 * n_ord
    li_order = rng.permutation(n_li) // 4
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) % 4 + 1 + rng.integers(0, 3, n_li), pa.int32()
        ),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(
            _EPOCH_1995_US
            + (order_day[li_order] + rng.integers(0, 90, n_li)) * _DAY_US
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0, 560, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, one row group each, like
    the engine's fixture sets (``optimize_layout`` re-chunks them)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
