"""Seeded inputs: an Account event history and a small analytics corpus.

The same seed always yields the same bytes. Tables are written with
pyarrow so input generation never runs through the code under test.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ACCOUNT = "Account"
CREATED = "AccountCreated"
DEPOSITED = "MoneyDeposited"
WITHDRAWN = "MoneyWithdrawn"

# Imported history sits well before "now": the projector's catch-up reads
# up to now - 1 min, and live appends must land after that boundary.
HISTORY_START = datetime(2024, 1, 1, tzinfo=timezone.utc)

OWNERS = ["Ana", "Bruno", "Carla", "Duarte", "Eva", "Filipe", "Gil", "Helena"]


def account_id(seed: int, i: int) -> str:
    return f"acct-{seed:04d}-{i:06d}"


def account_history(seed: int, n_accounts: int, mean_events: int):
    """Interleaved Account streams, version 1 = AccountCreated.

    Withdrawals never exceed the balance, so the data is valid for both
    the handler fold and a plain signed sum. Returns the arrow table and
    ``{aggregate_id: (balance, version)}``.
    """
    rng = np.random.default_rng([seed, 1])
    counts = rng.integers(mean_events // 2, mean_events * 3 // 2 + 1, n_accounts)
    order = np.repeat(np.arange(n_accounts), counts)
    rng.shuffle(order)
    amounts = rng.integers(1, 200, order.size)
    coin = rng.random(order.size)
    opening = rng.integers(100, 1000, n_accounts)
    owners = rng.integers(0, len(OWNERS), n_accounts)

    balance = [0] * n_accounts
    version = [0] * n_accounts
    ids, kinds, bodies, versions = [], [], [], []
    for pos, a in enumerate(order.tolist()):
        version[a] += 1
        if version[a] == 1:
            kind = CREATED
            money = int(opening[a])
            body = {"money": money, "owner": OWNERS[owners[a]]}
            balance[a] = money
        else:
            money = int(amounts[pos])
            if coin[pos] < 0.45 and balance[a] >= money:
                kind = WITHDRAWN
                balance[a] -= money
            else:
                kind = DEPOSITED
                balance[a] += money
            body = {"money": money}
        ids.append(account_id(seed, a))
        kinds.append(kind)
        bodies.append(json.dumps(body, separators=(",", ":")).encode())
        versions.append(version[a])

    start_us = int(HISTORY_START.timestamp() * 1_000_000)
    created = start_us + np.arange(order.size, dtype=np.int64) * 1_000_000
    table = pa.table(
        {
            "aggregate_id": pa.array(ids, pa.string()),
            "aggregate_kind": pa.array([ACCOUNT] * order.size, pa.string()),
            "kind": pa.array(kinds, pa.string()),
            "body": pa.array(bodies, pa.binary()),
            "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
            "aggregate_version": pa.array(versions, pa.int32()),
        }
    )
    model = {account_id(seed, a): (balance[a], version[a]) for a in range(n_accounts)}
    return table, model


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ------------------------------------------------------------ analytics corpus
CORPUS_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
VOCAB = (
    "the a fast slow big small key value row column table data query scan "
    "filter join hash merge sort group agg order part line customer batch "
    "stream window vector spark"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "shiny", "rough"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "nut", "valve", "spring", "pipe"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]


def _days(rng, n, start: datetime, span_days: int) -> np.ndarray:
    base = int(start.timestamp() * 1_000_000)
    return base + rng.integers(0, span_days, n).astype(np.int64) * 86_400_000_000


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_corpus(out_dir: str, seed: int, sf: float) -> None:
    """The ten tables the query registry reads, at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 2])
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_cust = int(150_000 * sf)
    ts = lambda arr: pa.array(arr, pa.timestamp("us"))  # noqa: E731

    tables = {}
    start = int(datetime(2024, 1, 1).timestamp() * 1_000_000)
    ev_ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=0.125, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)),
    })
    day0 = datetime(1995, 1, 1)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": ts(_days(rng, n_ord, day0, 2400)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": ts(_days(rng, n_li, day0, 2500)),
    })
    # all ten, though the slice reads four: the DuckDB oracle views every table
    for name, table in tables.items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
