"""Seeded input generation for the benchmark.

Every table the engine's ``tables.TABLE_NAMES`` lists is written as one
parquet file with the same column names and types as the engine's fixture
tables, so ``tables.register_views`` and the registered queries run on it
unchanged. Table sizes, the shape of the planted near-duplicate groups and
the number of rows per ingest day are fixed; the seed only draws values.
That keeps the cost of one op about the same from seed to seed, which is
what lets a median over ten seeds be steady.

Nothing here imports Spark or the engine: the program only ever sees the
files written below.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 3000
N_EVENTS = 2000
N_BASE_DOCS = 100
N_DUP_GROUPS = 20  # each group adds one exact copy and one near copy
N_EMBEDDINGS = 200

EPOCH = dt.date(1995, 1, 1)
ORDER_DAYS = 365  # o_orderdate spans EPOCH .. EPOCH + 364
MAX_SHIP_LAG = 30
# ingest: the standing table starts with the STANDING_DAYS ship days before
# INGEST_START; op i ingests day INGEST_START + i.
INGEST_START_DAY = 273
STANDING_DAYS = 60
INGEST_DAYS = 90
CORRECTION_DAYS = 2  # earlier partitions each day's corrections touch
CORRECTION_SHARE = 0.10  # re-sent rows per new row

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do", "fe", "gu", "hi"]
# 15 * 15 = 225 two-syllable words: a vocabulary wide enough that unrelated
# documents essentially never collide under SimHash or MinHash, so the
# only near-duplicates are the planted ones and their count is fixed.
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES]

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
STANDING_COLUMNS = [f.name for f in LINEITEM_SCHEMA] + ["ship_dt"]
# the engine's tables.TABLE_NAMES; repeated here so generation needs no engine
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    """Round to the 0.01 grid the engine's integer-unit money sums expect."""
    return np.round(x, 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _lineitem(rng: np.random.Generator) -> tuple[pa.Table, np.ndarray]:
    # lines per order cycle 1..7 in a seeded order: the total row count and
    # the basket-size histogram are the same for every seed
    lines = rng.permutation(np.resize(np.arange(1, 8), N_ORDERS))
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    order_day = rng.integers(0, ORDER_DAYS, N_ORDERS)
    ship_day = order_day[okey] + rng.integers(1, MAX_SHIP_LAG + 1, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(0, N_PART, n)
    price = _cents(qty * (900.0 + (partkey % 1000) / 10.0) * rng.uniform(0.9, 1.1, n))
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, n)],
            "l_linestatus": status[rng.integers(0, 2, n)],
            "l_shipdate": _ts(ship_day),
        },
        schema=LINEITEM_SCHEMA,
    ), order_day


def _documents(rng: np.random.Generator) -> tuple[pa.Table, list[tuple[int, int, int]]]:
    """Base documents of 8-30 random vocabulary words, plus N_DUP_GROUPS
    planted groups: each picks a base document and adds an exact copy and a
    copy with one word appended. Returns the table and the planted groups
    (base id, exact copy id, near copy id): every pair inside a group is a
    near-duplicate, and no pair outside one is."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 31))]) for _ in range(N_BASE_DOCS)]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), N_BASE_DOCS)]
    sources = [f"src{i}" for i in rng.integers(0, 20, N_BASE_DOCS)]
    groups = []
    for base in rng.choice(N_BASE_DOCS, N_DUP_GROUPS, replace=False):
        groups.append((int(base), len(texts), len(texts) + 1))
        texts.append(texts[base])
        texts.append(texts[base] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
        langs += [langs[base]] * 2
        sources += [sources[base]] * 2
    table = pa.table(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, groups


def _ingest_batches(rng: np.random.Generator, lineitem: pa.Table, out_dir: str) -> list[dict]:
    """Standing table (hive-partitioned by ship_dt) plus one batch file per
    ingest day: that day's lineitem rows and re-sent, corrected rows drawn
    from CORRECTION_DAYS earlier days. Returns per-day metadata."""
    li = lineitem.to_pandas()
    li["ship_day"] = (li["l_shipdate"] - np.datetime64(EPOCH.isoformat())).dt.days
    li["ship_dt"] = li["l_shipdate"].dt.date
    start = INGEST_START_DAY
    standing = li[(li.ship_day >= start - STANDING_DAYS) & (li.ship_day < start)]
    pq.write_to_dataset(
        pa.Table.from_pandas(standing[STANDING_COLUMNS], preserve_index=False),
        os.path.join(out_dir, "standing"),
        partition_cols=["ship_dt"],
        basename_template="part-{i}.parquet",
    )
    days = []
    for i in range(INGEST_DAYS):
        day = start + i
        new = li[li.ship_day == day]
        # corrections come from rows already in the standing table or
        # ingested on an earlier day, in exactly CORRECTION_DAYS partitions
        lo = start - STANDING_DAYS
        pick = rng.choice(np.arange(lo, day), CORRECTION_DAYS, replace=False)
        pool = li[li.ship_day.isin(pick)]
        k = min(len(pool), max(1, int(round(CORRECTION_SHARE * len(new)))))
        fix = pool.iloc[np.sort(rng.choice(len(pool), k, replace=False))].copy()
        fix["l_quantity"] = fix["l_quantity"] + 1.0
        fix["l_extendedprice"] = _cents(fix["l_extendedprice"] * 1.05)
        fix["l_returnflag"] = "R"
        batch = pa.Table.from_pandas(
            pd.concat([new, fix])[STANDING_COLUMNS], preserve_index=False
        )
        path = os.path.join(out_dir, "batches", f"day_{i:03d}.parquet")
        _write(batch, path)
        days.append(
            {
                "path": path,
                "day": (EPOCH + dt.timedelta(days=int(day))).isoformat(),
                "rows": batch.num_rows,
                "bytes": os.path.getsize(path),
                "touched": sorted({str(d) for d in batch.column("ship_dt").to_pylist()}),
            }
        )
    return days


def generate(seed: int, out_dir: str) -> dict:
    """Write every input for ``seed`` under ``out_dir``; return a manifest
    (JSON-serialisable) with the data directory, the ingest days, the
    dashboard parameters and the planted duplicate groups."""
    rng = np.random.default_rng(seed)
    data = os.path.join(out_dir, "data")
    os.makedirs(os.path.join(out_dir, "ingest", "batches"), exist_ok=True)
    os.makedirs(data, exist_ok=True)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           os.path.join(data, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           os.path.join(data, "nation.parquet"))
    _write(pa.table({"c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                     "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                     "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
                     "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]}),
           os.path.join(data, "customer.parquet"))
    _write(pa.table({"s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                     "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                     "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_SUPPLIER))}),
           os.path.join(data, "supplier.parquet"))
    colors = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    nouns = ["widget", "ring", "bolt", "gear", "panel", "valve", "spring", "frame"]
    pk = np.arange(N_PART, dtype=np.int64)
    _write(pa.table({"p_partkey": pk,
                     "p_name": [f"{colors[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))],
                     "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
                     "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])[
                         rng.integers(0, 6, N_PART)],
                     "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                     "p_retailprice": 900.0 + (pk % 1000) / 10.0}),
           os.path.join(data, "part.parquet"))

    lineitem, order_day = _lineitem(rng)
    _write(lineitem, os.path.join(data, "lineitem.parquet"))
    _write(pa.table({"o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                     "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
                     "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, N_ORDERS)),
                     "o_orderdate": _ts(order_day),
                     "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]}),
           os.path.join(data, "orders.parquet"))

    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_off = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    _write(pa.table({"event_id": np.arange(N_EVENTS, dtype=np.int64),
                     "ts": pa.array(ev_base + ev_off.astype("timedelta64[us]"), pa.timestamp("us")),
                     "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
                     "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
                     "value": _cents(rng.uniform(0.01, 500.0, N_EVENTS)),
                     "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]}),
           os.path.join(data, "events.parquet"))

    documents, dup_groups = _documents(rng)
    _write(documents, os.path.join(data, "documents.parquet"))
    emb = rng.normal(size=(N_EMBEDDINGS, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({"vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
                     "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                     "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)}),
           os.path.join(data, "embeddings.parquet"))

    days = _ingest_batches(rng, lineitem, os.path.join(out_dir, "ingest"))
    return {
        "seed": seed,
        "data_dir": data,
        "row_counts": {t: pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows for t in TABLES},
        "standing_days": STANDING_DAYS,
        "standing_columns": STANDING_COLUMNS,
        "standing_dir": os.path.join(out_dir, "ingest", "standing"),
        "ingest_days": days,
        # the dashboard's filter state for the whole run
        "rollup_month": int(rng.integers(1, 13)),
        "planted_groups": dup_groups,
    }
