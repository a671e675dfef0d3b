"""Seeded input generators: the TPC-H-ish fixture tables and a pixel table.

Everything is derived from one ``numpy.random.Generator`` seeded by the
benchmark's ``--seed``, so the same seed writes the same files. Schemas and
value distributions follow FIXTURES.md (the shapes the query corpus and its
DuckDB oracles were written against); row counts scale with ``sf`` exactly
as the TESTDATA.md fixtures do (orders = 1.5M·sf, lineitem ≈ 4×orders,
part = 200k·sf, documents = 50k·sf with a 500-row floor, ...).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the TESTDATA.md fixtures (load_table's fan_out
    # heuristic depends on the scan being a single unsplittable partition)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(start: dt.datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(int(1_500_000 * sf), 100)
    n_cust = max(int(150_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    n_users = max(n_cust // 10, 10)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }), f"{out_dir}/supplier.parquet")
    words = np.array(["large ring", "hot bolt", "blue ring", "small nut", "red gear"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(words, n_part)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2)),
    }), f"{out_dir}/part.parquet")

    epoch = dt.datetime(1995, 1, 1)
    o_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": _days(epoch, o_day),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    }), f"{out_dir}/orders.parquet")

    # lines per order ~ 1 + Poisson(3): the sf0.1 fixture's 1..17 spread
    per_order = 1 + rng.poisson(3.0, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(epoch, np.minimum(o_day[l_order] + rng.integers(1, 122, n_li),
                                              2499)),
    }), f"{out_dir}/lineitem.parquet")

    # events: 30 days from 2024-01-01, sub-second jitter, ids in time order
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_events)),
        "value": pa.array(np.round(rng.exponential(60.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet")

    # documents: bag-of-words prose over a shared vocabulary; 5% are an
    # earlier document plus a trailing "dup" token (the near-duplicates the
    # dedup/similarity queries look for)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    # embeddings: ten label clusters, unit-normalized float32 vectors
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), f"{out_dir}/embeddings.parquet")
    return {"orders": n_orders, "lineitem": n_li, "part": n_part,
            "events": n_events, "documents": n_docs, "embeddings": n_vecs}


def write_pixels(path: str, seed: int, tiles: int = 4, days: int = 30,
                 grid: int = 64) -> int:
    """Write the raster workload's pixel table; returns its row count.

    ``tiles`` tiles × ``days`` daily granules on a ``grid``×``grid`` pixel
    grid, plus a second same-day granule every third day. Each granule has
    its own cloud fraction (fmask 2/4), ~3% of pixels sit outside the AOI
    (all three bands NULL), and the per-day vegetation level carries
    seeded drops so the event detector has something to find.
    """
    rng = np.random.default_rng(seed)
    n_px = grid * grid
    yy, xx = np.divmod(np.arange(n_px, dtype=np.int32), grid)
    # seasonal NDVI level per day with two seeded disturbance days
    level = 0.55 + 0.15 * np.sin(np.linspace(0, np.pi, days))
    for d in rng.choice(np.arange(3, days - 1), size=2, replace=False):
        level[d] -= rng.uniform(0.45, 0.6)
    base_ndvi = rng.normal(0.0, 0.05, n_px)  # per-pixel field structure
    granules = []
    for tile in range(tiles):
        for d in range(days):
            times = [10 * 60 + 7 * tile]  # minutes after midnight
            if d % 3 == 0:
                times.append(15 * 60 + 7 * tile)
            for minute in times:
                granules.append((tile, d, minute))
    cols: dict[str, list] = {k: [] for k in
                             ("tile", "us", "red", "nir", "blue", "fmask")}
    day0 = 1_717_200_000_000_000  # 2024-06-01T00:00:00Z in µs
    for tile, d, minute in granules:
        cloud = rng.choice([0.02, 0.1, 0.25, 0.6], p=[0.5, 0.3, 0.15, 0.05])
        ndvi = np.clip(level[d] + base_ndvi + rng.normal(0, 0.03, n_px), -0.2, 0.9)
        red = rng.uniform(400, 1800, n_px)
        nir = red * (1 + ndvi) / (1 - ndvi)
        blue = rng.uniform(100, 1200, n_px)
        fmask = np.where(rng.random(n_px) < cloud, rng.choice([2, 4], n_px),
                         rng.choice([0, 1, 64], n_px)).astype(np.int32)
        outside = rng.random(n_px) < 0.03
        cols["tile"].append(np.full(n_px, tile))
        cols["us"].append(np.full(n_px, day0 + d * 86_400_000_000
                                  + minute * 60_000_000, dtype=np.int64))
        for k, v in (("red", red), ("nir", nir), ("blue", blue)):
            cols[k].append(np.ma.masked_array(v.astype(np.float32), outside))
        cols["fmask"].append(fmask)
    table = pa.table({
        "tile_id": pa.array(np.char.add("T", np.concatenate(cols["tile"]).astype(str))),
        "time": pa.array(np.concatenate(cols["us"]), type=pa.timestamp("us", tz="UTC")),
        "y": pa.array(np.tile(yy, len(granules))),
        "x": pa.array(np.tile(xx, len(granules))),
        **{k: pa.array(np.ma.concatenate(cols[k])) for k in ("red", "nir", "blue")},
        "fmask": pa.array(np.concatenate(cols["fmask"])),
    })
    pq.write_table(table, path)
    return table.num_rows
