"""Seeded input generators for the workloads.

Everything here is plain Python/numpy/pyarrow: the engine only ever sees
the files these functions write.

- ``write_tables``: the ten tables the query registry reads (a TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``), shaped
  like the engine's test data at a given scale factor (uniform keys,
  Poisson event arrivals, ~5% near-duplicate documents, unit-norm
  64-d embeddings).
- ``write_osm``: a sharded, Kolkata-shaped OSM XML corpus and the
  structural goldens the pipeline must reproduce from it.
- ``write_changes``: a CDC change stream of updates and inserts over an
  ``orders`` snapshot, keys unique across the whole stream, staged as one
  parquet file per micro-batch with increasing mtimes.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    return _EPOCH_1995 + rng.integers(first_day, first_day + n_days, n) * np.timedelta64(1, "D")


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write every registry table as ``<out_dir>/<name>.parquet``; returns
    row counts. Same seed, same bytes-level content."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }
    i32 = pa.int32()

    write_parquet(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    write_parquet(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    write_parquet(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    write_parquet(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    write_parquet(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    write_parquet(f"{out_dir}/orders.parquet", orders_columns(rng, np.arange(o), c))
    li = n["lineitem"]
    write_parquet(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, 1, 2499, li),
    })
    e = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, e))
    write_parquet(f"{out_dir}/events.parquet", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _EPOCH_2024 + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, c // 10), e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
        for _ in range(d)
    ]
    # ~5% near-duplicates: another document's text, maybe a word shorter,
    # with a marker word appended (what the dedup queries look for)
    for i in rng.choice(d, d // 20, replace=False):
        words = texts[int(rng.integers(0, d))].split()
        texts[i] = " ".join(words[: len(words) - int(rng.integers(0, 3))] + ["dup"])
    write_parquet(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write_parquet(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return {"region": 5, "nation": 25, **n}


def orders_columns(rng, keys: np.ndarray, n_customers: int) -> dict:
    """``orders`` columns for the given order keys (also the CDC row shape)."""
    k = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_customers, k),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000, 500_000, k),
        "o_orderdate": _days(rng, 0, 2404, k),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)],
    }


def write_changes(
    out_dir: str, seed: int, n_state: int, n_batches: int, rows_per_batch: int,
    n_customers: int, insert_frac: float = 0.3,
) -> tuple[list[str], int]:
    """Stage a change stream over ``orders`` keys ``0..n_state-1`` as
    ``n_batches`` parquet files in ``out_dir``. Each row updates an
    existing key or inserts a new one (``>= n_state``); no key appears
    twice in the whole stream. Files get strictly increasing mtimes, so
    a file source with ``maxFilesPerTrigger=1`` replays them in order.
    Returns (file paths, number of inserted keys)."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    total = n_batches * rows_per_batch
    n_ins = int(total * insert_frac)
    keys = np.concatenate([
        rng.choice(n_state, total - n_ins, replace=False),
        np.arange(n_state, n_state + n_ins),
    ])
    rng.shuffle(keys)
    paths = []
    base = 1_600_000_000
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch_{b:04d}.parquet")
        batch = keys[b * rows_per_batch : (b + 1) * rows_per_batch]
        write_parquet(path, orders_columns(rng, batch, n_customers))
        os.utime(path, (base + 10 * b, base + 10 * b))
        paths.append(path)
    return paths, n_ins


# -- OSM corpus ---------------------------------------------------------

STREETS = [
    "Jessore road", "Park st", "MG Rd.", "Sarat Bose Avenue",
    "Gariahat Sarani", "Dum Dum raod", "41, Jawaharlal Nehru Road",
]
CITIES = ["kolkata", "Kolkata", "saltlake", "Salt Lake", "Bamangachi"]
SHOPS = ["supermarket", "convenience", "hairdresser", "bakery", "electronics"]
HIGHWAYS = ["service", "residential", "tertiary", "unclassified", "secondary"]
AMENITIES = ["cafe", "restaurant", "hospital", "school", "college"]


def _topk(counter: Counter, k: int = 10) -> list[list]:
    # the engine's deterministic top-k order: count desc, then value asc
    return [list(kv) for kv in sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def write_osm(
    out_dir: str, seed: int, n_nodes: int, n_ways: int, shards: int,
    n_users: int = 227,
) -> tuple[list[str], dict]:
    """Write ``shards`` OSM XML files; returns (paths, goldens). Goldens
    are the invariants the reference publishes for its corpus: distinct
    users, the node/way split, top-10 shops and highways, and per-amenity
    counts."""
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out_dir, exist_ok=True)
    users_used: set[int] = set()
    shops, highways, amenities = Counter(), Counter(), Counter()
    paths = []
    next_id = 1
    node_per, way_per = n_nodes // shards, n_ways // shards
    for s in range(shards):
        lines = ['<?xml version="1.0" encoding="UTF-8"?>', "<osm>"]
        first_node = next_id
        uids = rng.integers(0, n_users, node_per + way_per)
        users_used.update(int(u) for u in uids)
        lat = 22.0 + rng.random(node_per)
        lon = 88.0 + rng.random(node_per)
        kind = rng.random(node_per)
        for i in range(node_per):
            u = int(uids[i])
            lines.append(
                f'<node id="{next_id}" lat="{lat[i]:.7f}" lon="{lon[i]:.7f}" '
                f'user="user_{u}" uid="{u}" version="1" '
                f'changeset="{int(rng.integers(1_000_000))}" '
                f'timestamp="2013-0{int(rng.integers(1, 10))}-01T00:00:00Z">'
            )
            r = kind[i]
            if r < 0.02:
                v = SHOPS[int(rng.integers(len(SHOPS)))]
                shops[v] += 1
                lines.append(f'  <tag k="shop" v="{v}"/>')
            elif r < 0.04:
                v = AMENITIES[int(rng.integers(len(AMENITIES)))]
                amenities[v] += 1
                lines.append(f'  <tag k="amenity" v="{v}"/>')
            if r < 0.05:
                lines.append(f'  <tag k="addr:street" v="{STREETS[int(rng.integers(len(STREETS)))]}"/>')
                lines.append(f'  <tag k="addr:city" v="{CITIES[int(rng.integers(len(CITIES)))]}"/>')
                lines.append(f'  <tag k="addr:postcode" v="7000{int(rng.integers(10, 99))}"/>')
            lines.append("</node>")
            next_id += 1
        for i in range(way_per):
            u = int(uids[node_per + i])
            lines.append(
                f'<way id="{next_id}" user="user_{u}" uid="{u}" version="1" '
                f'changeset="{int(rng.integers(1_000_000))}" '
                f'timestamp="2013-05-01T00:00:00Z">'
            )
            for ref in rng.integers(first_node, first_node + node_per, int(rng.integers(3, 9))):
                lines.append(f'  <nd ref="{int(ref)}"/>')
            if rng.random() < 0.4:
                v = HIGHWAYS[int(rng.integers(len(HIGHWAYS)))]
                highways[v] += 1
                lines.append(f'  <tag k="highway" v="{v}"/>')
            lines.append("</way>")
            next_id += 1
        lines.append("</osm>\n")
        path = os.path.join(out_dir, f"part_{s:02d}.osm")
        with open(path, "w") as f:
            f.write("\n".join(lines))
        paths.append(path)
    goldens = {
        "distinct_users": len(users_used),
        "n_nodes": node_per * shards,
        "n_ways": way_per * shards,
        "top_shops": _topk(shops),
        "top_highways": _topk(highways),
        "amenity_counts": dict(amenities),
    }
    return paths, goldens
