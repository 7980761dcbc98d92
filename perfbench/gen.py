"""Seeded inputs for the benchmark workloads (numpy, pyarrow, stdlib only).

Content comes from a fixed base draw, so every seed gets the same table
sizes, the same duplicate structure and the same filter outcomes. The seed
then applies three transformations:

- a bijective remap of every surrogate key, applied consistently to every
  foreign key that references it;
- a row permutation of every table (and of the samples within each tar
  shard, whose names it also permutes);
- the order of ops within each pass (``op_order``).

Nothing here imports the engine: the program under test receives only the
files written below.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import os
import struct
import tarfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed seed of the base draw; the run seed never changes content.
BASE_SEED = 20240501

#: Table geometry (TPC-H-like star schema at sf0.01 plus the LLM tables).
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 800,
    "embeddings": 500,
}

#: Crawl documents (doc_id % 4 == 0) are replayed as this many tick files.
TICKS = 2

#: Train-feed shards: SHARDS tar files holding SAMPLES samples in total.
SHARDS = 16
SAMPLES = 1600
IMAGE_MAX = 32
#: SizeFilter threshold on json.width; samples narrower than this are dropped.
MIN_WIDTH = 20
#: Every MISSING_JSON_EVERY-th base sample lacks its json member (KeyFilter).
MISSING_JSON_EVERY = 25

VOCAB = (
    "a the data table row column query scan join filter group sort order "
    "window merge hash key value part line customer spark stream batch "
    "vector agg small big fast slow"
).split()
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
PART_ADJ = ("small", "red", "blue", "large", "old", "new", "hot", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "plate", "rod", "gizmo")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: Host mix and tail of the catalog's planted ingest fixture
#: (queries/urls.py _HOSTS_V1, queries/dedup.py staged_dup_docs).
HOSTS = (
    "news.example.com",
    "shop.retail.co.uk",
    "Example.Org",
    "cdn.assets.example.com",
    "tracker.spam.net",
    "portal.datos.gob.mx",
    "blog.spam.net",
)
NEAR_TAIL = " qq zz xw"


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    us = base + (seconds * 1_000_000).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables() -> dict[str, dict[str, object]]:
    """The seed-independent content, keyed by base surrogate keys 0..n-1."""
    rng = np.random.default_rng(BASE_SEED)
    n = SIZES
    t: dict[str, dict[str, object]] = {}
    t["region"] = {"r_regionkey": np.arange(5), "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": np.arange(25),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25) % 5,
    }
    t["customer"] = {
        "c_custkey": np.arange(n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    t["part"] = {
        "p_partkey": np.arange(n["part"]),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]),
        "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
    }
    days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    t["orders"] = {
        "o_orderkey": np.arange(n["orders"]),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": rng.integers(0, days + 1, n["orders"]) * 86400,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])],
    }
    m = n["lineitem"]
    ship_days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": rng.integers(0, ship_days + 1, m) * 86400,
    }
    e = n["events"]
    t["events"] = {
        "event_id": np.arange(e),
        "ts": np.sort(rng.uniform(0, 30 * 86400, e)),
        "user_id": rng.integers(0, n["customer"] // 10, e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }
    t["documents"] = _base_documents()
    t["embeddings"] = _base_embeddings(np.random.default_rng([BASE_SEED, 2]), n["embeddings"])
    return t


def _base_documents() -> dict[str, object]:
    """Random-word documents with planted near-duplicates (every 10th doc
    re-uses an earlier doc with two words swapped and a tag appended) and
    exact duplicates (every 50th doc)."""
    rng = np.random.default_rng([BASE_SEED, 1])
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 50 == 7:
            texts.append(texts[i - 7])
        elif i >= 10 and i % 10 == 3:
            w = texts[i - 3].split()
            j, k = rng.integers(0, len(w), 2)
            w[j], w[k] = w[k], w[j]
            texts.append(" ".join(w + ["dup"]))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[x] for x in words))
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts]),
    }


def _base_embeddings(rng: np.random.Generator, n: int) -> dict[str, object]:
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    x = centers[labels] + rng.normal(0, 1.2, (n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n),
        "embedding": [row.astype(np.float32) for row in x],
        "label": labels,
    }


#: table -> (key column, base key domain table) for every surrogate key.
_KEYS = {
    "r_regionkey": "region",
    "n_regionkey": "region",
    "n_nationkey": "nation",
    "c_nationkey": "nation",
    "s_nationkey": "nation",
    "c_custkey": "customer",
    "o_custkey": "customer",
    "user_id": "customer",
    "s_suppkey": "supplier",
    "l_suppkey": "supplier",
    "p_partkey": "part",
    "l_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "orders",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

_INT32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey",
          "p_size", "l_linenumber", "label"}


def _to_arrow(name: str, cols: dict[str, object]) -> pa.Table:
    arrays = {}
    for c, v in cols.items():
        if c in ("o_orderdate", "l_shipdate"):
            start = dt.datetime(1995, 1, 1) if c == "o_orderdate" else dt.datetime(1995, 1, 2)
            arrays[c] = _ts(start, np.asarray(v))
        elif c == "ts":
            arrays[c] = _ts(dt.datetime(2024, 1, 1), np.asarray(v))
        elif c == "embedding":
            arrays[c] = pa.array(v, type=pa.list_(pa.float32()))
        elif isinstance(v, np.ndarray):
            arrays[c] = pa.array(v.astype(np.int32 if c in _INT32 else v.dtype))
        else:
            arrays[c] = pa.array(v, type=pa.string())
    return pa.table(arrays)


def key_maps(seed: int) -> dict[str, np.ndarray]:
    """Seeded bijection per key domain: base key -> published key."""
    rng = np.random.default_rng([seed, 1])
    return {t: rng.permutation(SIZES[t]) for t in SIZES}


def _remap(cols: dict[str, object], maps: dict[str, np.ndarray]) -> dict[str, object]:
    out = dict(cols)
    for c, v in cols.items():
        if c in _KEYS:
            out[c] = maps[_KEYS[c]][np.asarray(v)]
    return out


def _names(table: str, cols: dict[str, object]) -> dict[str, object]:
    """Name columns follow the published key, like a generator keyed by it."""
    if table == "customer":
        cols = {"c_custkey": cols["c_custkey"],
                "c_name": [f"Customer#{k:09d}" for k in cols["c_custkey"]],
                **{c: v for c, v in cols.items() if c != "c_custkey"}}
    elif table == "supplier":
        cols = {"s_suppkey": cols["s_suppkey"],
                "s_name": [f"Supplier#{k:09d}" for k in cols["s_suppkey"]],
                **{c: v for c, v in cols.items() if c != "s_suppkey"}}
    return cols


def write_tables(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write the ten parquet tables; return {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    maps = key_maps(seed)
    rng = np.random.default_rng([seed, 2])
    sizes = {}
    for name, cols in _base_tables().items():
        tbl = _to_arrow(name, _names(name, _remap(cols, maps)))
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def staged_docs(docs: dict[int, str]) -> dict[int, str]:
    """The catalog's planted duplicate classes over published doc ids:
    exact copy of doc+1 (% 20 == 0), of doc-20 (% 40 == 24), and near
    copies of each with a fixed tail (% 20 == 8 / % 40 == 32)."""
    out = {}
    for d, text in docs.items():
        nxt, prev = docs.get(d + 1), docs.get(d - 20)
        if d % 20 == 0:
            out[d] = nxt if nxt is not None else text
        elif d % 40 == 24:
            out[d] = prev if prev is not None else text
        elif d % 20 == 8:
            out[d] = nxt + NEAR_TAIL if nxt is not None else text
        elif d % 40 == 32:
            out[d] = prev + NEAR_TAIL if prev is not None else text
        else:
            out[d] = text
    return out


def planted_url(d: int) -> str:
    return (
        ("https" if d % 2 == 0 else "http")
        + "://"
        + ("user@" if d % 5 == 0 else "")
        + HOSTS[d % len(HOSTS)]
        + (":8080" if d % 4 == 1 else "")
        + "/p/"
        + str(d)
        + (f"?q={d % 10}" if d % 3 == 0 else "")
    )


def write_ingest(out_dir: str, seed: int) -> dict[str, int]:
    """Stage the standing corpus (staged docs, doc_id % 4 != 0) and the crawl
    slice (doc_id % 4 == 0, with planted URLs) as TICKS files in ascending
    doc_id order, split like SQL ntile(TICKS). File mtimes ascend so the
    file stream source replays them in tick order."""
    maps = key_maps(seed)
    base = _base_documents()
    ids = maps["documents"][base["doc_id"]]
    staged = staged_docs(dict(zip(ids.tolist(), base["text"])))
    corpus = sorted(d for d in staged if d % 4 != 0)
    crawl = sorted(d for d in staged if d % 4 == 0)
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(corpus))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([corpus[i] for i in order], pa.int64()),
            "text": pa.array([staged[corpus[i]] for i in order], pa.string()),
        }),
        os.path.join(out_dir, "corpus.parquet"),
    )
    tick_dir = os.path.join(out_dir, "ticks")
    os.makedirs(tick_dir, exist_ok=True)
    q, r = divmod(len(crawl), TICKS)
    start, tick_bytes = 0, 0
    for t in range(TICKS):
        part = crawl[start:start + q + (1 if t < r else 0)]
        start += len(part)
        part = [part[i] for i in rng.permutation(len(part))]
        path = os.path.join(tick_dir, f"tick-{t:02d}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(part, pa.int64()),
                "text": pa.array([staged[d] for d in part], pa.string()),
                "url": pa.array([planted_url(d) for d in part], pa.string()),
            }),
            path,
        )
        os.utime(path, (1_600_000_000 + t, 1_600_000_000 + t))
        tick_bytes += os.path.getsize(path)
    return {"corpus_docs": len(corpus), "tick_docs": len(crawl), "ticks": TICKS,
            "tick_bytes": tick_bytes}


def _png(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[i].tobytes() for i in range(h))

    def chunk(kind: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + kind + data
                + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 1))
            + chunk(b"IEND", b""))


def digest64(data: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


def write_shards(out_dir: str, seed: int) -> dict[str, int]:
    """WebDataset tar shards of (png, json, txt) samples. Returns the sample
    counts and the checksums the train_feed pipeline must reproduce over the
    samples that survive KeyFilter(png, json) and SizeFilter(json.width):
    sum of 64-bit digests of the keys and of the raw RGB pixels, mod 2**64."""
    rng = np.random.default_rng([BASE_SEED, 3])
    dims = rng.integers(IMAGE_MAX // 2, IMAGE_MAX + 1, (SAMPLES, 2))
    pixels_of = [rng.integers(0, 256, (int(h), int(w), 3), dtype=np.uint8) for h, w in dims]
    seeded = np.random.default_rng([seed, 4])
    key_ids = seeded.permutation(10 * SAMPLES)[:SAMPLES]
    # base sample i lives in shard i % SHARDS, so every seed gives shards of
    # the same make-up; the seed renames the shards and orders each one
    names = seeded.permutation(SHARDS)
    order = [int(i) for s in range(SHARDS)
             for i in s + SHARDS * seeded.permutation(SAMPLES // SHARDS)]
    os.makedirs(out_dir, exist_ok=True)
    tars = [tarfile.open(os.path.join(out_dir, f"shard-{names[s]:04d}.tar"), "w")
            for s in range(SHARDS)]
    keep = key_sum = pix_sum = 0
    try:
        for i in order:
            h, w = int(dims[i, 0]), int(dims[i, 1])
            pixels = pixels_of[i]
            key = f"{key_ids[i]:08d}"
            members = [("png", _png(pixels)), ("txt", f"sample {key}".encode())]
            if i % MISSING_JSON_EVERY != 0:
                members.append(("json", json.dumps(
                    {"width": w, "height": h, "label": i % 10}).encode()))
                if w >= MIN_WIDTH:
                    keep += 1
                    key_sum += digest64(key.encode())
                    pix_sum += digest64(pixels.tobytes())
            for ext, payload in members:
                info = tarfile.TarInfo(f"{key}.{ext}")
                info.size = len(payload)
                tars[i % SHARDS].addfile(info, io.BytesIO(payload))
    finally:
        for tf in tars:
            tf.close()
    return {"shards": SHARDS, "samples": SAMPLES, "kept": keep,
            "key_sum": key_sum % 2**64, "pixel_sum": pix_sum % 2**64}


def op_order(seed: int, pass_no: int, n: int) -> list[int]:
    """Seeded order of the n ops of one pass."""
    return np.random.default_rng([seed, 6, pass_no]).permutation(n).tolist()
