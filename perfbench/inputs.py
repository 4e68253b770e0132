"""Seeded input generators. The same seed gives the same inputs.

Each generator also returns what the benchmark needs to check the
program's output without asking the program: feature counts and a
geometry digest for the GeoJSON document, per-row envelopes for the
extract dataset.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# WKB: a minimal independent codec for the two geometry types generated
# ---------------------------------------------------------------------------


def wkb_decode(buf: bytes) -> tuple:
    """(type, coordinates) for a 2D Point or single-ring Polygon in either
    byte order."""
    e = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{e}I", buf, 1)
    if gtype == 1:
        return ("Point", struct.unpack_from(f"{e}dd", buf, 5))
    if gtype == 3:
        nrings, npts = struct.unpack_from(f"{e}II", buf, 5)
        if nrings != 1:
            return ("Polygon?", nrings)
        return ("Polygon", struct.unpack_from(f"{e}{2 * npts}d", buf, 13))
    return ("?", gtype)


def geometry_digest(pairs) -> str:
    """Order-insensitive digest of (id, decoded geometry) pairs."""
    h = hashlib.sha256()
    for fid, geom in sorted(pairs):
        h.update(repr((fid, geom)).encode())
    return h.hexdigest()


def _rings(rng: np.random.Generator, cx, cy, ks, radii) -> list[np.ndarray]:
    """Closed star-shaped rings, counter-clockwise: ring i has ks[i]
    distinct vertices around (cx[i], cy[i]) within radius radii[i].
    Returned as float64 arrays of shape (ks[i] + 1, 2)."""
    out: list[np.ndarray] = [None] * len(cx)  # type: ignore[list-item]
    for k in np.unique(ks[ks > 0]):
        idx = np.nonzero(ks == k)[0]
        m = len(idx)
        angles = np.sort(rng.uniform(0.0, 2.0 * math.pi, (m, k)), axis=1)
        r = radii[idx, None] * rng.uniform(0.5, 1.0, (m, k))
        xs = np.round(cx[idx, None] + r * np.cos(angles), 6)
        ys = np.round(cy[idx, None] + r * np.sin(angles), 6)
        ring = np.stack([xs, ys], axis=2)
        ring = np.concatenate([ring, ring[:, :1]], axis=1)
        for j, i in enumerate(idx):
            out[i] = ring[j]
    return out


def _wkb_column(is_poly, cx, cy, rings) -> list[bytes]:
    """Little-endian WKB for every row: Points, or single-ring Polygons."""
    out = []
    for i in range(len(cx)):
        if is_poly[i]:
            ring = rings[i]
            out.append(struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.astype("<f8").tobytes())
        else:
            out.append(struct.pack("<BIdd", 1, 1, cx[i], cy[i]))
    return out


# ---------------------------------------------------------------------------
# gpq_ingest: one GeoJSON FeatureCollection
# ---------------------------------------------------------------------------

CATEGORIES = ["road", "river", "park", "building", "station", "bridge"]


def geojson_collection(path: str, seed: int, n: int) -> dict:
    """Write a FeatureCollection of ``n`` Points and 4-24-vertex Polygons
    with int, float and string properties. Returns the feature count,
    the file size and the digest of the geometries by feature id."""
    rng = np.random.default_rng(seed)
    cx = np.round(rng.uniform(-170.0, 170.0, n), 6)
    cy = np.round(rng.uniform(-80.0, 80.0, n), 6)
    is_poly = rng.random(n) < 0.5
    rings = _rings(rng, cx, cy, rng.integers(4, 25, n), rng.uniform(0.001, 0.05, n))
    counts = rng.integers(0, 100_000, n).tolist()
    scores = np.round(rng.random(n), 6).tolist()
    cats = rng.integers(0, len(CATEGORIES), n).tolist()
    pairs = []
    parts = []
    for i in range(n):
        if is_poly[i]:
            coords = rings[i].tolist()
            geom = '{"type":"Polygon","coordinates":[' + json.dumps(coords, separators=(",", ":")) + "]}"
            pairs.append((i, ("Polygon", tuple(c for p in coords for c in p))))
        else:
            x, y = float(cx[i]), float(cy[i])
            geom = f'{{"type":"Point","coordinates":[{x!r},{y!r}]}}'
            pairs.append((i, ("Point", (x, y))))
        parts.append(
            f'{{"type":"Feature","properties":{{"fid":{i},"count":{counts[i]},'
            f'"score":{scores[i]!r},"category":"{CATEGORIES[cats[i]]}",'
            f'"name":"feature-{i:07d}"}},"geometry":{geom}}}'
        )
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[')
        f.write(",".join(parts))
        f.write("]}")
    return {"n": n, "bytes": os.path.getsize(path), "digest": geometry_digest(pairs)}


# ---------------------------------------------------------------------------
# gpq_extract: a spatially clustered dataset with known envelopes
# ---------------------------------------------------------------------------

WORLD = (-179.0, -89.0, 179.0, 89.0)


def _morton(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    def spread(v):
        v = v.astype(np.uint64) & np.uint64(0xFFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
        return v

    return spread(ix) | (spread(iy) << np.uint64(1))


def extract_source(out_dir: str, seed: int, n: int, n_files: int) -> dict:
    """Write ``n`` rows of (id, geometry WKB, name, value) as ``n_files``
    plain Parquet files, ordered along a Z-order curve so that each file
    and row group covers a compact region. Half the rows are Points,
    half are small Polygons. Returns per-row envelopes indexed by id."""
    rng = np.random.default_rng(seed)
    x0, y0, x1, y1 = WORLD
    cx = np.round(rng.uniform(x0 + 0.5, x1 - 0.5, n), 6)
    cy = np.round(rng.uniform(y0 + 0.5, y1 - 0.5, n), 6)
    order = np.argsort(
        _morton(((cx - x0) / (x1 - x0) * 65535).astype(np.int64),
                ((cy - y0) / (y1 - y0) * 65535).astype(np.int64)),
        kind="stable",
    )
    cx, cy = cx[order], cy[order]
    is_poly = rng.random(n) < 0.5
    ks = np.where(is_poly, rng.integers(4, 25, n), 0)
    rings = _rings(rng, cx, cy, ks, rng.uniform(0.001, 0.2, n))
    env = np.stack([cx, cy, cx, cy], axis=1)
    for i in np.nonzero(is_poly)[0]:
        ring = rings[i]
        env[i] = (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max())
    geoms = _wkb_column(is_poly, cx, cy, rings)
    ids = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "id": ids,
            "geometry": pa.array(geoms, pa.binary()),
            "name": pa.array([f"row-{i:07d}" for i in range(n)]),
            "value": rng.random(n),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per), os.path.join(out_dir, f"part-{f:02d}.parquet"))
    return {"n": n, "env": env}


def extract_boxes(seed: int, n_small: int, n_wide: int) -> list[tuple[float, float, float, float]]:
    """Query boxes in a seeded order: small viewports covering ~0.1% of
    the world's area, and wide boxes covering ~25%."""
    rng = np.random.default_rng(seed + 7919)
    x0, y0, x1, y1 = WORLD
    w, h = x1 - x0, y1 - y0
    boxes = []
    for frac in [0.001] * n_small + [0.25] * n_wide:
        bw, bh = w * math.sqrt(frac), h * math.sqrt(frac)
        bx = float(rng.uniform(x0, x1 - bw))
        by = float(rng.uniform(y0, y1 - bh))
        boxes.append((round(bx, 6), round(by, 6), round(bx + bw, 6), round(by + bh, 6)))
    rng.shuffle(boxes)
    return [tuple(b) for b in boxes]


def expected_ids(env: np.ndarray, box) -> np.ndarray:
    """Row ids whose envelope intersects ``box`` (touching edges count)."""
    qx0, qy0, qx1, qy1 = box
    hit = (env[:, 2] >= qx0) & (qx1 >= env[:, 0]) & (env[:, 3] >= qy0) & (qy1 >= env[:, 1])
    return np.nonzero(hit)[0]


# ---------------------------------------------------------------------------
# headline: the ten driver tables at a given scale factor
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _dates(rng, n, start: str, end: str, unit: str = "D") -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(f"datetime64[{unit}]")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def driver_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the TPC-H-shaped star schema plus the events, documents and
    embeddings tables the headline queries read. Row counts, Arrow and
    Parquet types (``timestamp[us]``, not adjusted to UTC) and the value
    distributions follow the project's sf0.01 test tables; NOTES.md has
    the comparison. Returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(PART_ADJ), n_part),
                                rng.integers(0, len(PART_NOUN), n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_dates = _dates(rng, n_ord, "1995-01-01", "2001-08-01")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(order_dates),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    # four lines per order on average; keys and line numbers are drawn
    # independently, so some orders have no lines and (order, line)
    # pairs repeat, as in the test tables
    n_line = 4 * n_ord
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_dates(rng, n_line, "1995-01-02", "2001-11-04")),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, max(15, n_cust // 10), n_evt),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier original: "dup" appended
            # (40%), or its last word (55%) or two (5%) dropped, keeping
            # at least ten words
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            cut = int(rng.choice(3, p=[0.4, 0.55, 0.05]))
            if cut == 0 or len(words) - cut < 10:
                texts.append(" ".join(words + ["dup"]))
            else:
                texts.append(" ".join(words[:-cut]))
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
            originals.append(i)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    # unit vectors in random directions; labels are independent of them
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
