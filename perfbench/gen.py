"""Seeded input generator for the benchmark.

Writes, from one integer seed and nothing else:

- the star-schema tables plus ``events``, ``documents`` and
  ``embeddings`` as parquet, with the schemas and value domains of the
  engine's sf0.1 fixture and its row counts multiplied by ``scale``;
- a multi-scene 3-band float32 GeoTIFF set for the land-cover chain,
  whose region map is piecewise constant and returned as ground truth.

The same seed gives byte-identical files. Only numpy and pyarrow are
used, so the inputs never depend on the package under test.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; documents and embeddings never drop below 500 rows
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1, 0.6, 0.1, 0.1, 0.1]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

NODATA = -9999.0
TILE = 32  # raster tile edge; regions never cross a tile boundary
TILE_SPLITS = 4  # each tile holds 2**4 = 16 regions
MIN_SIDE = 4
JITTER = 0.005  # largest per-scene NDVI offset from a region's level
MIN_AREA = MIN_SIDE * MIN_SIDE  # > the segmentation's min_size of 15


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _ts_days(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
    )


def table_rows(scale: float) -> dict[str, int]:
    return {t: max(MIN_ROWS.get(t, 1), int(round(n * scale))) for t, n in SF01_ROWS.items()}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten relational tables; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = table_rows(scale)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64),
    })
    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(price, f64),
    })

    no = n["orders"]
    lo, hi = _days(1995, 1, 1), _days(2001, 8, 1)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), f64),
        "o_orderdate": _ts_days(rng.integers(lo, hi + 1, no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })

    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[partkey], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts_days(rng.integers(_days(1995, 1, 2), _days(2001, 11, 4) + 1, nl)),
    })

    ne = n["events"]
    users = max(2, no // 100)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + 1.5 * rng.normal(size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return n


# --- land-cover scenes -----------------------------------------------------


@dataclass
class SceneTruth:
    """Ground truth of one generated scene set."""

    size: int
    regions: list[tuple[int, int, int, int]]  # (x0, y0, w, h)
    region_map: np.ndarray  # (size, size) int32 region index
    median_ndvi: np.ndarray  # (size, size) nanmedian over unmasked scenes
    paths: list[str]


def _split(rng, x0: int, y0: int, w: int, h: int, depth: int, out: list) -> None:
    """Guillotine-split a rectangle into 2**depth rectangles, cutting
    across x and y in turn at random positions that leave every leaf at
    least MIN_SIDE wide and high. The region count is the same for every
    seed, so the seed moves the layout, not the amount of work."""
    if depth == 0:
        out.append((x0, y0, w, h))
        return
    vertical = depth % 2 == 0
    lo = MIN_SIDE * 2 ** ((depth - 1) // 2)  # room for the cuts still to come
    cut = int(rng.integers(lo, (w if vertical else h) - lo + 1))
    if vertical:
        _split(rng, x0, y0, cut, h, depth - 1, out)
        _split(rng, x0 + cut, y0, w - cut, h, depth - 1, out)
    else:
        _split(rng, x0, y0, w, cut, depth - 1, out)
        _split(rng, x0, y0 + cut, w, h - cut, depth - 1, out)


def _write_tiff(path: str, arr: np.ndarray) -> None:
    """Minimal little-endian float32 TIFF: one strip, chunky bands."""
    h, w, c = arr.shape
    data = np.ascontiguousarray(arr, dtype="<f4").tobytes()
    entries = [  # (tag, type, count, value-or-offset)
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, c, None), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, c), (278, 4, 1, h),
        (279, 4, 1, len(data)), (339, 3, c, None),
    ]
    ifd_off = 8 + len(data)
    extra_off = ifd_off + 2 + 12 * len(entries) + 4
    extra = b""
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if val is None:  # per-band SHORT array: 32 bits / format 3 (float)
            payload = struct.pack(f"<{cnt}H", *([32] * cnt if tag == 258 else [3] * cnt))
            if len(payload) <= 4:
                field = payload.ljust(4, b"\0")
            else:
                field = struct.pack("<I", extra_off + len(extra))
                extra += payload
        else:
            field = struct.pack("<I" if typ == 4 else "<Hxx", val)
        ifd += struct.pack("<HHI", tag, typ, cnt) + field
    ifd += struct.pack("<I", 0)
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", ifd_off) + data + ifd + extra)


def write_scenes(out_dir: str, seed: int, size: int, n_scenes: int) -> SceneTruth:
    """Write ``n_scenes`` 3-band (green, red, nir) float32 scenes of a
    piecewise-constant region map. Each region has an NDVI level; the
    levels of touching regions differ by at least 0.03, and per-scene
    jitter is below 0.005, so the median NDVI separates every region
    from its neighbours. Whole regions are cloud-masked per scene with
    the -9999 sentinel in every band; each region keeps at least two
    clear scenes."""
    if size % TILE:
        raise ValueError(f"size must be a multiple of {TILE}")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    regions: list[tuple[int, int, int, int]] = []
    for ty in range(0, size, TILE):
        for tx in range(0, size, TILE):
            _split(rng, tx, ty, TILE, TILE, TILE_SPLITS, regions)
    rmap = np.empty((size, size), dtype=np.int32)
    for i, (x0, y0, w, h) in enumerate(regions):
        rmap[y0 : y0 + h, x0 : x0 + w] = i

    nreg = len(regions)
    neigh: list[set[int]] = [set() for _ in range(nreg)]
    for a, b in (
        (rmap[:, :-1], rmap[:, 1:]),
        (rmap[:-1, :], rmap[1:, :]),
    ):
        m = a != b
        for i, j in zip(a[m].tolist(), b[m].tolist()):
            neigh[i].add(j)
            neigh[j].add(i)
    n_levels = 40
    level_idx = np.full(nreg, -1)
    for r in range(nreg):  # greedy: differ from every coloured neighbour by >= 1 step
        taken = {level_idx[j] for j in neigh[r] if level_idx[j] >= 0}
        choices = [k for k in range(n_levels) if k not in taken]
        if not choices:
            raise RuntimeError(f"region {r} has more than {n_levels - 1} neighbours")
        level_idx[r] = choices[int(rng.integers(0, len(choices)))]
    level = -0.6 + 1.2 * level_idx / (n_levels - 1)

    jitter = rng.uniform(-JITTER, JITTER, (nreg, n_scenes))
    bright = rng.uniform(150.0, 250.0, (nreg, n_scenes))
    masked = rng.random((nreg, n_scenes)) < 0.3
    for r in range(nreg):  # keep >= 2 clear scenes per region
        clear = np.flatnonzero(~masked[r])
        if len(clear) < 2:
            masked[r, rng.choice(n_scenes, 2, replace=False)] = False

    ndvi_stack = np.empty((n_scenes, size, size))
    paths = []
    for s in range(n_scenes):
        v = (level + jitter[:, s])[rmap]
        a = bright[:, s][rmap]
        red = (a * (1.0 - v)).astype(np.float32)
        nir = (a * (1.0 + v)).astype(np.float32)
        green = (a * (1.0 - 0.5 * v)).astype(np.float32)
        m = masked[:, s][rmap]
        arr = np.stack([green, red, nir], axis=-1)
        arr[m] = NODATA
        path = os.path.join(out_dir, f"scene_{s:02d}.tif")
        _write_tiff(path, arr)
        paths.append(path)
        r64, n64 = red.astype(np.float64), nir.astype(np.float64)
        nd = (n64 - r64) / (n64 + r64 + 1e-9)
        nd[m] = np.nan
        ndvi_stack[s] = nd
    return SceneTruth(
        size=size,
        regions=regions,
        region_map=rmap,
        median_ndvi=np.nanmedian(ndvi_stack, axis=0),
        paths=paths,
    )
