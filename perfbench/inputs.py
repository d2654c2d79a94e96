"""Seeded inputs of the benchmark.

The corpus is the engine's own synthetic building archive
(``open_buildings_spark.datagen``), derived from a generated ``lineitem`` /
``orders`` key set that this module writes itself, so a run needs nothing
outside its checkout.  The corpus is the same for every seed and is cached
under the work directory, keyed on the package source.  The seed drives
only what a workload varies:

- ``pipeline``: the batch of new buildings added to the corpus it archives,
  and the AOI shapes, sizes, positions and query order it serves;
- ``bigjoin``: the subset of the big AOI table joined against the docs;
- both: the 65,536-row WKT batch the geo kernels are timed on.

The functions that draw from the seed import neither Spark nor the engine,
so the seed tests run without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

import numpy as np

# 15,000 orders -> 59,997 lineitems -> 59,997 docs (57,388 with geometry),
# the size of the engine's sf0.01 oracle fixture.
CORPUS_ORDERS = 15_000
# new orders in the pipeline's seeded extra batch (about 1,000 docs)
EXTRA_ORDERS = 250
# one AOI of the big AOI table in JOIN_SUBSET is joined
JOIN_SUBSET = 20
KERNEL_BATCH_ROWS = 65_536
# bump when the corpus layout below changes
CORPUS_REV = 3

# datagen's z12 grid (datagen.ZOOM / CITY_TILES / CITY_BLOCK), repeated
# here so the seeded generators need no engine import
_NTILES = 4096
_CITY_TILES = [(2466, 2062), (2086, 1974), (3263, 2120), (614, 1580), (2316, 1400)]
_CITY_BLOCK = 64

# The AOI pool: (city, shape, size in z12 tiles).  City 0 is the dense
# one (40% of the corpus), cities 3 and 4 are sparse (10% each), and -1
# is open ocean with no buildings.  Every seed draws the same mix, so the
# seed moves the shapes and not the share of each kind of query.
AOI_POOL = [
    (0, "rect", 0.6),
    (0, "rect", 2.0),
    (0, "rect", 6.0),
    (0, "diamond", 3.0),
    (0, "triangle", 4.0),
    (0, "lshape", 5.0),
    (1, "rect", 1.0),
    (1, "rect", 3.0),
    (2, "diamond", 3.0),
    (3, "rect", 4.0),
    (4, "lshape", 4.0),
    (-1, "rect", 8.0),
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding draws to one kind
    never shifts another."""
    digest = hashlib.sha256(f"{stream}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _tile_lon(tx: float) -> float:
    return tx / _NTILES * 360.0 - 180.0


def _tile_lat(ty: float) -> float:
    return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / _NTILES))))


def _shape(kind: str, cx: float, cy: float, w: float, h: float, rng):
    """Closed ring in fractional z12 tile coordinates, and for the L-shape
    the rectangle cut out of its bounding box as (x0, y0, x1, y1)."""
    x0, x1, y0, y1 = cx - w / 2, cx + w / 2, cy - h / 2, cy + h / 2
    cut = None
    if kind == "rect":
        ring = [(x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    elif kind == "diamond":
        ring = [(cx, y1), (x1, cy), (cx, y0), (x0, cy)]
    elif kind == "triangle":
        apex = x0 + (x1 - x0) * float(rng.uniform(0.2, 0.8))
        ring = [(x0, y1), (x1, y1), (apex, y0)]
    elif kind == "lshape":
        # the rectangle with one seeded quadrant cut away (concave)
        fx = x0 + (x1 - x0) * float(rng.uniform(0.35, 0.65))
        fy = y0 + (y1 - y0) * float(rng.uniform(0.35, 0.65))
        ring = [(x0, y1), (x1, y1), (x1, fy), (fx, fy), (fx, y0), (x0, y0)]
        cut = (fx, y0, x1, fy)
        turns = int(rng.integers(0, 4))
        # mirror instead of rotating so the cut corner moves but the
        # bounding box stays the drawn one
        if turns & 1:
            ring = [(x0 + x1 - x, y) for x, y in ring][::-1]
            cut = (x0 + x1 - cut[2], cut[1], x0 + x1 - cut[0], cut[3])
        if turns & 2:
            ring = [(x, y0 + y1 - y) for x, y in ring][::-1]
            cut = (cut[0], y0 + y1 - cut[3], cut[2], y0 + y1 - cut[1])
    else:
        raise ValueError(f"unknown AOI shape {kind!r}")
    return ring + [ring[0]], cut


def aoi_pool(seed: int) -> list[dict]:
    """The seeded AOI pool the pipeline serves, one entry per
    :data:`AOI_POOL` slot: ``{"id", "city", "shape", "rect", "feature",
    "cut"}``; ``cut`` is the (w, s, e, n) rectangle an L-shape lacks from
    its bounding box, else None.

    A city AOI's bounding box contains the centre of one seeded tile at the
    coarsest zoom that still holds it whole, so its covering quadkey (what
    the table prunes on) is exactly that tile: a seed moves AOIs between
    tiles of the same size, never onto a high-level tile edge whose short
    prefix would scan a whole city.  Vertices are arbitrary floats, not
    tile-aligned."""
    rng = _rng(seed, "aoi-pool")
    out = []
    for i, (city, kind, size) in enumerate(AOI_POOL):
        aspect = float(rng.uniform(0.6, 1.6))
        w, h = size * math.sqrt(aspect), size / math.sqrt(aspect)
        if city < 0:
            # open ocean west of Africa: far from every city block
            cx = float(rng.uniform(1600.0, 1700.0))
            cy = float(rng.uniform(2300.0, 2400.0))
        else:
            # the z(12 - k) tile, k z12 tiles wide, that holds the AOI
            span = 1 << math.ceil(math.log2(2.0 * max(w, h)))
            tx, ty = _CITY_TILES[city]
            x0 = -(-tx // span) + int(rng.integers(0, (tx + _CITY_BLOCK) // span - -(-tx // span)))
            y0 = -(-ty // span) + int(rng.integers(0, (ty + _CITY_BLOCK) // span - -(-ty // span)))
            # centre jitter keeps the tile centre inside the AOI bbox and
            # the bbox inside the tile
            jx = 0.8 * min(w, span - w) / 2
            jy = 0.8 * min(h, span - h) / 2
            cx = (x0 + 0.5) * span + float(rng.uniform(-jx, jx))
            cy = (y0 + 0.5) * span + float(rng.uniform(-jy, jy))
        tile_ring, cut = _shape(kind, cx, cy, w, h, rng)
        ring = [[_tile_lon(x), _tile_lat(y)] for x, y in tile_ring]
        if cut is not None:
            # tile y grows southwards
            cut = (_tile_lon(cut[0]), _tile_lat(cut[3]), _tile_lon(cut[2]), _tile_lat(cut[1]))
        out.append(
            {
                "id": i,
                "city": city,
                "shape": kind,
                "rect": kind == "rect",
                "cut": cut,
                "feature": {
                    "type": "Feature",
                    "properties": {},
                    "geometry": {"type": "Polygon", "coordinates": [ring]},
                },
            }
        )
    return out


def aoi_order(seed: int, n: int) -> list[int]:
    """First ``n`` pool indices of the seeded query stream: the pool in a
    fresh seeded order per pass."""
    rng = _rng(seed, "aoi-order")
    out: list[int] = []
    while len(out) < n:
        out.extend(int(i) for i in rng.permutation(len(AOI_POOL)))
    return out[:n]


def order_keys(idx: np.ndarray) -> np.ndarray:
    """TPC-H style sparse order keys: 8 used keys in every 32."""
    idx = np.asarray(idx, dtype=np.int64)
    return (idx // 8) * 32 + (idx % 8) + 1


def extra_order_idx(seed: int) -> np.ndarray:
    """Order indices of the pipeline's extra batch: new orders past the
    corpus."""
    rng = _rng(seed, "extra")
    pick = rng.choice(3 * CORPUS_ORDERS, size=EXTRA_ORDERS, replace=False)
    return np.sort(CORPUS_ORDERS + pick.astype(np.int64))


def join_subset_sql(seed: int, col: str = "aoi_id") -> str:
    """SQL predicate (Spark and DuckDB alike) selecting the seeded
    1-in-:data:`JOIN_SUBSET` slice of the big AOI table."""
    salt = int(seed) % 2147483648
    # the salt goes in before the multiply and the test reads high bits,
    # so seeds that agree modulo JOIN_SUBSET still pick different slices
    return (
        f"CAST(floor(((CAST({col} AS BIGINT) + {salt}) * 1103515245 % 2147483648)"
        f" / 65536) AS BIGINT) % {JOIN_SUBSET} = 0"
    )


def kernel_rows(seed: int, n_rows: int) -> np.ndarray:
    """Row positions (with replacement) of the seeded geo-kernel batch."""
    return _rng(seed, "kernel-batch").integers(0, n_rows, size=KERNEL_BATCH_ROWS)


def write_keys(sf_dir: str, order_idx: np.ndarray) -> int:
    """Write the ``lineitem``/``orders`` key tables datagen derives from;
    returns the lineitem row count.  Each order has 1..7 lines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ok = order_keys(order_idx)
    nl = 1 + (ok * 2654435761) % 7
    li_ok = np.repeat(ok, nl)
    starts = np.repeat(np.cumsum(nl) - nl, nl)
    li_ln = (np.arange(len(li_ok)) - starts + 1).astype(np.int32)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"l_orderkey": li_ok, "l_linenumber": li_ln}),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    pq.write_table(pa.table({"o_orderkey": ok}), os.path.join(sf_dir, "orders.parquet"))
    return len(li_ok)


def source_digest(pkg_dir: str) -> str:
    """Digest of the engine's Python sources: the corpus cache key."""
    h = hashlib.sha256(f"rev{CORPUS_REV}:{CORPUS_ORDERS}".encode())
    for base, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(base, fn)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def corpus(spark, work: str, pkg_dir: str) -> dict:
    """Paths of the cached corpus, generating it on first use: ``sf`` (key
    tables), ``docs`` (interleaved docs parquet), ``csv`` (Google Open
    Buildings CSV of the geometry docs) and ``wkt`` (the geometry WKT column
    alone, for the kernel batch)."""
    root = os.path.join(work, "inputs", source_digest(pkg_dir))
    names = ("sf", "docs", "csv", "wkt")
    paths = {k: os.path.join(root, k) for k in names}
    paths["root"] = root
    if os.path.exists(os.path.join(root, "DONE")):
        return paths
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t = {k: os.path.join(tmp, k) for k in names}
    write_keys(t["sf"], np.arange(CORPUS_ORDERS))
    derive(spark, t["sf"], t["docs"], t["csv"], t["wkt"])
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return paths


def derive(spark, sf: str, docs: str, csv: str | None = None, wkt: str | None = None) -> None:
    """Interleaved docs (parquet) and, if asked, the Google CSV and the WKT
    column of their geometry docs, derived by datagen from the key tables
    in ``sf``."""
    from pyspark.sql import functions as F

    from open_buildings_spark import datagen

    datagen.interleaved_docs(spark, sf).repartition(8).write.parquet(docs)
    b = datagen.derive_buildings(spark, sf).filter(F.col("wkt").isNotNull())
    if csv:
        b.select(
            F.col("lat").alias("latitude"),
            F.col("lon").alias("longitude"),
            (F.col("r") * F.col("r") * 4).alias("area_in_meters"),
            F.col("conf").alias("confidence"),
            F.col("wkt").alias("geometry"),
            F.lit("XXXXXXXX+XX").alias("full_plus_code"),
        ).coalesce(4).write.option("header", True).csv(csv)
    if wkt:
        b.select("wkt").coalesce(1).write.parquet(wkt)
