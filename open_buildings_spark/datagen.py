"""Deterministic synthesis of the interleaved text+media documents table.

The engine's substrate (BASELINE.json ``input_hint``) is::

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

There is no real geodata in this sandbox, so building footprints are derived
*arithmetically* from the driver's ``lineitem`` table with integer hash math
that is expressible identically in Spark column expressions and in DuckDB
ANSI SQL — the driver's correctness gate runs both and compares values.

Derivation (shared contract; keep in sync with :func:`buildings_sql_cte`):

    bid   = l_orderkey * 8 + l_linenumber            -- unique bigint
    h     = (bid * 1103515245 + 12345) % 2147483648  -- LCG hash, nonneg
    city  = skewed in {0..4}: 40%/20%/20%/10%/10% by bid % 10
    dx    = h % 64 ; dy = (h div 64) % 64            -- 64x64-tile city block
    tx,ty = CITY_TILES[city] + (dx,dy)               -- z12 web-mercator tile
    fx    = ((h % 1000)/1000 - 0.5) * 0.8            -- in-tile jitter, |.|<=0.4
    fy    = ((h % 997)/997  - 0.5) * 0.8
    lon   = (tx + 0.5 + fx)/4096*360 - 180
    lat   = atan(sinh(pi*(1 - 2*(ty + 0.5 + fy)/4096))) * 180/pi
    r     = 0.00005 + (h % 7) * 0.00002              -- half-size in degrees
    conf  = (h % 101) / 100.0
    has_geom = (bid % 23) != 0                       -- some docs are text-only
    is_multi = has_geom and (bid % 31) == 0          -- MULTIPOLYGON docs
    media_dx = 1 if h % 17 == 0 else 0               -- media tile sometimes
                                                     -- the x-neighbor
    footprint = square (lon±r, lat±r); multi adds a second square at lon+6r

The jitter keeps every derived point >=0.1 tile away from any tile edge, so
the engine's float mercator round trip (lat -> y -> floor) can never flip a
tile: the z12 quadkey of a building is *exactly* the bit-interleave of
(tx, ty), which is what the DuckDB oracle computes with integer ops.

Skew is real: city 0 holds 40% of all buildings (reference analogue: dense
urban quadkeys driving adaptive splitting, open_buildings/overture/
partition.py:132-152).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .geo import mercator

# bump whenever the derivation arithmetic changes: cached derived tables
# (e.g. /tmp/ob_spark_entry) are keyed on this so stale caches can't serve
DATAGEN_REV = 1

ZOOM = 12
NTILES = 1 << ZOOM

# z12 tile origins of the five synthetic city blocks (64x64 tiles each),
# mid-latitude, pairwise far apart so quadkey prefixes diverge early.
CITY_TILES = [(2466, 2062), (2086, 1974), (3263, 2120), (614, 1580), (2316, 1400)]
CITY_BLOCK = 64


def _tile_lon(tx: float) -> float:
    return tx / NTILES * 360.0 - 180.0


def _tile_lat(ty: float) -> float:
    import math

    return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / NTILES))))


def _city_rect(ci: int, margin: float = 0.1) -> tuple[float, float, float, float]:
    """(W, S, E, N) rect covering city block ``ci`` with margin degrees."""
    tx, ty = CITY_TILES[ci]
    return (
        _tile_lon(tx) - margin,
        _tile_lat(ty + CITY_BLOCK) - margin,
        _tile_lon(tx + CITY_BLOCK) + margin,
        _tile_lat(ty) + margin,
    )


# countries: one rect per city + one overlap country inside city 0's block
# whose ISO sorts *before* 'AA' — pins the engine's deterministic
# min-ISO tie-break for buildings matching several countries (the reference's
# UPDATE..FROM is last-write-wins / nondeterministic:
# open_buildings/overture/add_columns.py:58-63).
COUNTRY_ISOS = ["AA", "BB", "CC", "DD", "EE"]


def countries() -> list[tuple[str, tuple[float, float, float, float]]]:
    out = [(COUNTRY_ISOS[i], _city_rect(i)) for i in range(5)]
    # overlap country 'A0' covers the west half of city 0's block
    w, s, e, n = _city_rect(0, margin=0.0)
    out.append(("A0", (w, s, (w + e) / 2.0, n)))
    return out


def city_aoi() -> dict:
    """Flagship AOI: a rect spanning tiles [tx+20..tx+23] x [ty+8..ty+11] of
    city 0, inset by 1e-6 deg so edges sit strictly inside tile rows."""
    tx, ty = CITY_TILES[0]
    eps = 1e-6
    w = _tile_lon(tx + 20) + eps
    e = _tile_lon(tx + 24) - eps
    n = _tile_lat(ty + 8) - eps
    s = _tile_lat(ty + 12) + eps
    return {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
        },
    }


def _rect_aoi(ci: int, x0: int, x1: int, y0: int, y1: int) -> dict:
    """Rect AOI spanning tiles [x0..x1) x [y0..y1) of city ``ci``, inset 1e-6."""
    tx, ty = CITY_TILES[ci]
    eps = 1e-6
    w = _tile_lon(tx + x0) + eps
    e = _tile_lon(tx + x1) - eps
    n = _tile_lat(ty + y0) - eps
    s = _tile_lat(ty + y1) + eps
    return {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
        },
    }


def multi_aois() -> list[tuple[int, dict]]:
    """Fixture AOI table for the generic spatial join: two dense-city AOIs,
    one overlapping the first (docs matching both appear once per AOI),
    and one empty-ocean AOI."""
    ocean = {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[-30.0, -30.0], [-29.0, -30.0], [-29.0, -29.0], [-30.0, -29.0], [-30.0, -30.0]]],
        },
    }
    return [
        (1, _rect_aoi(0, 10, 14, 20, 24)),
        (2, _rect_aoi(1, 5, 10, 40, 45)),
        (3, _rect_aoi(0, 12, 16, 20, 24)),  # overlaps AOI 1
        (4, ocean),
    ]


def aoi_bounds(aoi: dict) -> tuple[float, float, float, float]:
    ring = aoi["geometry"]["coordinates"][0]
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


# ---------------------------------------------------------------------------
# Spark-side derivation (pure Column expressions — no UDF, no per-row Python)
# ---------------------------------------------------------------------------


def _city_col(bid: Column) -> Column:
    m = bid % 10
    return (
        F.when(m < 4, 0).when(m < 6, 1).when(m < 8, 2).when(m == 8, 3).otherwise(4)
    )


def derive_buildings(spark: SparkSession, sf_dir: str, replicas: int = 1) -> DataFrame:
    """lineitem -> one building row per lineitem with derived geometry cols.

    Columns: bid, doc_id, city, tx, ty, lon, lat, r, conf, has_geom,
    is_multi, media_dx, qk (true z12 quadkey via integer interleave — used
    by tests/oracles; engine operators recompute it from WKT), qk_media, wkt.

    ``replicas`` > 1 multiplies the corpus deterministically for scaling
    benchmarks (bid = base*replicas + r); replicas=1 keeps the exact bids
    the correctness oracle derives.
    """
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # deduplicate so bid (and doc_id) is a key on both engine and oracle side
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )
    if replicas > 1:
        li = li.crossJoin(
            spark.range(replicas).select(F.col("id").alias("_rep"))
        )
        base = (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * replicas + F.col("_rep")
        df = li.withColumn("bid", base).drop("_rep")
    else:
        df = li.withColumn("bid", F.col("l_orderkey") * 8 + F.col("l_linenumber"))
    df = df.withColumn("h", (F.col("bid") * 1103515245 + 12345) % 2147483648)
    df = df.withColumn("city", _city_col(F.col("bid")))
    cx = F.element_at(F.array(*[F.lit(t[0]) for t in CITY_TILES]), F.col("city") + 1)
    cy = F.element_at(F.array(*[F.lit(t[1]) for t in CITY_TILES]), F.col("city") + 1)
    df = (
        df.withColumn("tx", cx + F.col("h") % 64)
        .withColumn("ty", cy + F.expr("h div 64") % 64)
        .withColumn("fx", ((F.col("h") % 1000) / 1000.0 - 0.5) * 0.8)
        .withColumn("fy", ((F.col("h") % 997) / 997.0 - 0.5) * 0.8)
    )
    df = df.withColumn("lon", (F.col("tx") + 0.5 + F.col("fx")) / NTILES * 360.0 - 180.0)
    df = df.withColumn(
        "lat",
        F.degrees(
            F.atan(F.sinh(F.lit(float(__import__("math").pi)) * (1.0 - 2.0 * (F.col("ty") + 0.5 + F.col("fy")) / NTILES))
            )
        ),
    )
    df = (
        df.withColumn("r", F.lit(0.00005) + (F.col("h") % 7) * 0.00002)
        .withColumn("conf", (F.col("h") % 101) / 100.0)
        .withColumn("has_geom", (F.col("bid") % 23) != 0)
        .withColumn("is_multi", ((F.col("bid") % 31) == 0) & F.col("has_geom"))
        .withColumn("media_dx", F.when(F.col("h") % 17 == 0, 1).otherwise(0))
        .withColumn("doc_id", F.concat(F.lit("doc-"), F.col("bid").cast("string")))
    )
    df = df.withColumn("qk", _quadkey_col(F.col("tx"), F.col("ty")))
    df = df.withColumn(
        "qk_media", _quadkey_col(F.col("tx") + F.col("media_dx"), F.col("ty"))
    )
    # WKT text: %.17g round-trips doubles exactly through parse
    sq = "POLYGON ((%s))"
    ring = (
        "%1$.17g %3$.17g, %2$.17g %3$.17g, %2$.17g %4$.17g, "
        "%1$.17g %4$.17g, %1$.17g %3$.17g"
    )
    x0, x1 = F.col("lon") - F.col("r"), F.col("lon") + F.col("r")
    y0, y1 = F.col("lat") - F.col("r"), F.col("lat") + F.col("r")
    single = F.format_string(sq % ring, x0, x1, y0, y1)
    # multipolygon: second square centered at lon + 6r
    ring2 = (
        "%1$.17g %3$.17g, %2$.17g %3$.17g, %2$.17g %4$.17g, "
        "%1$.17g %4$.17g, %1$.17g %3$.17g"
    )
    mx0, mx1 = F.col("lon") + 5 * F.col("r"), F.col("lon") + 7 * F.col("r")
    multi = F.format_string(
        f"MULTIPOLYGON ((({ring})), (({ring2.replace('%1$', '%5$').replace('%2$', '%6$')})))",
        x0, x1, y0, y1, mx0, mx1,
    )
    df = df.withColumn(
        "wkt",
        F.when(~F.col("has_geom"), F.lit(None).cast("string"))
        .when(F.col("is_multi"), multi)
        .otherwise(single),
    )
    return df.drop("l_orderkey", "l_linenumber", "fx", "fy")


def _quadkey_col(tx: Column, ty: Column) -> Column:
    """z12 quadkey string from integer tile coords — pure Column bit math."""
    from .functions import quadkey_from_tiles_col

    return quadkey_from_tiles_col(tx, ty, ZOOM)


def interleaved_docs(spark: SparkSession, sf_dir: str, replicas: int = 1) -> DataFrame:
    """The interleaved-docs table per ``input_hint``: (doc_id, spans).

    Span sequence per doc (offsets monotone, gaps where spans are absent):
      0: kind='text'             prose
      1: kind='geometry'         WKT footprint        (if has_geom)
      2: kind='attr:confidence'  confidence as text
      3: kind='media'            media_ref='tile/z12/<qk>'  (if has_geom)
    """
    b = derive_buildings(spark, sf_dir, replicas)
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.format_string("building %s in city %s", F.col("bid").cast("string"), F.col("city").cast("string")).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    geom_span = F.struct(
        F.lit("geometry").alias("kind"),
        F.col("wkt").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    attr_span = F.struct(
        F.lit("attr:confidence").alias("kind"),
        F.format_string("%.2f", F.col("conf")).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(2).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit(f"tile/z{ZOOM}/"), F.col("qk_media")).alias("media_ref"),
        F.lit(3).alias("offset"),
    )
    spans = F.when(
        F.col("has_geom"),
        F.array(text_span, geom_span, attr_span, media_span),
    ).otherwise(F.array(text_span, attr_span))
    return b.select("doc_id", spans.alias("spans"))


PLACE_CATEGORIES = ["eat", "shop", "stay", "fuel", "bank"]


def places_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic Overture *places* analogue: one POINT-typed row per
    customer (the reference's places corpus is point features enriched from
    bbox midpoints, open_buildings/overture/places_add_columns.py:26-66).

    Same LCG/tile arithmetic as the buildings derivation (shared contract
    with :func:`places_sql_cte`), so the z12 quadkey of each place is
    exactly the integer bit-interleave of (tx, ty) — the jitter keeps every
    point >=0.1 tile from any tile edge.

    Columns: place_id, name, category, wkt ('POINT (x y)'), plus the
    tx/ty/lon/lat/qk derivation columns for tests.
    """
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey")
        .distinct()
    )
    df = c.withColumn("pid", F.col("c_custkey"))
    df = df.withColumn("h", (F.col("pid") * 1103515245 + 12345) % 2147483648)
    df = df.withColumn("city", _city_col(F.col("pid")))
    cx = F.element_at(F.array(*[F.lit(t[0]) for t in CITY_TILES]), F.col("city") + 1)
    cy = F.element_at(F.array(*[F.lit(t[1]) for t in CITY_TILES]), F.col("city") + 1)
    df = (
        df.withColumn("tx", cx + F.col("h") % 64)
        .withColumn("ty", cy + F.expr("h div 64") % 64)
        .withColumn("fx", ((F.col("h") % 1000) / 1000.0 - 0.5) * 0.8)
        .withColumn("fy", ((F.col("h") % 997) / 997.0 - 0.5) * 0.8)
    )
    df = df.withColumn("lon", (F.col("tx") + 0.5 + F.col("fx")) / NTILES * 360.0 - 180.0)
    df = df.withColumn(
        "lat",
        F.degrees(
            F.atan(
                F.sinh(
                    F.lit(float(__import__("math").pi))
                    * (1.0 - 2.0 * (F.col("ty") + 0.5 + F.col("fy")) / NTILES)
                )
            )
        ),
    )
    df = (
        df.withColumn("place_id", F.concat(F.lit("pl-"), F.col("pid").cast("string")))
        .withColumn("name", F.format_string("place %s", F.col("pid").cast("string")))
        .withColumn(
            "category",
            F.element_at(
                F.array(*[F.lit(x) for x in PLACE_CATEGORIES]),
                ((F.col("h") % 5) + 1).cast("int"),
            ),
        )
        .withColumn("qk", _quadkey_col(F.col("tx"), F.col("ty")))
        .withColumn("wkt", F.format_string("POINT (%.17g %.17g)", F.col("lon"), F.col("lat")))
    )
    return df.drop("c_custkey", "fx", "fy")


def places_sql_cte() -> str:
    """DuckDB CTE ``pl`` reproducing :func:`places_df` from customer."""
    cxs = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[0]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    cys = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[1]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    cats = "CASE h % 5 " + " ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(PLACE_CATEGORIES)
    ) + " END"
    return f"""
pl_base AS (
  SELECT DISTINCT c_custkey AS pid,
         (c_custkey * 1103515245 + 12345) % 2147483648 AS h
  FROM customer
),
pl_h AS (
  SELECT pid, h,
         CASE WHEN pid % 10 < 4 THEN 0 WHEN pid % 10 < 6 THEN 1
              WHEN pid % 10 < 8 THEN 2 WHEN pid % 10 = 8 THEN 3 ELSE 4 END AS city
  FROM pl_base
),
pl_t AS (
  SELECT pid, h, city,
         ({cxs}) + h % 64 AS tx,
         ({cys}) + (h // 64) % 64 AS ty,
         ((h % 1000) / 1e3 - 5e-1) * 8e-1 AS fx,
         ((h % 997) / 9.97e2 - 5e-1) * 8e-1 AS fy
  FROM pl_h
),
pl AS (
  SELECT pid, h, city, tx, ty,
         'pl-' || CAST(pid AS VARCHAR) AS place_id,
         {cats} AS category,
         (tx + 5e-1 + fx) / {NTILES} * 3.6e2 - 1.8e2 AS lon,
         degrees(atan((exp(pi() * (1e0 - 2e0 * (ty + 5e-1 + fy) / {NTILES}))
                      - exp(-(pi() * (1e0 - 2e0 * (ty + 5e-1 + fy) / {NTILES})))) / 2e0)) AS lat,
         {_quadkey_sql('tx', 'ty')} AS qk
  FROM pl_t
)
""".strip()


def big_aois_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE AOI table for the big-big spatial join (one rect per ``orders``
    row: ~15k at sf0.01, ~1.5M at sf1 — far beyond what a driver could
    enumerate): each AOI is a z12-aligned sub-rectangle (1..4 x 1..4 z12
    tiles) of a single absolute z10 tile inside one city block, all edges
    inset 1e-6 deg so nothing sits exactly on a tile boundary.

    Shared arithmetic contract with :func:`big_aois_sql_cte` (keep in sync):

        aid  = o_orderkey (distinct)
        h    = (aid * 48271 + 11) % 2147483648    -- different LCG than bld
        city = same skew mapping as buildings (40% city 0)
        x10  = ((ctx+3) div 4) + h % 14           -- absolute z10 tile fully
        y10  = ((cty+3) div 4) + (h div 14) % 14     inside the 64x64 block
        g    = h div 196
        wx   = 1 + g % 4        ; wy = 1 + (g div 4) % 4
        ox   = (g div 16) % (5-wx); oy = (g div 80) % (5-wy)
        z12 tile span: x in [4*x10+ox, +wx), y in [4*y10+oy, +wy)

    Because each AOI lies inside ONE z10 tile, a doc within it shares that
    tile's quadkey prefix — the oracle's equi-join key.

    Columns: aoi_id, wkt, plus derivation columns (qk10, bounds) for tests.
    """
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .distinct()
    )
    df = o.withColumn("aoi_id", F.col("o_orderkey"))
    df = df.withColumn("h", (F.col("aoi_id") * 48271 + 11) % 2147483648)
    df = df.withColumn("city", _city_col(F.col("aoi_id")))
    cx = F.element_at(F.array(*[F.lit(t[0]) for t in CITY_TILES]), F.col("city") + 1)
    cy = F.element_at(F.array(*[F.lit(t[1]) for t in CITY_TILES]), F.col("city") + 1)
    # ((c+3) - (c+3)%4) / 4 == (c+3) div 4: exact in doubles (multiple of 4)
    df = (
        df.withColumn("x10", ((cx + 3) - (cx + 3) % 4) / 4 + F.col("h") % 14)
        .withColumn(
            "y10", ((cy + 3) - (cy + 3) % 4) / 4 + F.expr("h div 14") % 14
        )
        .withColumn("g", F.expr("h div 196"))
    )
    df = df.withColumn("x10", F.col("x10").cast("long")).withColumn(
        "y10", F.col("y10").cast("long")
    )
    df = (
        df.withColumn("wx", 1 + F.col("g") % 4)
        .withColumn("wy", 1 + F.expr("g div 4") % 4)
        .withColumn("ox", F.expr("g div 16") % (5 - F.col("wx")))
        .withColumn("oy", F.expr("g div 80") % (5 - F.col("wy")))
    )
    df = (
        df.withColumn("sx", 4 * F.col("x10") + F.col("ox"))
        .withColumn("ex", F.col("sx") + F.col("wx"))
        .withColumn("sy", 4 * F.col("y10") + F.col("oy"))
        .withColumn("ey", F.col("sy") + F.col("wy"))
    )
    lat_of = lambda t: F.degrees(  # noqa: E731
        F.atan(
            F.sinh(
                F.lit(float(__import__("math").pi)) * (1.0 - 2.0 * t / NTILES)
            )
        )
    )
    df = (
        df.withColumn("aw", F.col("sx") / NTILES * 360.0 - 180.0 + 1e-6)
        .withColumn("ae", F.col("ex") / NTILES * 360.0 - 180.0 - 1e-6)
        .withColumn("an", lat_of(F.col("sy")) - 1e-6)
        .withColumn("as_", lat_of(F.col("ey")) + 1e-6)
        .withColumn("qk10", _quadkey_col_z(F.col("x10"), F.col("y10"), 10))
    )
    ring = (
        "%1$.17g %3$.17g, %2$.17g %3$.17g, %2$.17g %4$.17g, "
        "%1$.17g %4$.17g, %1$.17g %3$.17g"
    )
    df = df.withColumn(
        "wkt",
        F.format_string(
            f"POLYGON (({ring}))",
            F.col("aw"), F.col("ae"), F.col("as_"), F.col("an"),
        ),
    )
    return df.drop("o_orderkey", "g", "ox", "oy")


def _quadkey_col_z(tx: Column, ty: Column, zoom: int) -> Column:
    from .functions import quadkey_from_tiles_col

    return quadkey_from_tiles_col(tx, ty, zoom)


def big_aois_sql_cte() -> str:
    """DuckDB CTE ``aoi`` reproducing :func:`big_aois_df` from orders."""
    cxs = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[0]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    cys = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[1]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    lat_of = (
        lambda t: f"degrees(atan((exp(pi() * (1e0 - 2e0 * {t} / {NTILES}))"
        f" - exp(-(pi() * (1e0 - 2e0 * {t} / {NTILES})))) / 2e0))"
    )
    return f"""
aoi_base AS (
  SELECT DISTINCT o_orderkey AS aid,
         (o_orderkey * 48271 + 11) % 2147483648 AS h
  FROM orders
),
aoi_h AS (
  SELECT aid, h,
         CASE WHEN aid % 10 < 4 THEN 0 WHEN aid % 10 < 6 THEN 1
              WHEN aid % 10 < 8 THEN 2 WHEN aid % 10 = 8 THEN 3 ELSE 4 END AS city
  FROM aoi_base
),
aoi_t AS (
  SELECT aid, h,
         ((({cxs}) + 3) - (({cxs}) + 3) % 4) // 4 + h % 14 AS x10,
         ((({cys}) + 3) - (({cys}) + 3) % 4) // 4 + (h // 14) % 14 AS y10,
         h // 196 AS g
  FROM aoi_h
),
aoi_w AS (
  SELECT aid, x10, y10,
         1 + g % 4 AS wx, 1 + (g // 4) % 4 AS wy,
         (g // 16) % (5 - (1 + g % 4)) AS ox,
         (g // 80) % (5 - (1 + (g // 4) % 4)) AS oy
  FROM aoi_t
),
aoi_s AS (
  SELECT aid, x10, y10,
         4 * x10 + ox AS sx, 4 * x10 + ox + wx AS ex,
         4 * y10 + oy AS sy, 4 * y10 + oy + wy AS ey
  FROM aoi_w
),
aoi AS (
  SELECT aid AS aoi_id,
         {_quadkey_sql('x10', 'y10', 10)} AS qk10,
         sx / {NTILES} * 3.6e2 - 1.8e2 + 1e-6 AS aw,
         ex / {NTILES} * 3.6e2 - 1.8e2 - 1e-6 AS ae,
         {lat_of('sy')} - 1e-6 AS an,
         {lat_of('ey')} + 1e-6 AS asx
  FROM aoi_s
)
""".strip()


def countries_df(spark: SparkSession) -> DataFrame:
    """Small-side countries table mirroring the reference's schema
    (isocountrycodealpha2 + WKB geometry; open_buildings/overture/
    add_columns.py:52,58-63)."""
    import pandas as pd

    from .geo.wkt import parse_wkt_batch, polygon_wkt, wkb_from_batch

    rects = countries()
    wkb = wkb_from_batch(
        parse_wkt_batch(
            pd.Series(
                [polygon_wkt([[[w, s], [e, s], [e, n], [w, n], [w, s]]]) for _, (w, s, e, n) in rects]
            )
        )
    ).to_pylist()
    rows = [(iso, bytearray(g), *box) for (iso, box), g in zip(rects, wkb)]
    return spark.createDataFrame(
        rows, "isocountrycodealpha2 string, geometry binary, w double, s double, e double, n double"
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same derivation, integer quadkey, no engine code
# ---------------------------------------------------------------------------


def _quadkey_sql(tx: str, ty: str, zoom: int = ZOOM) -> str:
    parts = [
        f"CAST((({tx} >> {k}) & 1) + 2 * (({ty} >> {k}) & 1) AS VARCHAR)"
        for k in range(zoom - 1, -1, -1)
    ]
    return " || ".join(parts)


def buildings_sql_cte() -> str:
    """DuckDB CTE ``bld`` reproducing :func:`derive_buildings` from lineitem."""
    cxs = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[0]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    cys = "CASE city " + " ".join(
        f"WHEN {i} THEN {t[1]}" for i, t in enumerate(CITY_TILES)
    ) + " END"
    return f"""
bld_base AS (
  SELECT DISTINCT l_orderkey * 8 + l_linenumber AS bid,
         (l_orderkey * 8 + l_linenumber) * 1103515245 + 12345 AS hraw
  FROM lineitem
),
bld_h AS (
  SELECT bid, hraw % 2147483648 AS h,
         CASE WHEN bid % 10 < 4 THEN 0 WHEN bid % 10 < 6 THEN 1
              WHEN bid % 10 < 8 THEN 2 WHEN bid % 10 = 8 THEN 3 ELSE 4 END AS city
  FROM bld_base
),
bld_t AS (
  SELECT bid, h, city,
         ({cxs}) + h % 64 AS tx,
         ({cys}) + (h // 64) % 64 AS ty,
         ((h % 1000) / 1e3 - 5e-1) * 8e-1 AS fx,
         ((h % 997) / 9.97e2 - 5e-1) * 8e-1 AS fy
  FROM bld_h
),
bld AS (
  SELECT bid, h, city, tx, ty,
         'doc-' || CAST(bid AS VARCHAR) AS doc_id,
         (tx + 5e-1 + fx) / {NTILES} * 3.6e2 - 1.8e2 AS lon,
         degrees(atan((exp(pi() * (1e0 - 2e0 * (ty + 5e-1 + fy) / {NTILES}))
                      - exp(-(pi() * (1e0 - 2e0 * (ty + 5e-1 + fy) / {NTILES})))) / 2e0)) AS lat,
         5e-5 + (h % 7) * 2e-5 AS r,
         (h % 101) / 1e2 AS conf,
         (bid % 23) <> 0 AS has_geom,
         ((bid % 31) = 0 AND (bid % 23) <> 0) AS is_multi,
         CASE WHEN h % 17 = 0 THEN 1 ELSE 0 END AS media_dx,
         {_quadkey_sql('tx', 'ty')} AS qk,
         {_quadkey_sql('(tx + CASE WHEN h % 17 = 0 THEN 1 ELSE 0 END)', 'ty')} AS qk_media
  FROM bld_t
)
""".strip()


def countries_sql_values() -> str:
    """DuckDB inline VALUES table of the countries fixture."""
    rows = ", ".join(
        f"('{iso}', {w!r}, {s!r}, {e!r}, {n!r})" for iso, (w, s, e, n) in countries()
    )
    return f"(VALUES {rows}) AS c(iso, w, s, e, n)"
