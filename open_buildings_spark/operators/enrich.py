"""Enrichment pipeline over the interleaved-docs table: extract the geometry
span, add quadkey / centroid / bbox / area columns, assign country_iso.

Spark-first re-expression of the reference's archive-build enrichment
(``ob overture add_columns``: open_buildings/overture/add_columns.py:30-63):
the reference mutates a DuckDB table in place with per-row Python UDFs and a
correlated spatial UPDATE; here it is one declarative pass — a single
Arrow-batched parse UDF plus native exprs, no shuffle at all. The ``spans``
column rides along untouched (per-row span-sequence invariant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..udfs import make_country_assign


def extract_geometry(docs: DataFrame) -> DataFrame:
    """Add a ``wkt`` column = text of the first kind='geometry' span.

    Pure native expressions — the spans array is never exploded or
    reassembled, and the higher-order ``filter`` runs ONCE per row:
    ``F.get`` returns NULL past the end, so no size() guard (which would
    re-evaluate the filtered array) is needed.
    """
    geom_spans = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("geometry"))
    return docs.withColumn("wkt", F.get(geom_spans, 0)["text"])


def extract_media_tiles(docs: DataFrame) -> DataFrame:
    """Add ``media_qk`` = quadkey parsed out of the first media span's
    ``media_ref`` ('tile/z12/<quadkey>'); NULL when the doc has no media.
    Single filter evaluation per row (see :func:`extract_geometry`)."""
    media = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media"))
    ref = F.get(media, 0)["media_ref"]
    return docs.withColumn("media_qk", F.element_at(F.split(ref, "/"), -1))


def add_geo_columns(
    docs: DataFrame,
    keep_bbox: bool = False,
    drop_nongeo: bool = False,
    countries: list[tuple[str, list]] | None = None,
    deterministic: bool = True,
) -> DataFrame:
    """quadkey (z12, bbox-midpoint anchor — reference semantics), centroid
    lon/lat, equal-area m^2; docs without geometry get NULLs but are KEPT
    (set ``drop_nongeo`` to pre-filter them natively, BEFORE any Python).

    Implemented as ONE struct-returning ``pandas_udf`` over just the ``wkt``
    column: only ~100 B/doc of WKT text crosses the Python boundary and the
    heavy nested ``spans`` column never leaves the JVM. (A ``mapInArrow``
    pass streams EVERY column through Python; measured here, the spans
    round-trip alone was ~70% of the stage — 486k → 714k docs/s at local[8]
    by switching.) Spark 4.1 collapses all references to the same python
    UDF into a single ArrowEvalPython node within one operator, BUT a
    downstream filter on an enriched column (e.g. ``quadkey IS NOT NULL``)
    gets pushed below the projection and splits the plan into TWO python
    evals — every WKT parses twice. Don't post-filter on UDF outputs:
    pre-filter natively with ``drop_nongeo=True`` (``wkt IS NOT NULL``),
    which is the same row set whenever geometry spans carry valid WKT.
    Pinned by tests/test_plans.py::test_enrich_is_single_python_pass.

    Pass ``countries`` to also assign ``country_iso`` in the SAME parse pass
    (the reference's add_columns computes quadkey and country together).

    ``deterministic=False`` marks the UDF nondeterministic (it is in fact
    pure — the flag only pins the plan): equi-JOINS on a UDF-derived key
    (e.g. cell = substring(quadkey)) inject an ``isnotnull(key)`` filter
    that Catalyst pushes below the projection, splitting the eval into TWO
    ArrowEvalPython nodes — every WKT parses twice. Join consumers
    (spatial_join) set this; plain projection consumers keep the default.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    df = docs if "wkt" in docs.columns else extract_geometry(docs)
    if drop_nongeo:
        # native pre-filter: every non-null WKT yields a quadkey
        df = df.filter(F.col("wkt").isNotNull())

    fields = [
        StructField("quadkey", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("area_m2", DoubleType()),
        StructField("n_parts", IntegerType()),
    ]
    if keep_bbox:
        fields += [
            StructField("minx", DoubleType()),
            StructField("miny", DoubleType()),
            StructField("maxx", DoubleType()),
            StructField("maxy", DoubleType()),
        ]
    prepared = None
    if countries is not None:
        from ..udfs import prepare_countries

        prepared = prepare_countries(countries)
        fields.append(StructField("country_iso", StringType()))
    ret = StructType(fields)

    @F.pandas_udf(ret)
    def geo_struct(wkt: pd.Series) -> pd.DataFrame:
        from ..geo import kernels, mercator
        from ..geo.wkt import parse_wkt_batch

        batch = parse_wkt_batch(wkt)
        cen = kernels.centroids(batch)
        mid = kernels.bbox_midpoints(batch)
        area = kernels.area_6933(batch)
        qk = mercator.lonlat_to_quadkey_np(mid[:, 0], mid[:, 1], 12)
        nparts = np.zeros(batch.n_geoms, dtype=np.int32)
        shells = ~batch.ring_is_hole
        if batch.n_rings:
            np.add.at(nparts, batch.ring_geom[shells], 1)
        missing = batch.gtype == -1
        out = {
            "quadkey": pd.Series(qk, dtype=object).where(~missing, None),
            "lon": np.where(missing, np.nan, cen[:, 0]),
            "lat": np.where(missing, np.nan, cen[:, 1]),
            "area_m2": np.where(missing, np.nan, area),
            "n_parts": nparts,
        }
        if keep_bbox:
            bb = kernels.bboxes(batch)
            for j, name in enumerate(("minx", "miny", "maxx", "maxy")):
                out[name] = bb[:, j]
        if prepared is not None:
            from ..udfs import assign_countries_np

            out["country_iso"] = pd.Series(
                assign_countries_np(batch, prepared), dtype=object
            )
        return pd.DataFrame(out)

    if not deterministic:
        geo_struct = geo_struct.asNondeterministic()
    out = df.withColumn("_geo", geo_struct(F.col("wkt")))
    return out.select("*", "_geo.*").drop("_geo")


def add_country_iso(docs: DataFrame, country_list: list[tuple[str, list]]) -> DataFrame:
    """Assign ``country_iso`` by ST_Intersects against the (small, broadcast)
    countries table — deterministic min-ISO tie-break on overlap.

    Scale shape: countries are a classic broadcast dimension (~200 rows at
    planet scale); shipping them in the UDF closure avoids any shuffle. For
    big-big spatial joins use operators.spatial_join instead.
    """
    df = docs if "wkt" in docs.columns else extract_geometry(docs)
    assign = make_country_assign(country_list)
    return df.withColumn("country_iso", assign(F.col("wkt")))


def add_country_iso_from_table(docs: DataFrame, countries_df: DataFrame) -> DataFrame:
    """Same as :func:`add_country_iso` but consuming the reference-schema
    countries table (isocountrycodealpha2 + WKB geometry,
    overture/add_columns.py:52): the small dimension is collected at the
    driver, WKB-parsed once, and broadcast in the kernel closure."""
    import pandas as pd

    from ..geo.wkt import parse_wkb_batch

    rows = countries_df.select("isocountrycodealpha2", "geometry").collect()
    wkbs = pd.Series([bytes(r["geometry"]) for r in rows])
    batch = parse_wkb_batch(wkbs)
    country_list = []
    for i, r in enumerate(rows):
        rings = [
            (batch.ring(j), bool(batch.ring_is_hole[j]))
            for j in range(batch.n_rings)
            if batch.ring_geom[j] == i
        ]
        country_list.append((r["isocountrycodealpha2"], rings))
    return add_country_iso(docs, country_list)


def add_places_columns(
    places: DataFrame, country_list: list[tuple[str, list]] | None = None
) -> DataFrame:
    """Overture *places* enrichment (reference
    open_buildings/overture/places_add_columns.py:26-66): point features get
    a z12 quadkey from their bbox midpoint (a point IS its own midpoint) and
    a country by point-in-polygon, both in the SAME single Arrow parse pass
    as the buildings path — :func:`add_geo_columns` over POINT WKT. The
    reference runs one correlated UPDATE per column; here both derive from
    one pandas_udf over just the wkt column."""
    return add_geo_columns(places, drop_nongeo=True, countries=country_list)


def add_s2_cell(
    docs: DataFrame,
    level: int = 10,
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "s2_cell",
) -> DataFrame:
    """S2 cell id of each row's centroid, as a second cell-index surface next
    to the quadkey (reference scheme, overture/add_columns.py:40-47) — the
    north-star's "H3/S2 index with quadkey fallback". Runs after
    :func:`add_geo_columns` (which provides centroid lon/lat from one WKT
    parse pass); the S2 step itself crosses the Python boundary with just
    two doubles per row. Ids are int64 in the public S2 bit layout, so
    parent containment is the native range predicate
    ``id BETWEEN range_min(parent) AND range_max(parent)`` — at
    100 TB that means range-joins and range-partitioned file layouts prune
    on a sorted numeric column instead of string prefixes."""
    from ..udfs import make_s2_cell

    return docs.withColumn(
        out_col, make_s2_cell(level)(F.col(lon_col), F.col(lat_col))
    )
