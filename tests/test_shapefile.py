"""ESRI Shapefile sink/source: spec-level header checks + round-trip."""

import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_buildings_spark.operators import enrich, shapefile as shp


@pytest.fixture(scope="module")
def small_geo(spark, docs):
    return (
        enrich.add_geo_columns(docs, drop_nongeo=True)
        .select("doc_id", "wkt", "quadkey", "area_m2")
        .limit(200)
    )


def test_shp_headers_and_triple(spark, small_geo, tmp_path):
    path = str(tmp_path / "out.shp")
    n = shp.write_shp(small_geo, path)
    assert n == 200
    for ext in (".shp", ".shx", ".dbf"):
        assert (tmp_path / f"out{ext}").exists()
    buf = open(path, "rb").read()
    assert struct.unpack_from(">i", buf, 0)[0] == 9994  # file code
    version, stype = struct.unpack_from("<ii", buf, 28)
    assert version == 1000 and stype == shp.SHP_POLYGON
    # declared length (16-bit words) matches the actual file
    assert struct.unpack_from(">i", buf, 24)[0] * 2 == len(buf)
    minx, miny, maxx, maxy = struct.unpack_from("<dddd", buf, 36)
    assert minx < maxx and miny < maxy
    # .shx: one 8-byte entry per record, offsets monotone
    xbuf = open(str(tmp_path / "out.shx"), "rb").read()
    assert (len(xbuf) - 100) // 8 == 200
    offs = [struct.unpack_from(">i", xbuf, 100 + 8 * i)[0] for i in range(200)]
    assert offs == sorted(offs) and offs[0] == 50


def test_shp_roundtrip_lossless(spark, small_geo, tmp_path):
    path = str(tmp_path / "rt.shp")
    shp.write_shp(small_geo, path)
    back = shp.read_shp(path).set_index("doc_id").sort_index()
    orig = small_geo.toPandas().set_index("doc_id").sort_index()
    assert len(back) == len(orig)
    assert (back.quadkey == orig.quadkey).all()
    assert (back.area_m2.round(6) == orig.area_m2.round(6)).all()  # N-field text
    # geometry exact through the f64 records: re-derived quadkey matches
    bdf = spark.createDataFrame(back.reset_index()[["doc_id", "wkt"]])
    re_qk = (
        enrich.add_geo_columns(bdf, drop_nongeo=True)
        .toPandas()
        .set_index("doc_id")
        .quadkey.sort_index()
    )
    assert (re_qk == orig.quadkey).all()


def test_shp_ring_orientation_and_holes(spark, tmp_path):
    """Outer rings store clockwise, holes counter-clockwise (spec); reader
    reconstructs polygon-with-hole and multipolygon WKT from orientation."""
    pdf = pd.DataFrame(
        {
            "id": [1, 2],
            "wkt": [
                # CCW shell + CW hole on input: writer must flip both
                "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))",
                "MULTIPOLYGON (((5 5, 6 5, 6 6, 5 6, 5 5)), ((8 8, 9 8, 9 9, 8 9, 8 8)))",
            ],
        }
    )
    path = str(tmp_path / "rings.shp")
    assert shp.write_shp(spark.createDataFrame(pdf), path) == 2
    buf = open(path, "rb").read()
    # record 1: polygon, 2 parts; first ring CW (outer), second CCW (hole)
    off = 100 + 8
    nparts, npts = struct.unpack_from("<ii", buf, off + 36)
    assert nparts == 2
    import numpy as np

    parts = struct.unpack_from("<2i", buf, off + 44)
    pts = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off + 52).reshape(-1, 2)
    outer = pts[parts[0] : parts[1]]
    hole = pts[parts[1] :]
    from open_buildings_spark.geo.kernels import _ring_shoelace

    area = _ring_shoelace(pts[:, 0], pts[:, 1], np.array([0, parts[1], npts]))[0]
    assert area[0] < 0  # outer ring clockwise
    assert area[1] > 0  # hole counter-clockwise
    back = shp.read_shp(path).set_index("id").sort_index()
    # semantic round-trip: same rings, orientation-normalized by the writer
    from open_buildings_spark.geo.wkt import parse_wkt_batch

    b = parse_wkt_batch(back.wkt)
    assert list(b.gtype) == [3, 6]
    assert list(b.ring_is_hole) == [False, True, False, False]


def test_shp_points_and_mixed_rejected(spark, tmp_path):
    pts = pd.DataFrame({"id": [1, 2], "wkt": ["POINT (1 2)", "POINT (3 4)"]})
    path = str(tmp_path / "pts.shp")
    assert shp.write_shp(spark.createDataFrame(pts), path) == 2
    buf = open(path, "rb").read()
    assert struct.unpack_from("<i", buf, 32)[0] == shp.SHP_POINT
    back = shp.read_shp(path)
    assert sorted(back.wkt) == ["POINT (1 2)", "POINT (3 4)"]

    mixed = pd.DataFrame(
        {"id": [1, 2], "wkt": ["POINT (1 2)", "POLYGON ((0 0, 1 0, 1 1, 0 0))"]}
    )
    with pytest.raises((ValueError, Exception)):
        shp.write_shp(spark.createDataFrame(mixed), str(tmp_path / "mix.shp"))


def test_dbf_bigint_width_and_overflow(spark, tmp_path):
    from open_buildings_spark.operators import shapefile as shp

    # int64 extremes must survive the DBF round trip un-truncated
    big = 2**63 - 1
    df = spark.createDataFrame(
        [("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", big),
         ("POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))", -(2**63))],
        "wkt string, id bigint",
    )
    path = str(tmp_path / "big.shp")
    shp.write_shp(df, path)
    back = shp.read_shp(path)
    assert sorted(int(v) for v in back["id"]) == [-(2**63), big]
    # a value wider than its declared field raises instead of truncating
    import pyarrow as pa

    with pytest.raises(ValueError):
        shp._dbf_column(pa.array([7, 10**18]), "N", 10, 0)


def test_dbf_overflow_in_executor_raises_clean_error(spark, tmp_path):
    """A numeric value too wide for its DBF field, found while encoding on
    an executor, surfaces as a ValueError naming the column and leaves no
    scratch directory or partial triple behind."""
    import os

    from open_buildings_spark.operators import shapefile as shp

    df = spark.createDataFrame(
        [("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 1.0e20)],
        "wkt string, too_wide double",
    )
    with pytest.raises(ValueError, match="too_wide.*does not fit"):
        shp.write_shp(df, str(tmp_path / "wide.shp"))
    assert os.listdir(tmp_path) == []
