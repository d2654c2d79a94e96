"""FlatGeobuf sink/source: spec-level header checks + lossless round-trip.

The reference exports .fgb through GDAL (download_buildings.py:306-309;
README benchmarks it as the headline format). No GDAL exists here, so the
writer AND an independent reader are implemented from the public spec; the
round-trip plus raw-byte header assertions below are the parity evidence.
"""

import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_buildings_spark.operators import enrich, flatgeobuf as fgb


@pytest.fixture(scope="module")
def small_geo(spark, docs):
    return (
        enrich.add_geo_columns(docs, drop_nongeo=True)
        .select("doc_id", "wkt", "quadkey", "area_m2", "n_parts")
        .limit(300)
    )


def test_fgb_header_bytes(spark, small_geo, tmp_path):
    path = str(tmp_path / "out.fgb")
    n = fgb.write_fgb(small_geo, path)
    assert n == 300
    buf = open(path, "rb").read()
    # magic: 'fgb' major 3 'fgb' patch
    assert buf[:7] == b"fgb\x03fgb"
    header = fgb._FBTable(buf, 12 + struct.unpack_from("<I", buf, 12)[0])
    assert header.scalar(8, "Q", 0) == 300  # features_count
    assert header.scalar(9, "H", 16) == 16  # packed R-tree present (spec default)
    cols = [(c.string(0), c.scalar(1, "B", 0)) for c in header.table_vector(7)]
    assert cols == [
        ("doc_id", fgb.CT_STRING),
        ("quadkey", fgb.CT_STRING),
        ("area_m2", fgb.CT_DOUBLE),
        ("n_parts", fgb.CT_INT),
    ]
    env = header.vector(1, "d", 8)
    assert len(env) == 4 and env[0] <= env[2] and env[1] <= env[3]


def test_fgb_roundtrip_lossless(spark, small_geo, tmp_path):
    path = str(tmp_path / "rt.fgb")
    fgb.write_fgb(small_geo, path)
    back = fgb.read_fgb(path).set_index("doc_id").sort_index()
    orig = small_geo.toPandas().set_index("doc_id").sort_index()
    assert len(back) == len(orig)
    assert (back.quadkey == orig.quadkey).all()
    assert (back.area_m2 == orig.area_m2).all()  # f64 exact through the file
    assert (back.n_parts == orig.n_parts).all()
    # geometry coordinates exact: re-derived quadkey from decoded WKT equals
    # the stored enrichment quadkey
    bdf = spark.createDataFrame(back.reset_index()[["doc_id", "wkt"]])
    re_enriched = enrich.add_geo_columns(bdf, drop_nongeo=True).toPandas()
    re_qk = re_enriched.set_index("doc_id").quadkey.sort_index()
    assert (re_qk == orig.quadkey).all()


def test_fgb_polygon_holes_and_multipolygon(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "wkt": [
                "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
                "MULTIPOLYGON (((5 5, 6 5, 6 6, 5 5)), "
                "((7 7, 9 7, 9 9, 7 9, 7 7), (7.5 7.5, 8 7.5, 8 8, 7.5 7.5)))",
                "POINT (12.5 -45.125)",
            ],
        }
    )
    path = str(tmp_path / "mixed.fgb")
    n = fgb.write_fgb(spark.createDataFrame(pdf), path)
    assert n == 3
    back = fgb.read_fgb(path).set_index("id").sort_index()
    assert list(back.wkt) == list(pdf.set_index("id").sort_index().wkt)
    # mixed types -> header geometry_type Unknown
    buf = open(path, "rb").read()
    header = fgb._FBTable(buf, 12 + struct.unpack_from("<I", buf, 12)[0])
    assert header.scalar(2, "B", 0) == fgb.GEOM_UNKNOWN


def test_fgb_skips_missing_geometry(spark, tmp_path):
    pdf = pd.DataFrame({"id": [1, 2], "wkt": ["POINT (1 2)", None]})
    path = str(tmp_path / "nulls.fgb")
    assert fgb.write_fgb(spark.createDataFrame(pdf), path) == 1
    assert len(fgb.read_fgb(path)) == 1


def test_fgb_null_properties(spark, tmp_path):
    pdf = pd.DataFrame(
        {"id": [1.0, None], "wkt": ["POINT (1 2)", "POINT (3 4)"]}
    )
    path = str(tmp_path / "np.fgb")
    fgb.write_fgb(spark.createDataFrame(pdf), path)
    back = fgb.read_fgb(path).sort_values("wkt").reset_index(drop=True)
    assert back.id.iloc[0] == 1.0 and pd.isna(back.id.iloc[1])


def test_fgb_to_df_source(spark, small_geo, tmp_path):
    path = str(tmp_path / "src.fgb")
    fgb.write_fgb(small_geo, path)
    df = fgb.fgb_to_df(spark, path)
    assert df.count() == 300
    assert df.filter(F.col("wkt").startswith("POLYGON")).count() > 0


def test_fgb_all_null_column_keeps_schema(spark, tmp_path):
    # a property column that is null in EVERY row must still appear in the
    # round-trip schema with its header-declared type
    df = spark.createDataFrame(
        [("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", None, None)],
        "wkt string, label string, score bigint",
    )
    path = str(tmp_path / "allnull.fgb")
    fgb.write_fgb(df, path)
    back = fgb.read_fgb(path)
    assert list(back.columns) == ["wkt", "label", "score"]
    sdf = fgb.fgb_to_df(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields] == [
        ("wkt", "string"), ("label", "string"), ("score", "bigint")
    ]
    assert sdf.count() == 1


def test_fgb_reader_tolerates_external_column_types(tmp_path):
    """Externally written FGB files declare column types the engine's writer
    never emits (GDAL writes Byte/Short/UInt/DateTime/Json); the reader must
    decode their spec widths and degrade UNKNOWN codes to object dtype
    instead of raising (r3 ADVICE: read_fgb_with_schema KeyError)."""
    import numpy as np

    cols = [
        ("b", fgb.CT_BYTE),
        ("s", fgb.CT_SHORT),
        ("u", fgb.CT_UINT),
        ("dt", fgb.CT_DATETIME),
        ("j", fgb.CT_JSON),
        ("x", 200),  # out-of-spec future code, never populated
    ]
    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    props = bytearray()
    props += struct.pack("<Hb", 0, -5)
    props += struct.pack("<Hh", 1, -300)
    props += struct.pack("<HI", 2, 4_000_000_000)
    dt = b"2020-01-01T00:00:00Z"
    props += struct.pack("<HI", 3, len(dt)) + dt
    js = b'{"k":1}'
    props += struct.pack("<HI", 4, len(js)) + js
    import pyarrow as pa

    from open_buildings_spark.geo.wkt import parse_wkt_batch, polygon_wkt

    batch = parse_wkt_batch(pd.Series([polygon_wkt([ring])]))
    feat = fgb.encode_features(batch, pa.array([bytes(props)], pa.binary()))[0].as_py()
    header = fgb.encode_header("t", (0.0, 0.0, 1.0, 1.0), fgb.GT_POLYGON, cols, 1)
    path = str(tmp_path / "ext.fgb")
    with open(path, "wb") as f:
        f.write(fgb.MAGIC + header + feat)
    pdf, columns = fgb.read_fgb_with_schema(path)
    assert int(pdf["b"].iloc[0]) == -5
    assert int(pdf["s"].iloc[0]) == -300
    assert int(pdf["u"].iloc[0]) == 4_000_000_000
    assert pdf["dt"].iloc[0] == "2020-01-01T00:00:00Z"
    assert pdf["j"].iloc[0] == '{"k":1}'
    assert pdf["x"].isna().all()
    assert pdf["wkt"].iloc[0].startswith("POLYGON")


def test_hilbert_u32_properties():
    """The Hilbert mapping must be injective on a sample grid and keep
    curve locality (consecutive d values map to adjacent cells)."""
    import numpy as np

    rng = np.random.RandomState(7)
    x = rng.randint(0, 1 << 16, size=20000).astype(np.uint32)
    y = rng.randint(0, 1 << 16, size=20000).astype(np.uint32)
    d = fgb.hilbert_u32(x, y)
    assert len(np.unique(np.stack([x, y]).T, axis=0)) == len(
        np.unique(np.stack([d, x]).T, axis=0)
    )
    # injectivity on distinct inputs
    uniq_in = {(int(a), int(b)) for a, b in zip(x, y)}
    assert len({int(v) for v in d}) == len(uniq_in)
    # locality smoke: 4-neighbor cells differ in d far less than random pairs
    gx, gy = np.meshgrid(np.arange(64, dtype=np.uint32), np.arange(64, dtype=np.uint32))
    gd = fgb.hilbert_u32(gx.ravel(), gy.ravel()).astype(np.int64).reshape(64, 64)
    horiz = np.abs(np.diff(gd, axis=1)).mean()
    rand = np.abs(np.diff(gd.ravel()[np.argsort(rng.rand(64 * 64))])).mean()
    assert horiz < rand / 10


def test_fgb_index_bbox_search_matches_bruteforce(spark, small_geo, tmp_path):
    """The written packed R-tree must drive a correct window query: the
    index walk returns exactly the features whose bbox intersects the
    rect (verified against a brute-force scan of the decoded file)."""
    import numpy as np

    path = str(tmp_path / "idx.fgb")
    n = fgb.write_fgb(small_geo, path)
    assert n == 300
    full = fgb.read_fgb(path)
    assert len(full) == 300
    from open_buildings_spark.geo.wkt import parse_wkt_batch
    from open_buildings_spark.geo import kernels

    batch = parse_wkt_batch(full["wkt"])
    bb = kernels.bboxes(batch)
    qs = [
        (bb[:, 0].min(), bb[:, 1].min(), bb[:, 0].min() + 0.01, bb[:, 1].min() + 0.01),
        (bb[:, 0].mean(), bb[:, 1].mean(), bb[:, 2].mean(), bb[:, 3].mean()),
        (bb[:, 0].min(), bb[:, 1].min(), bb[:, 2].max(), bb[:, 3].max()),  # all
        (200.0, 80.0, 201.0, 81.0),  # none
    ]
    for rect in qs:
        got = fgb.fgb_bbox_search(path, rect)
        want = (
            (bb[:, 0] <= rect[2])
            & (bb[:, 2] >= rect[0])
            & (bb[:, 1] <= rect[3])
            & (bb[:, 3] >= rect[1])
        )
        assert len(got) == int(want.sum()), rect
        assert set(got["doc_id"]) == set(full["doc_id"][np.nonzero(want)[0]])


def test_fgb_sharded_files_carry_index(spark, tmp_path):
    """Sharded FGB shards are spec-complete files WITH the packed R-tree:
    a window query over one shard works through the index."""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import enrich, sharded

    docs = datagen.interleaved_docs(spark, "/root/testdata/sf0.001").limit(400)
    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    out = str(tmp_path / "shards")
    manifest = sharded.sharded_export(g, out, fmt="fgb", level=6)
    s0 = manifest["shards"][0]
    import os as _os

    path = _os.path.join(out, s0["file"])
    full = fgb.read_fgb(path)
    assert len(full) == s0["n_rows"]
    world = fgb.fgb_bbox_search(path, (-180.0, -86.0, 180.0, 86.0))
    assert len(world) == s0["n_rows"]
