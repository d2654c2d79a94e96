"""Byte identity of the export encoders on a seeded golden corpus.

The corpus covers every shape the encoders lay out differently (points,
CW / CCW / unclosed shells, holed polygons, multipolygons with holed
parts, triangles, 40-vertex rings, missing and unparseable rows) and every
property case (nulls, empty, non-ASCII and over-long strings, NaN doubles,
float32 values, ints past 2^53 and at int64's ends).

The digests pin the bytes the per-row encoders produced before the batch
encoders replaced them (WKB, FlatGeobuf features, shapefile records and
dBASE rows, GeoPackageBinary blobs), and the files both the single-file
and the sharded writers build from the corpus. A GeoPackage file is
compared by the rows read back in fid order, since SQLite page bytes
are not part of the format contract.
"""

import glob
import hashlib
import os
import sqlite3

import numpy as np
import pandas as pd
import pyarrow as pa

from open_buildings_spark.geo.wkt import multipolygon_wkt, point_wkt, polygon_wkt

GOLDEN_ROWS = 2400
SCHEMA = "wkt string, quadkey string, name string, v double, f float, n bigint, i int, b boolean"
PROP_TYPES = ["string", "string", "double", "float", "bigint", "int", "boolean"]

DIGESTS = {
    "wkb": "8ba37cdf6e89f29238ae72b5401856aa788989b2fcbfcc1e628aeedd1d8e783b",
    "fgb_features": "a99364b732b353897916e4d541f1f8f37b7c97ecbf90dae2772d305d532dfedf",
    "shp_records": "4804a6db57ef45a7698fcd1b404b7469745969fd20acc5db9f5e4f221bc55a2a",
    "dbf_columns": "54ccbf00c80b3ca0e38f417a981c69574c2b6fe6ca4308f84c060abbd6fa87fa",
    "gpkg_blobs": "6926d9b8be9ebaf1ea4097556a98d020035ee192d4043c29deb67eda031ee40a",
    "file_fgb": "1374db91c7729a8078978fbd18978882d246a7caa41c3a878e63855c1cdf3b64",
    "file_shp": "859d56bfb044ce607e257066471dbe10d634bb5157ae032e9cc3174e5d07d6f3",
    "file_gpkg_rows": "a29999e16e7a69d3a4b8d1cb10c31ab8af55cff6bc2855497f1effaa6c8840f0",
    "sharded_fgb": "089ac822e3d6b2d7bc9e2142d5e9ad2285de00def07caa382e0267d89f29a6c0",
    "sharded_shp": "a31855f09ee2b71fcd615877ff431d58aa53a0d32a0d9776070c3fee4c19ea7f",
    "sharded_gpkg_rows": "a7d48efb1963b1dc31bbed7c926f056de92951ef0e38fc40daadcae83d4cc1e7",
}


def golden_rows(n: int = GOLDEN_ROWS, seed: int = 20261017) -> list[tuple]:
    rng = np.random.default_rng(seed)
    grid = np.linspace(0, 2 * np.pi, 64, endpoint=False)

    def ring(cx, cy, r, k, ccw, closed=True):
        ang = np.sort(rng.choice(grid, k, replace=False))
        ang = ang if ccw else ang[::-1]
        rad = r * rng.uniform(0.6, 1.0, k)
        pts = np.round(np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]), 7)
        out = pts.tolist()
        return out + out[:1] if closed else out

    def poly(cx, cy, r, k, ccw=True, holes=0, closed=True):
        rings = [ring(cx, cy, r, k, ccw, closed)]
        for h in range(holes):
            hole_x = cx + (h - 0.5) * 0.5 * r
            rings.append(ring(hole_x, cy, 0.15 * r, int(rng.integers(3, 6)), bool(rng.integers(2))))
        return rings

    names = [None, "", "plain", "Zürich – 北京 ✓", "x" * 95, "  padded  "]
    quadkeys = rng.choice(4**12, n, replace=False)
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        r = 10 ** rng.uniform(-4, -1)
        k = int(rng.integers(3, 12))
        shape = i % 11
        if shape == 0:
            wkt = point_wkt(round(cx, 7), round(cy, 7))
        elif shape in (1, 2):
            wkt = polygon_wkt(poly(cx, cy, r, k, ccw=shape == 2))
        elif shape == 3:
            wkt = polygon_wkt(poly(cx, cy, r, k, ccw=bool(i % 2), closed=False))
        elif shape == 4:
            wkt = polygon_wkt(poly(cx, cy, r, k, ccw=bool(i % 2), holes=int(rng.integers(1, 3))))
        elif shape in (5, 6):
            parts = [
                poly(cx + 3 * j * r, cy, r, int(rng.integers(3, 9)),
                     ccw=bool(rng.integers(2)), holes=int(rng.integers(0, 3)))
                for j in range(int(rng.integers(1, 4)))
            ]
            wkt = multipolygon_wkt(parts)
        elif shape == 7:
            wkt = [None, "", "POLYGON EMPTY", "POINT (1 2 3)"][(i // 11) % 4]
        elif shape == 8:
            wkt = polygon_wkt(poly(cx, cy, r, 3, ccw=bool(i % 2)))
        elif shape == 9:
            wkt = polygon_wkt(poly(cx, cy, r, 40, ccw=bool(i % 2)))
        else:
            wkt = point_wkt(round(cx, 7), round(cy, 7)) if i % 2 else polygon_wkt(poly(cx, cy, r, 4))
        quadkey = np.base_repr(int(quadkeys[i]), 4).rjust(12, "0")
        name = names[int(rng.integers(len(names)))]
        name = f"plain-{i}" if name == "plain" else name
        v = [None, float("nan"), float(rng.normal() * 1e3)][int(rng.integers(3))]
        f = None if rng.integers(4) == 0 else float(np.float32(rng.normal()))
        big = [None, (1 << 53) + 1, -(1 << 63), int(rng.integers(-10**12, 10**12))][int(rng.integers(4))]
        small = None if rng.integers(4) == 0 else int(rng.integers(-2**31, 2**31))
        flag = [None, True, False][int(rng.integers(3))]
        rows.append((wkt, quadkey, name, v, f, big, small, flag))
    return rows


def golden_batch(rows: list[tuple]) -> pa.RecordBatch:
    types = [pa.string(), pa.string(), pa.string(), pa.float64(), pa.float32(),
             pa.int64(), pa.int32(), pa.bool_()]
    names = [c.split()[0] for c in SCHEMA.split(", ")]
    return pa.record_batch(
        [pa.array(list(c), type=t) for c, t in zip(zip(*rows), types)], names=names
    )


def digest(items) -> str:
    """SHA-256 over a sequence of optional byte strings (length-prefixed,
    so boundaries count)."""
    h = hashlib.sha256()
    for x in items:
        h.update(b"N" if x is None else len(x).to_bytes(4, "little") + bytes(x))
    return h.hexdigest()


def file_digest(paths) -> str:
    return digest(
        os.path.basename(p).encode() + open(p, "rb").read() for p in sorted(paths)
    )


def gpkg_rows_digest(paths) -> str:
    """Digest of every feature row (fid, blob, attributes) read back in fid
    order, file by file."""
    out = []
    for p in sorted(paths):
        db = sqlite3.connect(p)
        layer = db.execute("SELECT table_name FROM gpkg_contents").fetchone()[0]
        rows = db.execute(f'SELECT * FROM "{layer}" ORDER BY fid').fetchall()
        db.close()
        out.append(repr((os.path.basename(p), rows)).encode())
    return digest(out)


def test_encoders_match_golden_digests():
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch, wkb_from_batch
    from open_buildings_spark.operators import flatgeobuf as fgb
    from open_buildings_spark.operators import gpkg, shapefile as shp

    rb = golden_batch(golden_rows())
    batch = parse_wkt_batch(rb.column("wkt").to_pandas())
    names = rb.schema.names[1:]
    fgb_cols = [(c, fgb._SPARK_CT[t]) for c, t in zip(names, PROP_TYPES)]
    feats = fgb.encode_features(batch, fgb.encode_props(fgb_cols, rb.select(names)))
    recs, stype, bb = shp.shp_records(batch)
    keep = pa.array(stype > 0)
    fields = shp._dbf_fields(list(zip(names, PROP_TYPES)))
    dbf = [
        shp._dbf_column(rb.column(c).filter(keep), *f[1:]).tobytes()
        for c, f in zip(names, fields)
    ]
    got = {
        "wkb": digest(wkb_from_batch(batch).to_pylist()),
        "fgb_features": digest(feats.to_pylist()),
        "shp_records": digest(recs.to_pylist()),
        "dbf_columns": digest(dbf),
        "gpkg_blobs": digest(gpkg.gpkg_blobs(batch, kernels.bboxes(batch)).to_pylist()),
    }
    assert got == {k: DIGESTS[k] for k in got}
    assert set(batch.gtype.tolist()) == {-1, 1, 3, 6}


def test_writers_match_golden_digests(spark, tmp_path):
    from open_buildings_spark.geo.wkt import GT_POINT, parse_wkt_batch
    from open_buildings_spark.operators import flatgeobuf as fgb
    from open_buildings_spark.operators import gpkg, shapefile as shp
    from open_buildings_spark.operators.sharded import sharded_export

    rows = golden_rows()
    gtype = parse_wkt_batch(pd.Series([r[0] for r in rows], dtype=object)).gtype
    df = spark.createDataFrame(rows, SCHEMA)
    polys = spark.createDataFrame([r for r, t in zip(rows, gtype) if t != GT_POINT], SCHEMA)
    d = str(tmp_path)
    fgb.write_fgb(df, f"{d}/one.fgb")
    shp.write_shp(polys, f"{d}/one.shp")
    gpkg.write_gpkg(df, f"{d}/one.gpkg")
    for fmt, frame in (("fgb", df), ("shp", polys), ("gpkg", df)):
        sharded_export(frame, f"{d}/sharded_{fmt}", fmt=fmt, level=2)
    got = {
        "file_fgb": file_digest([f"{d}/one.fgb"]),
        "file_shp": file_digest(glob.glob(f"{d}/one.sh?") + [f"{d}/one.dbf"]),
        "file_gpkg_rows": gpkg_rows_digest([f"{d}/one.gpkg"]),
        "sharded_fgb": file_digest(glob.glob(f"{d}/sharded_fgb/*.fgb")),
        "sharded_shp": file_digest(
            glob.glob(f"{d}/sharded_shp/*.sh?") + glob.glob(f"{d}/sharded_shp/*.dbf")
        ),
        "sharded_gpkg_rows": gpkg_rows_digest(glob.glob(f"{d}/sharded_gpkg/*.gpkg")),
    }
    assert got == {k: DIGESTS[k] for k in got}
