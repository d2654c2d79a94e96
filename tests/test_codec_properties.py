"""Property-based codec round-trips (hypothesis): random valid polygons /
multipolygons / points survive WKT -> batch -> {WKT, WKB, FGB, SHP record}
-> batch with exact coordinates, types, and ring structure.

Pure-Python/numpy — no SparkSession, so these run in milliseconds and
fuzz the geometry codecs far beyond the fixture corpus.
"""

import os
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import assume, example, given, settings, strategies as st

from open_buildings_spark.geo.wkt import (
    GT_MULTIPOLYGON,
    GT_POINT,
    GT_POLYGON,
    multipolygon_wkt,
    parse_wkb_batch,
    parse_wkt_batch,
    point_wkt,
    polygon_wkt,
    wkb_from_batch,
)

finite = st.floats(
    min_value=-179.9, max_value=179.9, allow_nan=False, allow_infinity=False
)


@st.composite
def ring(draw, min_pts=3, max_pts=8):
    """A closed, non-degenerate-ish ring around a random center."""
    cx, cy = draw(finite), draw(st.floats(-80, 80, allow_nan=False))
    n = draw(st.integers(min_pts, max_pts))
    # star-shaped: sorted angles guarantee a simple (non-self-crossing) ring
    angles = sorted(
        draw(
            st.lists(
                st.floats(0, 2 * np.pi - 1e-3, allow_nan=False),
                min_size=n, max_size=n, unique=True,
            )
        )
    )
    radii = draw(
        st.lists(st.floats(1e-4, 0.5, allow_nan=False), min_size=n, max_size=n)
    )
    pts = [
        [cx + r * np.cos(a), cy + r * np.sin(a)] for a, r in zip(angles, radii)
    ]
    pts.append(pts[0])
    return pts


@st.composite
def polygon_rings(draw):
    shell = draw(ring(min_pts=3, max_pts=8))
    n_holes = draw(st.integers(0, 2))
    return [shell] + [draw(ring(min_pts=3, max_pts=5)) for _ in range(n_holes)]


def _batch_of(wkt: str):
    return parse_wkt_batch(pd.Series([wkt]))


def _assert_batches_equal(a, b):
    assert list(a.gtype) == list(b.gtype)
    assert list(a.ring_geom) == list(b.ring_geom)
    assert list(a.ring_is_hole) == list(b.ring_is_hole)
    assert list(a.ring_offsets) == list(b.ring_offsets)
    np.testing.assert_array_equal(a.coords, b.coords)


@settings(max_examples=60, deadline=None)
@given(polygon_rings())
def test_polygon_wkt_wkb_roundtrip(rings):
    wkt = polygon_wkt(rings)
    b1 = _batch_of(wkt)
    assert b1.gtype[0] == GT_POLYGON
    assert int((~b1.ring_is_hole).sum()) == 1
    # WKT re-format round-trip (repr floats are exact)
    b2 = _batch_of(polygon_wkt([b1.ring(i) for i in range(b1.n_rings)]))
    _assert_batches_equal(b1, b2)
    # WKB round-trip
    b3 = parse_wkb_batch(pd.Series([wkb_from_batch(b1)[0].as_py()]))
    _assert_batches_equal(b1, b3)


@settings(max_examples=40, deadline=None)
@given(st.lists(polygon_rings(), min_size=1, max_size=3))
def test_multipolygon_wkt_wkb_roundtrip(polys):
    wkt = multipolygon_wkt(polys)
    b1 = _batch_of(wkt)
    assert b1.gtype[0] == GT_MULTIPOLYGON
    assert int((~b1.ring_is_hole).sum()) == len(polys)
    b3 = parse_wkb_batch(pd.Series([wkb_from_batch(b1)[0].as_py()]))
    _assert_batches_equal(b1, b3)


@settings(max_examples=40, deadline=None)
@given(polygon_rings(), st.text(min_size=0, max_size=40))
def test_fgb_feature_roundtrip(rings, name):
    """encode_features -> generic flatbuffer decode returns the same WKT."""
    from open_buildings_spark.operators import flatgeobuf as fgb

    b1 = _batch_of(polygon_wkt(rings))
    cols = [("name", fgb.CT_STRING), ("v", fgb.CT_DOUBLE)]
    rb = pa.record_batch([pa.array([name]), pa.array([2.5])], names=["name", "v"])
    blob = fgb.encode_features(b1, fgb.encode_props(cols, rb))[0].as_py()
    fbuf = blob[4:]
    feat = fgb._FBTable(fbuf, int.from_bytes(fbuf[:4], "little"))
    got_wkt = fgb._decode_geometry_wkt(fgb._FBTable(fbuf, feat.indirect(0)), 0)
    _assert_batches_equal(b1, _batch_of(got_wkt))
    props = fgb._decode_properties(bytes(feat.vector(1, "B", 1)), cols)
    assert props["name"] == name and props["v"] == 2.5


@settings(max_examples=40, deadline=None)
@given(polygon_rings())
def test_shapefile_record_roundtrip_semantics(rings):
    """Polygon -> shp record bytes -> decoded rings: same point sets per
    ring (orientation may flip per spec), holes preserved by count."""
    import struct

    from open_buildings_spark.operators import shapefile as shp

    b1 = _batch_of(polygon_wkt(rings))
    rec = shp.shp_records(b1)[0][0].as_py()[8:]
    nparts, npts = struct.unpack_from("<ii", rec, 36)
    assert nparts == len(rings)
    parts = struct.unpack_from(f"<{nparts}i", rec, 44)
    pts = np.frombuffer(rec, dtype="<f8", count=npts * 2, offset=44 + 4 * nparts).reshape(-1, 2)
    bounds = list(parts) + [npts]
    for i in range(b1.n_rings):
        orig = b1.ring(i)
        got = pts[bounds[i] : bounds[i + 1]]
        closed = np.vstack([orig, orig[0]]) if not np.array_equal(orig[0], orig[-1]) else orig
        # same vertex set whether or not the writer reversed for orientation
        assert {tuple(p) for p in got} == {tuple(p) for p in closed}


@settings(max_examples=30, deadline=None)
@given(finite, st.floats(-80, 80, allow_nan=False))
def test_point_roundtrip(x, y):
    wkt = point_wkt(x, y)
    b1 = _batch_of(wkt)
    assert b1.gtype[0] == GT_POINT
    np.testing.assert_array_equal(b1.coords, [[x, y]])
    b2 = parse_wkb_batch(pd.Series([wkb_from_batch(b1)[0].as_py()]))
    _assert_batches_equal(b1, b2)


# --- rectangle fast path vs exact kernels --------------------------------
# Five-vertex closed rings on a tiny grid: real rectangles (any start
# corner, either orientation) mixed with zero-area back-and-forth rings,
# repeated vertices and diagonal steps — every shape the corner/one-move
# tests could mistake for a rectangle.
_grid_ring = st.lists(
    st.tuples(st.sampled_from([0.0, 1.0, 2.0]), st.sampled_from([0.0, 1.0])),
    min_size=4, max_size=4,
).map(lambda v: v + [v[0]])

# points on, inside and outside every candidate edge
_probe_wkt = pd.Series(
    [point_wkt(x, y) for x in np.arange(-0.5, 2.75, 0.25) for y in np.arange(-0.5, 1.75, 0.25)]
)


@settings(max_examples=150, deadline=None)
@given(_grid_ring)
@example([(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (2.0, 0.0), (0.0, 0.0)])
def test_rect_fast_paths_match_exact_kernels(pts):
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.udfs import rect_rings_mask

    rings = [(np.asarray(pts, dtype=np.float64), False)]
    probes = parse_wkt_batch(_probe_wkt)
    np.testing.assert_array_equal(
        kernels.intersects_mask(probes, rings),
        kernels._intersects_exact(probes, rings),
    )
    rect = kernels.rings_rect(rings)
    if rect is not None:
        w, s, e, n = rect
        assert {tuple(p) for p in pts} == {(w, s), (w, n), (e, s), (e, n)}
    # the vectorized twin (spatial-join witness) classifies it the same way
    assert bool(rect_rings_mask(_batch_of(polygon_wkt([pts])))[0]) == (rect is not None)


# --- batch encoders vs their independent decoders ------------------------
# Mixed batches (points, CW/CCW shells, unclosed shells, holed polygons,
# multipolygons with holed parts, missing rows) go through the WKB, FGB and
# SHP batch encoders and back through parse_wkb_batch, the FGB flatbuffer
# table walk and read_shp.

_GRID = np.deg2rad(np.arange(0, 360, 10))
_lat = st.floats(-80, 80, allow_nan=False)


@st.composite
def oriented_ring(draw, closed=True):
    """A star-shaped ring on a 10-degree angle grid in either orientation,
    closed or not; never near zero area."""
    cx, cy = draw(finite), draw(_lat)
    k = draw(st.integers(3, 7))
    idx = sorted(draw(st.lists(st.integers(0, 35), min_size=k, max_size=k, unique=True)))
    if draw(st.booleans()):
        idx = idx[::-1]
    radii = draw(st.lists(st.sampled_from([1e-3, 0.01, 0.1, 0.5]), min_size=k, max_size=k))
    pts = np.array([[cx + r * np.cos(_GRID[i]), cy + r * np.sin(_GRID[i])] for i, r in zip(idx, radii)])
    x, y = pts[:, 0] - pts[0, 0], pts[:, 1] - pts[0, 1]
    assume(abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) > 1e-9)
    ring = pts.tolist()
    return ring + ring[:1] if closed else ring


@st.composite
def holed_polygon(draw):
    shell = draw(oriented_ring(closed=draw(st.booleans())))
    return [shell] + [draw(oriented_ring()) for _ in range(draw(st.integers(0, 2)))]


geometry_text = st.one_of(
    st.builds(point_wkt, finite, _lat),
    st.builds(polygon_wkt, holed_polygon()),
    st.builds(multipolygon_wkt, st.lists(holed_polygon(), min_size=1, max_size=3)),
    st.sampled_from([None, ""]),
)
prop_rows = st.tuples(
    geometry_text,
    st.none() | st.text(alphabet="abXY09-_üé北京✓", max_size=12),
    st.none() | st.sampled_from([(1 << 53) + 1, -(1 << 63), (1 << 63) - 1]) | st.integers(-(1 << 63), (1 << 63) - 1),
    st.none() | st.floats(-1e6, 1e6, allow_nan=False),
    st.none() | st.booleans(),
)
_PROP_NAMES = ["name", "n", "v", "b"]


def _parts_of(b):
    """Rings of a one-geometry batch grouped into parts (holes follow
    their shell)."""
    parts: list[list[np.ndarray]] = []
    for r in range(b.n_rings):
        if not b.ring_is_hole[r] or not parts:
            parts.append([])
        parts[-1].append(b.ring(r))
    return parts


def _shp_ring(ring, hole):
    """The ring as a shapefile stores it: closed, shells clockwise and holes
    counter-clockwise."""
    from open_buildings_spark.geo.kernels import _ring_shoelace

    c = ring if np.array_equal(ring[0], ring[-1]) else np.vstack([ring, ring[:1]])
    area = _ring_shoelace(c[:, 0], c[:, 1], np.array([0, len(c)]))[0][0]
    return c[::-1] if (area > 0) != hole else c


@settings(max_examples=80, deadline=None)
@given(st.lists(prop_rows, min_size=1, max_size=8))
def test_batch_encoders_match_their_decoders(rows):
    from open_buildings_spark.operators import flatgeobuf as fgb
    from open_buildings_spark.operators import shapefile as shp

    wkts, names, ints, doubles, bools = (list(c) for c in zip(*rows))
    rb = pa.record_batch(
        [
            pa.array(wkts, pa.string()), pa.array(names, pa.string()),
            pa.array(ints, pa.int64()), pa.array(doubles, pa.float64()),
            pa.array(bools, pa.bool_()),
        ],
        names=["wkt"] + _PROP_NAMES,
    )
    props = [dict(zip(_PROP_NAMES, r[1:])) for r in rows]
    batch = parse_wkt_batch(pd.Series(wkts, dtype=object))
    missing = batch.gtype == -1

    # WKB
    wkb = wkb_from_batch(batch)
    _assert_batches_equal(batch, parse_wkb_batch(pd.Series(wkb.to_pylist(), dtype=object)))

    # FlatGeobuf: size prefix, geometry and props through the table walk
    cols = [("name", fgb.CT_STRING), ("n", fgb.CT_LONG), ("v", fgb.CT_DOUBLE), ("b", fgb.CT_BOOL)]
    feats = fgb.encode_features(batch, fgb.encode_props(cols, rb.select(_PROP_NAMES)))
    assert feats.is_null().to_pylist() == missing.tolist()
    for i, blob in enumerate(feats.to_pylist()):
        if blob is None:
            continue
        assert int.from_bytes(blob[:4], "little") == len(blob) - 4
        got = fgb._decode_feature(blob[4:], 0, cols)
        _assert_batches_equal(_batch_of(wkts[i]), _batch_of(got.pop("wkt")))
        assert got == {k: v for k, v in props[i].items() if v is not None}

    # Shapefile: one file per shape type, read back with read_shp. dBASE
    # stores an empty string as blank (read back as null) and doubles with
    # 10 decimals.
    columns = [("name", "string"), ("n", "bigint"), ("v", "double"), ("b", "boolean")]
    with tempfile.TemporaryDirectory() as d:
        for is_point in (True, False):
            sel = ~missing & ((batch.gtype == GT_POINT) == is_point)
            if not sel.any():
                continue
            path = os.path.join(d, f"{is_point}.shp")
            assert shp.write_shp_shard([rb.filter(pa.array(sel))], path, columns)[0] == sel.sum()
            back = shp.read_shp(path).astype(object)
            for i, got in zip(np.nonzero(sel)[0], back.to_dict("records")):
                want = _batch_of(wkts[i])
                have = _batch_of(got["wkt"])
                if is_point:
                    _assert_batches_equal(want, have)
                else:
                    expect = [
                        [_shp_ring(r, j > 0) for j, r in enumerate(part)]
                        for part in _parts_of(want)
                    ]
                    parts = _parts_of(have)
                    assert [len(p) for p in parts] == [len(p) for p in expect]
                    for pa_, pe in zip(parts, expect):
                        for ra, re in zip(pa_, pe):
                            np.testing.assert_array_equal(ra, re)
                p = props[i]
                assert got["name"] == (p["name"] or None)
                assert pd.isna(got["n"]) if p["n"] is None else got["n"] == p["n"]
                assert pd.isna(got["b"]) if p["b"] is None else got["b"] == p["b"]
                if p["v"] is None:
                    assert pd.isna(got["v"])
                else:
                    assert abs(got["v"] - p["v"]) <= 1e-10 * max(1.0, abs(p["v"]))
