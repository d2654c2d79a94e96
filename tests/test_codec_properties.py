"""Property-based codec round-trips (hypothesis): random valid polygons /
multipolygons / points survive WKT -> batch -> {WKT, WKB, FGB, SHP record}
-> batch with exact coordinates, types, and ring structure.

Pure-Python/numpy — no SparkSession, so these run in milliseconds and
fuzz the geometry codecs far beyond the fixture corpus.
"""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

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
    b3 = parse_wkb_batch(pd.Series([bytes(wkb_from_batch(b1)[0])]))
    _assert_batches_equal(b1, b3)


@settings(max_examples=40, deadline=None)
@given(st.lists(polygon_rings(), min_size=1, max_size=3))
def test_multipolygon_wkt_wkb_roundtrip(polys):
    wkt = multipolygon_wkt(polys)
    b1 = _batch_of(wkt)
    assert b1.gtype[0] == GT_MULTIPOLYGON
    assert int((~b1.ring_is_hole).sum()) == len(polys)
    b3 = parse_wkb_batch(pd.Series([bytes(wkb_from_batch(b1)[0])]))
    _assert_batches_equal(b1, b3)


@settings(max_examples=40, deadline=None)
@given(polygon_rings(), st.text(min_size=0, max_size=40))
def test_fgb_feature_roundtrip(rings, name):
    """encode_feature -> generic flatbuffer decode returns the same WKT."""
    from open_buildings_spark.operators import flatgeobuf as fgb

    wkt = polygon_wkt(rings)
    b1 = _batch_of(wkt)
    feat_rings = [
        (b1.ring(i), bool(b1.ring_is_hole[i])) for i in range(b1.n_rings)
    ]
    cols = [("name", fgb.CT_STRING), ("v", fgb.CT_DOUBLE)]
    blob = fgb.encode_feature(GT_POLYGON, feat_rings, cols, [name, 2.5])
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
    feat_rings = [
        (b1.ring(i), bool(b1.ring_is_hole[i])) for i in range(b1.n_rings)
    ]
    rec = shp._polygon_record(feat_rings)
    nparts, npts = struct.unpack_from("<ii", rec, 36)
    assert nparts == len(rings)
    parts = struct.unpack_from(f"<{nparts}i", rec, 44)
    pts = np.frombuffer(rec, dtype="<f8", count=npts * 2, offset=44 + 4 * nparts).reshape(-1, 2)
    bounds = list(parts) + [npts]
    for i, (orig, _hole) in enumerate(feat_rings):
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
    b2 = parse_wkb_batch(pd.Series([bytes(wkb_from_batch(b1)[0])]))
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
