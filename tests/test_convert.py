"""Google-CSV conversion pipeline (multipolygon split semantics, reference
google/process.py:76-149) + hypothesis property tests for the codec/kernels."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_buildings_spark.geo import kernels, mercator, olc
from open_buildings_spark.geo.wkt import (
    multipolygon_wkt,
    parse_wkt_batch,
    polygon_wkt,
    wkb_from_batch,
    parse_wkb_batch,
)


@pytest.fixture(scope="module")
def google_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "google.csv"
    single = polygon_wkt([[[10.0, 1.0], [10.001, 1.0], [10.001, 1.001], [10.0, 1.001], [10.0, 1.0]]])
    multi = multipolygon_wkt(
        [
            [[[20.0, 2.0], [20.001, 2.0], [20.001, 2.001], [20.0, 2.001], [20.0, 2.0]]],
            [[[20.01, 2.0], [20.012, 2.0], [20.012, 2.002], [20.01, 2.002], [20.01, 2.0]]],
        ]
    )
    rows = [
        f'1.0005,10.0005,12000,0.91,"{single}",XXXX',
        f'2.0,20.0,24000,0.85,"{multi}",YYYY',
    ]
    p.write_text(
        "latitude,longitude,area_in_meters,confidence,geometry,full_plus_code\n"
        + "\n".join(rows)
        + "\n"
    )
    return str(p)


def test_convert_google_splits_multis(spark, google_csv):
    from open_buildings_spark.operators import convert

    out = convert.convert_google_csv(spark, google_csv).orderBy("confidence", "part_idx")
    rows = out.collect()
    # 1 single + 2 parts of the multi
    assert len(rows) == 3
    multis = [r for r in rows if abs(r.confidence - 0.85) < 1e-9]
    assert sorted(r.part_idx for r in multis) == [0, 1]
    assert all(r.geometry.startswith("POLYGON") for r in rows)
    # lat/lon dropped like the reference's EXCLUDE
    assert "latitude" not in out.columns
    # recomputed area: second multi part is 2x wider and 2x taller than the first
    a0 = [r.area_in_meters for r in multis if r.part_idx == 0][0]
    a1 = [r.area_in_meters for r in multis if r.part_idx == 1][0]
    assert a1 == pytest.approx(a0 * 4, rel=5e-3)
    # plus code is the OLC-12 of each part centroid
    pc = [r.full_plus_code for r in multis if r.part_idx == 0][0]
    assert pc == olc.encode(2.0005, 20.0005, 12)


# ---------------------------------------------------------------------------
# hypothesis property tests
# ---------------------------------------------------------------------------

finite_lon = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
finite_lat = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False)


@settings(max_examples=50, deadline=None)
@given(finite_lon, finite_lat)
def test_quadkey_roundtrip_property(lon, lat):
    x, y = mercator.tile(lon, lat, 12)
    qk = mercator.quadkey_from_tile(x, y, 12)
    assert len(qk) == 12
    assert mercator.tile_from_quadkey(qk) == (x, y, 12)
    w, s, e, n = mercator.tile_bounds(x, y, 12)
    # the point lies inside (or on the boundary of) its tile
    assert w - 1e-9 <= lon <= e + 1e-9
    assert s - 1e-9 <= lat <= n + 1e-9


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(finite_lon, finite_lat), min_size=3, max_size=8
    )
)
def test_wkt_wkb_roundtrip_property(pts):
    ring = [[x, y] for x, y in pts] + [[pts[0][0], pts[0][1]]]
    w = polygon_wkt([ring])
    b = parse_wkt_batch(pd.Series([w]))
    assert b.gtype[0] == 3
    # WKT -> batch -> WKB -> batch preserves coordinates exactly
    wkb = wkb_from_batch(b)[0].as_py()
    b2 = parse_wkb_batch(pd.Series([wkb]))
    assert np.array_equal(b.coords, b2.coords)
    # and WKT re-emission round-trips through the parser
    w2 = polygon_wkt([b.ring(0)])
    b3 = parse_wkt_batch(pd.Series([w2]))
    assert np.array_equal(b.coords, b3.coords)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10**6))
def test_within_consistent_with_intersects(seed):
    rng = np.random.default_rng(seed)
    aoi = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    cx, cy = rng.uniform(-2, 12, 2)
    r = rng.uniform(0.1, 1.5)
    sq = [[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r], [cx - r, cy + r], [cx - r, cy - r]]
    b = parse_wkt_batch(pd.Series([polygon_wkt([sq])]))
    within = kernels.within_mask(b, [(aoi, False)])[0]
    inter = kernels.intersects_mask(b, [(aoi, False)])[0]
    # within implies intersects
    assert not within or inter
    # oracle for axis-aligned squares
    exp_within = (cx - r >= 0) and (cx + r <= 10) and (cy - r >= 0) and (cy + r <= 10)
    exp_inter = (cx + r >= 0) and (cx - r <= 10) and (cy + r >= 0) and (cy - r <= 10)
    assert bool(within) == exp_within
    assert bool(inter) == exp_inter
