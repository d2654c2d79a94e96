"""Structural invariants for the from-scratch S2 cell index (geo/s2.py).

No S2 library exists in this container, so the module is pinned by the
published scheme's *structural* properties rather than external goldens:
face partitioning of the sphere, the quadratic ST projection's range,
Hilbert-curve continuity (consecutive positions are 4-neighbors) on every
face, bijective (face,i,j) <-> leaf round trips, and the parent/child
range-containment law that makes the ids usable as a range-join index.
"""

from __future__ import annotations

import numpy as np
import pytest

from open_buildings_spark.geo import s2


def test_leaf_face_ij_round_trip():
    rng = np.random.default_rng(7)
    n = 20_000
    face = rng.integers(0, 6, n)
    i = rng.integers(0, 1 << 30, n)
    j = rng.integers(0, 1 << 30, n)
    leaf = s2.leaf_from_face_ij(face, i, j)
    f2, i2, j2 = s2.leaf_to_face_ij(leaf)
    np.testing.assert_array_equal(f2, face)
    np.testing.assert_array_equal(i2, i)
    np.testing.assert_array_equal(j2, j)
    # every leaf id has the sentinel bit set (odd) and level 30
    assert (leaf & 1 == 1).all()
    np.testing.assert_array_equal(s2.cell_level(leaf), 30)


def test_lonlat_faces():
    # cardinal points land on the face whose axis they sit on
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    face, _, _ = s2._face_uv(lon, lat)
    np.testing.assert_array_equal(face, [0, 1, 2, 3, 4, 5])
    # face centers project to the cell-grid midpoint (±1 step: sin/cos of
    # the exact axis angles leave ~1e-16 residue, e.g. sin(pi) = 1.2e-16,
    # which floor()s to the last index below the midpoint)
    leaf = s2.leaf_from_lonlat(lon, lat)
    _, i, j = s2.leaf_to_face_ij(leaf)
    assert (np.abs(i - (1 << 29)) <= 1).all()
    assert (np.abs(j - (1 << 29)) <= 1).all()


def test_st_transform_monotone_and_bounded():
    u = np.linspace(-1, 1, 10_001)
    st = s2._st(u)
    assert st.min() >= 0.0 and st.max() <= 1.0
    assert (np.diff(st) > 0).all()
    np.testing.assert_allclose(s2._st(np.array([0.0]))[0], 0.5, atol=1e-15)


@pytest.mark.parametrize("face", range(6))
def test_hilbert_continuity_per_face(face):
    """Walk the whole level-5 curve on one face: consecutive positions must
    be edge-adjacent cells (|di|+|dj| == 1) — THE Hilbert property."""
    level = 5
    shift = 2 * (s2.MAX_LEVEL - level)
    pos = np.arange(1 << (2 * level), dtype=np.uint64)
    # representative leaf of each level-5 cell: position bits then zeros
    ids = (
        ((np.uint64(face) << np.uint64(60)) | (pos << np.uint64(shift)))
        << np.uint64(1)
    ) | np.uint64(1)
    _, i, j = s2.leaf_to_face_ij(ids.view(np.int64))
    ci, cj = i >> (s2.MAX_LEVEL - level), j >> (s2.MAX_LEVEL - level)
    step = np.abs(np.diff(ci)) + np.abs(np.diff(cj))
    np.testing.assert_array_equal(step, 1)


def test_cell_at_level_and_range_containment():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 5_000)
    lat = rng.uniform(-89.9, 89.9, 5_000)
    leaf = s2.leaf_from_lonlat(lon, lat)
    for level in (0, 4, 10, 29):
        cell = s2.cell_at_level(leaf, level)
        np.testing.assert_array_equal(s2.cell_level(cell), level)
        lo, hi = s2.cell_range(cell)
        assert (lo <= leaf).all() and (leaf <= hi).all()
        # parent of the parent still contains
        if level >= 4:
            up = s2.cell_at_level(leaf, level - 4)
            ulo, uhi = s2.cell_range(up)
            assert (ulo <= lo).all() and (hi <= uhi).all()
    # a point 30 degrees of longitude away is OUTSIDE the level-10 range
    # (away from the poles — at lat 89.9 that's only ~6 km and may
    # legitimately share a ~10 km level-10 cell)
    mid = np.abs(lat) < 60.0
    other = s2.leaf_from_lonlat(lon[mid] + 30.0, lat[mid])
    cell = s2.cell_at_level(leaf[mid], 10)
    lo, hi = s2.cell_range(cell)
    assert ((other < lo) | (other > hi)).all()


def test_cells_from_lonlat_matches_truncated_leaf():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 2_000)
    lat = rng.uniform(-90, 90, 2_000)
    direct = s2.cells_from_lonlat(lon, lat, 10)
    via_leaf = s2.cell_at_level(s2.leaf_from_lonlat(lon, lat), 10)
    np.testing.assert_array_equal(direct, via_leaf)


def test_same_face_sign_stability():
    """Faces 4 and 5 wrap negative as int64; all cells of one face share a
    sign so within-face BETWEEN range scans stay correct."""
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 20_000)
    lat = rng.uniform(-90, 90, 20_000)
    leaf = s2.leaf_from_lonlat(lon, lat)
    face = (leaf.view(np.uint64) >> np.uint64(61)).astype(np.int64)
    neg = leaf < 0
    np.testing.assert_array_equal(neg, face >= 4)


def test_nearby_points_share_coarse_cell():
    base = s2.cells_from_lonlat([12.5], [41.9], 10)[0]
    jit = s2.cells_from_lonlat([12.5 + 1e-7], [41.9 - 1e-7], 10)[0]
    assert base == jit
    far = s2.cells_from_lonlat([13.5], [41.9], 10)[0]
    assert base != far


def test_face_pos_matches_layout():
    rng = np.random.default_rng(17)
    lon = rng.uniform(-180, 180, 5_000)
    lat = rng.uniform(-90, 90, 5_000)
    for level in (8, 10, 30):
        ids = s2.cells_from_lonlat(lon, lat, level)
        face, pos = s2.face_pos(ids, level)
        u = ids.view(np.uint64)
        np.testing.assert_array_equal(face, (u >> np.uint64(61)).astype(np.int64))
        shift = np.uint64(2 * (30 - level) + 1)
        np.testing.assert_array_equal(
            pos, ((u >> shift) & np.uint64((1 << (2 * level)) - 1)).astype(np.int64)
        )
        assert (face >= 0).all() and (face <= 5).all()
        assert (pos >= 0).all()


def test_neighbor_cells_interior_and_rings():
    # an interior cell (Rome, level 10: far from any face edge)
    c = int(s2.cells_from_lonlat(np.array([12.5]), np.array([41.9]), 10)[0])
    disk1 = s2.neighbor_cells(c, 1)
    assert c in disk1 and len(disk1) == 9
    assert (s2.cell_level(np.array(disk1)) == 10).all()
    # same face, Chebyshev distance exactly <= 1 in cell units
    f0, i0, j0, size = s2.cell_corner_ij(c)
    for nb in disk1:
        f, i, j, _ = s2.cell_corner_ij(nb)
        assert f == f0
        assert max(abs(i - i0), abs(j - j0)) <= size
    assert len(s2.neighbor_cells(c, 2)) == 25


def test_neighbor_cells_cross_face_symmetry():
    # cells hugging face seams: +x/+y (lon 45, low lat), +x/+z (lon 0,
    # lat 45), and the -x/-y seam (lon -135) — all at latitudes where the
    # equatorial face still owns the point so its cell touches the edge
    for lon, lat in ((45.0, 0.0), (45.0, 20.0), (0.0, 45.0), (-135.0, -20.0)):
        a = int(s2.cells_from_lonlat(np.array([lon]), np.array([lat]), 8)[0])
        nbs = s2.neighbor_cells(a, 1)
        faces = {s2.cell_corner_ij(n)[0] for n in nbs}
        assert len(faces) >= 2  # the disk crosses onto the adjacent face
        for b in nbs:
            assert a in s2.neighbor_cells(b, 1), (lon, lat, b)


def test_neighbor_cells_cube_corner():
    # a cell in the corner of face 0 touching the cube vertex (u=v=1):
    # only 3 faces meet there, so the full 3x3 disk collapses below 9
    leaf = s2.leaf_from_face_ij(
        np.array([0]), np.array([(1 << 30) - 1]), np.array([(1 << 30) - 1])
    )
    c = int(s2.cell_at_level(leaf, 6)[0])
    disk = s2.neighbor_cells(c, 1)
    assert c in disk and len(disk) < 9
    for b in disk:
        assert c in s2.neighbor_cells(b, 1)


def test_cover_bbox_contains_member_points():
    rng = np.random.default_rng(23)
    rects = [
        (12.3, 41.7, 12.7, 42.1),  # interior of one face
        (44.0, -1.0, 46.0, 1.0),  # crosses the +x/+y seam and the equator
        (-10.0, 80.0, 50.0, 90.0),  # polar cap touching the pole
        (170.0, -45.5, 180.0, -44.0),  # antimeridian edge, southern faces
        (-180.0, -90.0, -170.0, -80.0),  # south-pole corner
        (-90.5, 34.9, -89.5, 35.9),  # face 4/0 seam near the polar circle
    ]
    for _ in range(6):
        w = rng.uniform(-180, 175)
        s = rng.uniform(-90, 85)
        rects.append((w, s, w + rng.uniform(0.1, 20), s + rng.uniform(0.1, 20)))
    for w, s, e, n in rects:
        for level in (4, 8):
            cover = set(s2.cover_bbox(w, s, e, n, level))
            assert cover
            lon = rng.uniform(w, min(e, 180.0), 400)
            lat = rng.uniform(s, min(n, 90.0), 400)
            cells = s2.cells_from_lonlat(lon, lat, level)
            missing = [c for c in np.unique(cells) if int(c) not in cover]
            assert not missing, (w, s, e, n, level, missing[:3])


def test_cover_bbox_degenerate_and_out_of_domain():
    rng = np.random.default_rng(31)
    # zero-width rect: a meridian segment is valid and must still be
    # covered (the old strict-interval skip returned an empty cover)
    cover = set(s2.cover_bbox(12.5, 41.0, 12.5, 42.0, 8))
    assert cover
    lat = rng.uniform(41.0, 42.0, 200)
    for c in np.unique(s2.cells_from_lonlat(np.full(200, 12.5), lat, 8)):
        assert int(c) in cover
    # out-of-range latitudes clamp instead of flipping tan() sign
    cover = set(s2.cover_bbox(-1.0, 30.0, 1.0, 95.0, 8))
    lon = rng.uniform(-1.0, 1.0, 400)
    lat = rng.uniform(30.0, 90.0, 400)
    for c in np.unique(s2.cells_from_lonlat(lon, lat, 8)):
        assert int(c) in cover
    cover = set(s2.cover_bbox(10.0, -95.0, 12.0, -30.0, 8))
    lon = rng.uniform(10.0, 12.0, 400)
    lat = rng.uniform(-90.0, -30.0, 400)
    for c in np.unique(s2.cells_from_lonlat(lon, lat, 8)):
        assert int(c) in cover


def test_cover_bbox_thin_band_stays_tight():
    """A 2-degree band around the full equator must cover a band of cells,
    not enumerate entire faces (the unclamped sec(D) blowup kept whole
    faces: 262k cells at level 8; the clamped bound is ~10k — 256 columns
    x ~10 conservative rows x 4 faces)."""
    cover = s2.cover_bbox(-180.0, -1.0, 180.0, 1.0, 8)
    assert len(cover) < 20_000
    rng = np.random.default_rng(37)
    lon = rng.uniform(-180.0, 180.0, 500)
    lat = rng.uniform(-1.0, 1.0, 500)
    cset = set(cover)
    for c in np.unique(s2.cells_from_lonlat(lon, lat, 8)):
        assert int(c) in cset


def test_cover_bbox_is_tight_for_small_rects():
    # a city-sized rect at matched level should cover a handful of cells,
    # not a face's worth
    cover = s2.cover_bbox(12.3, 41.7, 12.7, 42.1, 8)
    assert 1 <= len(cover) <= 16


def test_add_s2_cell_matches_numpy(spark):
    """Operator output == direct numpy kernel on the same lon/lat, nulls
    stay null, and the rollup plan keeps exactly TWO ArrowEvalPython nodes
    (WKT parse + s2) with no duplicated eval from the double id reference."""
    import pandas as pd
    from pyspark.sql import functions as F

    from open_buildings_spark.operators.enrich import add_s2_cell

    pdf = pd.DataFrame(
        {
            "lon": [12.5, -70.66, 151.2, None, 0.0],
            "lat": [41.9, -33.45, -33.87, 10.0, -90.0],
        }
    )
    out = (
        add_s2_cell(spark.createDataFrame(pdf), level=10)
        .orderBy("lon")
        .toPandas()
    )
    got = out["s2_cell"]
    assert got[pd.isna(out["lon"])].isna().all()
    ok = ~pd.isna(out["lon"])
    exp = s2.cells_from_lonlat(
        out.loc[ok, "lon"].to_numpy(), out.loc[ok, "lat"].to_numpy(), 10
    )
    np.testing.assert_array_equal(got[ok].to_numpy(dtype=np.int64), exp)
    # face/pos extraction used by the rollup query round-trips the id
    df = add_s2_cell(spark.createDataFrame(pdf).dropna(), level=10)
    c = F.col("s2_cell")
    fp = df.select(
        F.shiftrightunsigned(c, 61).alias("f"),
        F.shiftrightunsigned(c, 41).bitwiseAND(F.lit((1 << 20) - 1)).alias("p"),
        c,
    ).toPandas()
    ids = fp["s2_cell"].to_numpy(dtype=np.int64)
    face = (ids.view(np.uint64) >> np.uint64(61)).astype(np.int64)
    pos = ((ids.view(np.uint64) >> np.uint64(41)) & np.uint64((1 << 20) - 1)).astype(np.int64)
    np.testing.assert_array_equal(fp["f"].to_numpy(dtype=np.int64), face)
    np.testing.assert_array_equal(fp["p"].to_numpy(dtype=np.int64), pos)


def test_add_s2_cell_leaf_level_exact_with_nulls(spark):
    """Regression: a null coordinate in the batch must NOT corrupt the
    other rows' ids. Series.mask on int64 upcasts to float64, which rounds
    ids beyond 2^53 — every leaf-level id, since leaves end in the sentinel
    1 bit — so the old mask-then-astype order broke all rows sharing a
    batch with one null."""
    import pandas as pd

    from open_buildings_spark.operators.enrich import add_s2_cell

    pdf = pd.DataFrame(
        {"lon": [12.5, None, -70.66], "lat": [41.9, 10.0, -33.45]}
    )
    # collect() Rows, NOT toPandas(): pandas itself would float64 the
    # nullable long column on the way OUT and mask the regression
    rows = (
        add_s2_cell(spark.createDataFrame(pdf), level=30)
        .orderBy("lon")
        .collect()
    )
    got = {r["lon"]: r["s2_cell"] for r in rows}
    exp = s2.leaf_from_lonlat(np.array([12.5, -70.66]), np.array([41.9, -33.45]))
    assert got[12.5] == int(exp[0]) and got[-70.66] == int(exp[1])
    assert (exp & 1 == 1).all()  # leaf ids: the float path would zero this
    assert got[None] is None


def test_s2_rollup_plan_two_python_evals(spark):
    import contextlib
    import io
    import re

    import __spark_entry__ as entrymod

    df = entrymod._q_s2_rollup(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.M)
    assert sum(1 for n in nodes if n == "ArrowEvalPython") == 2
    # partial (map-side) aggregation before the exchange: the rollup's agg
    # appears as HashAggregate -> Exchange -> HashAggregate at the plan tail
    tail = [n for n in nodes if n in ("HashAggregate", "Exchange")][-3:]
    assert tail == ["HashAggregate", "Exchange", "HashAggregate"]


def test_s2_range_query_broadcast_plan_and_values(spark):
    """The level-8 lookup joins the doc leaf ids against BROADCAST ranges
    (no shuffle of the corpus side for the probe) and its counts equal a
    driver-side recomputation on the same rows."""
    import contextlib
    import io
    import re

    import __spark_entry__ as entrymod

    df = entrymod._q_s2_range(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan  # range predicate vs tiny side
    out = df.toPandas().sort_values("qid").reset_index(drop=True)
    # recompute: every geo doc's leaf cell truncated to level 8
    geo = entrymod._geo_docs(spark, "/root/testdata/sf0.001").select("lon", "lat").toPandas()
    leaf = s2.leaf_from_lonlat(geo["lon"].to_numpy(), geo["lat"].to_numpy())
    cell8 = s2.cell_at_level(leaf, 8)
    from open_buildings_spark import oracles

    for qid, lon, lat in oracles.knn_queries():
        qcell = s2.cells_from_lonlat(np.array([lon]), np.array([lat]), 8)[0]
        want = int((cell8 == qcell).sum())
        got = int(out.loc[out["qid"] == qid, "n_docs"].iloc[0])
        assert got == want, (qid, got, want)
