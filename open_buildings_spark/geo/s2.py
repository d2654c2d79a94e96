"""Vectorized S2 cell index (public S2 geometry scheme) — the second cell
provider next to the Bing quadkey (`geo/mercator.py`), giving the engine
the "H3/S2 index with quadkey fallback" surface. Pure numpy, batch-at-a-time; no S2 library exists in
this container, so the bit layout follows the published scheme (cube-face
projection, quadratic ST transform, Hilbert curve position, trailing
sentinel bit) and is pinned by structural invariants in
tests/test_s2.py — NOT by goldens from an external implementation.

Scheme (all public: the S2 geometry library docs/papers):
- lat/lon -> unit XYZ; face = axis with the largest |component|
  (0..5 = +x,+y,+z,-x,-y,-z) with the standard per-face (u,v) projection;
- quadratic u->s transform: s = sqrt(1+3u)/2 for u>=0 else 1-sqrt(1-3u)/2;
- (s,t) -> 30-bit integer (i,j); the Hilbert curve over the face grid
  yields a 60-bit position via 4-bit lookup-table steps;
- 64-bit cell id = [3 face bits][2*level position bits][1 sentinel][0s];
  the sentinel 1 marks the level. Ids are stored as SIGNED int64 (Spark
  has no uint64): faces 4-5 wrap negative, which keeps equality joins and
  within-face range scans exact (same-sign two's-complement order) — the
  same convention public SQL engines use for their S2 functions.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2
MAX_LEVEL = 30

# Hilbert sub-cell orders/orientations (the standard S2 tables)
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK)
POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))

_LOOKUP_POS = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orientation: int):
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = POS_TO_IJ[orientation]
    for index in range(4):
        _init_lookup(
            level,
            i + (r[index] >> 1),
            j + (r[index] & 1),
            orig,
            pos + index,
            orientation ^ POS_TO_ORIENTATION[index],
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _face_uv(lon_deg: np.ndarray, lat_deg: np.ndarray):
    """(face, u, v) per point — cube-face projection of the unit vector."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cl = np.cos(lat)
    return _xyz_to_face_uv(cl * np.cos(lon), cl * np.sin(lon), np.sin(lat))


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """(face, u, v) of each (not necessarily unit) direction vector."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    fx = (ax >= ay) & (ax >= az)
    fy = ~fx & (ay >= az)
    face = np.where(
        fx,
        np.where(x >= 0, 0, 3),
        np.where(fy, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        [
            (y, z, x),  # face 0: +x
            (-x, z, y),  # face 1: +y
            (-x, -y, z),  # face 2: +z
            (z, y, x),  # face 3: -x  (u=z/x, v=y/x with x<0)
            (z, -x, y),  # face 4: -y
            (-y, -x, z),  # face 5: -z
        ]
    ):
        m = face == f
        u[m] = ue[m] / de[m]
        v[m] = ve[m] / de[m]
    return face, u, v


def _st(u: np.ndarray) -> np.ndarray:
    """Quadratic UV->ST transform (the library default); written through
    |u| so both np.where branches stay in sqrt's domain."""
    half = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0.0, half, 1.0 - half)


def _ij(s: np.ndarray) -> np.ndarray:
    return np.clip(
        np.floor(s * float(1 << MAX_LEVEL)).astype(np.int64),
        0,
        (1 << MAX_LEVEL) - 1,
    )


def leaf_from_lonlat(lon_deg, lat_deg) -> np.ndarray:
    """Level-30 (leaf) S2 cell ids as int64 (uint64 bit pattern)."""
    face, u, v = _face_uv(lon_deg, lat_deg)
    i, j = _ij(_st(u)), _ij(_st(v))
    return leaf_from_face_ij(face, i, j)


def leaf_from_face_ij(
    face: np.ndarray, i: np.ndarray, j: np.ndarray
) -> np.ndarray:
    """(face, i, j) -> leaf cell id via 8 lookup-table Hilbert steps."""
    fu = face.astype(np.uint64)
    n = fu << np.uint64(2 * MAX_LEVEL)  # 3 face bits above 60 position bits
    bits = (fu & np.uint64(SWAP_MASK)).astype(np.int64)
    iu = np.asarray(i, dtype=np.int64)
    ju = np.asarray(j, dtype=np.int64)
    mask = (1 << LOOKUP_BITS) - 1
    pos = np.zeros(len(fu), dtype=np.uint64)
    for k in range(7, -1, -1):
        bits += ((iu >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2)
        bits += ((ju >> (k * LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        pos |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    leaf = ((n | pos) << np.uint64(1)) | np.uint64(1)
    return leaf.view(np.int64)


def leaf_to_face_ij(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`leaf_from_face_ij` (tests pin the round trip)."""
    leaf = np.asarray(ids, dtype=np.int64).view(np.uint64)
    pos = (leaf >> np.uint64(1)) & np.uint64((1 << (2 * MAX_LEVEL)) - 1)
    face = (leaf >> np.uint64(2 * MAX_LEVEL + 1)).astype(np.int64)
    bits = face & SWAP_MASK
    i = np.zeros(len(leaf), dtype=np.int64)
    j = np.zeros(len(leaf), dtype=np.int64)
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += (
            ((pos >> np.uint64(k * 2 * LOOKUP_BITS)).astype(np.int64))
            & ((1 << (2 * LOOKUP_BITS)) - 1)
        ) << 2
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((bits >> 2) & mask) << (k * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return face, i, j


def cell_at_level(leaf_ids, level: int) -> np.ndarray:
    """Truncate leaf ids to ``level`` (sentinel bit marks the level)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level must be 0..30")
    u = np.asarray(leaf_ids, dtype=np.int64).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (((u & ~(lsb - np.uint64(1))) | lsb)).view(np.int64)


def cell_level(ids) -> np.ndarray:
    """Level of each cell id (from the position of the sentinel bit)."""
    u = np.asarray(ids, dtype=np.int64).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    out = MAX_LEVEL - (np.round(np.log2(lsb.astype(np.float64))) / 2).astype(
        np.int64
    )
    return out


def cell_range(ids) -> tuple[np.ndarray, np.ndarray]:
    """[range_min, range_max] of leaf ids covered by each cell — the
    containment predicate for range joins (child BETWEEN min AND max),
    valid in int64 because a cell's range never crosses the face sign
    boundary."""
    u = np.asarray(ids, dtype=np.int64).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return ((u - (lsb - np.uint64(1))).view(np.int64),
            (u + (lsb - np.uint64(1))).view(np.int64))


def cells_from_lonlat(lon_deg, lat_deg, level: int) -> np.ndarray:
    """Vectorized lon/lat -> S2 cell id at ``level`` (int64)."""
    return cell_at_level(leaf_from_lonlat(lon_deg, lat_deg), level)


def face_pos(ids, level: int) -> tuple[np.ndarray, np.ndarray]:
    """(face, within-face Hilbert position truncated to ``level``) of each
    cell id — the pair oracle-facing queries emit instead of the full id
    (faces 4-5 wrap negative in signed BIGINT; face and position are each
    small non-negative ints). The single authority for the bit layout;
    :func:`face_pos_cols` is the Spark Column twin."""
    u = np.asarray(ids, dtype=np.int64).view(np.uint64)
    face = (u >> np.uint64(2 * MAX_LEVEL + 1)).astype(np.int64)
    pos = (
        (u >> np.uint64(2 * (MAX_LEVEL - level) + 1))
        & np.uint64((1 << (2 * level)) - 1)
    ).astype(np.int64)
    return face, pos


def face_pos_cols(col, level: int):
    """Spark Column twin of :func:`face_pos`: (face, pos) expressions over
    an int64 cell-id column, via native unsigned shifts (no Python)."""
    from pyspark.sql import functions as F  # geo package stays numpy-pure

    face = F.shiftrightunsigned(col, 2 * MAX_LEVEL + 1)
    pos = F.shiftrightunsigned(col, 2 * (MAX_LEVEL - level) + 1).bitwiseAND(
        F.lit((1 << (2 * level)) - 1)
    )
    return face, pos


# (face, u, v) -> xyz: inverse of the per-face extraction in _face_uv, with
# the face axis pinned to ±1 (any positive multiple projects identically).
_FACE_UV_TO_XYZ = (
    lambda u, v: (np.ones_like(u), u, v),  # +x
    lambda u, v: (-u, np.ones_like(u), v),  # +y
    lambda u, v: (-u, -v, np.ones_like(u)),  # +z
    lambda u, v: (-np.ones_like(u), -v, -u),  # -x
    lambda u, v: (v, -np.ones_like(u), -u),  # -y
    lambda u, v: (v, u, -np.ones_like(u)),  # -z
)


def _leaf_from_face_ij_wrap(face: int, i: int, j: int) -> int:
    """Leaf id for (i, j) possibly one step OUTSIDE [0, 2^30) on ``face`` —
    wraps across the cube edge onto the adjacent face (the standard S2
    neighbor construction: linear ST on both sides, clamp uv just past the
    face edge, re-project through XYZ)."""
    kmax = 1 << MAX_LEVEL
    limit = np.nextafter(1.0, 2.0)  # 1 + one ulp: lands on the far face
    scale = 1.0 / kmax
    u = min(limit, max(-limit, scale * (2.0 * (i - kmax // 2) + 1.0)))
    v = min(limit, max(-limit, scale * (2.0 * (j - kmax // 2) + 1.0)))
    x, y, z = _FACE_UV_TO_XYZ[face](np.array([u]), np.array([v]))
    f2, u2, v2 = _xyz_to_face_uv(x, y, z)
    i2 = int(np.clip(np.floor(0.5 * (u2[0] + 1.0) * kmax), 0, kmax - 1))
    j2 = int(np.clip(np.floor(0.5 * (v2[0] + 1.0) * kmax), 0, kmax - 1))
    return int(leaf_from_face_ij(np.array([f2[0]]), np.array([i2]), np.array([j2]))[0])


def cell_corner_ij(cell_id: int) -> tuple[int, int, int, int]:
    """(face, i, j, size) of a cell's min-ij leaf corner: a level-k Hilbert
    prefix covers exactly one aligned 2^(30-k)-square ij block, so decoding
    any interior leaf (here the Hilbert-first leaf, range_min) and masking
    the low bits yields the block corner."""
    level = int(cell_level(np.array([cell_id]))[0])
    size = 1 << (MAX_LEVEL - level)
    lo, _ = cell_range(np.array([cell_id]))
    face, i, j = leaf_to_face_ij(lo)
    return int(face[0]), (int(i[0]) >> (MAX_LEVEL - level)) << (
        MAX_LEVEL - level
    ), (int(j[0]) >> (MAX_LEVEL - level)) << (MAX_LEVEL - level), size


def neighbor_cells(cell_id: int, ring: int = 1) -> list[int]:
    """All distinct cells within ``ring`` king-move steps (incl. the cell
    itself — same contract as the quadkey provider's tile disk). Ring 1 is
    the direct 8-neighborhood with exact cross-face wrapping; larger rings
    expand by BFS over ring-1 neighborhoods, which stays exact across face
    boundaries where a single flat ij offset would collapse cells."""
    level = int(cell_level(np.array([cell_id]))[0])
    disk = {int(cell_id)}
    frontier = [int(cell_id)]
    for _ in range(ring):
        nxt = []
        for c in frontier:
            face, ci, cj, size = cell_corner_ij(c)
            half = size // 2
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    if di == 0 and dj == 0:
                        continue
                    leaf = _leaf_from_face_ij_wrap(
                        face, ci + di * size + half, cj + dj * size + half
                    )
                    n = int(cell_at_level(np.array([leaf]), level)[0])
                    if n not in disk:
                        disk.add(n)
                        nxt.append(n)
        frontier = nxt
    return sorted(disk)


def merge_ranges(cells, max_ranges: int | None = None) -> list[tuple[int, int]]:
    """Minimal sorted list of disjoint leaf-id ranges [lo, hi] covering the
    given cells: adjacent cells coalesce (the Hilbert curve makes covers of
    contiguous regions mostly contiguous in id space), but never across the
    int64 sign flip between faces 3 and 4 — a signed BETWEEN with lo > 0 >
    hi matches nothing. With ``max_ranges``, the smallest same-sign gaps
    are closed first until the budget holds; closing a gap only widens the
    ranges, so the result stays a superset (callers re-filter exactly)."""
    lo, hi = cell_range(np.asarray(cells, dtype=np.int64))
    order = np.argsort(lo.view(np.uint64))
    lo, hi = lo[order], hi[order]
    merged: list[list[int]] = []
    for a, b in zip(lo.tolist(), hi.tolist()):
        # gap <= 2, not 1: consecutive cells' ranges skip exactly one EVEN
        # id (no leaf ends in 0), so semantically-adjacent ranges sit two
        # apart — requiring +1 adjacency would merge nothing, ever
        if merged and a <= merged[-1][1] + 2 and (merged[-1][1] < 0) == (a < 0):
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    if max_ranges is not None and len(merged) > max_ranges:
        # close the smallest same-sign gaps in ONE vectorized pass (the
        # one-at-a-time variant is O(n^2) and a 400k-cell world cover hangs)
        glo = np.array([m[0] for m in merged], dtype=np.int64)
        ghi = np.array([m[1] for m in merged], dtype=np.int64)
        gaps = (glo[1:].view(np.uint64) - ghi[:-1].view(np.uint64)).astype(
            np.uint64
        )
        closable = np.where((ghi[:-1] < 0) == (glo[1:] < 0))[0]
        n_close = min(len(merged) - max_ranges, len(closable))
        close = closable[np.argsort(gaps[closable], kind="stable")[:n_close]]
        keep = np.ones(len(merged) - 1, dtype=bool)
        keep[close] = False  # boundaries that survive
        starts = np.concatenate(([0], np.where(keep)[0] + 1))
        ends = np.concatenate((np.where(keep)[0], [len(merged) - 1]))
        merged = [[int(glo[a]), int(ghi[b])] for a, b in zip(starts, ends)]
    return [(a, b) for a, b in merged]


def _annular_sector_bbox(r0, r1, a0, a1):
    """Planar bbox (x0, x1, y0, y1) of the annular sector
    {radius in [r0, r1], angle in [a0, a1] degrees, a1 - a0 <= 360} —
    corners plus any axis crossing at the outer radius."""
    xs, ys = [], []
    for r in (r0, r1):
        for a in (a0, a1):
            xs.append(r * np.cos(np.radians(a)))
            ys.append(r * np.sin(np.radians(a)))
    for axis_ang, dx, dy in ((0, 1, 0), (90, 0, 1), (180, -1, 0), (270, 0, -1)):
        k = np.ceil((a0 - axis_ang) / 360.0)
        if axis_ang + 360.0 * k <= a1:
            xs.append(r1 * dx)
            ys.append(r1 * dy)
    return min(xs), max(xs), min(ys), max(ys)


def cover_bbox(w: float, s: float, e: float, n: float, level: int) -> list[int]:
    """Conservative cover of the lat/lon rect [w..e] x [s..n] (w <= e, no
    antimeridian wrap — same contract as the quadkey provider) with
    level-``level`` cells: every point of the rect lies in some returned
    cell. Exact per-face UV bounds, no sampling:

    - equatorial faces (0/1/3/4, center longitude c): within the face's
      hemisphere, with D = lon - c, faces 0/1 have
      (u, v) = (tan D, tan(lat) * sec D) while faces 3/4 are axis-swapped:
      (u, v) = (-tan(lat) * sec D, tan D); each factor is monotone, so the
      rect's image has an exact UV bbox from interval-endpoint products;
    - polar faces (2/5): the image is an annular sector in UV polar
      coordinates (radius cot(|lat|), angle from lon), whose bbox is
      corners + axis crossings.

    The UV boxes are clipped to the face square, so cells outside the
    owned region only add a conservative margin at face seams."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level must be 0..30")
    if not (w <= e and s <= n):
        raise ValueError("bbox must satisfy w <= e and s <= n")
    # tan(lat) flips sign past the poles, silently breaking the
    # conservative-cover guarantee — clamp instead of trusting the caller
    s, n = max(s, -90.0), min(n, 90.0)
    boxes: list[tuple[int, float, float, float, float]] = []

    # face ownership is exactly |D| <= 45 (|u| = |tan D| <= 1); clamping
    # the window there (plus a float-tie margin) keeps sec(D) bounded —
    # otherwise a thin 360-degree band near the hemisphere edge blows its
    # v-interval past the face square and enumerates ENTIRE faces
    own = 45.001
    width = min(e - w, 360.0)
    for face, c in ((0, 0.0), (1, 90.0), (3, 180.0), (4, -90.0)):
        d0 = w - c
        d0 -= 360.0 * np.floor((d0 + 180.0) / 360.0)  # normalize to [-180, 180)
        d1 = d0 + width
        for lo, hi, off in ((-90.0, 90.0, 0.0), (270.0, 450.0, 360.0)):
            # strict >: a zero-width rect (w == e) is valid input and must
            # still cover its single column of cells
            a, b = max(d0, lo), min(d1, hi)
            if a > b:
                continue
            a, b = max(a - off, -own), min(b - off, own)
            if a > b:
                continue
            td0, td1 = np.tan(np.radians(a)), np.tan(np.radians(b))
            seca, secb = 1.0 / np.cos(np.radians(a)), 1.0 / np.cos(np.radians(b))
            sec_lo = 1.0 if a <= 0.0 <= b else min(seca, secb)
            sec_hi = max(seca, secb)
            t0, t1 = np.tan(np.radians(s)), np.tan(np.radians(n))
            vv = [t * sc for t in (t0, t1) for sc in (sec_lo, sec_hi)]
            if face in (0, 1):  # (u, v) = (tan D, tan(lat) sec D)
                boxes.append((face, td0, td1, min(vv), max(vv)))
            else:  # faces 3/4: (u, v) = (-tan(lat) sec D, tan D)
                boxes.append((face, -max(vv), -min(vv), td0, td1))

    r_cap = np.sqrt(2.0) * 1.001  # just past the face square's corner
    if n > 0.0:  # northern rect part projects on face 2 (+z)
        r0 = 0.0 if n >= 90.0 else 1.0 / np.tan(np.radians(n))
        r1 = r_cap if s <= 0.0 else min(1.0 / np.tan(np.radians(s)), r_cap)
        if r0 <= r_cap:
            boxes.append((2, *_annular_sector_bbox(r0, r1, w + 180.0, e + 180.0)))
    if s < 0.0:  # southern part projects on face 5 (-z)
        r0 = 0.0 if s <= -90.0 else 1.0 / np.tan(np.radians(-s))
        r1 = r_cap if n >= 0.0 else min(1.0 / np.tan(np.radians(-n)), r_cap)
        if r0 <= r_cap:
            boxes.append((5, *_annular_sector_bbox(r0, r1, 90.0 - e, 90.0 - w)))

    shift = MAX_LEVEL - level
    half = (1 << shift) >> 1
    out: set[int] = set()
    for face, u0, u1, v0, v1 in boxes:
        if u1 < -1.0 or u0 > 1.0 or v1 < -1.0 or v0 > 1.0:
            continue
        i0 = int(_ij(_st(np.array([max(u0, -1.0)])))[0]) >> shift
        i1 = int(_ij(_st(np.array([min(u1, 1.0)])))[0]) >> shift
        j0 = int(_ij(_st(np.array([max(v0, -1.0)])))[0]) >> shift
        j1 = int(_ij(_st(np.array([min(v1, 1.0)])))[0]) >> shift
        ii, jj = np.meshgrid(
            np.arange(i0, i1 + 1), np.arange(j0, j1 + 1), indexing="ij"
        )
        leafs = leaf_from_face_ij(
            np.full(ii.size, face, dtype=np.int64),
            (ii.ravel() << shift) + half,
            (jj.ravel() << shift) + half,
        )
        out.update(int(c) for c in cell_at_level(leafs, level))
    return sorted(out)


# ---------------------------------------------------------------------------
# Hierarchical key strings — S2 as a cell PROVIDER for the table layer.
# ---------------------------------------------------------------------------


def key_strings(ids, level: int) -> np.ndarray:
    """Cell ids -> prefix-hierarchical digit strings: the face digit (0-5)
    followed by one base-4 Hilbert digit per level, MSB first. Properties
    that make S2 a drop-in cell provider for the table layer
    (table/iceberg_lite.py): an ancestor's string is a PREFIX of every
    descendant's, and lexicographic order == numeric cell-id order (the
    face digit leads, then position digits MSB-first), so prefix-pruned
    manifests, substring partition plans and sorted-file range scans all
    work unchanged over S2 geography. Object array of python strings."""
    face, pos = face_pos(ids, level)
    n = face.shape[0]
    if n == 0:
        return np.empty(0, dtype=object)
    digits = np.empty((n, level + 1), dtype=np.uint8)
    digits[:, 0] = face.astype(np.uint8) + 48
    for k in range(level):
        digits[:, 1 + k] = (
            (pos >> (2 * (level - 1 - k))) & 3
        ).astype(np.uint8) + 48
    return np.ascontiguousarray(digits).view(f"S{level + 1}").ravel().astype(
        str
    ).astype(object)


def key_to_cell(key: str) -> int:
    """Digit string (any length >= 1) -> cell id at that string's level —
    the scalar inverse of :func:`key_strings` (same bit layout as
    cell_at_level: position bits then the trailing center bit)."""
    face = int(key[0])
    level = len(key) - 1
    if not 0 <= face <= 5 or level > MAX_LEVEL:
        raise ValueError(f"not an S2 key string: {key!r}")
    pos = int(key[1:], 4) if level else 0
    shift = 2 * (MAX_LEVEL - level) + 1
    u = (np.uint64(face) << np.uint64(2 * MAX_LEVEL + 1)) | (
        np.uint64(pos) << np.uint64(shift)
    ) | (np.uint64(1) << np.uint64(shift - 1))
    return int(u.astype(np.int64))
