"""ESRI Shapefile sink + source, implemented from the public spec.

The reference exports .shp through GDAL (open_buildings/
download_buildings.py:304-311; google/process.py benchmarks it). No GDAL
exists here; the format is the published ESRI white paper ("ESRI Shapefile
Technical Description", 1998) plus dBASE III for attributes:

- ``.shp``: 100-byte header (file code 9994 BE, length in 16-bit words,
  version 1000 LE, shape type, bbox), then per-record BE headers + LE shape
  payloads. Polygons are type 5 (rings concatenated; outer rings clockwise,
  holes counter-clockwise — orientation is enforced on write); points are
  type 1. A shapefile holds ONE shape type; multipolygons share type 5.
- ``.shx``: same header + (offset, content length) per record.
- ``.dbf``: dBASE III — field descriptors (name <= 10 chars; C/N types) and
  fixed-width ASCII records.

Encoding: one batch encoder, :func:`shp_records`, closes and orients the
rings of every geometry in a batch and lays out all records with offset
arithmetic; :func:`_dbf_column` encodes a dBASE column. ``write_shp`` and
the sharded builder ``write_shp_shard`` assemble files from the same
per-batch pieces.

Scale shape: like the FGB sink, record ENCODING is distributed (mapInArrow
to per-task scratch blobs for .shp payloads and .dbf rows); the driver
assembles the three files (offsets depend on global record order — the
same single-file funnel GDAL pays). Reader for round-trips/interop.
"""

from __future__ import annotations

import os
import re
import shutil
import struct

import numpy as np
import pandas as pd

SHP_POINT = 1
SHP_POLYGON = 5

_HEADER_LEN = 100


def shp_records(batch):
    """Shapefile records of a parsed batch: an Arrow ``binary`` array of
    whole records (8-byte big-endian header with the record number left 0
    for the writer to fill, then the content; null for rows without
    geometry), the shape type per row (0 for none) and the (N, 4) bboxes.

    Points are type 1 (x, y). Every other geometry is a type-5 polygon:
    bbox, part and point counts, part starts, then all of its rings, each
    closed and oriented from its signed area (outer rings clockwise,
    holes counter-clockwise)."""
    from ..geo import kernels
    from ..geo.wkt import (
        GT_MISSING, GT_POINT, binary_array, put_xy, scatter, vertex_rings,
    )

    c, ro, rg = batch.coords, batch.ring_offsets, batch.ring_geom
    sizes = np.diff(ro)
    bounds = np.searchsorted(rg, np.arange(batch.n_geoms + 1))
    nrings = np.diff(bounds)
    point = batch.gtype == GT_POINT
    valid = (batch.gtype != GT_MISSING) & (nrings > 0)
    closed = (c[ro[:-1]] == c[ro[1:] - 1]).all(axis=1)
    n_out = sizes + ~closed
    area = kernels._ring_shoelace(c[:, 0], c[:, 1], ro)[0]
    flip = np.where(batch.ring_is_hole, area <= 0, area > 0)
    cum = np.concatenate([[0], np.cumsum(n_out)])
    first = cum[bounds[:-1]]
    npts = cum[bounds[1:]] - first
    content = np.where(point, 20, 44 + 4 * nrings + 16 * npts)
    offsets = np.concatenate([[0], np.cumsum(np.where(valid, 8 + content, 0))])
    buf = np.zeros(int(offsets[-1]), dtype=np.uint8)
    at = offsets[:-1] + 8
    stype = np.where(valid, np.where(point, SHP_POINT, SHP_POLYGON), 0)
    bb = kernels.bboxes(batch)
    v = np.nonzero(valid)[0]
    scatter(buf, at[v] - 4, content[v] // 2, ">i4")
    scatter(buf, at[v], stype[v], "<i4")
    vp, vg = v[point[v]], v[~point[v]]
    put_xy(buf, at[vp] + 4, c[ro[bounds[vp]]])
    scatter(buf, (at[vg, None] + 4 + 8 * np.arange(4)).ravel(), bb[vg].ravel(), "<f8")
    scatter(buf, at[vg] + 36, nrings[vg], "<i4")
    scatter(buf, at[vg] + 40, npts[vg], "<i4")
    r = np.nonzero(valid[rg] & ~point[rg])[0]
    g = rg[r]
    scatter(buf, at[g] + 44 + 4 * (r - bounds[g]), cum[r] - first[g], "<i4")
    ring_at = (at + 44 + 4 * nrings - 16 * first)[rg] + 16 * cum[:-1]
    ring, local = vertex_rings(batch)
    keep = (valid & ~point)[rg][ring]
    slot = np.where(flip[ring], n_out[ring] - 1 - local, local)
    put_xy(buf, (ring_at[ring] + 16 * slot)[keep], c[keep])
    o = r[~closed[r]]  # rings stored open get their first vertex again
    put_xy(buf, ring_at[o] + 16 * np.where(flip[o], 0, sizes[o]), c[ro[o]])
    return binary_array(buf, offsets, valid), stype, bb


def dbf_field_name(name: str) -> str:
    """The on-disk .dbf field name for a column: dBASE caps names at 10
    chars (GDAL truncates the same way). Single source of truth — the
    sharded manifest's reader schema must record exactly what the .dbf
    files will carry."""
    return name[:10]


def _dbf_fields(columns) -> list[tuple[str, str, int, int]]:
    """(name<=10, type, length, decimals) per column from Spark types.
    Two columns colliding after truncation would silently overwrite each
    other's attribute — refuse instead."""
    truncated = [dbf_field_name(name) for name, _ in columns]
    dups = {t for t in truncated if truncated.count(t) > 1}
    if dups:
        raise ValueError(
            f"column names collide after the DBF 10-char truncation: "
            f"{sorted(dups)}; rename before exporting to shapefile"
        )
    out = []
    for name, st in columns:
        fname = dbf_field_name(name)
        if st == "string":
            out.append((fname, "C", 80, 0))
        elif st in ("double", "float"):
            out.append((fname, "N", 24, 10))
        elif st in ("bigint", "int"):
            # 20 chars fits any int64 incl. sign (-9223372036854775808)
            out.append((fname, "N", 20, 0))
        elif st == "boolean":
            out.append((fname, "L", 1, 0))
        else:
            raise ValueError(f"unsupported shapefile column type {st} for {name}")
    return out


def _dbf_column(arr, ftype: str, flen: int, dec: int) -> np.ndarray:
    """One Arrow column -> its dBASE cells as an ``S{flen}`` array
    (fixed-width, space-padded; a null or NaN is blank, or ``?`` for a
    logical). Character values are cut at ``flen`` bytes; a number that
    does not fit raises instead of being cut."""
    from ..pdexact import present

    k = len(arr)
    mask = present(arr)
    if ftype == "L":
        out = np.full(k, b"?", dtype="S1")
        vals = arr.fill_null(False).to_numpy(zero_copy_only=False)
        out[mask & vals] = b"T"
        out[mask & ~vals] = b"F"
        return out
    out = np.full(k, b" " * flen, dtype=f"S{flen}")
    if not mask.any():
        return out
    vals = arr.fill_null("" if ftype == "C" else 0).to_numpy(zero_copy_only=False)[mask]
    if ftype == "C":
        u = np.asarray(vals, dtype="U")
        enc = np.char.encode(u, "utf-8", "replace")
        # astype(S{flen}) truncates at flen BYTES (same as [:flen]);
        # ljust space-pads to the fixed width
        out[mask] = np.char.ljust(enc.astype(f"S{flen}"), flen)
        return out
    if dec:
        strs = np.char.mod(f"%.{dec}f", np.asarray(vals, dtype=np.float64))
    else:
        strs = np.char.mod("%d", np.asarray(vals, dtype=np.int64))
    if (np.char.str_len(strs) > flen).any():
        # never truncate digits — a chopped number is silent corruption
        bad = strs[np.char.str_len(strs) > flen][0]
        raise ValueError(
            f"value {bad!r} does not fit DBF numeric field width {flen}"
        )
    out[mask] = np.char.rjust(strs.astype(f"S{flen}"), flen)
    return out


# ESRI shapefile caps: every internal offset/length is a signed 32-bit
# quantity of 16-bit words, so .shp/.shx/.dbf may not reach 2 GiB. The
# writer enforces this BEFORE assembling the final files — at planet
# scale use the sharded export (one file per quadkey shard) instead.
SHP_MAX_BYTES = 2**31 - 1


def shp_columns(schema_fields, wkt_col: str) -> list[tuple[str, str]]:
    """Spark schema -> (name, spark simple type) attribute list; validated
    by :func:`_dbf_fields`. Shared by single-file and sharded writers."""
    columns = [
        (f.name, f.dataType.simpleString())
        for f in schema_fields
        if f.name != wkt_col
    ]
    _dbf_fields(columns)  # raises on unmappable types
    return columns


_PIECE = [
    "__obs_shp", "__obs_lens", "__obs_dbf", "__obs_stypes",
    "__obs_minx", "__obs_miny", "__obs_maxx", "__obs_maxy",
]


def _encode_batch(rb, wkt_col: str, columns, fields):
    """One Arrow batch -> the piece both writers assemble files from:
    (records with record number 0, >i4 content lengths, dBASE rows, shape
    types, minx, miny, maxx, maxy) over its rows with geometry; None when
    it has none."""
    import pyarrow as pa

    from ..geo.wkt import binary_buffers, parse_wkt_batch

    recs, stype, bb = shp_records(parse_wkt_batch(rb.column(wkt_col).to_pandas()))
    keep = stype > 0
    if not keep.any():
        return None
    offs, data = binary_buffers(recs)
    rows = np.empty(int(keep.sum()), dtype=[("_del", "S1")] + [
        (f"f{i}", f"S{fl}") for i, (_, _, fl, _) in enumerate(fields)
    ])
    rows["_del"] = b" "
    for i, ((name, _), (_, ftype, flen, fdec)) in enumerate(zip(columns, fields)):
        try:
            rows[f"f{i}"] = _dbf_column(
                rb.column(name).filter(pa.array(keep)), ftype, flen, fdec
            )
        except ValueError as ex:
            raise ValueError(f"DBF column {name!r}: {ex}") from None
    bb = bb[keep]
    return (
        data[offs[0] : offs[-1]].tobytes(),
        (np.diff(offs)[keep] - 8).astype(">i4").tobytes(),
        rows.tobytes(),
        ",".join(str(t) for t in np.unique(stype[keep])),
        float(bb[:, 0].min()), float(bb[:, 1].min()),
        float(bb[:, 2].max()), float(bb[:, 3].max()),
    )


def _assemble_shp(base: str, pieces, fields) -> tuple[int, list[float] | None]:
    """Write the .shp/.shx/.dbf triple from encoded pieces in file order:
    the global record numbers are patched into each piece's record headers
    and the .shx table is built from its content lengths. Raises before any
    file is opened when shape types mix or the files would pass the
    format's 2 GiB cap. Each file lands via an attempt-unique tmp + atomic
    rename. Returns (record count, envelope or None)."""
    from ..geo.wkt import scatter
    from ..pdexact import attempt_tmp

    shp, shx, dbf = bytearray(), bytearray(), bytearray()
    n = 0
    env = [float("inf"), float("inf"), float("-inf"), float("-inf")]
    shape_type = None
    offset_words = _HEADER_LEN // 2
    rec_size = 1 + sum(fl for _, _, fl, _ in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    for blob, lens, rows, stypes, *bbox in pieces:
        clens = np.frombuffer(lens, dtype=">i4").astype(np.int64) // 2
        k = len(clens)
        types = {int(t) for t in stypes.split(",")}
        shape_type = min(types) if shape_type is None else shape_type
        if types != {shape_type}:
            raise ValueError("shapefile cannot mix point and polygon shapes")
        blob = np.frombuffer(bytearray(blob), dtype=np.uint8)
        starts = np.concatenate([[0], np.cumsum(8 + 2 * clens)[:-1]])
        scatter(blob, starts, np.arange(n + 1, n + k + 1), ">i4")
        shp += memoryview(blob)
        sx = np.empty((k, 2), dtype=">i4")
        sx[:, 0] = offset_words + np.concatenate([[0], np.cumsum(4 + clens)[:-1]])
        sx[:, 1] = clens
        shx += sx.tobytes()
        offset_words += int((4 + clens).sum())
        n += k
        if (
            _HEADER_LEN + len(shp) > SHP_MAX_BYTES
            or hdr_size + rec_size * n + 1 > SHP_MAX_BYTES
        ):
            # every internal offset is signed-32 in 16-bit words
            raise ValueError(
                "output exceeds the shapefile format's 2 GiB cap; use "
                "sharded_export (one file per quadkey shard, deeper levels "
                "for smaller shards) or FlatGeobuf for data this size"
            )
        env = [min(env[0], bbox[0]), min(env[1], bbox[1]),
               max(env[2], bbox[2]), max(env[3], bbox[3])]
        dbf += rows
    if shape_type is None:
        shape_type = SHP_POLYGON
        env = [0.0, 0.0, 0.0, 0.0]

    def header(total_words: int) -> bytes:
        return (
            struct.pack(">i", 9994)
            + b"\x00" * 20
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<dddd", *env)
            + struct.pack("<dddd", 0.0, 0.0, 0.0, 0.0)
        )

    def commit(suffix: str, payload: bytes) -> None:
        final = base + suffix
        tmp = attempt_tmp(final)
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, final)

    commit(".shp", header((_HEADER_LEN + len(shp)) // 2) + bytes(shp))
    commit(".shx", header((_HEADER_LEN + len(shx)) // 2) + bytes(shx))
    head = bytearray()
    head += bytes([0x03, 95, 5, 30])  # dBASE III, fixed date (deterministic)
    head += struct.pack("<i", n)
    head += struct.pack("<HH", hdr_size, rec_size)
    head += b"\x00" * 20
    for fname, ftype, flen, fdec in fields:
        head += fname.encode("ascii").ljust(11, b"\x00")
        head += ftype.encode("ascii")
        head += b"\x00" * 4
        head += bytes([flen, fdec])
        head += b"\x00" * 14
    commit(".dbf", bytes(head) + b"\x0d" + bytes(dbf) + b"\x1a")
    return n, (env if n else None)


def write_shp_shard(
    batches,
    path: str,
    columns: list[tuple[str, str]],
    wkt_col: str = "wkt",
) -> tuple[int, list[float] | None]:
    """One shard's Arrow batches -> one .shp/.shx/.dbf triple. The
    executor-side builder behind sharded export; ``columns`` must come
    from :func:`shp_columns` on the Spark schema. Returns (feature count,
    data envelope [minx,miny,maxx,maxy] or None) for the shard manifest."""
    fields = _dbf_fields(columns)
    pieces = (_encode_batch(rb, wkt_col, columns, fields) for rb in batches)
    base = path[:-4] if path.endswith(".shp") else path
    return _assemble_shp(base, (p for p in pieces if p is not None), fields)


def write_shp(df, path: str, wkt_col: str = "wkt") -> int:
    """DataFrame (WKT + scalar columns) -> .shp/.shx/.dbf triple at ``path``
    (pass 'out.shp'; siblings are derived). One shape type per file: POINT
    corpora write type 1, everything else type 5 (polygon/multipolygon);
    mixing points with polygons raises, like GDAL's shapefile driver.
    Null/invalid geometries are skipped. Returns feature count.

    Records and dBASE rows are encoded executor-side, one piece per Arrow
    batch, into scratch parquet; the driver assembles the three files from
    the pieces in order (offsets depend on global record order)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    base = path[:-4] if path.endswith(".shp") else path
    columns = shp_columns(df.schema.fields, wkt_col)
    fields = _dbf_fields(columns)
    scratch = base + ".shp.parts"
    if os.path.exists(scratch):
        shutil.rmtree(scratch)

    def enc(batches):
        for rb in batches:
            piece = _encode_batch(rb, wkt_col, columns, fields)
            if piece is not None:
                yield pa.record_batch([pa.array([v]) for v in piece], names=_PIECE)

    out_schema = ", ".join(
        f"{c} {t}" for c, t in zip(_PIECE, ["binary"] * 3 + ["string"] + ["double"] * 4)
    )
    try:
        df.mapInArrow(enc, out_schema).write.mode("overwrite").parquet(scratch)
        pieces = (
            piece
            for rb in pads.dataset(scratch, format="parquet").to_batches()
            for piece in zip(*(col.to_pylist() for col in rb.columns))
        )
        return _assemble_shp(base, pieces, fields)[0]
    except Exception as ex:
        # an executor-side DBF overflow arrives wrapped in a Spark task
        # failure: surface the clean ValueError it is
        hit = re.search(r"ValueError: (DBF column [^\n]*)", str(ex))
        if hit is None or isinstance(ex, ValueError):
            raise
        raise ValueError(hit.group(1)) from None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def read_shp(
    path: str, bbox: tuple[float, float, float, float] | None = None
) -> pd.DataFrame:
    """.shp/.dbf triple -> pandas DataFrame with a ``wkt`` column +
    attributes (round-trip / interop reader). Polygon rings are grouped by
    orientation: CW rings open parts, CCW rings are holes of the previous
    part; multi-part outputs become MULTIPOLYGON.

    ``bbox`` (w, s, e, n) keeps only features whose bounding box
    intersects the window: every .shp polygon record header carries its
    bbox (points carry x,y), so skipped features are never ring-decoded
    and their .dbf rows never parsed. The format has no file-level
    spatial index — sharded exports prune whole files via the manifest's
    per-shard envelope before this record-level filter runs."""
    from ..geo.kernels import _ring_shoelace
    from ..geo.wkt import multipolygon_wkt, point_wkt, polygon_wkt

    base = path[:-4] if path.endswith(".shp") else path
    with open(base + ".shp", "rb") as f:
        buf = f.read()
    assert struct.unpack_from(">i", buf, 0)[0] == 9994, "not a shapefile"
    geoms = []
    keep: list[int] = []  # decoded record indices (for .dbf row alignment)
    ridx = 0
    off = _HEADER_LEN
    while off < len(buf):
        _, clen = struct.unpack_from(">ii", buf, off)
        off += 8
        st = struct.unpack_from("<i", buf, off)[0]
        hit = True
        if st == SHP_POINT:
            x, y = struct.unpack_from("<dd", buf, off + 4)
            if bbox is not None:
                hit = bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3]
            if hit:
                geoms.append(point_wkt(x, y))
        elif st == SHP_POLYGON:
            if bbox is not None:
                bx0, by0, bx1, by1 = struct.unpack_from("<dddd", buf, off + 4)
                hit = (
                    bx0 <= bbox[2] and bx1 >= bbox[0]
                    and by0 <= bbox[3] and by1 >= bbox[1]
                )
            if hit:
                nparts, npts = struct.unpack_from("<ii", buf, off + 36)
                parts = struct.unpack_from(f"<{nparts}i", buf, off + 44)
                pts = np.frombuffer(
                    buf, dtype="<f8", count=npts * 2, offset=off + 44 + 4 * nparts
                ).reshape(-1, 2)
                bounds = list(parts) + [npts]
                area = _ring_shoelace(pts[:, 0], pts[:, 1], np.asarray(bounds))[0]
                polys: list[list[np.ndarray]] = []
                for i in range(nparts):
                    ring = pts[bounds[i] : bounds[i + 1]]
                    if area[i] <= 0:
                        polys.append([ring])  # CW = outer
                    elif polys:
                        polys[-1].append(ring)  # CCW = hole of previous outer
                    else:
                        polys.append([ring])
                geoms.append(
                    polygon_wkt(polys[0])
                    if len(polys) == 1
                    else multipolygon_wkt(polys)
                )
        else:
            raise ValueError(f"unsupported shape type {st}")
        if hit:
            keep.append(ridx)
        ridx += 1
        off += clen * 2
    # attributes
    with open(base + ".dbf", "rb") as f:
        dbuf = f.read()
    hdr_size, rec_size = struct.unpack_from("<HH", dbuf, 8)
    fields = []
    fo = 32
    while dbuf[fo] != 0x0D:
        name = dbuf[fo : fo + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(dbuf[fo + 11])
        flen = dbuf[fo + 16]
        fdec = dbuf[fo + 17]
        fields.append((name, ftype, flen, fdec))
        fo += 32
    rows = []
    for j, i in enumerate(keep):
        ro = hdr_size + i * rec_size + 1  # skip deletion flag
        row = {"wkt": geoms[j]}
        pos = ro
        for name, ftype, flen, fdec in fields:
            raw = dbuf[pos : pos + flen]
            pos += flen
            txt = raw.decode("utf-8", "replace").strip()
            if not txt or txt == "?":
                row[name] = None
            elif ftype == "C":
                row[name] = txt
            elif ftype == "L":
                row[name] = txt in ("T", "t", "Y", "y")
            elif fdec:
                row[name] = float(txt)
            else:
                row[name] = int(txt)
        rows.append(row)
    from .gpkg import _exact_frame

    return _exact_frame(rows)
