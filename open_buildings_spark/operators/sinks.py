"""Sinks: GeoParquet (parquet + `geo` footer metadata) and GeoJSON.

Reference equivalents:
- S6 parquet sink with compression/row-group/quadkey clustering
  (open_buildings/overture/partition.py:149,182; google/process.py:166-169)
  -> the iceberg_lite writer (quadkey-sorted, snappy);
- S7 `gpq convert` subprocess rewriting parquet with GeoParquet metadata
  (overture/partition.py:33-52, google/process.py:171-189) -> in-process
  pyarrow footer rewrite, no subprocess;
- S9 GeoJSON export (download_buildings.py:304-311) -> feature-collection
  text assembly (fixture-scale outputs; not a hot path).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEOPARQUET_VERSION = "1.0.0"


def add_wkb_column(df: DataFrame, wkt_col: str = "wkt", out_col: str = "geometry") -> DataFrame:
    """WKT -> WKB binary column (the reference's storage encoding for the
    Overture path). Arrow-batched parse + serialize."""
    import pyarrow as pa
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..geo.wkt import parse_wkt_batch, wkb_from_batch

    schema = StructType(list(df.schema.fields) + [StructField(out_col, BinaryType())])
    idx = [f.name for f in df.schema.fields].index(wkt_col)
    names = [f.name for f in schema.fields]

    def conv(batches):
        for rb in batches:
            wkb = wkb_from_batch(parse_wkt_batch(rb.column(idx).to_pandas()))
            yield pa.RecordBatch.from_arrays(list(rb.columns) + [wkb], names=names)

    return df.mapInArrow(conv, schema)


_GEOPARQUET_TYPES = {
    1: "Point", 2: "LineString", 3: "Polygon", 4: "MultiPoint",
    5: "MultiLineString", 6: "MultiPolygon", 7: "GeometryCollection",
}


def wkb_type_names(col) -> list[str]:
    """GeoParquet 1.0 ``geometry_types`` of an Arrow WKB column: the
    distinct type codes of its non-null values (byte order honored; ISO
    Z codes get the " Z" suffix), in code order."""
    from ..geo.wkt import binary_buffers

    codes: set[int] = set()
    for chunk in getattr(col, "chunks", [col]):
        offs, data = binary_buffers(chunk)
        at = offs[:-1][np.diff(offs) >= 5]
        raw = data[at[:, None] + np.arange(1, 5)]
        code = np.where(data[at] == 1, raw.view("<u4")[:, 0], raw.view(">u4")[:, 0])
        codes.update(np.unique(code).tolist())
    return [
        _GEOPARQUET_TYPES[c % 1000] + (" Z" if c // 1000 in (1, 3) else "")
        for c in sorted(codes)
        if c % 1000 in _GEOPARQUET_TYPES
    ]


def geo_metadata(geometry_col: str, geometry_types: list[str]) -> dict:
    """GeoParquet 1.0 `geo` metadata dict (public spec)."""
    col = {
        "encoding": "WKB",
        "geometry_types": geometry_types,
        "crs": None,  # per spec: null means OGC:CRS84 (lon/lat)
    }
    return {
        "version": GEOPARQUET_VERSION,
        "primary_column": geometry_col,
        "columns": {geometry_col: col},
    }


def _rewrite_one_footer(f: str, geometry_col: str) -> int:
    import pyarrow.parquet as pq

    t = pq.read_table(f)
    if geometry_col not in t.column_names:
        return 0
    meta = geo_metadata(geometry_col, wkb_type_names(t.column(geometry_col)))
    new_meta = {**(t.schema.metadata or {}), b"geo": json.dumps(meta).encode()}
    pq.write_table(
        t.replace_schema_metadata(new_meta),
        f + ".tmp",
        compression="snappy",
        row_group_size=10_000,  # reference default (cli.py:258)
    )
    os.replace(f + ".tmp", f)
    # drop Hadoop's checksum sidecar — it no longer matches the
    # rewritten file and would fail subsequent reads
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    return 1


def fix_geoparquet_metadata(path: str, geometry_col: str = "geometry", spark=None) -> int:
    """Retrofit GeoParquet `geo` footer metadata onto an EXISTING parquet
    directory — the reference's `gpq convert` step (overture/partition.py:33-52),
    in-process. Not on the write path (write_geoparquet emits correct footers
    in its single pass); this is for tables written by other writers, e.g.
    the iceberg_lite layer. With ``spark`` given, the per-file rewrite is
    distributed over the cluster (one task per file batch); without it,
    a driver-side loop (small fixture dirs only). Returns files rewritten."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if spark is not None and files:
        sc = spark.sparkContext
        return (
            sc.parallelize(files, min(len(files), 1024))
            .map(lambda f: _rewrite_one_footer(f, geometry_col))
            .sum()
        )
    return sum(_rewrite_one_footer(f, geometry_col) for f in files)


def write_geoparquet(
    df: DataFrame, path: str, wkt_col: str = "wkt", mode: str = "overwrite"
) -> int:
    """WKT df -> GeoParquet directory in ONE distributed pass: each task
    parses WKT -> WKB and writes its own parquet part file with the
    GeoParquet `geo` footer already in place. The reference achieves the
    same footer by shelling `gpq convert` over the finished dataset
    (overture/partition.py:33-52), re-reading every byte; at 100 TB that
    second pass doubles IO, so the engine writes correct footers first time.

    Commit protocol (Spark's parquet committer can't carry custom footer
    keys): tasks write part files named by (partitionId, taskAttemptId) via
    an .inprogress temp + atomic rename; after the job, only files reported
    by successful tasks are kept, so failed/speculative attempts leave no
    visible output. Row groups follow Arrow batch size (~10k rows, the
    reference's row_group_size default, cli.py:258).

    Returns the number of part files written.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq  # noqa: F401  (workers import lazily)
    from pyspark import TaskContext

    from ..geo.wkt import parse_wkt_batch, wkb_from_batch

    if mode not in ("overwrite", "error", "errorifexists", "append", "ignore"):
        raise ValueError(f"unsupported save mode {mode!r}")
    pre_existing: set[str] = set()
    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        elif mode in ("error", "errorifexists"):
            raise FileExistsError(path)
        elif mode == "ignore":
            return 0
        elif mode == "append":
            # snapshot existing parts: the post-job sweep must not delete them
            pre_existing = {
                os.path.basename(f)
                for f in glob.glob(os.path.join(path, "*.parquet"))
            }
    os.makedirs(path, exist_ok=True)

    in_names = df.columns
    idx = in_names.index(wkt_col)
    keep_idx = [i for i, c in enumerate(in_names) if c != wkt_col]
    out_names = [in_names[i] for i in keep_idx] + ["geometry"]

    # job-unique token: taskAttemptId alone is only unique within one
    # SparkContext; append mode can see parts from earlier sessions
    import uuid

    job_token = uuid.uuid4().hex[:8]

    def write_part(batches):
        import pyarrow.parquet as pq

        tc = TaskContext.get()
        fname = f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}-{job_token}.parquet"
        tmp = os.path.join(path, "." + fname + ".inprogress")
        # the footer names the geometry types this part holds, known once
        # every batch is encoded: the part is buffered, then written
        outs = [
            pa.record_batch(
                [rb.column(i) for i in keep_idx]
                + [wkb_from_batch(parse_wkt_batch(rb.column(idx).to_pandas()))],
                names=out_names,
            )
            for rb in batches
        ]
        n = sum(out.num_rows for out in outs)
        if outs:
            types = wkb_type_names(pa.chunked_array([o.column("geometry") for o in outs]))
            meta = {b"geo": json.dumps(geo_metadata("geometry", types)).encode()}
            with pq.ParquetWriter(
                tmp, outs[0].schema.with_metadata(meta), compression="snappy"
            ) as writer:
                for out in outs:
                    writer.write_batch(out)
            os.replace(tmp, os.path.join(path, fname))
            yield pa.record_batch(
                [pa.array([fname]), pa.array([n], type=pa.int64())],
                names=["file", "n_rows"],
            )

    results = df.mapInArrow(write_part, "file string, n_rows long").collect()
    kept = {r["file"] for r in results} | pre_existing
    for f in glob.glob(os.path.join(path, "*.parquet")):
        if os.path.basename(f) not in kept:
            os.remove(f)
    for f in glob.glob(os.path.join(path, ".*.inprogress")):
        os.remove(f)
    # the documented contract is files written THIS call — in append mode
    # `kept` also counts the pre-existing parts
    return len(results)


GEOJSON_MAX_ROWS = 2_000_000


def to_geojson_features(df: DataFrame, wkt_col: str = "wkt", limit_cols: list | None = None):
    """Collect rows as GeoJSON Feature dicts (driver-side; fixture-scale
    exports only — the reference's .json output path). Guarded: a single
    text FeatureCollection is not a 100 TB export format, so the collect
    refuses beyond GEOJSON_MAX_ROWS instead of silently OOMing the driver
    (use the FlatGeobuf/GeoParquet sinks for large outputs)."""
    from ..geo.wkt import parse_wkt_batch

    cols = limit_cols or [c for c in df.columns if c not in (wkt_col, "spans")]
    n = df.count()
    if n > GEOJSON_MAX_ROWS:
        raise ValueError(
            f"GeoJSON export is driver-side and capped at {GEOJSON_MAX_ROWS} rows "
            f"(got {n}); write FlatGeobuf or GeoParquet instead"
        )
    import pyarrow as _pa

    from ..geo.wkt import GT_MISSING, GT_POINT, GT_POLYGON

    # Arrow collect + Int64 mapper: plain toPandas() degrades a nullable
    # long column to float64 and corrupts integer properties beyond 2^53
    from ..pdexact import int_types_mapper

    _intmap = int_types_mapper()
    pdf = df.select(*cols, wkt_col).toArrow().to_pandas(types_mapper=_intmap)
    batch = parse_wkt_batch(pdf[wkt_col])
    # ring_geom is ascending by construction: one searchsorted gives each
    # geometry's contiguous ring range (the per-row scan over all rings was
    # O(rows x rings) — quadratic at the 2M-row cap)
    ring_start = np.searchsorted(batch.ring_geom, np.arange(batch.n_geoms + 1))
    feats = []
    for i in range(len(pdf)):
        gt = batch.gtype[i]
        if gt == GT_MISSING:
            geom = None  # valid GeoJSON: a Feature may carry a null geometry
        elif gt == GT_POINT:
            geom = {
                "type": "Point",
                "coordinates": batch.ring(ring_start[i]).tolist()[0],
            }
        else:
            # group rings into polygon parts: a shell opens a part, holes
            # attach to the preceding shell as interior rings (flattening
            # every ring into its own solid part turned holes into fills)
            parts: list[list] = []
            for r in range(ring_start[i], ring_start[i + 1]):
                ring_list = batch.ring(r).tolist()
                if batch.ring_is_hole[r] and parts:
                    parts[-1].append(ring_list)
                else:
                    parts.append([ring_list])
            if gt == GT_POLYGON:
                geom = {"type": "Polygon", "coordinates": parts[0] if parts else []}
            else:
                geom = {"type": "MultiPolygon", "coordinates": parts}
        props = {c: (None if pd.isna(pdf[c].iloc[i]) else pdf[c].iloc[i]) for c in cols}
        props = {
            k: (v.item() if isinstance(v, np.generic) else v) for k, v in props.items()
        }
        feats.append(
            {"type": "Feature", "properties": props, "geometry": geom}
        )
    return feats


def write_geojson(df: DataFrame, path: str, wkt_col: str = "wkt") -> int:
    feats = to_geojson_features(df, wkt_col)
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    return len(feats)


# --------------------------- STAC catalog (S11) ---------------------------


def write_stac_catalog(
    table_root: str,
    catalog_id: str = "open-buildings-spark",
    description: str = "A catalog of geoparquet files.",
    item_datetime: str = "2023-05-30T00:00:00Z",
) -> dict:
    """Emit a STAC catalog for an iceberg_lite table's data files (S11).

    The reference ships a per-parquet-file STAC emitter that is declared
    non-working (open_buildings/google/stac-geoparquet.py:1-8); its intended
    output — one Item per parquet file with bbox geometry + a data asset,
    under a catalog.json and collection.json — is produced here from the
    table manifest instead of re-reading every file: each partition's bbox
    is the web-mercator bounds of its cell quadkey (tile prefix), so the
    catalog build is metadata-only (no data-file scan).

    Deterministic: item datetime is a fixed parameter (the reference does
    the same via --item-datetime, stac-geoparquet.py:55), no wall clock.
    Returns the catalog dict; writes metadata/stac/{catalog,collection}.json
    and one item JSON per data file.
    """
    from ..geo import mercator
    from ..table import iceberg_lite

    m = iceberg_lite.current_manifest(table_root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {table_root}")
    stac_dir = os.path.join(table_root, "metadata", "stac")
    os.makedirs(stac_dir, exist_ok=True)

    items = []
    gxmin = gymin = float("inf")
    gxmax = gymax = float("-inf")
    for part in m["partitions"]:
        cell = part["cell"]
        if cell:
            x, y, z = mercator.tile_from_quadkey(cell)
            w, s, e, n = mercator.tile_bounds(x, y, z)
        else:  # root cell: whole web-mercator extent
            w, s, e, n = -180.0, -85.05112878, 180.0, 85.05112878
        gxmin, gymin = min(gxmin, w), min(gymin, s)
        gxmax, gymax = max(gxmax, e), max(gymax, n)
        ring = [[w, s], [e, s], [e, n], [w, n], [w, s]]
        for rel in part["files"]:
            # id from the RELATIVE path: spark's dynamic-partition writer
            # reuses one task's part-file basename across every cell dir it
            # writes, so basenames alone collide between partitions
            file_id = os.path.splitext(rel)[0].replace(os.sep, "_").replace("=", "-")
            items.append(
                {
                    "type": "Feature",
                    "stac_version": "1.0.0",
                    "id": file_id,
                    "bbox": [w, s, e, n],
                    "geometry": {"type": "Polygon", "coordinates": [ring]},
                    "properties": {
                        "title": os.path.basename(rel),
                        "proj:epsg": 4326,
                        "datetime": item_datetime,
                        "table:cell": cell,
                        "table:partition_values": part["values"],
                        "table:row_count": part["n_rows"],
                    },
                    "assets": {
                        "data": {
                            "href": os.path.join("..", "..", rel),
                            "type": "application/parquet",
                        }
                    },
                    "links": [{"rel": "parent", "href": "catalog.json"}],
                    "collection": f"{catalog_id}-collection",
                }
            )

    catalog = {
        "type": "Catalog",
        "stac_version": "1.0.0",
        "id": catalog_id,
        "description": description,
        "links": [{"rel": "self", "href": "catalog.json"}]
        + [{"rel": "item", "href": f"{it['id']}.json"} for it in items],
    }
    collection = {
        "type": "Collection",
        "stac_version": "1.0.0",
        "id": f"{catalog_id}-collection",
        "description": description,
        "license": "proprietary",
        "extent": {
            "spatial": {"bbox": [[gxmin, gymin, gxmax, gymax]]},
            "temporal": {"interval": [[item_datetime, item_datetime]]},
        },
        "links": [{"rel": "child", "href": "catalog.json"}],
    }
    for it in items:
        with open(os.path.join(stac_dir, f"{it['id']}.json"), "w") as f:
            json.dump(it, f, indent=1, sort_keys=True)
    with open(os.path.join(stac_dir, "catalog.json"), "w") as f:
        json.dump(catalog, f, indent=1, sort_keys=True)
    with open(os.path.join(stac_dir, "collection.json"), "w") as f:
        json.dump(collection, f, indent=1, sort_keys=True)
    return catalog
