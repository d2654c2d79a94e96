"""The benchmark's workloads.

Each is one client in a closed loop: the next operation starts when the
previous one returns, until the operations have taken ``seconds`` of wall
time.  Result checks run after each operation and after the loop, never
inside an operation's timing.

- ``pipeline``: one operation is the archive chain of ROADMAP aim 1:
  Google CSV convert (multipolygons split, written), enrich + adaptive
  partitioned table write, the seeded AOI queries served from that table
  (manifest-pruned ``read_table`` then ``aoi_query``, ids collected), and
  sharded FlatGeobuf export.
- ``bigjoin``: one operation is ``aoi_join_big`` of the docs against a
  seeded slice of the big AOI table, at the operator's default cover
  level, counted.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from . import inputs, ledger
from .oracle import Oracle

# the table's north-rule row cap per file (cells split past it)
MAX_PER_FILE = 4_000
# z6 shards: each synthetic city block lands in its own shard
EXPORT_LEVEL = 6


def _countries():
    from open_buildings_spark import datagen

    return [
        (iso, [([[w, s], [e, s], [e, n], [w, n], [w, s]], False)])
        for iso, (w, s, e, n) in datagen.countries()
    ]


def _live_files(root: str) -> list[str]:
    from open_buildings_spark.table import iceberg_lite as tbl

    m = tbl.current_manifest(root)
    return [os.path.join(root, f) for p in m["partitions"] for f in p["files"]]


def _table_rows(root: str) -> int:
    from open_buildings_spark.table import iceberg_lite as tbl

    return sum(p["n_rows"] for p in tbl.current_manifest(root)["partitions"])


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class Workload:
    """Shared closed loop; subclasses define ``prepare``, ``op`` and
    ``after``.  ``ctx`` carries the session, tracer, seed and paths."""

    name = ""
    # the docs one operation takes as input, for docs_per_s
    docs_per_op = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.sizes: dict = {}
        self.counters: dict = {}
        self.failures: list[str] = []
        self.failed_ops: set[int] = set()
        # program work before the window (warm-up), seconds
        self.setup_s = 0.0

    def fail(self, i: int, msg: str) -> None:
        self.failed_ops.add(i)
        self.failures.append(f"op {i}: {msg}")

    def loop(self, seconds: float) -> dict:
        """Run operations until they have taken ``seconds``; per operation
        record wall seconds, process-tree CPU seconds and the driver's peak
        RSS (checks between operations are outside all three)."""
        lat, cpu, rss = [], [], []
        busy = 0.0
        i = 0
        while busy < seconds:
            ledger.reset_peak_rss()
            c0 = ledger.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                self.op(i)
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                self.fail(i, f"{type(exc).__name__}: {exc}")
                ok = False
            dt = time.perf_counter() - t0
            cpu.append(ledger.tree_cpu_s() - c0)
            rss.append(ledger.peak_rss_mb())
            lat.append(dt)
            busy += dt
            if ok:
                self.after(i)
            i += 1
        return {"latency_s": lat, "cpu_s": cpu, "rss_mb": rss, "window_s": busy}

    def after(self, i: int) -> None:
        """Check one operation's outputs (outside its timing)."""

    def close(self) -> None:
        """Release what ``prepare`` opened."""

    def kernel_batch(self):
        """The seeded 65,536-row WKT batch and an AOI to test it against."""
        import pyarrow.parquet as pq

        wkt = pq.read_table(self.ctx.corpus["wkt"]).column("wkt").to_pandas()
        rows = inputs.kernel_rows(self.ctx.seed, len(wkt))
        aoi = inputs.aoi_pool(self.ctx.seed)[3]["feature"]
        return wkt.iloc[rows].reset_index(drop=True), aoi


class Pipeline(Workload):
    name = "pipeline"

    def prepare(self) -> None:
        ctx = self.ctx
        # the corpus plus a seeded batch of new buildings, in both forms
        extra = {k: os.path.join(ctx.run_dir, "extra", k) for k in ("sf", "docs", "csv")}
        inputs.write_keys(extra["sf"], inputs.extra_order_idx(ctx.seed))
        inputs.derive(self.spark, extra["sf"], extra["docs"], extra["csv"])
        self.oracle = Oracle([ctx.corpus["sf"], extra["sf"]])
        counts = self.oracle.doc_counts()
        self.expect = {
            "convert_rows": counts["polygons"],
            "table_rows": counts["geometry_docs"],
        }
        self.pool = inputs.aoi_pool(ctx.seed)
        self.order = inputs.aoi_order(ctx.seed, len(self.pool))
        self.want: dict[int, list[str]] = {}
        # (op, pool index, sorted ids) per AOI query
        self.results: list[tuple[int, int, list[str]]] = []
        self.docs_per_op = counts["docs"]
        self.sizes = {
            "docs": counts["docs"],
            "geometry_docs": counts["geometry_docs"],
            "csv_rows": counts["geometry_docs"],
            "polygons": counts["polygons"],
            "aoi_queries": len(self.order),
            "aoi_non_rect": sum(not a["rect"] for a in self.pool),
        }
        self.csv = [ctx.corpus["csv"], extra["csv"]]
        self.docs = self.spark.read.parquet(ctx.corpus["docs"], extra["docs"])
        self.clist = _countries()
        self.out = os.path.join(ctx.run_dir, "pipeline")
        # warm-up: one whole chain.  The first chain of a session spends
        # about a third of its CPU on Python worker start and JIT
        # compilation, not on the engine; setup_s carries that cost
        t0 = time.perf_counter()
        self.op("warm")
        self.setup_s = time.perf_counter() - t0
        self.results.clear()
        shutil.rmtree(os.path.join(self.out, "warm"), ignore_errors=True)

    def op(self, i: int) -> None:
        from open_buildings_spark.geo.mercator import geojson_to_quadkey
        from open_buildings_spark.operators import aoi as aoi_op
        from open_buildings_spark.operators import convert, enrich, sharded
        from open_buildings_spark.table import iceberg_lite as tbl

        span = self.tracer.span
        base = os.path.join(self.out, str(i))
        conv, root, shards = (os.path.join(base, d) for d in ("convert", "table", "shards"))
        with span("convert", i):
            convert.convert_google_csv(self.spark, self.csv, dst=conv)
        with span("enrich_write", i):
            g = enrich.add_geo_columns(self.docs, drop_nongeo=True, countries=self.clist)
            tbl.write_partitioned(g, root, max_per_file=MAX_PER_FILE)
        for q in self.order:
            a = self.pool[q]
            with span("plan", i):
                t = tbl.read_table(
                    self.spark, root, quadkey_prefix=geojson_to_quadkey(a["feature"])
                )
            with span("query", i):
                ids = aoi_op.aoi_query(t, a["feature"]).select("doc_id").collect()
            self.results.append((i, q, sorted(r[0] for r in ids)))
        with span("export", i):
            t = tbl.read_table(self.spark, root).select("doc_id", "wkt", "quadkey")
            sharded.sharded_export(t, shards, fmt="fgb", level=EXPORT_LEVEL)

    def after(self, i: int) -> None:
        """Check the chain's outputs against DuckDB's counts and ids."""
        import json

        import pyarrow.parquet as pq

        base = os.path.join(self.out, str(i))
        root = os.path.join(base, "table")
        try:
            conv = sum(
                pq.read_metadata(p).num_rows
                for p in glob.glob(os.path.join(base, "convert", "*.parquet"))
            )
            rows = _table_rows(root)
            with open(os.path.join(base, "shards", "manifest.json")) as f:
                shard_rows = json.load(f)["total_rows"]
        except (OSError, KeyError, TypeError, ValueError) as exc:
            self.fail(i, f"outputs unreadable: {exc}")
            return
        got = {"convert_rows": conv, "table_rows": rows, "shard_rows": shard_rows}
        want = dict(self.expect, shard_rows=rows)
        for k, v in want.items():
            if got[k] != v:
                self.fail(i, f"{k} {got[k]} != {v}")
        for op, q, ids in self.results:
            if op != i:
                continue
            a = self.pool[q]
            if q not in self.want:
                ring = a["feature"]["geometry"]["coordinates"][0]
                convex = a["shape"] in ("diamond", "triangle")
                self.want[q] = self.oracle.aoi_hits(ring, convex=convex, cut=a["cut"])
            if ids != self.want[q]:
                self.fail(
                    i,
                    f"aoi {q} ({a['shape']}, city {a['city']}): "
                    f"{len(ids)} ids, expected {len(self.want[q])}",
                )
        live = _live_files(root)
        self.counters = {
            "table.files_total": float(len(live)),
            "table.bytes_per_doc": _bytes(live) / max(rows, 1),
            "export.bytes": float(_bytes(glob.glob(os.path.join(base, "shards", "*.fgb")))),
        }
        shutil.rmtree(base, ignore_errors=True)

    def close(self) -> None:
        self.oracle.close()


class BigJoin(Workload):
    name = "bigjoin"

    def prepare(self) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from open_buildings_spark import datagen
        from open_buildings_spark.operators import spatial_join

        ctx = self.ctx
        self.subset = inputs.join_subset_sql(ctx.seed)
        aoi_path = os.path.join(ctx.run_dir, "aois")
        (
            datagen.big_aois_df(self.spark, ctx.corpus["sf"])
            .filter(F.expr(self.subset))
            .select("aoi_id", "wkt")
            .coalesce(1)
            .write.parquet(aoi_path)
        )
        oracle = Oracle([ctx.corpus["sf"]])
        self.expect = oracle.join_count(self.subset)
        counts = oracle.doc_counts()
        oracle.close()
        self.docs = self.spark.read.parquet(ctx.corpus["docs"])
        self.aois = self.spark.read.parquet(aoi_path)
        self.docs_per_op = counts["docs"]
        self.sizes = {
            "docs": counts["docs"],
            "aois": sum(
                pq.read_metadata(p).num_rows
                for p in glob.glob(os.path.join(aoi_path, "*.parquet"))
            ),
            "expected_rows": self.expect,
        }
        self.counts: dict[int, int] = {}
        # warm-up: one join, so the timed joins run on started Python
        # workers and compiled code
        t0 = time.perf_counter()
        spatial_join.aoi_join_big(self.docs, self.aois).count()
        self.setup_s = time.perf_counter() - t0

    def op(self, i: int) -> None:
        from open_buildings_spark.operators import spatial_join

        with self.tracer.span("join", i):
            self.counts[i] = spatial_join.aoi_join_big(self.docs, self.aois).count()

    def after(self, i: int) -> None:
        if self.counts[i] != self.expect:
            self.fail(i, f"{self.counts[i]} rows, expected {self.expect}")


WORKLOADS = {w.name: w for w in (Pipeline, BigJoin)}
