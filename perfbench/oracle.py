"""Independent answers the benchmark checks the engine against.

Each answer comes from DuckDB over the same generated key tables, through
the shared datagen arithmetic (``datagen.buildings_sql_cte`` /
``big_aois_sql_cte``) and the footprint bounds of ``oracles._fp_bounds``:
closed-form geometry on the synthetic footprints, no engine kernels.
"""

from __future__ import annotations

import duckdb

from open_buildings_spark import datagen, oracles


def _f(v: float) -> str:
    """Exact double literal."""
    return f"CAST({float(v)!r} AS DOUBLE)"


class Oracle:
    """DuckDB connection over one or more generated key-table directories
    (the corpus, plus the pipeline's extra batch)."""

    def __init__(self, sf_dirs: list[str]):
        self.con = duckdb.connect()
        li = ", ".join(f"'{d}/lineitem.parquet'" for d in sf_dirs)
        od = ", ".join(f"'{d}/orders.parquet'" for d in sf_dirs)
        self.con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet([{li}])")
        self.con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet([{od}])")

    def close(self) -> None:
        self.con.close()

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def doc_counts(self) -> dict:
        """All docs, geometry docs, and polygons once multipolygons split."""
        n, geom, polys = self._one(
            f"WITH {datagen.buildings_sql_cte()} SELECT COUNT(*), "
            "COUNT(*) FILTER (WHERE has_geom), "
            "SUM(CASE WHEN is_multi THEN 2 WHEN has_geom THEN 1 ELSE 0 END) FROM bld"
        )
        return {"docs": int(n), "geometry_docs": int(geom), "polygons": int(polys)}

    def aoi_hits(self, ring: list, convex: bool, cut=None) -> list[str]:
        """Sorted doc ids whose footprint lies within an AOI polygon that is
        either convex, or its bounding box minus the rectangle ``cut``
        (w, s, e, n; the L-shapes).  Footprints are one square, or two for
        multipolygons (the second spans lon + 5r .. lon + 7r): within a
        convex polygon exactly when every corner is, and within an L-shape
        when within its box and clear of the cut's interior."""
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        conds = [
            f"fminx >= {_f(min(xs))}", f"fmaxx <= {_f(max(xs))}",
            f"fminy >= {_f(min(ys))}", f"fmaxy <= {_f(max(ys))}",
        ]
        squares = [("lon - r", "lon + r", "TRUE"), ("lon + 5e0 * r", "lon + 7e0 * r", "is_multi")]
        if convex:
            pts = ring[:-1]
            area = sum(
                a[0] * b[1] - b[0] * a[1] for a, b in zip(pts, pts[1:] + pts[:1])
            )
            if area < 0:
                pts = pts[::-1]
            for x0, x1, when in squares:
                for px in (x0, x1):
                    for py in ("lat - r", "lat + r"):
                        for (ax, ay), (bx, by) in zip(pts, pts[1:] + pts[:1]):
                            conds.append(
                                f"(NOT {when} OR {_f(bx - ax)} * (({py}) - {_f(ay)})"
                                f" - {_f(by - ay)} * (({px}) - {_f(ax)}) >= 0)"
                            )
        if cut is not None:
            cw, cs, ce, cn = (_f(v) for v in cut)
            for x0, x1, when in squares:
                conds.append(
                    f"(NOT {when} OR NOT ({x0} < {ce} AND {x1} > {cw}"
                    f" AND lat - r < {cn} AND lat + r > {cs}))"
                )
        rows = self.con.execute(
            f"WITH {datagen.buildings_sql_cte()}, "
            f"fp AS (SELECT doc_id, lon, lat, r, is_multi, {oracles._fp_bounds()} "
            "FROM bld WHERE has_geom) "
            f"SELECT doc_id FROM fp WHERE {' AND '.join(conds)} ORDER BY doc_id"
        ).fetchall()
        return [r[0] for r in rows]

    def join_count(self, subset_sql: str) -> int:
        """Row count of the big join over an AOI subset: the deep-cover
        gate's query (``oracles.oracle_sql()['g_deep_cover']``) with the
        subset predicate in place of its fixed 1-in-20 slice."""
        (n,) = self._one(
            f"WITH {datagen.buildings_sql_cte()},\n{datagen.big_aois_sql_cte()},\n"
            f"fp AS (SELECT doc_id, substr(qk, 1, 10) AS qk10, {oracles._fp_bounds()} "
            "FROM bld WHERE has_geom)\n"
            "SELECT COUNT(*) FROM fp JOIN aoi a ON fp.qk10 = a.qk10\n"
            f"WHERE {subset_sql}\n"
            "  AND fp.fminx >= a.aw AND fp.fmaxx <= a.ae "
            "AND fp.fminy >= a.asx AND fp.fmaxy <= a.an"
        )
        return int(n)
