"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import inputs, ledger, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeded(seed: int):
    return (
        inputs.aoi_pool(seed),
        inputs.aoi_order(seed, 40),
        inputs.extra_order_idx(seed).tolist(),
        inputs.join_subset_sql(seed),
        inputs.kernel_rows(seed, 50_000).tolist(),
    )


def test_same_seed_same_inputs():
    assert _seeded(7) == _seeded(7)


@pytest.mark.parametrize("other", [8, 27, 7 + 2**31 - 1])
def test_other_seed_other_inputs(other):
    a, b = _seeded(7), _seeded(other)
    for x, y in zip(a, b):
        assert x != y


def test_join_subset_differs_for_seeds_equal_mod_subset():
    import duckdb

    con = duckdb.connect()

    def ids(seed):
        return con.execute(
            "SELECT list(aoi_id ORDER BY aoi_id) FROM range(1, 20000) t(aoi_id) "
            f"WHERE {inputs.join_subset_sql(seed)}"
        ).fetchone()[0]

    a, b = ids(3), ids(3 + inputs.JOIN_SUBSET)
    assert a != b
    # about one AOI in JOIN_SUBSET either way
    for s in (a, b):
        assert abs(len(s) - 20000 / inputs.JOIN_SUBSET) < 200


def test_aoi_pool_mix_is_fixed_and_prefix_level_pinned():
    from open_buildings_spark.geo.mercator import geojson_to_quadkey

    levels = None
    for seed in range(5):
        pool = inputs.aoi_pool(seed)
        assert [(a["city"], a["shape"]) for a in pool] == [
            (c, k) for c, k, _ in inputs.AOI_POOL
        ]
        assert any(not a["rect"] for a in pool)
        lv = [
            len(geojson_to_quadkey(a["feature"])) for a in pool if a["city"] >= 0
        ]
        assert levels is None or lv == levels
        levels = lv


def test_lshape_cut_lies_in_its_bounding_box():
    for seed in range(10):
        for a in inputs.aoi_pool(seed):
            if a["shape"] != "lshape":
                assert a["cut"] is None
                continue
            ring = np.array(a["feature"]["geometry"]["coordinates"][0])
            w, s = ring.min(axis=0)
            e, n = ring.max(axis=0)
            cw, cs, ce, cn = a["cut"]
            assert w <= cw < ce <= e and s <= cs < cn <= n
            # the cut's corner touching the box is not a ring vertex
            corners = {(w, s), (w, n), (e, s), (e, n)}
            vertices = {tuple(p) for p in ring.tolist()}
            assert len(corners - vertices) == 1


def test_write_keys_unique_lines(tmp_path):
    import pyarrow.parquet as pq

    n = inputs.write_keys(str(tmp_path), np.arange(100))
    t = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    assert len(t) == n
    assert not t.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert t["l_linenumber"].between(1, 7).all()


def test_metric_value_parses_spark_formats():
    assert ledger.metric_value("200,000") == 200000
    assert ledger.metric_value("7 ms") == pytest.approx(0.007)
    assert ledger.metric_value(
        "total (min, med, max (stageId: taskId))\n1565.3 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 0.0: task 3))"
    ) == pytest.approx(1565.3 * 1024)
    assert ledger.metric_value(
        "total (min, med, max (stageId: taskId))\n10.4 s (2.5 s, 2.6 s, 2.8 s (stage 0.0: task 0))"
    ) == pytest.approx(10.4)


def test_end_to_end_names_and_units_match_benchmark_json():
    declared = _declared()
    loop = {
        "cpu_s": [1.0, 2.0, 3.0],
        "rss_mb": [90.0, 100.0, 95.0],
        "latency_s": [0.1, 0.2, 0.3],
        "window_s": 0.6,
    }
    e2e = run.end_to_end(5.0, loop)
    assert set(e2e) == {m["name"] for m in declared["end_to_end"]}
    assert all(v > 0 for v in e2e.values())


@pytest.mark.parametrize("name", ["pipeline", "bigjoin"])
def test_per_layer_names_match_benchmark_json(name):
    declared = _declared()
    span = dict.fromkeys(ledger.SPAN_QUANTITIES, 1.0)
    span.update(name="query", op=0, nodes={"ArrowEvalPython/number of output rows": 4.0})
    workload = SimpleNamespace(
        name=name, counters={}, results=[(0, 0, ["a", "b"])], counts={0: 3}
    )
    loop = {"latency_s": [1.0], "window_s": 1.0}
    kernels = {k: 1.0 for k in ("geo.parse_wkt_ms", "geo.within_ms",
                                "geo.enrich_kernels_ms", "geo.wkb_encode_ms")}
    metrics, detail = run.per_layer(workload, [span], loop, kernels)
    metrics["trace.collect_s"] = 0.1
    assert set(metrics) == {m["name"] for m in declared["per_layer"]}
    assert "query.wall_s" in detail


def test_metrics_json_covers_every_declared_metric_and_workload():
    declared = _declared()
    with open(os.path.join(ROOT, "perfbench", "metrics.json")) as f:
        doc = json.load(f)
    names = {w["name"] for w in declared["workloads"]}
    assert set(doc["workloads"]) == names
    assert set(doc["end_to_end"]) == {m["name"] for m in declared["end_to_end"]}
    assert set(doc["per_layer"]) == {m["name"] for m in declared["per_layer"]}
    for m in doc["end_to_end"].values():
        assert set(m["workloads"]) <= names
    for m in doc["per_layer"].values():
        for target, workload in m["moves"]:
            assert workload in names
            assert target.split(" ")[0] in doc["end_to_end"] or target.endswith("(recorded)")


def test_benchmark_json_shape():
    declared = _declared()
    assert set(declared) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert declared["paths"] == ["perfbench"]
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in declared["end_to_end"]
    )
    for m in declared["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in declared["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for w in declared["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
