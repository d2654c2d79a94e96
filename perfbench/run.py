"""Benchmark of the open_buildings_spark engine.

    python3 perfbench/run.py --workload pipeline|bigjoin --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout.  It generates its inputs from the seed
(under ``.bench_work/``), runs one workload on a ``local[nproc]`` Spark
session for ``S`` seconds of operations, checks every result, and prints
one JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same loop with every engine call in a Spark job
group and reports the per-layer metrics instead, from Spark's own records.
Both write the full result, run provenance and (traced) the per-span
ledger to ``.bench_work/out/``.  Metric names, units and what each
per-layer metric should move are in ``BENCHMARK.json`` and
``perfbench/metrics.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "open_buildings_spark")
WORK = os.path.join(ROOT, ".bench_work")


def spark_conf(cpus: int, work: str) -> dict:
    """The pinned session conf: the engine's defaults (session._DEFAULTS
    as of this benchmark), local dirs inside the work directory, and
    status-store retention large enough for every job of a run.

    The driver JVM runs C1-compiled code only (``TieredStopAtLevel=1``).
    A run lives well under a minute and every query brings new generated
    classes, so under the default tiered JIT the C2 compiler threads never
    settle: they took the largest share of the JVM's CPU, made the same
    query slow down and speed up by a third within one session, and
    spread run-to-run numbers past any usable bound on a 4-core host.
    With C1 only, per-query latency is flat from the first queries on."""
    tmp = os.path.join(work, "tmp")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def percentiles(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it (None below twenty samples), with the sample count."""
    import numpy as np

    v = np.sort(np.asarray(values, dtype=float))
    out = {"n": len(v), "p50": float(np.median(v)) if len(v) else None, "tail": None}
    for p in (99.9, 99, 95, 90, 75):
        beyond = int(np.sum(v > np.percentile(v, p))) if len(v) else 0
        if beyond >= 10:
            out["tail"] = {"p": p, "value": float(np.percentile(v, p)), "beyond": beyond}
            break
    return out


def _kernel_ms(workload) -> dict:
    """Median of five direct calls into each public geo kernel on the
    seeded 65,536-row batch."""
    import numpy as np

    from open_buildings_spark.geo import kernels, mercator
    from open_buildings_spark.geo.wkt import parse_wkt_batch, wkb_from_batch
    from open_buildings_spark.udfs import aoi_rings

    wkt, aoi = workload.kernel_batch()
    rings = aoi_rings(aoi["geometry"])
    batch = parse_wkt_batch(wkt)

    def enrich():
        kernels.centroids(batch)
        kernels.area_6933(batch)
        mid = kernels.bbox_midpoints(batch)
        mercator.lonlat_to_quadkey_np(mid[:, 0], mid[:, 1], 12)

    calls = {
        "geo.parse_wkt_ms": lambda: parse_wkt_batch(wkt),
        "geo.within_ms": lambda: kernels.within_mask(batch, rings),
        "geo.enrich_kernels_ms": enrich,
        "geo.wkb_encode_ms": lambda: wkb_from_batch(batch),
    }
    out = {}
    for name, fn in calls.items():
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[name] = float(np.median(ts)) * 1e3
    return out


def end_to_end(setup_s: float, loop: dict) -> dict:
    """The bounded end-to-end metrics of one untraced run."""
    import numpy as np

    return {
        "setup_s": setup_s,
        "cpu_s_per_op": float(np.median(loop["cpu_s"])),
        "driver_rss_mb": max(loop["rss_mb"]),
    }


def per_layer(workload, spans: list[dict], loop: dict, kernel_ms: dict) -> tuple[dict, dict]:
    """Per-layer metrics (per operation of the window) and the per-span
    ledger, named ``<span>.<quantity>`` (means over operations)."""
    import numpy as np

    from perfbench.ledger import SPAN_QUANTITIES

    timed = [s for s in spans if isinstance(s["op"], int)]
    n_ops = max(len(loop["latency_s"]), 1)
    per_op = {q: sum(s[q] for s in timed) / n_ops for q in SPAN_QUANTITIES}
    metrics = {f"op.{q}": per_op[q] for q in SPAN_QUANTITIES if q not in ("wall_s", "gc_s")}
    metrics.update(kernel_ms)

    def node_sum(span_names, suffix):
        return sum(
            v
            for s in timed
            if s["name"] in span_names
            for k, v in s["nodes"].items()
            if k.endswith(suffix)
        )

    counters = dict.fromkeys(
        (
            "table.files_total",
            "table.files_planned",
            "table.bytes_per_doc",
            "aoi.refine_rows_in",
            "aoi.refine_yield",
            "join.candidate_pairs",
            "join.pair_yield",
            "export.bytes",
        ),
        0.0,
    )
    counters.update(workload.counters)
    queries = [s for s in timed if s["name"] == "query"]
    if queries:
        refine_in = node_sum({"query"}, "ArrowEvalPython/number of output rows")
        hits = sum(len(ids) for _, _, ids in workload.results)
        counters["table.files_planned"] = (
            node_sum({"query"}, "/number of files read") / len(queries)
        )
        counters["aoi.refine_rows_in"] = refine_in / len(queries)
        counters["aoi.refine_yield"] = hits / refine_in if refine_in else 0.0
    if workload.name == "bigjoin":
        pairs = node_sum({"join"}, "ShuffledHashJoin/number of output rows")
        rows = sum(workload.counts.values())
        counters["join.candidate_pairs"] = pairs / n_ops
        counters["join.pair_yield"] = rows / pairs if pairs else 0.0
    metrics.update(counters)
    window = loop["window_s"]
    metrics["trace.latency_ms.p50"] = float(np.median(loop["latency_s"])) * 1e3
    metrics["trace.span_coverage"] = sum(s["wall_s"] for s in timed) / window

    detail: dict = {}
    for s in timed:
        for q in SPAN_QUANTITIES:
            key = f"{s['name']}.{q}"
            detail[key] = detail.get(key, 0.0) + s[q] / n_ops
        for k, v in s["nodes"].items():
            key = f"{s['name']}.node.{k}"
            detail[key] = detail.get(key, 0.0) + v / n_ops
    return metrics, detail


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this run
    started (the JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench import ledger

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while ledger.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in ledger.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while ledger.descendants() and time.time() < deadline:
        time.sleep(0.2)


def run(args) -> dict:
    import numpy as np

    from perfbench import inputs, ledger
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    cpus = len(os.sched_getaffinity(0))
    conf = spark_conf(cpus, WORK)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        corpus = inputs.corpus(spark, WORK, PKG)
        inputs_s = time.perf_counter() - t1
        tracer = ledger.Tracer(spark, enabled=bool(args.trace))
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, seed=args.seed, corpus=corpus, run_dir=run_dir
        )
        w = WORKLOADS[args.workload](ctx)
        t2 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t2
        # the seeded inputs prepare materialises (the pipeline's extra batch,
        # bigjoin's AOI slice) are datagen work, not set-up of the program
        setup_s = session_s + w.setup_s
        ticks = ledger.cpu_ticks()
        loop = w.loop(args.seconds)
        steal = ledger.steal_frac(ticks, ledger.cpu_ticks())
        w.close()
        load_end = os.getloadavg()
        lat_ms = [x * 1e3 for x in loop["latency_s"]]
        n_ops = len(lat_ms)
        result = {
            "correct": not w.failures,
            "attempted": n_ops,
            "failed": len(w.failed_ops),
        }
        e2e = end_to_end(setup_s, loop)
        # wall-clock figures: recorded, but not bounded metrics (README)
        wall = {
            "latency_ms.p50": float(np.median(lat_ms)),
            "docs_per_s": w.docs_per_op * n_ops / loop["window_s"],
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cpus,
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            "host_steal_frac": steal,
            "spark_conf": conf,
            "sizes": w.sizes,
            "session_s": session_s,
            "inputs_s": inputs_s,
            "prepare_s": prepare_s,
            "window_s": loop["window_s"],
            "latency_ms": percentiles(lat_ms),
            "latency_ms_all": lat_ms,
            "cpu_s_all": loop["cpu_s"],
            "failures": w.failures,
            "end_to_end": e2e,
            "wall": wall,
        }
        if args.trace:
            t3 = time.perf_counter()
            spans = tracer.ledger()
            collect_s = time.perf_counter() - t3
            metrics, detail = per_layer(w, spans, loop, _kernel_ms(w))
            metrics["trace.collect_s"] = collect_s
            record["per_layer"] = metrics
            record["spans"] = detail
            chosen = declared["per_layer"]
        else:
            metrics = e2e
            chosen = declared["end_to_end"]
        units = {m["name"]: m["unit"] for m in chosen}
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        result["metrics"] = {
            k: {"value": float(metrics[k]), "unit": units[k]} for k in units
        }
        record["result"] = result
        out = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, default=str)
        print(
            json.dumps(
                {
                    "provenance": {
                        k: record[k]
                        for k in (
                            "workload", "seed", "nproc", "loadavg_start",
                            "loadavg_end", "host_steal_frac", "spark_conf", "sizes",
                            "latency_ms", "wall", "window_s", "session_s", "prepare_s",
                        )
                    },
                    "failures": w.failures[:20],
                    "record": os.path.relpath(out, ROOT),
                },
                default=str,
            )
        )
        return result
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["pipeline", "bigjoin"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        print(f"perfbench: engine package not found at {PKG}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
