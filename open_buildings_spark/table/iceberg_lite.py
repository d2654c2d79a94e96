"""Iceberg-style table layer: parquet data files + JSON manifest metadata.

No Iceberg jar exists in this sandbox, so the engine implements the subset of
Iceberg semantics the north_rule needs, over plain ``spark.read/write.parquet``:

- **snapshots**: ``metadata/v{N}.json`` manifests, each listing data files
  with per-file partition values and row counts, plus the ``operation``
  that made it (what changed is the diff against ``parent_id``);
- **optimistic concurrency**: every writer commits through :func:`_commit`,
  which creates ``v{N+1}.json`` only if it does not exist yet. Concurrent
  writers are safe: a writer that loses the race for ``v{N+1}`` re-applies
  its per-cell diff on the new head when none of the cells it touches
  changed there (disjoint-cell writers both land), and raises
  :class:`CommitConflictError` naming the cells when they overlap.
  ``VERSION`` is only a hint; readers step forward to the newest manifest.
  :func:`expire_snapshots` must NOT run beside an in-flight writer: it
  deletes data files that no snapshot references yet;
- **partition pruning**: readers plan the file list from the manifest
  (quadkey-prefix and key-equality predicates) before Spark ever lists
  a directory — the reference gets this from hive partitioning + quadkey
  file clustering (open_buildings/settings.py:26-35, overture/partition.py);
- **resume**: per-partition lineage (cell -> files, row counts) means a
  killed build job recomputes only uncommitted cells — the reference's
  skip-if-exists file gates (overture/partition.py:146-147,172-174)
  expressed as manifest state (P10).

Determinism: manifests carry a monotone snapshot counter, no wall-clock.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflictError(RuntimeError):
    """A concurrent commit changed cells (or the schema) that this commit
    also changes; nothing was committed — re-read the table and retry."""


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _version_file(root: str) -> str:
    return os.path.join(_meta_dir(root), "VERSION")


def _manifest_path(root: str, snapshot_id: int) -> str:
    return os.path.join(_meta_dir(root), f"v{snapshot_id}.json")


def _newest_from(root: str, snapshot_id: int) -> int:
    while os.path.exists(_manifest_path(root, snapshot_id + 1)):
        snapshot_id += 1
    return snapshot_id


def current_manifest(root: str) -> dict | None:
    """The newest committed snapshot. ``VERSION`` is a hint: a crash between
    publishing ``v{N+1}.json`` and the pointer swap, or two swaps landing
    out of order, leaves it behind, so step forward while the next
    manifest exists."""
    try:
        with open(_version_file(root)) as f:
            hint = int(f.read().strip()[1 : -len(".json")])
    except FileNotFoundError:
        hint = 0
    sid = _newest_from(root, hint)
    return manifest_at(root, sid) if sid else None


def _set_version(root: str, snapshot_id: int) -> None:
    fd, tmp = tempfile.mkstemp(prefix=".VERSION.", suffix=".tmp", dir=_meta_dir(root))
    with os.fdopen(fd, "w") as f:
        f.write(f"v{snapshot_id}.json")
    os.replace(tmp, _version_file(root))


def _head(root: str, snapshot_id: int | None = None) -> dict:
    """The current (or ``snapshot_id``'s) manifest; FileNotFoundError when
    there is none."""
    m = current_manifest(root) if snapshot_id is None else manifest_at(root, snapshot_id)
    if m is None:
        raise FileNotFoundError(
            f"no committed snapshot at {root}"
            + (f" (snapshot {snapshot_id})" if snapshot_id is not None else "")
        )
    return m


def _cell_name(ck: tuple, keys: list[str]) -> str:
    """A partition's hive path (keyed tables: the bare cell string would
    collide across key values) or bare cell."""
    if not keys:
        return ck[-1]
    return "/".join([f"{k}={v}" for k, v in zip(keys, ck)] + [f"cell={ck[-1]}"])


def _overlap(a: tuple, b: tuple) -> bool:
    """Same key values and one cell a prefix of (or equal to) the other."""
    return a[:-1] == b[:-1] and (a[-1].startswith(b[-1]) or b[-1].startswith(a[-1]))


def _commit(
    root: str,
    base: dict,
    op: str,
    changes: dict,
    update_metrics,
    schema=None,
) -> dict:
    """The one way a snapshot is made. On top of the head, apply
    ``changes`` — the per-cell diff against ``base``: ``(key values...,
    cell) -> new partition entry``, or ``None`` to drop the cell — plus
    ``update_metrics`` (head metrics -> new metrics) and ``schema`` (head
    schema -> new schema; None keeps it), and publish the result as
    ``v{N+1}.json``. Returns the committed manifest.

    Optimistic concurrency (Iceberg spec): the manifest goes to a unique
    temp file that is hard-linked to its final name, so publishing is
    atomic and create-if-absent — EEXIST means another writer won
    ``v{N+1}``. The loser steps forward to the real head; if no cell it
    touches overlaps a partition that changed between ``base`` and the
    head, it re-applies its diff there, otherwise it raises
    :class:`CommitConflictError` naming the cells. The ``VERSION`` swap
    comes last and is only a hint (:func:`current_manifest`)."""
    keys = _manifest_keys(base)
    os.makedirs(_meta_dir(root), exist_ok=True)
    head = base
    while True:
        parts = {_part_key(p, keys): p for p in head["partitions"]}
        for ck, part in changes.items():
            if part is None:
                parts.pop(ck, None)
            else:
                parts[ck] = part
        parent = head.get("snapshot_id", 0)  # 0: the table's first commit
        sid = parent + 1
        m = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": op,
            "keys": keys,
            "partitions": [parts[ck] for ck in sorted(parts)],
            "metrics": update_metrics(dict(head["metrics"])),
        }
        new_schema = schema(head.get("schema")) if schema else head.get("schema")
        if new_schema is not None:
            m["schema"] = new_schema
        fd, tmp = tempfile.mkstemp(prefix=f".v{sid}.", suffix=".tmp", dir=_meta_dir(root))
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(m, f, indent=1, sort_keys=True)
            os.link(tmp, _manifest_path(root, sid))
            break
        except FileExistsError:
            head = manifest_at(root, _newest_from(root, sid))
            old = {_part_key(p, keys): p for p in base["partitions"]}
            new = {_part_key(p, keys): p for p in head["partitions"]}
            moved = [ck for ck in old.keys() | new.keys() if old.get(ck) != new.get(ck)]
            clash = sorted(ck for ck in changes if any(_overlap(ck, mv) for mv in moved))
            if clash or _manifest_keys(head) != keys:
                raise CommitConflictError(
                    f"{op} on {root} conflicts with a concurrent commit "
                    f"(snapshot {base.get('snapshot_id', 0)} -> {head['snapshot_id']}) "
                    f"on cells {[_cell_name(ck, keys) for ck in clash]}"
                ) from None
        finally:
            os.remove(tmp)
    _set_version(root, sid)
    return m


def committed_cells(root: str, keys: list[str] | None = None) -> set:
    m = current_manifest(root)
    if m is None:
        return set()
    return {_part_key(p, keys or []) for p in m["partitions"]}


def _manifest_keys(m: dict) -> list[str]:
    """Partition key columns of a table, in hive-directory order. Stored
    explicitly since r4 (``m['keys']``); older manifests fall back to the
    insertion-ordered ``values`` dict of any keyed partition."""
    if "keys" in m:
        return m["keys"]
    for p in m["partitions"]:
        if p["values"]:
            return list(p["values"].keys())
    return []


def _part_dir(data_dir: str, keys: list[str], values: dict, cell: str) -> str:
    """Hive directory of one partition: data/<k>=<v>/.../cell=<c>."""
    d = data_dir
    for k in keys:
        d = os.path.join(d, f"{k}={values[k]}")
    return os.path.join(d, f"cell={cell}")


def _part_key(part: dict, keys: list[str]) -> tuple:
    return tuple(part["values"].get(k) for k in keys) + (part["cell"],)


def _row_key(row, keys: list[str]) -> tuple:
    return tuple(row[k] for k in keys) + (row["cell"],)


def _cell_counts(df: DataFrame, keys: list[str]) -> dict:
    """Rows per (key values..., cell) of a cell-tagged frame."""
    return {
        _row_key(r, keys): r["n"]
        for r in df.groupBy(*keys, "cell").agg(F.count("*").alias("n")).collect()
    }


def _cells_df(spark: SparkSession, parts: list[dict], keys: list[str]) -> DataFrame:
    return spark.createDataFrame([_part_key(p, keys) for p in parts], _plan_schema(keys))


def _cap(m: dict, override: int | None) -> int | None:
    """Per-file row cap: the caller's override, else the writer's stored
    ``max_per_file``."""
    return override if override is not None else m["metrics"].get("max_per_file")


def _rows_per_file(
    paths: list[str], spark: SparkSession | None = None
) -> list[int]:
    """Exact per-file row counts from the parquet footers, stored in the
    manifest as ``file_rows`` so compaction can find individual over-cap
    files — the per-cell aggregate can't see 999+1 skew. Metadata-only
    reads: small commits read at the driver; above a threshold (a planet
    build's final commit can reference 10^5+ files) the footer reads fan
    out as one Spark job."""
    import pyarrow.parquet as pq

    if spark is not None and len(paths) > 256:
        def read_meta(it):
            import pandas as pd

            for pdf in it:
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "n": [
                            pq.ParquetFile(p).metadata.num_rows
                            for p in pdf["path"]
                        ],
                    }
                )

        pdf = (
            spark.createDataFrame([(p,) for p in paths], "path string")
            .repartition(min(len(paths) // 64 + 1, 64))
            .mapInPandas(read_meta, "path string, n long")
            .toPandas()
        )
        by_path = dict(zip(pdf["path"], pdf["n"]))
        return [int(by_path[p]) for p in paths]
    return [pq.ParquetFile(p).metadata.num_rows for p in paths]


def _write_cells(
    spark: SparkSession,
    root: str,
    keys: list[str],
    counts: dict,
    write,
    extend: dict | None = None,
) -> tuple[dict, list[str]]:
    """Run ``write()`` — one Spark job appending parquet files under the
    hive directories of the cells in ``counts`` ((key values..., cell) ->
    rows written there) — and return ``(changes, new_paths)`` for
    :func:`_commit`.

    Snapshot immutability: files are only ever ADDED (append mode +
    job-unique part names) and a cell's new files are the diff of its
    directory across the job, so files of an earlier KILLED (uncommitted)
    attempt are never referenced — they sit orphaned until
    :func:`expire_snapshots` reclaims them, and every older snapshot keeps
    reading exactly the files it committed. The footer row counts come from
    ONE batched :func:`_rows_per_file` pass (never per-cell serial reads).

    ``extend`` maps cells whose existing entry the new files join
    (appends); a pre-r4 entry without ``file_rows`` is backfilled in the
    same pass. Every other cell's entry is replaced by just its new files,
    and a cell left with zero rows drops (``None``)."""
    extend = extend or {}
    data_dir = os.path.join(root, "data")
    dirs = {ck: _part_dir(data_dir, keys, dict(zip(keys, ck)), ck[-1]) for ck in counts}

    def listing() -> dict:
        return {ck: set(glob.glob(os.path.join(d, "*.parquet"))) for ck, d in dirs.items()}

    before = listing()
    write()
    new = {ck: sorted(fs - before[ck]) for ck, fs in listing().items()}
    backfill = {
        ck: [os.path.join(root, f) for f in p["files"]]
        for ck, p in extend.items()
        if p.get("file_rows") is None
    }
    new_paths = [p for fl in new.values() for p in fl]
    it = iter(_rows_per_file(new_paths + [p for fl in backfill.values() for p in fl], spark))
    frows = {ck: [next(it) for _ in fl] for ck, fl in new.items()}
    old_frows = {ck: [next(it) for _ in fl] for ck, fl in backfill.items()}
    changes: dict = {}
    for ck, n in counts.items():
        rel = [os.path.relpath(p, root) for p in new[ck]]
        prior = extend.get(ck)
        if prior is not None:
            changes[ck] = {
                **prior,
                "files": prior["files"] + rel,
                "file_rows": old_frows.get(ck, prior.get("file_rows")) + frows[ck],
                "n_rows": prior["n_rows"] + n,
            }
        elif n:
            changes[ck] = {
                "cell": ck[-1],
                "values": dict(zip(keys, ck)),
                "n_rows": n,
                "files": rel,
                "file_rows": frows[ck],
            }
        else:
            changes[ck] = None  # every row of this cell moved or was deleted
    return changes, new_paths


def _offset_bump(spark: SparkSession, base: dict, paths: list[str]):
    """Metrics step keeping the kNN exactness bound current: a stored
    ``max_anchor_offset_m`` becomes its max with the offset of just the
    new files (one column-pruned scan)."""
    if "max_anchor_offset_m" not in base["metrics"] or not paths:
        return lambda mm: mm
    from ..operators.knn import corpus_anchor_offset_m

    off = corpus_anchor_offset_m(spark.read.parquet(*paths))
    return lambda mm: {
        **mm, "max_anchor_offset_m": max(mm.get("max_anchor_offset_m", off), off)
    }


def _check_key_types(df: DataFrame, keys: list[str]) -> None:
    """Partition key columns must be STRING-typed: the hive layout stores
    key values as directory-name text and :func:`_scan` recovers them as
    strings verbatim, so a non-string key column would silently change
    type on read and then type-clash (or coerce) when a later merge
    unions recovered survivors with a batch. Refuse up front."""
    bad = [
        f"{f.name} ({f.dataType.simpleString()})"
        for f in df.schema.fields
        if f.name in keys and f.dataType.simpleString() != "string"
    ]
    if bad:
        raise ValueError(
            "partition key columns must be string-typed (hive directory "
            f"values read back as strings): cast {', '.join(bad)} to "
            "string first"
        )


def _check_batch(m: dict, df: DataFrame, keys: list[str], verb: str) -> None:
    """An append/upsert batch must fit the table schema and carry the
    (string-typed) partition key columns."""
    if m.get("schema"):
        extra = set(df.columns) - {f["name"] for f in m["schema"]} - set(keys)
        if extra:
            raise ValueError(
                f"{verb} columns {sorted(extra)} not in table schema; "
                f"add_column first"
            )
    missing = set(keys) - set(df.columns)
    if missing:
        raise ValueError(
            f"{verb} batch missing partition key columns {sorted(missing)}"
        )
    _check_key_types(df, keys)


def write_partitioned(
    df: DataFrame,
    root: str,
    max_per_file: int,
    keys: list[str] | None = None,
    cells_per_commit: int = 0,
    fail_after_commits: int = -1,
    store_anchor_offset: bool = True,
    extra_metrics: dict | None = None,
) -> dict:
    """Adaptive-cell partitioned write with manifest commits.

    1. plan leaf cells (one-pass histogram, reference split semantics),
    2. skip cells already committed (resume),
    3. tag rows with their leaf cell, hash-partition by cell, write one
       parquet directory per cell, quadkey-sorted within files (the
       reference's ORDER BY quadkey clustered write),
    4. commit the manifest atomically every ``cells_per_commit`` cells
       (0 = single commit at the end).

    ``fail_after_commits`` >= 0 raises after that many commits — the
    kill/resume test hook. ``extra_metrics`` merges into the FINAL
    commit's metrics only (never intermediate group commits), so a caller
    can stamp bookkeeping — e.g. the streaming bootstrap's
    ``last_append_batch_id`` — atomically with the data becoming visible.
    Returns the final manifest.
    """
    from ..operators.partition import partition_plan, tag_cells

    keys = keys or []
    _check_key_types(df, keys)
    plan = partition_plan(df, max_per_file, keys).collect()
    m = current_manifest(root)
    if m is None:
        m = {
            "keys": keys,
            "partitions": [],
            "metrics": {"rows_written": 0, "recomputed_cells": 0},
        }
    elif _manifest_keys(m) != keys:
        raise ValueError(
            f"table at {root} is partitioned by {_manifest_keys(m)}, "
            f"not {keys}"
        )
    done = {_part_key(p, keys) for p in m["partitions"]}
    pending = [r for r in plan if _row_key(r, keys) not in done]
    if not pending:
        return m

    groups: list[list] = (
        [pending]
        if cells_per_commit <= 0
        else [
            pending[i : i + cells_per_commit]
            for i in range(0, len(pending), cells_per_commit)
        ]
    )
    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    # per-snapshot schema (data files only: partition key columns and the
    # cell live in directory names) — the schema-evolution anchor
    data_schema = [
        f.jsonValue() for f in df.schema.fields if f.name not in keys
    ]
    spark = df.sparkSession
    plan_schema = _plan_schema(keys, ", n_rows long")
    for commits, group in enumerate(groups, 1):
        final = commits == len(groups)
        # Tag rows with their leaf cell via a broadcast hash equi-join on
        # quadkey-prefix = cell (tag_cells). The inner join doubles as the
        # pending-cells filter: rows of already-committed cells match no
        # plan entry and drop out. Plan size stays out of codegen — the
        # previous per-cell startswith/when chains were O(#cells) Catalyst
        # expressions, fatal at planet scale (~10^5-10^6 leaves).
        group_df = spark.createDataFrame(
            [tuple(r[k] for k in keys) + (r["cell"], r["n_rows"]) for r in group],
            plan_schema,
        )
        sub = tag_cells(df, group_df, keys)
        # Salted repartitioning for over-dense cells (north_rule): a z12
        # cell denser than max_per_file cannot be split spatially any
        # further (the reference would loop forever on it), so its rows are
        # sharded across ceil(n/max_per_file) writer tasks by a doc-hash
        # salt — bounding BOTH the task size (no straggler writes a
        # megacity alone) and the output file size. Normal cells get
        # salt 0 and behave exactly as before. n_rows rides in from the
        # plan join, so the salt is one expression, not a per-cell chain.
        shards = F.ceil(F.col("n_rows") / F.lit(max_per_file)).cast("int")
        sub = sub.withColumn(
            "_salt",
            F.when(
                F.col("n_rows") > max_per_file,
                F.pmod(F.hash(F.col("doc_id")), shards),
            ).otherwise(F.lit(0)),
        ).drop("n_rows")
        # explicit partition count: ceil(rows/max_per_file) writer tasks at
        # minimum — an explicit repartition(n, ...) is exempt from AQE
        # partition coalescing, which would otherwise merge the salt shards
        # right back into one oversized task
        shuffle_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        n_rows = sum(r["n_rows"] for r in group)
        n_writers = max(shuffle_parts, -(-n_rows // max_per_file))
        write = (
            sub.repartition(
                n_writers, F.col("cell"), F.col("_salt"), *[F.col(k) for k in keys]
            )
            # sort by (partition cols, quadkey): the dynamic-partition writer
            # requires rows grouped by partition cols and would inject its
            # own quadkey-destroying sort otherwise; this way one sort gives
            # both the grouping and the reference's ORDER BY quadkey
            # clustering (overture/partition.py:149,182)
            .sortWithinPartitions(*keys, "cell", "quadkey")
            .drop("_salt")
            # append, never overwrite: Spark's dynamic-partition overwrite
            # would delete the files older snapshots reference (in-place
            # rewrite broke time travel across resumes); part names carry
            # the job UUID so parallel/retried attempts cannot collide
            .write.mode("append")
            .partitionBy(*keys, "cell")
            .option("compression", "snappy")
        )
        changes, new_paths = _write_cells(
            spark,
            root,
            keys,
            {_row_key(r, keys): r["n_rows"] for r in group},
            lambda: write.parquet(data_dir),
        )
        final_metrics = dict(extra_metrics or {}) if final else {}
        if final and store_anchor_offset:
            data_cols = set(df.columns) - set(keys) - {"cell"}
            files = [
                os.path.join(root, f) for p in m["partitions"] for f in p["files"]
            ] + new_paths
            if {"quadkey", "lon", "lat"} <= data_cols and files:
                # kNN exactness metric (corpus_anchor_offset_m): one
                # column-pruned scan of the written files, FOLDED INTO the
                # final commit's manifest (committing it after would mutate
                # an already-committed snapshot in place, and a crash
                # between the two commits would leave a complete table
                # permanently missing the metric)
                from ..operators.knn import corpus_anchor_offset_m

                final_metrics["max_anchor_offset_m"] = corpus_anchor_offset_m(
                    spark.read.parquet(*files)
                )
        base_schema = m.get("schema")

        def build_schema(cur):
            # a concurrent add_column since the base would be silently
            # replaced by this build's schema: refuse instead
            if cur not in (base_schema, data_schema):
                raise CommitConflictError(
                    f"write on {root} conflicts with a concurrent schema change"
                )
            return data_schema

        m = _commit(
            root,
            m,
            "write",
            changes,
            lambda mm: {
                **mm,
                "rows_written": mm["rows_written"] + n_rows,
                "recomputed_cells": mm["recomputed_cells"] + len(group),
                "max_per_file": max_per_file,
                # final commit only: a partially-committed build must not
                # carry caller bookkeeping that marks it complete
                **final_metrics,
            },
            schema=build_schema,
        )
        if fail_after_commits >= 0 and commits >= fail_after_commits:
            raise RuntimeError(f"injected failure after {commits} commits")
    return m


def append_rows(
    df: DataFrame,
    root: str,
    batch_id: int | None = None,
    max_per_file: int | None = None,
) -> dict:
    """Append NEW rows to an existing table as a new snapshot —
    the streaming-ingest write path (:mod:`..streaming.geo.ingest_to_table`
    calls this from ``foreachBatch``). ``write_partitioned`` is a *build*
    primitive: it skips already-committed cells entirely (resume), silently
    dropping late rows that land in them; appends instead ROUTE every row:

    - rows covered by an existing leaf cell append files to that cell
      (longest-prefix routing via the same broadcast hash equi-join as
      ``tag_cells`` — plan size O(1) in cell count);
    - rows outside every existing leaf (new geography) open their z12
      quadkey as a new leaf cell. z12 cells are never proper prefixes of
      leaves, so the routing plan stays prefix-disjoint and each row
      matches exactly one entry.

    Keyed (hive ``country_iso=XX``-style) tables route per key group: the
    batch must carry the partition key columns, and (key values, cell)
    addresses the directory ``data/<k>=<v>/cell=<c>/`` — the reference's
    primary archive layout (overture/partition.py:168-170). A key value
    never seen before simply opens its own z12 leaves.

    Every batch row MUST route: rows whose quadkey is NULL (or whose key
    columns are NULL) would silently vanish through the inner routing
    join, so the batch count is compared with the routed count and a
    mismatch raises (mirrors ``upsert_rows``'s guard).

    Snapshot immutability holds: files are only ever ADDED (job-unique part
    names, pre/post directory diff per touched cell), the manifest diff is
    per-cell ``files`` + ``n_rows``, and older snapshots keep reading
    exactly their own files. Fragmentation from many micro-batches is
    reclaimed by :func:`compact_cells`. An append racing another writer
    (e.g. compaction) lands when the cells it touches did not change
    under it and raises :class:`CommitConflictError` otherwise.

    ``batch_id`` makes replays idempotent (exactly-once for a single
    streaming writer): if ``batch_id <= metrics['last_append_batch_id']``
    the micro-batch already committed — a crashed run whose checkpoint
    lagged its table commit re-delivers the batch and this no-ops. A
    mid-append crash leaves only unreferenced files (expire_snapshots
    reclaims them) and the replay re-appends cleanly.
    """
    from ..operators.partition import tag_cells

    m = _head(root)
    keys = _manifest_keys(m)
    last = m["metrics"].get("last_append_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return m  # replayed micro-batch: already committed
    _check_batch(m, df, keys, "append")
    cap = _cap(m, max_per_file)
    spark = df.sparkSession

    _, plan = _routing_plan(spark, m, df, keys)
    tagged = tag_cells(df, plan, keys).persist()
    try:
        n_batch = df.count()
        counts = _cell_counts(tagged, keys)
        if sum(counts.values()) != n_batch:
            raise ValueError(
                f"{n_batch - sum(counts.values())} append rows have a NULL "
                "or un-routable quadkey or partition key; refusing (the "
                "inner routing join would silently drop them)"
            )
        if not counts:
            if batch_id is None:
                return m
            return _commit(
                root, m, "append", {},
                lambda mm: {**mm, "last_append_batch_id": batch_id},
            )
        by_ck = {_part_key(p, keys): p for p in m["partitions"]}
        changes, new_paths = _write_cells(
            spark,
            root,
            keys,
            counts,
            lambda: _write_cells_salted(
                tagged, counts, cap, os.path.join(root, "data"), keys
            ),
            extend={ck: by_ck[ck] for ck in counts if ck in by_ck},
        )
    finally:
        tagged.unpersist()
    bump = _offset_bump(spark, m, new_paths)
    n_new = sum(counts.values())
    return _commit(
        root,
        m,
        "append",
        changes,
        lambda mm: bump(
            {
                **mm,
                "rows_written": mm["rows_written"] + n_new,
                # a manual append (batch_id=None) must NOT reset the
                # streaming replay watermark — clobbering it to null would
                # let a crashed stream re-deliver its last batch past the
                # exactly-once guard
                "last_append_batch_id": (
                    batch_id
                    if batch_id is not None
                    else mm.get("last_append_batch_id")
                ),
                "appended_batches": mm.get("appended_batches", 0) + 1,
            }
        ),
    )


def _plan_schema(keys: list[str], extra: str = "") -> str:
    return (
        ", ".join(f"{k} string" for k in keys) + (", " if keys else "")
    ) + "cell string" + extra


def _write_cells_salted(
    df: DataFrame,
    counts: dict,
    cap: int | None,
    data_dir: str,
    keys: list[str] | None = None,
) -> None:
    """Append tagged rows into hive ``<k>=<v>/cell=<c>`` dirs honoring the
    per-file row cap via the same data-driven salting as
    ``write_partitioned``: partitions over the cap shard into ceil(n/cap)
    doc-hash buckets so no single writer task (and no expected output file)
    exceeds the cap — without it, repartition-by-cell funnels a dense
    cell's whole append into ONE task and one oversized file. Shared by
    :func:`append_rows`, :func:`upsert_rows` and :func:`delete_rows`
    (rows must carry ``doc_id`` for the salt). ``counts`` is keyed by
    (key values..., cell) tuples."""
    keys = keys or []
    spark = df.sparkSession
    on = [*keys, "cell"]
    if cap:
        over = [(*ck, -(-n // cap)) for ck, n in counts.items() if n > cap]
        if over:
            shards_df = F.broadcast(
                spark.createDataFrame(over, _plan_schema(keys, ", _shards int"))
            )
            df = (
                df.join(shards_df, on, "left")
                .withColumn(
                    "_salt",
                    F.when(
                        F.col("_shards").isNotNull(),
                        F.pmod(F.hash(F.col("doc_id")), F.col("_shards")),
                    ).otherwise(F.lit(0)),
                )
                .drop("_shards")
            )
        else:
            df = df.withColumn("_salt", F.lit(0))
        n_writers = max(1, -(-sum(counts.values()) // cap))
        df = df.repartition(
            n_writers, F.col("cell"), F.col("_salt"), *[F.col(k) for k in keys]
        ).drop("_salt")
    else:
        n_writers = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        df = df.repartition(n_writers, F.col("cell"), *[F.col(k) for k in keys])
    (
        df.sortWithinPartitions(*keys, "cell", "quadkey")
        .write.mode("append")
        .partitionBy(*keys, "cell")
        .option("compression", "snappy")
        .parquet(data_dir)
    )


def _routing_plan(
    spark: SparkSession, m: dict, df: DataFrame, keys: list[str] | None = None
):
    """(existing-cells df, routing plan df) for a batch of rows: existing
    (key values, leaf) partitions plus a new z12 leaf for every batch
    (key values, quadkey) outside all of them (z12 cells are never proper
    prefixes of leaves, so the plan stays prefix-disjoint per key group and
    every row matches exactly one entry). A never-seen key value opens its
    own z12 leaves. Shared by :func:`append_rows` and :func:`upsert_rows`."""
    from ..operators.partition import tag_cells

    keys = keys or []
    cells_df = _cells_df(spark, m["partitions"], keys)
    batch12 = df.select(
        *keys, F.substring("quadkey", 1, 12).alias("quadkey")
    ).distinct()
    covered = tag_cells(batch12, cells_df, keys).select(*keys, "quadkey")
    new_cells = batch12.join(covered, [*keys, "quadkey"], "left_anti").select(
        *keys, F.col("quadkey").alias("cell")
    )
    return cells_df, cells_df.unionByName(new_cells)


def _scan(
    spark: SparkSession, root: str, m: dict, parts: list[dict]
) -> DataFrame:
    """Scan of exactly the given partitions' files of snapshot ``m``,
    planned with that snapshot's schema (schema evolution: files written
    before a column was added null-fill it; later columns don't leak in).
    Keyed tables recover their key columns from the directory names via
    ``basePath`` + an explicit string schema — inference would coerce
    '0300' to the integer 300. ``cell`` is NOT exposed (re-derive with
    ``tag_cells`` where needed). No partitions gives an empty DataFrame
    that keeps the table's schema."""
    from pyspark.sql.types import StringType, StructField, StructType

    files = [os.path.join(root, f) for p in parts for f in p["files"]]
    empty = not files
    if empty:
        files = [os.path.join(root, f) for p in m["partitions"] for f in p["files"]]
    keys = _manifest_keys(m)
    reader = spark.read
    if keys:
        if not m.get("schema"):
            raise ValueError(
                f"keyed table at {root} has no stored schema; rewrite it"
            )
        fields = [f for f in _schema_struct(m).fields if f.name not in keys] + [
            StructField(k, StringType(), True) for k in [*keys, "cell"]
        ]
        reader = reader.schema(StructType(fields)).option(
            "basePath", os.path.join(root, "data")
        )
    elif m.get("schema"):
        reader = reader.schema(_schema_struct(m))
    out = reader.parquet(*files)
    if keys:
        out = out.drop("cell")
    return out.limit(0) if empty else out


def upsert_rows(
    df: DataFrame,
    root: str,
    key: str = "doc_id",
    max_per_file: int | None = None,
) -> dict:
    """MERGE by key: rows of ``df`` REPLACE existing rows with the same
    ``key`` and new keys insert — Iceberg-style copy-on-write at cell
    granularity, in one new snapshot; older snapshots keep reading their
    original files (reclaim superseded ones with :func:`expire_snapshots`).

    Cells split two ways: REWRITE cells hold an old version of an upserted
    key (their survivors are re-read via a manifest-pruned scan of just
    those cells, anti-joined on the key set, and rewritten together with
    the new rows as NEW files); APPEND-ONLY cells merely receive brand-new
    keys and keep their existing files, gaining the new ones — no
    copy-on-write amplification for pure inserts.

    Keyed (hive) tables merge the same way: (partition key values, cell)
    addresses the directory, and a row whose key value CHANGES (a doc
    moving country) is found in its old partition, deleted there, and
    written under its new one — the full scan that locates old versions is
    key-agnostic.

    Guards (a MERGE must never corrupt the key invariant silently): the
    batch may not contain duplicate keys, and every batch row must route to
    a cell (a NULL/empty quadkey would otherwise delete the old version
    while the replacement vanishes).

    Scale shape: the upsert batch is small relative to the table, so its
    key set broadcasts; finding old versions is one manifest-planned scan
    with a broadcast semi-join (at 10^12 rows the dominant cost, bounded by
    a quadkey-prefix prune when the caller knows the affected geography);
    the rewrite scan reads only the rewrite cells' files.
    """
    from ..operators.partition import tag_cells

    m = _head(root)
    part_keys = _manifest_keys(m)
    _check_batch(m, df, part_keys, "upsert")
    cap = _cap(m, max_per_file)
    spark = df.sparkSession

    cells_df, plan = _routing_plan(spark, m, df, part_keys)
    tagged = tag_cells(df, plan, part_keys).persist()
    try:
        n_batch = df.count()
        n_dup_keys = (
            df.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
        )
        if n_dup_keys:
            raise ValueError(
                f"upsert batch contains duplicate {key} values; a MERGE "
                "source must be key-unique"
            )
        new_counts = _cell_counts(tagged, part_keys)
        if sum(new_counts.values()) != n_batch:
            raise ValueError(
                f"{n_batch - sum(new_counts.values())} upsert rows have a "
                "NULL or un-routable quadkey or partition key; refusing "
                "(the old versions would be deleted with no replacement "
                "written)"
            )
        keys_df = df.select(key).distinct()
        # old versions can live under ANY partition (a row may change its
        # partition key value — e.g. a doc moving country), so the rewrite
        # set comes from a full manifest-planned scan with a broadcast
        # semi-join on the merge key
        old_all = tag_cells(_scan(spark, root, m, m["partitions"]), cells_df, part_keys)
        rewrite = {
            _row_key(r, part_keys)
            for r in old_all.join(F.broadcast(keys_df), key, "left_semi")
            .select(*part_keys, "cell")
            .distinct()
            .collect()
        }
        affected = sorted(rewrite | set(new_counts))
        if not affected:
            return m
        if rewrite:
            rw_parts = [
                p for p in m["partitions"] if _part_key(p, part_keys) in rewrite
            ]
            survivors = tag_cells(
                _scan(spark, root, m, rw_parts), cells_df, part_keys
            ).join(F.broadcast(keys_df), key, "left_anti")
            merged = survivors.unionByName(tagged.select(*survivors.columns))
        else:
            merged = tagged
        merged = merged.persist()
        try:
            counts = _cell_counts(merged, part_keys)
            by_ck = {_part_key(p, part_keys): p for p in m["partitions"]}
            changes, new_paths = _write_cells(
                spark,
                root,
                part_keys,
                {ck: counts.get(ck, 0) for ck in affected},
                lambda: _write_cells_salted(
                    merged, counts, cap, os.path.join(root, "data"), part_keys
                ),
                extend={
                    ck: by_ck[ck]
                    for ck in new_counts
                    if ck in by_ck and ck not in rewrite
                },
            )
        finally:
            merged.unpersist()
    finally:
        tagged.unpersist()
    # replacement geometry can raise the corpus anchor offset
    bump = _offset_bump(spark, m, new_paths)
    n_new = sum(new_counts.values())
    return _commit(
        root,
        m,
        "upsert",
        changes,
        lambda mm: bump(
            {
                **mm,
                "upserted_batches": mm.get("upserted_batches", 0) + 1,
                "rows_upserted": mm.get("rows_upserted", 0) + n_new,
            }
        ),
    )


def update_rows(
    spark: SparkSession,
    root: str,
    assignments: dict,
    predicate=None,
    key: str = "doc_id",
    max_per_file: int | None = None,
) -> dict:
    """``UPDATE table SET col = expr [WHERE pred]`` — the reference's
    in-place column compute (P9, overture/add_columns.py:40-47
    ``UPDATE buildings SET quadkey = …``) as a copy-on-write snapshot.

    Implemented as a MERGE of the updated rows (:func:`upsert_rows`):
    an assignment may change ``quadkey`` (the reference's own use case),
    which MOVES the row to a different leaf cell — the merge path already
    routes rows, rewrites the cells that lose them, and keeps older
    snapshots time-traveling. ``assignments`` maps column name -> SQL
    expression string (or Column); ``predicate`` (SQL string or Column,
    None = all rows) selects the rows to update. The table needs a unique
    ``key`` column. Returns the new manifest (or the current one when
    nothing matches)."""
    m = _head(root)
    if key.lower() in {c.lower() for c in assignments}:
        # rewriting the merge key would make the MERGE see only the NEW
        # values: old rows never match, survive untouched, and the updated
        # rows insert as duplicates — refuse (case-insensitively: Spark's
        # default resolver would bind 'DOC_ID' to doc_id)
        raise ValueError(
            f"UPDATE may not assign the merge key column {key!r} "
            "(old rows could not be matched for replacement)"
        )
    cur = read_table(spark, root)
    if predicate is not None:
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cur = cur.filter(F.coalesce(pred, F.lit(False)))
    for cname, e in assignments.items():
        cur = cur.withColumn(cname, F.expr(e) if isinstance(e, str) else e)
    if not cur.limit(1).count():
        return m
    return upsert_rows(cur, root, key=key, max_per_file=max_per_file)


def delete_rows(
    spark: SparkSession,
    root: str,
    predicate,
    max_per_file: int | None = None,
) -> dict:
    """``DELETE FROM table WHERE predicate`` — the reference's in-place
    row delete (google/process.py:149 ``DELETE FROM buildings WHERE
    confidence < …``) as an Iceberg-style copy-on-write operation: cells
    holding matching rows are rewritten WITHOUT them as new files and a new
    snapshot swaps in; every older snapshot still time-travels to the
    pre-delete state (reclaim superseded files with
    :func:`expire_snapshots`). The takedown / contamination-purge
    primitive a 10^12-doc corpus needs.

    ``predicate``: SQL string or Column; rows where it is TRUE are removed
    (NULL keeps the row — SQL DELETE semantics). Works on keyed tables.

    Scale shape: finding affected partitions is one manifest-planned scan
    with the predicate pushed into it (at planet scale the dominant,
    bounded cost); the rewrite then re-reads ONLY the affected partitions'
    files. Partitions left empty drop out of the manifest.
    """
    from ..operators.partition import tag_cells

    m = _head(root)
    keys = _manifest_keys(m)
    cap = _cap(m, max_per_file)
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))

    cells_df = _cells_df(spark, m["partitions"], keys)
    full = tag_cells(_scan(spark, root, m, m["partitions"]), cells_df, keys)
    affected = {
        _row_key(r, keys)
        for r in full.filter(hit).select(*keys, "cell").distinct().collect()
    }
    if not affected:
        return m
    aff_parts = [p for p in m["partitions"] if _part_key(p, keys) in affected]
    survivors = tag_cells(
        _scan(spark, root, m, aff_parts), cells_df, keys
    ).filter(~hit)
    survivors = survivors.persist()
    try:
        counts = _cell_counts(survivors, keys)
        changes, _ = _write_cells(
            spark,
            root,
            keys,
            {ck: counts.get(ck, 0) for ck in sorted(affected)},
            lambda: _write_cells_salted(
                survivors, counts, cap, os.path.join(root, "data"), keys
            )
            if counts
            else None,
        )
    finally:
        survivors.unpersist()
    n_deleted = sum(p["n_rows"] for p in aff_parts) - sum(counts.values())
    # the stored kNN bound (max_anchor_offset_m) stays: deletion can only
    # shrink the true offset, so it remains a valid upper bound
    return _commit(
        root,
        m,
        "delete",
        changes,
        lambda mm: {
            **mm,
            "rows_deleted": mm.get("rows_deleted", 0) + n_deleted,
            "deleted_batches": mm.get("deleted_batches", 0) + 1,
        },
    )


def manifest_at(root: str, snapshot_id: int) -> dict | None:
    """Load a specific snapshot's manifest (time travel)."""
    path = _manifest_path(root, snapshot_id)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_table(
    spark: SparkSession,
    root: str,
    quadkey_prefix=None,
    snapshot_id: int | None = None,
    **key_filters: str,
) -> DataFrame:
    """Manifest-planned scan with partition pruning.

    ``quadkey_prefix``: keep partitions whose cell overlaps the prefix
    (cell startswith prefix OR prefix startswith cell); a LIST of
    prefixes keeps partitions overlapping ANY of them (a window's cell
    cover — e.g. table/s2table.py window_read — prunes in one plan pass
    instead of one read per cover cell). Key equality filters prune on
    manifest partition values. Returns an empty DataFrame with no files
    when everything prunes away.

    ``snapshot_id``: time travel — plan from that snapshot's manifest
    instead of the current one. Snapshots are fully immutable: every write
    path (commit-group appends, resumed recomputes, compactions, schema
    changes) only ADDS files and commits a new manifest, so any retained
    snapshot reads exactly the bytes it committed (reclaim superseded
    files with :func:`expire_snapshots`).

    Reads plan with the SNAPSHOT's schema (schema evolution): files
    written before a column was added are null-filled for it by the
    parquet reader, and columns added after the snapshot don't leak in.
    """
    m = _head(root, snapshot_id)
    prefixes = (
        [quadkey_prefix]
        if isinstance(quadkey_prefix, str)
        else list(quadkey_prefix or [])
    )
    parts = [
        p
        for p in m["partitions"]
        if (
            not prefixes
            or any(p["cell"].startswith(q) or q.startswith(p["cell"]) for q in prefixes)
        )
        and all(p["values"].get(k) == v for k, v in key_filters.items())
    ]
    return _scan(spark, root, m, parts)


def _schema_struct(manifest: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson({"type": "struct", "fields": manifest["schema"]})


def add_column(root: str, name: str, dtype: str) -> dict:
    """Schema evolution: ADD COLUMN as a metadata-only snapshot (reference:
    ``ALTER TABLE ... ADD COLUMN``, overture/add_columns.py:37,55). No data
    file is touched — the new snapshot carries the widened schema and the
    same file list; readers null-fill the column for pre-existing files.
    Older snapshots keep their own schema (time travel shows the table as
    it was). Backfill happens naturally as cells are rewritten (compaction)
    or via a new table build; there is no in-place UPDATE by design.
    Touches no cell, so it never conflicts with a concurrent data commit."""
    m = _head(root)
    if "schema" not in m:
        raise ValueError(
            f"table at {root} predates schema tracking; rewrite it first"
        )
    from pyspark.sql.types import StructField, _parse_datatype_string

    field = StructField(name, _parse_datatype_string(dtype), True).jsonValue()

    def widen(schema: list) -> list:
        if any(f["name"] == name for f in schema):
            raise ValueError(f"column {name!r} already exists")
        return schema + [field]

    return _commit(root, m, "add_column", {}, lambda mm: mm, schema=widen)


def read_table_cells(
    spark: SparkSession, root: str, cells: list[str]
) -> DataFrame:
    """Manifest-planned scan pruned to partitions overlapping ANY of the
    given z-cells (cell list from e.g. a kNN ring). A partition matches iff
    its leaf cell is a prefix of a requested cell or vice versa; matching is
    a set lookup over all prefixes of the requested cells, so planning is
    O(#cells x 12 + #partitions) — never a scan."""
    m = _head(root)
    want = {c[:k] for c in cells for k in range(1, len(c) + 1)}
    want.add("")
    cellset = set(cells)
    # leaf above or at a requested cell, or leaf below one (deeper leaf
    # whose prefix is a requested cell)
    parts = [
        p
        for p in m["partitions"]
        if p["cell"] in want
        or any(p["cell"][:k] in cellset for k in range(1, len(p["cell"]) + 1))
    ]
    return _scan(spark, root, m, parts)


def metrics(root: str) -> dict:
    """Per-partition lineage + row-count metrics from the current snapshot."""
    m = current_manifest(root)
    if m is None:
        return {}
    keys = _manifest_keys(m)
    return {
        "snapshot_id": m["snapshot_id"],
        "n_partitions": len(m["partitions"]),
        "rows_written": m["metrics"]["rows_written"],
        "recomputed_cells": m["metrics"]["recomputed_cells"],
        "partitions": {
            _cell_name(_part_key(p, keys), keys): p["n_rows"]
            for p in m["partitions"]
        },
    }


def compact_cells(
    spark: SparkSession,
    root: str,
    max_files: int = 1,
    max_rows_per_file: int | None = None,
) -> dict:
    """Small-file compaction: rewrite fragmented cells into quadkey-sorted
    files, committed as a NEW snapshot referencing NEW files (old files are
    untouched, so prior snapshots keep reading their own view — Iceberg
    rewrite semantics; reclaim space later with :func:`expire_snapshots`).

    Output files respect the table's north_rule row cap: by default the
    writer's ``max_per_file`` (stored in the manifest) re-shards compaction
    output at that many rows per file, so an over-dense salted cell is
    NEVER collapsed back into one oversized file/task — a cell whose file
    count already equals its required shard count is skipped entirely.
    ``max_rows_per_file`` overrides the cap (None + no stored cap = one
    file per cell).

    Scale shape: candidate cells compact in parallel (repartition on
    (keys, cell), one pyarrow writer per task walking its partitions in
    clustered order); the driver only swaps manifest entries. Streaming
    ingests that append many micro-batch files per cell are the intended
    caller. Keyed tables compact the same way — key columns are recovered
    from the hive directory names and written back as directories, never
    as data columns. A compaction racing an append to the same cell
    commits only if it wins; otherwise it raises
    :class:`CommitConflictError` and leaves the append's files in place.

    Selection is per FILE where the manifest records ``file_rows``: a cell
    whose file count looks right but holds one skewed over-cap file (e.g.
    999+1 rows at cap 500) is still selected and re-sharded.
    """
    import pyarrow as pa
    from pyspark import TaskContext

    m = _head(root)
    keys = _manifest_keys(m)
    cap = _cap(m, max_rows_per_file)

    def needed(p) -> int:
        return 1 if not cap else -(-p["n_rows"] // cap)

    def overcap_file(p) -> bool:
        fr = p.get("file_rows")
        return bool(cap) and fr is not None and any(x > cap for x in fr)

    todo = [
        p
        for p in m["partitions"]
        if len(p["files"]) > max(max_files, needed(p))
        # under-sharded: fewer files than the cap requires means the cell's
        # average file exceeds the row cap — select it so the cap-rolling
        # writer below re-shards the oversized file(s)
        or (cap and len(p["files"]) < needed(p))
        # skewed: an individual file over the cap even though the per-cell
        # aggregate looks fine (known exactly from the stored file_rows)
        or overcap_file(p)
    ]
    if not todo:
        return m
    # job-unique output names: a concurrent compaction (any process) can
    # never overwrite this one's files
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(root, "data")

    from ..operators.partition import tag_cells

    tagged = (
        tag_cells(_scan(spark, root, m, todo), _cells_df(spark, todo, keys), keys)
        .repartition(max(len(todo), 1), *keys, "cell")
        .sortWithinPartitions(*keys, "cell", "quadkey")
    )

    def write_part(batches):
        import pyarrow.parquet as pq

        tc = TaskContext.get()
        out_rows = []
        writer = None
        cur = None  # (key values..., cell) of the open group
        fname = None  # output path relative to data_dir
        n = 0
        seq = 0

        def close():
            nonlocal writer, n, fname
            if writer is not None:
                writer.close()
                final = os.path.join(data_dir, fname)
                os.replace(
                    os.path.join(
                        os.path.dirname(final),
                        "." + os.path.basename(final) + ".inprogress",
                    ),
                    final,
                )
                out_rows.append((cur, fname, n))
                writer, n, fname = None, 0, None

        def open_file(schema):
            nonlocal writer, fname, seq
            seq += 1
            pdir = _part_dir(data_dir, keys, dict(zip(keys, cur)), cur[-1])
            os.makedirs(pdir, exist_ok=True)
            base = (
                f"compact-{token}-{cur[-1] or 'root'}-"
                f"{tc.partitionId()}-{tc.taskAttemptId()}-{seq}.parquet"
            )
            fname = os.path.relpath(os.path.join(pdir, base), data_dir)
            writer = pq.ParquetWriter(
                os.path.join(pdir, "." + base + ".inprogress"),
                schema,
                compression="snappy",
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            gidx = [names.index(k) for k in keys] + [names.index("cell")]
            gset = set(gidx)
            groups = list(zip(*[rb.column(j).to_pylist() for j in gidx]))
            start = 0
            for i in range(len(groups) + 1):
                if i < len(groups) and groups[i] == groups[start]:
                    continue
                piece = rb.slice(start, i - start)
                if cur != groups[start]:
                    close()
                    cur = groups[start]
                arrays = [
                    piece.column(j)
                    for j in range(piece.num_columns)
                    if j not in gset
                ]
                out = pa.record_batch(
                    arrays,
                    names=[nm for j, nm in enumerate(names) if j not in gset],
                )
                # roll files at the row cap (north_rule: no oversized
                # output file, even when one task compacts a dense cell)
                off = 0
                while off < out.num_rows:
                    if writer is None:
                        open_file(out.schema)
                    take = (
                        out.num_rows - off
                        if not cap
                        else min(cap - n, out.num_rows - off)
                    )
                    writer.write_batch(out.slice(off, take))
                    n += take
                    off += take
                    if cap and n >= cap:
                        close()
                start = i
        close()
        for grp, f, cnt in out_rows:
            yield pa.record_batch(
                [pa.array([v]) for v in grp]
                + [pa.array([f]), pa.array([cnt], type=pa.int64())],
                names=[*keys, "cell", "file", "n_rows"],
            )

    results = tagged.mapInArrow(
        write_part, _plan_schema(keys, ", file string, n_rows long")
    ).collect()
    new_files: dict[tuple, list] = {}
    for r in results:
        new_files.setdefault(_row_key(r, keys), []).append(
            (os.path.join("data", r["file"]), r["n_rows"])
        )
    # sanity: compaction must preserve row counts per partition
    for p in todo:
        ck = _part_key(p, keys)
        got = sum(n for _, n in new_files.get(ck, []))
        assert got == p["n_rows"], (ck, got, p["n_rows"])
    by_ck = {_part_key(p, keys): p for p in todo}
    changes = {
        ck: {
            **by_ck[ck],
            "files": [f for f, _ in sorted(pairs)],
            "file_rows": [n for _, n in sorted(pairs)],
        }
        for ck, pairs in new_files.items()
    }
    return _commit(
        root, m, "compact", changes, lambda mm: {**mm, "compacted_cells": len(todo)}
    )


def expire_snapshots(root: str, keep_last: int = 1) -> int:
    """Delete manifests older than the newest ``keep_last`` snapshots and
    any data file no kept snapshot references. Returns files deleted.
    Never run this beside an in-flight writer: the files it is writing are
    not referenced by any snapshot yet."""
    m = current_manifest(root)
    if m is None:
        return 0
    # the VERSION hint may trail the head; never leave it naming a
    # manifest this call deletes
    _set_version(root, m["snapshot_id"])
    keep_ids = [m["snapshot_id"] - i for i in range(keep_last)]
    kept = [manifest_at(root, i) for i in keep_ids]
    live = {
        os.path.normpath(os.path.join(root, f))
        for km in kept
        if km
        for p in km["partitions"]
        for f in p["files"]
    }
    deleted = 0
    for f in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True):
        if os.path.normpath(f) not in live:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
            deleted += 1
    for mf in glob.glob(os.path.join(_meta_dir(root), "v*.json")):
        sid = int(os.path.basename(mf)[1:-5])
        if sid not in keep_ids:
            os.remove(mf)
    return deleted


def drop_table(root: str) -> None:
    if os.path.exists(root):
        shutil.rmtree(root)
