"""Concurrent writers on one iceberg_lite table: every snapshot goes through
one optimistic commit, so racing writers either both land (disjoint cells,
metadata-only changes) or the loser raises CommitConflictError naming the
cells — an acknowledged commit is never lost."""

import json
import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from open_buildings_spark.table import iceberg_lite as tbl

CELL_A = "300110130330"
CELL_B = "300110130331"


def _rows(spark, prefix: str, quadkey: str, n: int):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("doc_id"),
        F.lit(quadkey).alias("quadkey"),
    )


def _ids(spark, root) -> set:
    return {r["doc_id"] for r in tbl.read_table(spark, root).select("doc_id").collect()}


def _run_threads(targets) -> list:
    """Run each callable in its own thread; returns (value, exception)."""
    out = [None] * len(targets)

    def run(i, fn):
        try:
            out[i] = (fn(), None)
        except BaseException as ex:  # surfaced to the test
            out[i] = (None, ex)

    ts = [threading.Thread(target=run, args=(i, fn)) for i, fn in enumerate(targets)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
        assert not t.is_alive()
    return out


def _assert_contiguous(root) -> int:
    ids = sorted(
        int(f[1:-5]) for f in os.listdir(os.path.join(root, "metadata"))
        if f.startswith("v") and f.endswith(".json")
    )
    assert ids == list(range(1, len(ids) + 1))
    for sid in ids:
        assert tbl.manifest_at(root, sid)["parent_id"] == sid - 1
    return ids[-1]


def test_add_column_race_loses_no_commit(spark, tmp_path):
    """More writers than cores, 100 ADD COLUMNs each, plus a reader on one
    table: every returned call's column is in the head schema, snapshot ids
    are contiguous, and nobody raises anything but a commit conflict."""
    root = str(tmp_path / "t")
    tbl.write_partitioned(_rows(spark, "d", CELL_A, 10), root, max_per_file=100)
    n_writers = (os.cpu_count() or 1) + 1
    done = threading.Event()
    added: list[str] = []
    errors: list[BaseException] = []

    def writer(t):
        for i in range(100):
            name = f"c{t}_{i}"
            try:
                tbl.add_column(root, name, "int")
                added.append(name)
            except tbl.CommitConflictError:
                pass
            except BaseException as ex:
                errors.append(ex)

    def reader():
        seen = 0
        while not done.is_set():
            try:
                sid = tbl.current_manifest(root)["snapshot_id"]
                assert sid >= seen
                seen = sid
            except BaseException as ex:
                errors.append(ex)

    rd = threading.Thread(target=reader)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-3)  # interleave the threads more finely
    try:
        rd.start()
        _run_threads([lambda t=t: writer(t) for t in range(n_writers)])
    finally:
        done.set()
        sys.setswitchinterval(switch)
    rd.join(timeout=60)
    assert not rd.is_alive()
    assert not errors, errors[:3]
    head = tbl.current_manifest(root)
    names = {f["name"] for f in head["schema"]}
    assert set(added) <= names
    # add_column touches no cell, so a losing writer always re-applies
    assert len(added) == 100 * n_writers
    assert _assert_contiguous(root) == head["snapshot_id"] == 1 + len(added)
    assert head["operation"] == "add_column"
    assert not [f for f in os.listdir(os.path.join(root, "metadata")) if f.endswith(".tmp")]


@pytest.fixture()
def fragmented(spark, tmp_path):
    """Two leaf cells; B holds three files so compaction rewrites it."""
    root = str(tmp_path / "t")
    base = _rows(spark, "a", CELL_A, 300).unionByName(_rows(spark, "b", CELL_B, 300))
    tbl.write_partitioned(base, root, max_per_file=400)
    for k in range(2):
        tbl.append_rows(_rows(spark, f"b{k}_", CELL_B, 10), root)
    m = tbl.current_manifest(root)
    files = {p["cell"]: len(p["files"]) for p in m["partitions"]}
    assert files == {CELL_A: 1, CELL_B: 3}
    return root


def _race(spark, monkeypatch, root, append_cell):
    """append_rows into ``append_cell`` against compact_cells, both
    released into _commit together from the same base snapshot."""
    gate = threading.Barrier(2, timeout=300)
    real = tbl._commit

    def gated(*a, **k):
        gate.wait()
        return real(*a, **k)

    monkeypatch.setattr(tbl, "_commit", gated)
    batch = _rows(spark, "new", append_cell, 20)
    base = tbl.current_manifest(root)
    (app, app_err), (comp, comp_err) = _run_threads(
        [
            lambda: tbl.append_rows(batch, root),
            lambda: tbl.compact_cells(spark, root, max_files=1),
        ]
    )
    return base, {r["doc_id"] for r in batch.collect()}, (app, app_err), (comp, comp_err)


def test_append_and_compact_race_on_disjoint_cells(spark, fragmented, monkeypatch):
    root = fragmented
    before = _ids(spark, root)
    base, new, (app, app_err), (comp, comp_err) = _race(spark, monkeypatch, root, CELL_A)
    assert app_err is None and comp_err is None
    head = tbl.current_manifest(root)
    assert head["snapshot_id"] == base["snapshot_id"] + 2
    assert {app["snapshot_id"], comp["snapshot_id"]} == {
        base["snapshot_id"] + 1, base["snapshot_id"] + 2
    }
    assert _ids(spark, root) == before | new
    assert sum(p["n_rows"] for p in head["partitions"]) == len(before) + len(new)
    files = {p["cell"]: p["files"] for p in head["partitions"]}
    assert len(files[CELL_B]) == 1 and "compact-" in files[CELL_B][0]
    assert len(files[CELL_A]) == 2
    assert head["metrics"]["compacted_cells"] == 1
    assert head["metrics"]["appended_batches"] == 3
    _assert_contiguous(root)


def test_append_and_compact_race_on_same_cell(spark, fragmented, monkeypatch):
    root = fragmented
    before = _ids(spark, root)
    base, new, (app, app_err), (comp, comp_err) = _race(spark, monkeypatch, root, CELL_B)
    assert (app_err is None) != (comp_err is None)  # exactly one lands
    err = app_err or comp_err
    assert isinstance(err, tbl.CommitConflictError), err
    assert CELL_B in str(err)
    head = tbl.current_manifest(root)
    assert head["snapshot_id"] == base["snapshot_id"] + 1
    winner = app or comp
    assert head == json.loads(json.dumps(winner))
    assert _ids(spark, root) == (before | new if app else before)
    assert head["operation"] == ("append" if app else "compact")
    _assert_contiguous(root)


def test_stale_version_pointer_never_hides_a_commit(spark, tmp_path):
    """VERSION is a hint: a crash between publishing v{N+1}.json and the
    pointer swap (or swaps landing out of order) leaves it trailing."""
    root = str(tmp_path / "t")
    tbl.write_partitioned(_rows(spark, "d", CELL_A, 10), root, max_per_file=100)
    tbl.add_column(root, "x", "int")
    vf = os.path.join(root, "metadata", "VERSION")
    with open(vf, "w") as f:
        f.write("v1.json")
    assert tbl.current_manifest(root)["snapshot_id"] == 2
    os.remove(vf)
    assert tbl.current_manifest(root)["snapshot_id"] == 2
    m3 = tbl.add_column(root, "y", "int")
    assert m3["snapshot_id"] == 3 and m3["parent_id"] == 2
    # expiry re-points VERSION at the head before deleting old manifests
    with open(vf, "w") as f:
        f.write("v1.json")
    tbl.expire_snapshots(root, keep_last=1)
    assert open(vf).read() == "v3.json"
    assert tbl.current_manifest(root)["snapshot_id"] == 3
