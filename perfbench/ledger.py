"""Spans, Spark's own work records, and process CPU and memory.

A span wraps one public call into the engine.  With tracing on, each span
runs under its own Spark job group; after the timed window the ledger
reads what Spark recorded for those jobs from its status stores (they are
kept with the UI disabled): per-stage run, CPU, GC, shuffle and input
numbers, and the SQL plan metrics of each execution, which include the
Python worker time and bytes of every ``ArrowEvalPython`` node.  The
records are serialised to JSON inside the JVM, so reading them costs a
handful of gateway calls however many jobs ran.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# quantities summed per span, in the order they are written out
SPAN_QUANTITIES = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "py_run_s",
    "py_bytes_out",
    "py_bytes_in",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "scan_rows",
)

_SCALE = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Total of one SQL metric as Spark formats it: ``'200,000'``,
    ``'7 ms'``, or ``'total (min, med, max ...)\\n1565.3 KiB (...)'``.
    Sizes come back in bytes and times in seconds."""
    line = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    return value * _SCALE[parts[1]] if len(parts) > 1 else value


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans; with ``enabled`` it also tags each span's Spark jobs
    with a job group so :meth:`ledger` can attribute Spark's records."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._mapper = None

    @contextmanager
    def span(self, name: str, op: int):
        gid = f"perfbench:{len(self.spans)}:{name}"
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(gid, gid, False)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"name": name, "op": op, "group": gid, "start": start, "end": end}
            )

    def _json(self, obj):
        if self._mapper is None:
            jvm = self.spark.sparkContext._jvm
            jackson = jvm.com.fasterxml.jackson
            self._mapper = jackson.databind.ObjectMapper()
            scala = getattr(jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(getattr(scala, "MODULE$"))
            self._mapper.configure(
                jackson.databind.SerializationFeature.FAIL_ON_EMPTY_BEANS, False
            )
        return json.loads(self._mapper.writeValueAsString(obj))

    def ledger(self) -> list[dict]:
        """One record per span: :data:`SPAN_QUANTITIES` plus ``nodes``,
        the summed SQL metrics by ``"<node>/<metric>"`` name."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = self._json(store.jobsList(None))
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        stages: dict[int, list[dict]] = {}
        for s in self._json(store.stageList(None, False, False, empty, None)):
            stages.setdefault(s["stageId"], []).append(s)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        execs_of: dict[str, list[int]] = {}
        for e in self._json(sql.executionsList()):
            groups = {group_of_job.get(int(j)) for j in (e.get("jobs") or {})}
            for g in groups - {None}:
                execs_of.setdefault(g, []).append(e["executionId"])

        out = []
        for sp in self.spans:
            rec = dict.fromkeys(SPAN_QUANTITIES, 0.0)
            rec.update(name=sp["name"], op=sp["op"], nodes={})
            rec["wall_s"] = sp["end"] - sp["start"]
            mine = [j for j in jobs if j.get("jobGroup") == sp["group"]]
            spans_jobs = []
            seen_stages = set()
            for j in mine:
                t0 = j["submissionTime"] / 1000.0
                t1 = (j.get("completionTime") or sp["end"] * 1000.0) / 1000.0
                spans_jobs.append((max(t0, sp["start"]), min(t1, sp["end"])))
                for sid in j["stageIds"]:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    for s in stages.get(sid, []):
                        if s["status"] == "SKIPPED":
                            continue
                        rec["tasks"] += s["numTasks"]
                        rec["exec_run_s"] += s["executorRunTime"] / 1e3
                        rec["exec_cpu_s"] += s["executorCpuTime"] / 1e9
                        rec["gc_s"] += s["jvmGcTime"] / 1e3
                        rec["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                        rec["shuffle_read_bytes"] += s["shuffleReadBytes"]
                        rec["scan_rows"] += s["inputRecords"]
            rec["jobs"] = float(len(mine))
            rec["driver_s"] = max(0.0, rec["wall_s"] - _union_s(spans_jobs))
            for eid in execs_of.get(sp["group"], []):
                self._add_nodes(sql, eid, rec["nodes"])
            nodes = rec["nodes"]
            rec["py_run_s"] = _sum_suffix(nodes, "/time to run Python workers")
            rec["py_bytes_out"] = _sum_suffix(nodes, "/data sent to Python workers")
            rec["py_bytes_in"] = _sum_suffix(nodes, "/data returned from Python workers")
            out.append(rec)
        return out

    def _add_nodes(self, sql, eid: int, acc: dict) -> None:
        values = self._json(sql.executionMetrics(eid))
        if isinstance(values, list):  # a Scala map may serialise as pairs
            values = dict(values)
        for node in self._json(sql.planGraph(eid).allNodes()):
            for m in node.get("metrics", []):
                if m["metricType"] == "average":
                    continue
                v = values.get(str(m["accumulatorId"]))
                if v is None:
                    continue
                key = f"{node['name']}/{m['name']}"
                acc[key] = acc.get(key, 0.0) + metric_value(v)


def _sum_suffix(nodes: dict, suffix: str) -> float:
    return sum(v for k, v in nodes.items() if k.endswith(suffix))


# ---------------------------------------------------------------------------
# process tree CPU and driver memory, from /proc
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including children they have already reaped (so Python workers that
    exit are still counted)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    me = root or os.getpid()
    return [p for p in _descendants(me) if p != me]


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time by state (``/proc/stat`` ``cpu``
    line: user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two :func:`cpu_ticks` samples
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 and len(d) > 7 else 0.0


def reset_peak_rss() -> None:
    """Restart this process's peak resident set (VmHWM) from its current
    resident set, so a peak can be taken over one interval."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
