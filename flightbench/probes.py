"""Counters read from outside the engine, and the span recorder.

Nothing here changes the program under test: Spark counters come from
`SparkContext.statusTracker()` and the application status store, sink
counters from walking the table directory and its `_manifest.json`, and
memory from `/proc` and `getrusage`.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager


# ------------------------------------------------------------- spans
class Tracer:
    """Spans kept in memory: name, start, end, parent and op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def ms(self, name: str, op: int) -> float:
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["op"] == op and s["end"] is not None
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# ------------------------------------------------------ spark counters
class SparkCounters:
    """Per job group: jobs, stages and tasks from the status tracker;
    bytes, records and spill from the status store's stage list."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def collect(self, name: str) -> dict:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(name)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "input_bytes": 0, "input_records": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_ms": 0}
        store = self.sc._jsc.sc().statusStore()
        empty = self._jvm.java.util.ArrayList()
        # every argument spelled out: py4j cannot fill Scala defaults
        stages = store.stageList(empty, False, False, self.sc._gateway.new_array(self._jvm.double, 0), empty)
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids or st.numCompleteTasks() == 0:
                continue  # skipped stages (reused shuffle) ran no task
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_ms"] += st.executorRunTime()
        return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """(JVM VmHWM, this process's ru_maxrss), in MiB."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat. Steal
    is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


# ------------------------------------------------------ sink counters
def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def manifest(table_path: str) -> dict:
    with open(os.path.join(table_path, "_manifest.json")) as f:
        return json.load(f)


def version_segments(table_path: str, version: int | None = None) -> list[int]:
    m = manifest(table_path)
    v = m["current"] if version is None else version
    return next(e["segments"] for e in m["versions"] if e["id"] == v)


def version_files(table_path: str, version: int | None = None) -> list[str]:
    out = []
    for s in version_segments(table_path, version):
        d = os.path.join(table_path, f"_s{s}")
        out += sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    return out


def sink_layout(table_path: str) -> dict:
    """Current version's segments and files, and bytes on disk over bytes
    the current version needs (space amplification from retained
    versions)."""
    segs = version_segments(table_path)
    live = sum(_dir_bytes(os.path.join(table_path, f"_s{s}"))[0] for s in segs)
    total, _ = _dir_bytes(table_path)
    return {"segments_per_version": len(segs), "space_amp": total / live if live else 0.0}


def segment_written(table_path: str, version: int) -> tuple[int, int]:
    """(bytes, files) of the segment a version's commit wrote."""
    seg = max(version_segments(table_path, version))
    return _dir_bytes(os.path.join(table_path, f"_s{seg}"))
