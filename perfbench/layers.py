"""Traced-run instrumentation, all applied from outside the package.

* ``Tracer`` keeps spans in memory (name, start, end, parent, op id,
  DAGScheduler job/stage id deltas) and folds them into per-op layer
  self times.
* ``wrap_layers`` replaces the public layer functions on their modules
  with span-recording wrappers.  It must run before the query catalog is
  imported, because plan modules bind ``read_table`` by name at import.
* ``fold_eventlog`` sums ``SparkListenerTaskEnd`` metrics of an
  uncompressed event log per job group ``op:<workload>:<op>:<phase>``.
* ``streaming_listener`` records micro-batch progress events, which
  ``attribute`` sums per op by trigger time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

# (module, attribute, layer) — the layer functions the traced run times.
# Nested calls (write_csv -> add_utf8_bom, csv_to_parquet -> write_parquet)
# become nested spans; layer totals use self time, so nothing counts twice.
LAYER_FUNCTIONS = [
    ("dados_publicos_etl_spark.io", "read_table", "io.open"),
    ("dados_publicos_etl_spark.io", "read_csv", "io.read_csv"),
    ("dados_publicos_etl_spark.io", "write_csv", "io.write"),
    ("dados_publicos_etl_spark.io", "write_parquet", "io.write"),
    ("dados_publicos_etl_spark.io", "csv_to_parquet", "io.write"),
    ("dados_publicos_etl_spark.io", "overwrite_partitions", "io.write"),
    ("dados_publicos_etl_spark.io", "save_warehouse_table", "io.write"),
    ("dados_publicos_etl_spark.io", "add_utf8_bom", "io.bom"),
    ("dados_publicos_etl_spark.io", "compact_partitions", "io.compact"),
    ("dados_publicos_etl_spark.io", "publish_version", "io.publish"),
    ("dados_publicos_etl_spark.io", "read_current_version", "io.publish"),
    ("dados_publicos_etl_spark.io", "enforce_retention", "io.retention"),
    ("dados_publicos_etl_spark.sources.ingest", "extract_zip_member", "sources.ingest"),
    ("dados_publicos_etl_spark.sources.ingest", "land_file", "sources.ingest"),
    ("dados_publicos_etl_spark.audit", "audit_layer", "audit"),
]

PYTHON_NODE = re.compile(r"EvalPython|MapIn|InPandas|InArrow|FlatMapCoGroups|PythonUDTF")


class Tracer:
    """In-memory span recorder.  ``dag`` is the JVM DAGScheduler (or None
    in unit tests); its id counters give job/stage deltas per span."""

    def __init__(self, dag=None) -> None:
        self.dag = dag
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    def _ids(self) -> tuple[int, int]:
        if self.dag is None:
            return 0, 0
        return self.dag.nextJobId(), self.dag.nextStageId()

    @contextmanager
    def span(self, name: str):
        j0, s0 = self._ids()
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            j1, s1 = self._ids()
            rec["jobs"], rec["stages"] = j1 - j0, s1 - s0

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def op_layers(self) -> dict[str, dict[str, dict[str, float]]]:
        """{op: {layer: {"s": self seconds, "calls", "jobs", "stages"}}}.

        Self time is a span's duration minus its children's; jobs and
        stages are self counts the same way.  Per op, the self times of
        all its spans sum to the op root span's duration."""
        child = defaultdict(lambda: [0.0, 0, 0])
        for s in self.spans:
            if s["parent"] is not None:
                c = child[s["parent"]]
                c[0] += s["end"] - s["start"]
                c[1] += s["jobs"]
                c[2] += s["stages"]
        out: dict[str, dict[str, dict[str, float]]] = defaultdict(dict)
        for i, s in enumerate(self.spans):
            c = child[i]
            layer = out[s["op"]].setdefault(s["name"], {"s": 0.0, "calls": 0, "jobs": 0, "stages": 0})
            layer["s"] += (s["end"] - s["start"]) - c[0]
            layer["calls"] += 1
            layer["jobs"] += s["jobs"] - c[1]
            layer["stages"] += s["stages"] - c[2]
        return dict(out)


def wrap_layers(tracer: Tracer) -> None:
    import importlib

    for mod_name, attr, layer in LAYER_FUNCTIONS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, tracer.wrap(getattr(mod, attr), layer))
    from dados_publicos_etl_spark import pipeline

    pipeline.Pipeline.run = tracer.wrap(pipeline.Pipeline.run, "pipeline.run")


def eventlog_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in write
    order (rolling ``eventlog_v2_*/events_<n>_*`` or single files)."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.startswith("."):
            files.append(path)
    return files


_FOLD_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "python_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def fold_eventlog(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group.

    ``python_s`` is executor run time minus CPU time on stages whose
    plan has a Python node (``*EvalPython``, ``MapIn*``, ...): the JVM
    CPU clock does not see the Python worker, so the gap estimates it.
    """
    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()
    out: dict[str, dict[str, float]] = {}
    mb = 1.0 / (1024 * 1024)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
            if PYTHON_NODE.search(scopes):
                python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            acc = out.setdefault(group, dict.fromkeys(_FOLD_KEYS, 0.0))
            run_s = m["Executor Run Time"] / 1e3
            cpu_s = m["Executor CPU Time"] / 1e9
            sr = m["Shuffle Read Metrics"]
            acc["tasks"] += 1
            acc["run_s"] += run_s
            acc["cpu_s"] += cpu_s
            acc["gc_s"] += m["JVM GC Time"] / 1e3
            if ev["Stage ID"] in python_stages:
                acc["python_s"] += max(0.0, run_s - cpu_s)
            acc["input_mb"] += m["Input Metrics"]["Bytes Read"] * mb
            acc["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) * mb
            acc["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] * mb
            acc["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) * mb
    return out


def fold_eventlog_dir(log_dir: str) -> dict[str, dict[str, float]]:
    def lines():
        for path in eventlog_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return fold_eventlog(lines())


def streaming_listener(events: list):
    """A ``StreamingQueryListener`` appending one record per micro-batch
    progress event to ``events``.  Events reach the listener
    asynchronously, often after the op that ran the batch has returned,
    so each record keeps the batch's trigger time for ``attribute``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamingProgress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            events.append({
                "ts": datetime.fromisoformat(p.timestamp).timestamp(),
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "wal_commit_s": d.get("walCommit", 0) / 1e3,
                "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamingProgress()


def attribute(events: list[dict], intervals: dict[str, tuple[float, float]]) -> dict:
    """Sum progress ``events`` per op: an event belongs to the op whose
    wall-clock ``(start, end)`` interval holds its trigger time."""
    out: dict[str, dict[str, float]] = {}
    for ev in events:
        op = next((op for op, (t0, t1) in intervals.items() if t0 <= ev["ts"] <= t1),
                  "unattributed")
        acc = out.setdefault(op, {"batches": 0, "trigger_s": 0.0,
                                  "state_commit_s": 0.0, "wal_commit_s": 0.0})
        acc["batches"] += 1
        for k in ("trigger_s", "state_commit_s", "wal_commit_s"):
            acc[k] += ev[k]
    return out
