"""In-memory spans around the benchmark's calls into the lakehouse.

A ``Tracer`` keeps spans (name, start, end, parent, run id, attributes)
in a list and writes them out when the run ends. With tracing off the
same calls cost one ``if`` each.

DataFrames are lazy, so work lands in the span of whichever action
triggers it. To attribute it, a traced run also

- wraps the public functions the daily gold job calls (``install``),
  from this file, by replacing the module attributes the package looks
  them up through;
- tags the calling thread's Spark jobs with the span id as job group;
- reads Spark's event log after the session stops and assigns each
  stage's task metrics to the span of its job group, or else to the
  innermost span on the benchmark thread its stage completed in.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, for job-group tagging

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a pool thread's first span hangs under the benchmark thread's
        # innermost span, which is what submitted the work
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        with self._lock:
            self.spans.append(rec)
        stack.append(sid)
        prev_group = self._set_group(str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(prev_group)

    def _set_group(self, group: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def wrap(self, fn, name: str, attrs=None):
        """``fn`` recorded as span ``name``; ``attrs(*args, **kw)`` adds
        attributes such as the table a call writes."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)
        return traced

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def _table_of(first_positional: int):
    def attrs(*args, **kwargs):
        t = kwargs.get("table") or kwargs.get("name")
        if t is None and len(args) > first_positional:
            t = args[first_positional]
        return {"table": t} if isinstance(t, str) else {}
    return attrs


def install(tracer: Tracer, on_upsert=None) -> list:
    """Wrap the layer entry points the gold job reaches. Returns the
    (owner, attribute, original) triples ``uninstall`` restores.

    ``on_upsert(table, before, after)`` runs around each
    ``Lakehouse.upsert`` so the caller can count rows rewritten.
    """
    from ubeardw_databricks_lakehouse_spark.maintenance import optimize, validation
    from ubeardw_databricks_lakehouse_spark.operators import scd2
    from ubeardw_databricks_lakehouse_spark.pipelines import gold
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse
    from ubeardw_databricks_lakehouse_spark.streaming import incremental_gold

    saved = []

    def patch(owner, attr, name, attrs=None, wrapper=None):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(wrapper(orig) if wrapper else orig, name, attrs))

    # scd2.apply_scd2 is looked up through pipelines.gold's namespace
    patch(gold, "apply_scd2", "scd2.apply_scd2", _table_of(1))
    patch(scd2, "apply_scd2", "scd2.apply_scd2", _table_of(1))
    patch(gold, "build_dim_location", "gold.build_dim_location",
          lambda *a, **k: {"table": "dim_location"})
    patch(gold, "build_trip_fact", "gold.build_trip_fact",
          lambda *a, **k: {"table": "trip_fact"})
    patch(incremental_gold, "build_trip_fact", "gold.build_trip_fact",
          lambda *a, **k: {"table": "trip_fact"})
    patch(gold, "run_gold_job", "gold.run_gold_job")
    patch(Lakehouse, "overwrite", "storage.overwrite", _table_of(1))

    def around_upsert(orig):
        if on_upsert is None:
            return orig

        @functools.wraps(orig)
        def upsert(self, name, *args, **kwargs):
            before = data_files(self.path(name))
            out = orig(self, name, *args, **kwargs)
            on_upsert(name, before, data_files(self.path(name)))
            return out
        return upsert

    patch(Lakehouse, "upsert", "storage.upsert", _table_of(1), around_upsert)
    patch(optimize, "optimize_table", "maintenance.optimize_table", _table_of(1))
    patch(optimize, "optimize_gold_tables", "maintenance.optimize_gold_tables")
    for attr in dir(validation):
        if attr.startswith("validate_") and callable(getattr(validation, attr)):
            patch(validation, attr, f"maintenance.{attr}")
    return saved


def uninstall(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` -> size in bytes."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    continue
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# -- Spark event log ----------------------------------------------------------

TASK_FIELDS = ("tasks", "executor_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
               "bytes_written", "records_written")


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``, single-file
    or rolling (``eventlog_v2_*/events_<n>_*``)."""
    events = []
    paths = glob.glob(os.path.join(log_dir, "*"))
    paths += glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    for path in sorted(paths):
        if os.path.isdir(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def stage_metrics(events: list[dict]) -> list[dict]:
    """One record per completed stage: job group, completion time (s)
    and summed task metrics."""
    group_of_stage: dict[int, str | None] = {}
    per_stage: dict[int, dict] = {}
    done: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                group_of_stage[sid] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            om = m.get("Output Metrics") or {}
            acc = per_stage.setdefault(ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0.0))
            acc["tasks"] += 1
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["bytes_written"] += om.get("Bytes Written", 0)
            acc["records_written"] += om.get("Records Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            if info.get("Completion Time") is not None:
                done[info["Stage ID"]] = info["Completion Time"] / 1000.0
    return [
        {"stage": sid, "group": group_of_stage.get(sid), "completed": done.get(sid), **acc}
        for sid, acc in per_stage.items()
    ]


def attribute(spans: list[dict], stages: list[dict]) -> None:
    """Add each stage's metrics to a span: the span whose id is the
    stage's job group, else the innermost span whose interval holds the
    stage's completion time."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        for f in TASK_FIELDS:
            s.setdefault("spark." + f, 0.0)
    timed = sorted((s for s in spans if s["end"] is not None), key=lambda s: s["start"])
    for st in stages:
        target = None
        if st["group"] is not None and st["group"].isdigit():
            target = by_id.get(int(st["group"]))
        if target is None and st["completed"] is not None:
            for s in timed:
                if s["start"] <= st["completed"] <= s["end"]:
                    target = s  # later starts are more deeply nested
        if target is not None:
            for f in TASK_FIELDS:
                target["spark." + f] += st[f]


def totals(stages: list[dict], start: float, end: float) -> dict:
    """Summed task metrics of stages completed within [start, end]."""
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for st in stages:
        if st["completed"] is not None and start <= st["completed"] <= end:
            for f in TASK_FIELDS:
                out[f] += st[f]
    return out


def top_level(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == s["name"]:
                return True
            p = by_id.get(p["parent"])
        return False

    return [s for s in spans if s["name"] == name and s["end"] is not None and not nested(s)]
