"""Layer spans for the traced run, read from Spark's status store.

The engine is not changed: :func:`instrument` wraps each layer's public
functions at their module attribute for the duration of a traced run.
Every wrapped call is one span that

* runs under its own, never reused, Spark job group (the status
  tracker's ``getJobIdsForGroup`` accumulates when a group id is reused,
  and call sites cannot attribute jobs: most are named
  ``save at NativeMethodAccessorImpl.java:0``);
* is forced at its boundary: every DataFrame it returns is
  ``localCheckpoint``-ed inside the span, so lazily planned work is paid
  by the layer that planned it, not by whichever layer consumes it;
* records its wall time, its parent span, and the counters of its own
  job group: jobs, tasks, failed tasks, executor run/CPU/GC time and
  shuffle-write bytes (``statusStore().lastStageAttempt``), rows out,
  and the block-manager bytes its own persist/checkpoint calls pinned
  (``getRDDStorageInfo``; the boundary checkpoint is excluded).

Spans stay in memory; :meth:`Tracer.dump` writes them as JSON.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import json
import time

from pyspark.sql import DataFrame

# layer -> (module, public function) pairs wrapped in the traced run.
# Bindings are patched where the caller looks them up: Tracker.run calls
# preprocess_extremes/track_events through marex_spark.tracker, and
# track_events calls the operator functions through
# marex_spark.operators.track; the area filter inside preprocess_extremes
# imports label_components from its module at call time, so with both
# bindings wrapped the fused labelling is a label span nested in the
# morphology span.
LAYERS: dict[str, list[tuple[str, str]]] = {
    "detect_blocked": [
        ("marex_spark.operators.detect_blocked", "detect_extremes_blocked_packed"),
    ],
    "detect": [("marex_spark.operators.detect", "preprocess_data")],
    "morphology": [("marex_spark.tracker", "preprocess_extremes")],
    "label": [
        ("marex_spark.operators.label", "label_components"),
        ("marex_spark.operators.track", "label_components"),
    ],
    "merge": [("marex_spark.operators.merge", "split_merge_events_parallel")],
    "overlap": [
        ("marex_spark.operators.track", f)
        for f in ("overlap_pairs", "object_areas", "filter_overlap_fraction")
    ],
    "components": [
        ("marex_spark.operators.track", f)
        for f in ("connected_components_driver", "remap_ids_sparse", "remap_ids")
    ],
    "stats": [
        ("marex_spark.operators.track", f)
        for f in ("attach_geo", "event_timestep_stats", "event_lifetime_stats")
    ],
    "track": [
        ("marex_spark.operators.track", "track_events"),
        ("marex_spark.tracker", "track_events"),
        ("marex_spark.operators.track", "extend_track_events"),
    ],
    # plus the benchmark's own sinks: the digest aggregates and parquet writes
    "io": [
        ("marex_spark.sources.io", "write_track_result"),
        ("workloads", "digest"),
        ("workloads", "write_parquet"),
    ],
}

# name -> (unit, what it is); per layer, in this order
LAYER_METRICS: dict[str, str] = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "rows_out": "rows",
    "slot_idle_s": "s",
    "materialized_mb": "MB",
}

# result fields forced at a span boundary when a call returns a result
# object: the DataFrames a caller consumes (DetectResult.thresholds is a
# by-product nobody downstream reads, so forcing it would add work)
FORCED_FIELDS = ("extremes", "events", "timestep_stats", "lifetime_stats")

_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "shuffle_write_mb", "output_rows")
_MB = 1024.0 * 1024.0


def empty_counters() -> dict:
    return {k: 0 for k in _COUNTERS}


def add_stage(c: dict, stage: dict) -> None:
    """Fold one stage attempt (status-store units: ms, ns, bytes) into a
    counter dict (seconds, MB). Skipped stages ran no task and add
    nothing."""
    if stage["status"] == "SKIPPED":
        return
    c["tasks"] += stage["complete_tasks"] + stage["failed_tasks"]
    c["failed_tasks"] += stage["failed_tasks"]
    c["executor_run_s"] += stage["run_ms"] / 1e3
    c["executor_cpu_s"] += stage["cpu_ns"] / 1e9
    c["gc_s"] += stage["gc_ms"] / 1e3
    c["shuffle_write_mb"] += stage["shuffle_write_bytes"] / _MB
    c["output_rows"] += stage["output_records"]


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its direct children cover.
    Children of one span never overlap (the driver is one thread)."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        p = s["parent"]
        if p is not None:
            own[p] -= s["end"] - s["start"]
    return own


def layer_metrics(spans: list[dict], cores: int) -> dict[str, dict[str, float]]:
    """Per-layer sums over one traced run's spans. ``wall_s`` is self time,
    so the layers of one run add up to the time the spans cover;
    ``slot_idle_s`` = wall_s × cores − executor_run_s is the task-slot
    time with no task running (planning, collects, job scheduling)."""
    out = {
        layer: {m: 0.0 for m in LAYER_METRICS} for layer in LAYERS
    }
    for s, own in zip(spans, self_times(spans)):
        m = out[s["layer"]]
        m["wall_s"] += own
        for k in ("jobs", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_write_mb"):
            m[k] += s["counters"][k]
        m["rows_out"] += s["rows_out"]
        m["materialized_mb"] += s["materialized_bytes"] / _MB
    for m in out.values():
        m["slot_idle_s"] = m["wall_s"] * cores - m["executor_run_s"]
    return out


def coverage(spans: list[dict], wall: float) -> float:
    """Share of a run's wall time covered by its top-level spans."""
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    return top / wall if wall > 0 else 0.0


class Tracer:
    """Spans and status-store counters for traced runs of one workload."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.workload = workload
        self.run_id = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._n_groups = 0
        # DataFrames this tracer checkpointed, by id -> (df, rows); the
        # df is held so that its id cannot be reused while the entry lives
        self._forced: dict[int, tuple[DataFrame, int]] = {}
        self._storage_seen: set[int] = set()

    # ----- status store -------------------------------------------------
    def _group_counters(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        store = self._jsc.statusStore()
        c = empty_counters()
        stage_ids: set[int] = set()
        for job in st.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = st.getJobInfo(job)
            stage_ids.update(info.stageIds if info else ())
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            add_stage(c, {
                "status": sd.status().toString(),
                "complete_tasks": sd.numCompleteTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_ms": sd.executorRunTime(),
                "cpu_ns": sd.executorCpuTime(),
                "gc_ms": sd.jvmGcTime(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "output_records": sd.outputRecords(),
            })
        return c

    def _new_storage(self) -> dict[int, int]:
        """RDD id -> stored bytes for cached RDDs not seen before."""
        new = {}
        for info in self._jsc.getRDDStorageInfo():
            rid = info.id()
            if rid not in self._storage_seen:
                self._storage_seen.add(rid)
                new[rid] = info.memSize() + info.diskSize()
        return new

    # ----- spans ----------------------------------------------------------
    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """One span around a call into ``layer``; yields the span dict,
        which :meth:`force` adds the call's output rows to."""
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            # pins that appeared before this call belong to the parent
            self.spans[parent]["materialized_bytes"] += sum(self._new_storage().values())
        else:
            self._new_storage()
        self._n_groups += 1
        group = f"perfbench-{self.workload}-{self.run_id}-{self._n_groups}"
        s = {
            "workload": self.workload, "run": self.run_id, "name": name,
            "layer": layer, "parent": parent, "group": group,
            "start": time.monotonic(), "end": None, "rows_out": 0,
            "materialized_bytes": 0, "boundary_rdds": [], "counters": None,
        }
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(group, name)
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            self._stack.pop()
            new = self._new_storage()
            boundary = set(s["boundary_rdds"])
            s["materialized_bytes"] += sum(b for r, b in new.items() if r not in boundary)
            pg = self.spans[parent]["group"] if parent is not None else None
            self._set_group(pg, self.spans[parent]["name"] if parent is not None else "")
            s["counters"] = self._group_counters(group)
            s["rows_out"] += s["counters"]["output_rows"]

    def _force_df(self, df: DataFrame, s: dict) -> DataFrame:
        if id(df) in self._forced:
            s["rows_out"] += self._forced[id(df)][1]
            return df
        cp = df.localCheckpoint(eager=True)
        s["boundary_rdds"].append(cp._jdf.queryExecution().logical().rdd().id())
        # the row count reads the checkpoint, not the layer's plan: run it
        # outside the layer's job group
        self._set_group(f"{s['group']}-boundary", "boundary row count")
        rows = cp.count()
        self._set_group(s["group"], s["name"])
        self._forced[id(cp)] = (cp, rows)
        s["rows_out"] += rows
        return cp

    def force(self, result, s: dict):
        """Checkpoint the DataFrames a call returns, in place of the lazy
        ones, so the call's own job group pays for them."""
        if isinstance(result, DataFrame):
            return self._force_df(result, s)
        if isinstance(result, dict) and isinstance(result.get("rows"), int):
            s["rows_out"] += result["rows"]  # a digest sink: rows it consumed
        if isinstance(result, tuple) and not hasattr(result, "_fields"):
            return tuple(self.force(r, s) for r in result)
        if dataclasses.is_dataclass(result) and not isinstance(result, type):
            for f in FORCED_FIELDS:
                v = getattr(result, f, None)
                if isinstance(v, DataFrame):
                    setattr(result, f, self._force_df(v, s))
        return result

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name) as s:
                return self.force(fn(*args, **kwargs), s)

        return traced

    def new_run(self) -> None:
        self.run_id += 1
        self._forced.clear()

    def run_spans(self, run_id: int) -> list[dict]:
        """The spans of one run, with parents re-indexed into the list."""
        idx = [i for i, s in enumerate(self.spans) if s["run"] == run_id]
        pos = {g: k for k, g in enumerate(idx)}
        return [
            dict(self.spans[i], parent=pos.get(self.spans[i]["parent"]))
            for i in idx
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap every layer's public functions for the duration of the block."""
    saved = []
    try:
        for layer, targets in LAYERS.items():
            for mod_name, fn_name in targets:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, fn_name)
                saved.append((mod, fn_name, fn))
                setattr(mod, fn_name, tracer.wrap(layer, f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}", fn))
        yield tracer
    finally:
        for mod, fn_name, fn in reversed(saved):
            setattr(mod, fn_name, fn)
