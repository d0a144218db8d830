"""Tests of the benchmark itself: counter aggregation, self-time and
slot-idle math, the tracer's job groups and boundary forcing, and the
workloads' output checks on tiny grids.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH.parent))
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from spans import (  # noqa: E402
    LAYER_METRICS,
    LAYERS,
    Tracer,
    add_stage,
    coverage,
    empty_counters,
    instrument,
    layer_metrics,
    self_times,
)


def _stage(status="COMPLETE", done=4, failed=0, run_ms=1500, cpu_ns=1_000_000_000,
           gc_ms=20, shuffle=2 * 1024 * 1024, out=0):
    return {"status": status, "complete_tasks": done, "failed_tasks": failed,
            "run_ms": run_ms, "cpu_ns": cpu_ns, "gc_ms": gc_ms,
            "shuffle_write_bytes": shuffle, "output_records": out}


def test_add_stage_converts_units_and_skips_skipped_stages():
    c = empty_counters()
    add_stage(c, _stage(failed=1, out=7))
    add_stage(c, _stage(status="SKIPPED", done=0, run_ms=999, shuffle=999))
    assert c["tasks"] == 5 and c["failed_tasks"] == 1
    assert c["executor_run_s"] == pytest.approx(1.5)
    assert c["executor_cpu_s"] == pytest.approx(1.0)
    assert c["gc_s"] == pytest.approx(0.02)
    assert c["shuffle_write_mb"] == pytest.approx(2.0)
    assert c["output_rows"] == 7


def _span(layer, start, end, parent=None, run_s=0.0, jobs=1, rows=0, mat=0):
    c = empty_counters()
    c.update(jobs=jobs, executor_run_s=run_s)
    return {"layer": layer, "start": start, "end": end, "parent": parent,
            "counters": c, "rows_out": rows, "materialized_bytes": mat}


def test_self_time_subtracts_direct_children_only():
    sp = [
        _span("track", 0.0, 10.0),
        _span("label", 1.0, 3.0, parent=0),
        _span("merge", 3.0, 8.0, parent=0),
        _span("overlap", 4.0, 5.0, parent=2),
    ]
    assert self_times(sp) == pytest.approx([3.0, 2.0, 4.0, 1.0])


def test_layer_metrics_sum_self_time_and_slot_idle():
    sp = [
        _span("track", 0.0, 10.0, run_s=1.0, jobs=2, rows=5),
        _span("label", 1.0, 3.0, parent=0, run_s=6.0, jobs=3, mat=3 * 1024 * 1024),
        _span("label", 3.0, 4.0, parent=0, run_s=2.0, jobs=1),
        _span("io", 10.0, 11.0),
    ]
    m = layer_metrics(sp, cores=4)
    assert set(m) == set(LAYERS) and all(set(v) == set(LAYER_METRICS) for v in m.values())
    assert m["track"]["wall_s"] == pytest.approx(7.0)
    assert m["label"]["wall_s"] == pytest.approx(3.0)
    assert m["label"]["jobs"] == 4 and m["track"]["rows_out"] == 5
    assert m["label"]["materialized_mb"] == pytest.approx(3.0)
    # slot_idle = wall × cores − executor run time
    assert m["label"]["slot_idle_s"] == pytest.approx(3.0 * 4 - 8.0)
    assert m["track"]["slot_idle_s"] == pytest.approx(7.0 * 4 - 1.0)
    assert m["detect"]["wall_s"] == 0.0
    # layers add up to the spans' cover
    assert sum(v["wall_s"] for v in m.values()) == pytest.approx(11.0)
    assert coverage(sp, 12.0) == pytest.approx(11.0 / 12.0)


def test_process_helpers_find_and_wait_for_children():
    import subprocess

    child = subprocess.Popen(["sleep", "30"])
    try:
        found = {pid for pid, _ in run._descendants(run.os.getpid())}
        assert child.pid in found
        procs = {p for p in run._descendants(run.os.getpid()) if p[0] == child.pid}
        assert run._running(procs) == procs
        child.terminate()
        child.wait()
        assert run._wait_gone(procs, 5) == set()
    finally:
        child.kill()
        child.wait()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from marex_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark("perfbench-tests", cores=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(local),
    })
    yield s
    run.stop_spark(s)


def test_digest_is_order_and_width_independent(spark):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").cast("int").alias("y"), (F.col("id") / 7.0).alias("v")
    )
    d1 = workloads.digest(df)
    d2 = workloads.digest(df.repartition(5).orderBy(F.desc("y")))
    d3 = workloads.digest(df.select(F.col("y").cast("long"), "v"))
    assert d1 == d2 == d3 and d1["rows"] == 200
    d4 = workloads.digest(df.withColumn("v", F.col("v") + 1e-3))
    assert d4["hash"] != d1["hash"]


def test_tracer_job_groups_boundary_and_counters(spark):
    from pyspark.sql import functions as F

    tr = Tracer(spark, "unit")
    tr.new_run()
    with tr.span("track", "outer") as s_outer:
        with tr.span("label", "inner") as s_inner:
            df = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
            out = tr.force(df, s_inner)
        # a DataFrame forced by a child is not forced (or counted as
        # work) again by its parent
        assert tr.force(out, s_outer) is out
    sp = tr.run_spans(tr.run_id)
    outer, inner = sp
    assert inner["parent"] == 0 and outer["parent"] is None
    assert inner["rows_out"] == 10 and outer["rows_out"] == 10
    assert inner["counters"]["jobs"] >= 1 and inner["counters"]["tasks"] >= 1
    assert inner["counters"]["shuffle_write_mb"] > 0
    assert outer["counters"]["jobs"] == 0
    # the boundary checkpoint is not the layer's own materialisation
    assert inner["materialized_bytes"] == 0
    assert inner["group"] != outer["group"]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_instrument_restores_module_functions():
    import importlib

    before = {
        (m, f): getattr(importlib.import_module(m), f)
        for targets in LAYERS.values() for m, f in targets
    }
    with instrument(Tracer.__new__(Tracer)):
        wrapped = {k: getattr(importlib.import_module(k[0]), k[1]) for k in before}
        assert all(wrapped[k] is not v for k, v in before.items())
    assert all(getattr(importlib.import_module(m), f) is v for (m, f), v in before.items())


def test_detect_hobday_fraction_check():
    import datetime as dt

    w = workloads.DetectHobday()
    t0 = dt.datetime(2005, 1, 1)
    days = 365
    cells = days * w.ny * w.nx
    ok = {"rows": int(0.05 * cells), "t0": t0, "t1": t0 + dt.timedelta(days=days - 1)}
    assert w.check(None, ok, "") == []
    bad = dict(ok, rows=int(0.2 * cells))
    assert w.check(None, bad, "")


def test_track_merge_one_event_id_per_cell(spark, tmp_path):
    w = workloads.TrackMerge(ny=6, nx=12, n_years=2)
    w.land(spark, str(tmp_path / "fx"), seed=3)
    dig = w.run(spark, str(tmp_path / "out"))
    assert w.check(spark, dig, "") == []
    assert dig["rows"] == w.input_rows > 0
    # a dropped cell or a missing id is caught
    assert w.check(spark, dict(dig, with_id=dig["rows"] - 1), "")
    assert w.check(spark, dict(dig, cells="0-0"), "")


def test_track_append_equals_full_recompute(spark, tmp_path):
    w = workloads.TrackAppend(ny=6, nx=12, n_years=2)
    w.land(spark, str(tmp_path / "fx"), seed=3)
    out = str(tmp_path / "out")
    dig = w.run(spark, out)
    assert w.check(spark, dig, out) == []
    w.full_digest = dict(w.full_digest, hash="0-0")
    assert w.check(spark, dig, out)


def test_traced_run_matches_untraced_digest(spark, tmp_path):
    w = workloads.TrackMerge(ny=6, nx=12, n_years=2)
    w.land(spark, str(tmp_path / "fx"), seed=5)
    plain = w.run(spark, "")
    tr = Tracer(spark, "track_merge")
    tr.new_run()
    with instrument(tr):
        traced = w.run(spark, "")
    assert traced == plain
    names = {s["name"] for s in tr.run_spans(tr.run_id)}
    assert {"track.track_events", "track.label_components",
            "merge.split_merge_events_parallel"} <= names


def test_benchmark_json_lists_every_layer_metric():
    import json

    with open(BENCH.parent / "BENCHMARK.json") as fh:
        b = json.load(fh)
    names = {m["name"] for m in b["per_layer"]}
    want = {f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS}
    assert names == want | {"trace.overhead_s"}
    assert spans.LAYER_METRICS["wall_s"] == "s"
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", ["detect_hobday", "track_merge"])
def test_pinned_digest_holds_at_another_core_count(spark, tmp_path, name):
    import json

    with open(BENCH / "pinned_digests.json") as fh:
        pinned = json.load(fh)[name]
    w = workloads.WORKLOADS[name]()
    w.land(spark, str(tmp_path / "fx"), seed=1)
    dig = w.run(spark, str(tmp_path / "out"))
    assert {k: v for k, v in dig.items() if k not in ("t0", "t1")} == pinned
