"""The four detect→track workloads: fixture landing, the timed body, and
the output checks.

Every workload is a class with the same three steps:

* ``land(spark, root, seed)`` writes the seeded inputs as parquet under
  ``root``, opens them as DataFrames and computes whatever reference the
  checks need (set-up, untimed);
* ``run(spark, out)`` is the timed body: from the public entry call
  until the forced sink completes. It returns the sink's digest;
* ``check(spark, digest, out)`` returns a list of failed checks
  (empty when the output is correct) and may read the sink's files.

Engine functions are always called through their module attribute
(``track.track_events``, not a bare imported name), so the traced run
can wrap each public call in a span without touching engine files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from marex_spark.operators import detect, detect_blocked, track
from marex_spark.sources import io as mio
from marex_spark.sources.synthetic import grid_dims, synthetic_sst_gridded
from marex_spark import tracker as mtracker

# Floats are rounded before hashing so that a last-bit difference from
# a different partial-aggregation order cannot change a digest.
FLOAT_DECIMALS = 4
_MOD = 2_147_483_647


def _canonical(col, dtype):
    """One hash input per value, whatever the column's width: integers
    widen to long, floats round to FLOAT_DECIMALS."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.round(col.cast("double"), FLOAT_DECIMALS)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return col.cast("long")
    return col


def digest(df: DataFrame, groups: dict[str, list[str]] | None = None,
           **extra) -> dict:
    """Order-independent digest of ``df`` in ONE aggregate job: the row
    count plus, per named column group, the XOR and modular sum of a
    per-row xxhash64 (one group of all columns by default), plus any
    ``extra`` named aggregate columns. It doubles as a workload's forced
    sink: every column a group covers is computed."""
    groups = groups or {"hash": df.columns}
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("rows")]
    for g, cols in groups.items():
        h = F.xxhash64(*[_canonical(F.col(c), fields[c]) for c in cols])
        aggs += [F.bit_xor(h).alias(f"{g}_x"), F.sum(F.pmod(h, F.lit(_MOD))).alias(f"{g}_s")]
    aggs += [c.alias(k) for k, c in extra.items()]
    row = df.agg(*aggs).first()
    out = {"rows": int(row["rows"])}
    for g in groups:
        x = (row[f"{g}_x"] or 0) & 0xFFFFFFFFFFFFFFFF
        out[g] = f"{x:016x}-{int(row[f'{g}_s'] or 0):x}"
    out.update({k: row[k] for k in extra})
    return out


def write_parquet(df: DataFrame, path: str) -> None:
    """Parquet sink (a function of its own so the traced run can time it)."""
    df.write.mode("overwrite").parquet(path)


def events_digest(df: DataFrame) -> dict:
    return digest(df, {"hash": ["time", "y", "x", "event_id"]})


class Workload:
    """Base: grid sizes and the shared seeded series."""

    name = ""
    n_years = 0
    ny = 0
    nx = 0

    def __init__(self, ny: int | None = None, nx: int | None = None,
                 n_years: int | None = None):
        self.ny = ny or self.ny
        self.nx = nx or self.nx
        self.n_years = n_years or self.n_years
        self.input_rows = 0

    @property
    def cell_days(self) -> int:
        return self.n_years * 365 * self.ny * self.nx

    def series(self, spark: SparkSession, seed: int) -> DataFrame:
        return synthetic_sst_gridded(
            spark, n_years=self.n_years, ny=self.ny, nx=self.nx, seed=seed
        )

    def extreme_cells(self, spark: SparkSession, seed: int) -> DataFrame:
        """Fixed-baseline / global-threshold detect of the seeded series,
        as sparse extreme cells (time, y, x, extreme=True)."""
        cells = detect_blocked.detect_extremes_blocked(self.series(spark, seed))
        return cells.withColumn("extreme", F.lit(True))

    def land(self, spark: SparkSession, root: str, seed: int) -> None:
        raise NotImplementedError

    def run(self, spark: SparkSession, out: str) -> dict:
        raise NotImplementedError

    def check(self, spark: SparkSession, dig: dict, out: str) -> list[str]:
        raise NotImplementedError


class DetectHobday(Workload):
    """Blocked detect, shifting baseline + per-day-of-year Hobday threshold
    (BASELINE.md's heaviest published reference config); digest sink."""

    name = "detect_hobday"
    n_years = 12
    ny, nx = 20, 40
    threshold_percentile = 0.95
    window_year_baseline = 5

    def land(self, spark, root, seed):
        path = f"{root}/packed"
        write_parquet(detect_blocked.pack_gridded(self.series(spark, seed), nx=self.nx), path)
        self.packed = spark.read.parquet(path)
        self.input_rows = self.cell_days

    def run(self, spark, out):
        cells = detect_blocked.detect_extremes_blocked_packed(
            self.packed,
            threshold_percentile=self.threshold_percentile,
            method_percentile="histogram",
            method_anomaly="shifting_baseline",
            method_extreme="hobday_extreme",
            window_year_baseline=self.window_year_baseline,
        )
        return digest(cells, t0=F.min("time"), t1=F.max("time"))

    def check(self, spark, dig, out):
        days = (dig["t1"] - dig["t0"]).days + 1 if dig["rows"] else 0
        scored = days * self.ny * self.nx
        frac = dig["rows"] / scored if scored else 0.0
        want = 1.0 - self.threshold_percentile
        if abs(frac - want) > 0.3 * want:
            return [f"extreme fraction {frac:.4f} not within 30% of {want:.2f}"]
        return []


class TrackMerge(Workload):
    """track_events with the split/merge resolver over pre-landed extreme
    cells; digest sinks for events and lifetime stats."""

    name = "track_merge"
    n_years = 2
    ny, nx = 20, 40

    def land(self, spark, root, seed):
        path = f"{root}/cells"
        write_parquet(self.extreme_cells(spark, seed), path)
        self.cells = spark.read.parquet(path)
        self.cells_digest = digest(self.cells, {"cells": ["time", "y", "x"]})
        self.input_rows = self.cells_digest["rows"]
        self.grid_y, self.grid_x = grid_dims(spark, self.ny, self.nx)

    def run(self, spark, out):
        res = track.track_events(
            self.cells,
            nx=self.nx,
            ny=self.ny,
            grid_y=self.grid_y,
            grid_x=self.grid_x,
            allow_merging=True,
            overlap_threshold=0.5,
        )
        ev = digest(
            res.events,
            {"hash": ["time", "y", "x", "event_id"], "cells": ["time", "y", "x"]},
            with_id=F.count("event_id"),
        )
        ev["lifetime"] = digest(res.lifetime_stats)
        return ev

    def check(self, spark, dig, out):
        bad = []
        n = self.input_rows
        if dig["rows"] != n or dig["with_id"] != n:
            bad.append(f"{dig['rows']} event rows / {dig['with_id']} with id, {n} cells in")
        if dig["cells"] != self.cells_digest["cells"]:
            bad.append("event cells differ from input cells")
        if dig["lifetime"]["rows"] < 1:
            bad.append("no lifetime stats")
        return bad


class MarexWorkflow(Workload):
    """The reference user's two calls: relational preprocess_data, then
    Tracker(...).run() and write_track_result to parquet.

    ``coordinate_units="degrees"`` is passed because Tracker's longitude
    auto-detect accepts only a 360±1 range: a grid coarser than 1° (the
    lon column spans 360 − 360/nx) raises ConfigurationError."""

    name = "marex_workflow"
    n_years = 2
    ny, nx = 10, 20

    def land(self, spark, root, seed):
        path = f"{root}/series"
        write_parquet(self.series(spark, seed), path)
        self.input = spark.read.parquet(path)
        self.input_rows = self.cell_days
        self.grid_y, self.grid_x = grid_dims(spark, self.ny, self.nx)
        self.verified_roundtrip = False

    def run(self, spark, out):
        det = detect.preprocess_data(
            self.input,
            method_anomaly="fixed_baseline",
            method_extreme="global_extreme",
            method_percentile="histogram",
        )
        tr = mtracker.Tracker(
            det.extremes.select("time", "y", "x", "extreme"),
            R_fill=4,
            T_fill=2,
            area_filter_quartile=0.5,
            allow_merging=True,
            overlap_threshold=0.5,
            coordinate_units="degrees",
            ny=self.ny,
            nx=self.nx,
            grid_y=self.grid_y,
            grid_x=self.grid_x,
        )
        res = tr.run()
        mio.write_track_result(res, out)
        self._last = res
        det.unpersist()
        return {}

    def check(self, spark, dig, out):
        back = mio.read_track_result(spark, out)
        got = events_digest(back.events)
        dig.update(got)
        dig["lifetime"] = digest(back.lifetime_stats)
        bad = []
        if not self.verified_roundtrip:
            # write → read must round-trip to the in-memory result; later
            # runs are held to the same digest by the cross-run check
            mem = events_digest(self._last.events)
            if mem != got:
                bad.append(f"round trip {got} != in-memory {mem}")
            self.verified_roundtrip = True
        if got["rows"] < 1:
            bad.append("no events written")
        self._last = None
        return bad


class TrackAppend(Workload):
    """extend_track_events of a prior run with its last 30 days, then a
    parquet write of the events: the per-ingest-cycle path."""

    name = "track_append"
    n_years = 2
    ny, nx = 20, 40
    append_days = 30

    def land(self, spark, root, seed):
        cells_path = f"{root}/cells"
        write_parquet(self.extreme_cells(spark, seed), cells_path)
        cells = spark.read.parquet(cells_path)
        cutoff = F.timestamp_add(
            "DAY", F.lit(self.n_years * 365 - self.append_days - 1),
            F.lit("2000-01-01").cast("timestamp"),
        )
        prior = track.track_events(
            cells.filter(F.col("time") <= cutoff), nx=self.nx, compute_stats=False
        )
        write_parquet(prior.events, f"{root}/prior")
        write_parquet(cells.filter(F.col("time") > cutoff), f"{root}/new")
        self.prior = spark.read.parquet(f"{root}/prior")
        self.new = spark.read.parquet(f"{root}/new")
        full = track.track_events(cells, nx=self.nx, compute_stats=False)
        # documented invariant (operators/track.py extend_track_events):
        # a no-merge extension equals the full recompute, ids included
        self.full_digest = events_digest(full.events)
        self.input_rows = cells.count()

    def run(self, spark, out):
        res = track.extend_track_events(
            self.prior,
            self.new,
            nx=self.nx,
            compute_stats=False,
        )
        write_parquet(res.events, out)
        return {}

    def check(self, spark, dig, out):
        got = events_digest(spark.read.parquet(out))
        dig.update(got)
        if got != self.full_digest:
            return [f"append {got} != full recompute {self.full_digest}"]
        return []


WORKLOADS = {
    w.name: w for w in (DetectHobday, TrackMerge, MarexWorkflow, TrackAppend)
}

