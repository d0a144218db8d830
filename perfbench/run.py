#!/usr/bin/env python3
"""Detect→track benchmark: one workload per process, closed loop (one
client, one run at a time) against ``local[nproc]``.

    python3 perfbench/run.py --workload track_merge --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

Run from the repository root. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones (wall_s,
input_cells_per_s, setup_s), with ``--trace 1`` the per-layer ones.
Exits non-zero without a result line when the engine cannot be
imported. See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import time

_T0 = time.monotonic()  # before any heavy import: set-up starts here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
DEFAULT_SEED = 1
# set-up lands the seeded fixture LANDINGS times (each into a fresh
# directory; the median is the repeatable part of setup_s), then makes
# WARMUP_RUNS checked runs: the first runs in a fresh JVM are up to 2×
# slower (JIT, Python worker start-up)
LANDINGS = 3
WARMUP_RUNS = 2
MIN_TIMED_RUNS = 3
MIN_TRACED_RUNS = 2


def _process_age() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_AGE0 = _process_age()


def _physical_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0


def session_conf(work: Path) -> tuple[int, dict]:
    """local[nproc] and a driver heap well under physical RAM (a quarter,
    at most 4g: the fixtures are small and the box may be shared); all
    scratch space inside the work directory."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, int(_physical_gb() // 4)))
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    return cores, {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.ui.showConsoleProgress": "false",
        # compressed shuffle bytes depend on the order rows arrive in, so
        # they differ run to run; uncompressed they repeat exactly
        "spark.shuffle.compress": "false",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }


def _env(work: Path) -> None:
    # Python workers import marex_spark by module path: without the repo
    # root on PYTHONPATH they fail when the Spark driver runs from another cwd
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), pp) if p)
    os.environ["TMPDIR"] = str(work / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def _import_engine():
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import marex_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if Path(marex_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: marex_spark comes from {marex_spark.__file__}, not {ROOT}",
              file=sys.stderr)
        sys.exit(2)


def _proc_stat(pid: int) -> tuple[int, int, str] | None:
    """(parent pid, start ticks, state) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return int(f[1]), int(f[19]), f[0]
    except (OSError, ValueError, IndexError):
        return None


def _descendants(root: int) -> set[tuple[int, int]]:
    """(pid, start ticks) of every process below ``root``."""
    children: dict[int, list[tuple[int, int]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _proc_stat(int(d))) is not None:
            children.setdefault(st[0], []).append((int(d), st[1]))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c[0])
    return out


def _running(procs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """The processes of ``procs`` still running (same pid and start time,
    not a zombie)."""
    return {
        (pid, start) for pid, start in procs
        if (st := _proc_stat(pid)) is not None and st[1] == start and st[2] != "Z"
    }


def _wait_gone(procs: set[tuple[int, int]], timeout: float) -> set[tuple[int, int]]:
    t_end = time.monotonic() + timeout
    while (procs := _running(procs)) and time.monotonic() < t_end:
        time.sleep(0.05)
    return procs


def stop_spark(spark) -> None:
    """Stop the session and every process it started, and wait for each to
    end. ``spark.stop()`` leaves the gateway JVM running until it reads EOF
    on its stdin, and the Python worker daemons until the JVM is gone; both
    would otherwise outlive this process by a few seconds."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # a call cut short by SIGTERM leaves the gateway unusable and
    # spark.stop() raising; the JVM is ended below either way
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    left = _wait_gone(procs, 20)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid, _ in left:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        left = _wait_gone(left, 10)


def load_pinned() -> dict:
    with open(BENCH / "pinned_digests.json") as fh:
        return json.load(fh)


class Runner:
    """Set-up, timed runs and traced runs of one workload in one session."""

    def __init__(self, spark, cores: int, name: str, seed: int, work: Path):
        from workloads import WORKLOADS

        self.spark, self.cores, self.name, self.seed = spark, cores, name, seed
        self.work = work / name
        self.w = WORKLOADS[name]()
        self.ref = None  # digest every run must reproduce
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        pinned = load_pinned() if seed == DEFAULT_SEED else {}
        self.pinned = pinned.get(name)

    def _out(self) -> str:
        return str(self.work / "out")

    def _checked(self, dig: dict) -> list[str]:
        bad = self.w.check(self.spark, dig, self._out())
        key = {k: v for k, v in dig.items() if k not in ("t0", "t1")}
        if self.ref is None:
            self.ref = key
            if self.pinned is not None and key != self.pinned:
                bad.append(f"digest {key} != pinned {self.pinned}")
        elif key != self.ref:
            bad.append(f"digest {key} != first run {self.ref}")
        return bad

    def one(self, traced=None) -> float | None:
        """One run: returns its wall time, or None if it failed."""
        from spans import instrument

        self.attempted += 1
        self.spark.catalog.clearCache()
        try:
            t = time.monotonic()
            if traced is None:
                dig = self.w.run(self.spark, self._out())
            else:
                with instrument(traced):
                    dig = self.w.run(self.spark, self._out())
            wall = time.monotonic() - t
            bad = self._checked(dig)
        except Exception as e:  # a failed run is counted, the loop goes on
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.errors += bad
            print(f"perfbench: {self.name} run failed: {bad}", file=sys.stderr)
            return None
        return wall

    def setup(self) -> float:
        """Land the fixture LANDINGS times, then warm up; returns the
        median landing plus the warm-up time. The last fixture stays for
        the timed runs."""
        lands = []
        for k in range(LANDINGS):
            if k:
                shutil.rmtree(self.work / f"fixture{k - 1}", ignore_errors=True)
            t = time.monotonic()
            self.w.land(self.spark, str(self.work / f"fixture{k}"), self.seed)
            lands.append(time.monotonic() - t)
        t = time.monotonic()
        for _ in range(WARMUP_RUNS):
            if self.one() is None:
                raise RuntimeError(f"{self.name}: warm-up run failed: {self.errors}")
        return statistics.median(lands) + time.monotonic() - t

    def timed(self, seconds: float) -> list[float]:
        walls = []
        t_end = time.monotonic() + seconds
        n = 0
        while n < MIN_TIMED_RUNS or time.monotonic() < t_end:
            n += 1
            wall = self.one()
            if wall is not None:
                walls.append(wall)
        return walls

    def traced(self, seconds: float) -> dict:
        """One untraced run, then traced runs until ``seconds`` have passed
        (at least MIN_TRACED_RUNS); per-layer medians over the traced
        runs, overhead = median traced − untraced wall."""
        from spans import LAYER_METRICS, LAYERS, Tracer, coverage, layer_metrics

        tracer = Tracer(self.spark, self.name)
        plain, runs = [], []
        t_end = time.monotonic() + seconds
        while len(runs) < MIN_TRACED_RUNS or time.monotonic() < t_end:
            if not plain:
                wall = self.one()
                if wall is not None:
                    plain.append(wall)
            tracer.new_run()
            wall = self.one(traced=tracer)
            if wall is not None:
                spans = tracer.run_spans(tracer.run_id)
                runs.append((wall, layer_metrics(spans, self.cores), coverage(spans, wall)))
        metrics = {}
        for layer in LAYERS:
            for m, unit in LAYER_METRICS.items():
                vals = [r[1][layer][m] for r in runs]
                metrics[f"{layer}.{m}"] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
        overhead = statistics.median([r[0] for r in runs]) - statistics.median(plain) if runs and plain else 0.0
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        exact = ("jobs", "tasks", "shuffle_write_mb", "rows_out")
        repeat = all(
            len({round(r[1][layer][m], 9) for r in runs}) <= 1
            for layer in LAYERS for m in exact
        )
        cov = [r[2] for r in runs]
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(
            str(out_dir / f"trace_{self.name}_seed{self.seed}.json"),
            {"coverage": cov, "counters_repeat": repeat, "plain_walls": plain,
             "traced_walls": [r[0] for r in runs], "cores": self.cores},
        )
        print(
            f"perfbench: {self.name} traced runs={len(runs)} coverage="
            f"{min(cov) if cov else 0:.3f} counters_repeat={repeat}",
            file=sys.stderr,
        )
        return metrics


def run_workload(spark, cores, name, seed, seconds, trace, work, session_s) -> dict:
    r = Runner(spark, cores, name, seed, work)
    try:
        setup_s = session_s + r.setup()
        print(f"perfbench: {name} seed={seed} digest={json.dumps(r.ref, sort_keys=True)}",
              file=sys.stderr)
        if trace:
            metrics = r.traced(seconds)
        else:
            walls = r.timed(seconds)
            wall = statistics.median(walls) if walls else float(seconds)
            metrics = {
                "wall_s": {"value": wall, "unit": "s"},
                "input_cells_per_s": {"value": r.w.input_rows / wall, "unit": "cells/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
            q1, q3 = _quartiles(walls or [wall])
            print(
                f"perfbench: {name} wall_s median={wall:.4f} q1={q1:.4f} q3={q3:.4f} "
                f"n={len(walls)} input_rows={r.w.input_rows} setup_s={setup_s:.3f} "
                f"walls={[round(x, 3) for x in walls]}",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(r.work, ignore_errors=True)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _env(work)
    _import_engine()
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2

    from marex_spark.session import get_spark

    cores, conf = session_conf(work)
    # a terminated benchmark still stops its session below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = _AGE0 + time.monotonic() - _T0
        results = {}
        for n in names:
            results[n] = run_workload(
                spark, cores, n, args.seed, args.seconds, args.trace, work, session_s
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            work.parent.rmdir()

    if len(names) == 1:
        print(json.dumps(results[names[0]]))
        return 0
    for n, res in results.items():
        m = res["metrics"]
        line = {k: f"{v['value']:.4g} {v['unit']}" for k, v in m.items()}
        line["error_rate"] = f"{res['failed'] / res['attempted']:.4g} fraction"
        print(f"{n}: {json.dumps(line)}")
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
