"""The engine's Python worker daemon (marex_spark/_worker_daemon.py) and
the session settings that select it: stat-gated zip directory re-reads,
tasks running under the daemon, and workers importing the engine when
the driver starts outside the repository root."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa
import pytest

from marex_spark._worker_daemon import _reread, invalidate_caches

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archive(tmp_path):
    zpath = tmp_path / "mods.zip"
    _write_zip(zpath, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(zpath))
    invalidate_caches(imp)  # first call reads and stamps
    files = imp._files

    # unchanged archive: the importer keeps the directory it read
    invalidate_caches(imp)
    assert imp._files is files

    # rewritten with a new module: the new module becomes importable
    _write_zip(zpath, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    assert imp.find_spec("mod_b") is None
    invalidate_caches(imp)
    assert imp._files is not files
    spec = imp.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # deleted: the same state the stock method leaves, on every call
    stock = zipimport.zipimporter(str(zpath))
    zpath.unlink()
    for _ in range(2):
        invalidate_caches(imp)
        assert imp._files == {}
        assert str(zpath) not in zipimport._zip_directory_cache
    _reread(stock)
    assert stock._files == {}

    # restored: read again
    _write_zip(zpath, {"mod_c": "Z = 3\n"})
    invalidate_caches(imp)
    assert imp.find_spec("mod_c") is not None


def test_python_tasks_run_under_engine_daemon(spark):
    # nested, so it is pickled by value: workers cannot import tests/
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    df = spark.range(4, numPartitions=2).mapInArrow(probe, "m string")
    assert {r.m for r in df.collect()} == {"marex_spark._worker_daemon"}


_OUTSIDE_ROOT = textwrap.dedent(
    """
    import json
    import sys

    sys.path.insert(0, {root!r})
    import pyarrow as pa
    from pyspark.sql import functions as F

    from marex_spark.operators.label import label_components
    from marex_spark.session import get_spark


    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {{"m": [zipimport.zipimporter.invalidate_caches.__module__]}}
        )


    def daemon_module(spark):
        df = spark.range(2, numPartitions=1).mapInArrow(probe, "m string")
        return sorted({{r.m for r in df.collect()}})


    conf = {{"spark.ui.showConsoleProgress": "false"}}
    spark = get_spark("outside_root", cores=2, extra_conf=conf)
    rows = [("2020-01-01", 1, 1), ("2020-01-01", 1, 2), ("2020-01-01", 5, 5)]
    df = spark.createDataFrame(rows, "time string, y int, x int").select(
        F.to_timestamp("time").alias("time"), "y", "x", F.lit(True).alias("extreme")
    )
    labels = sorted([r.y, r.x, r.obj_id] for r in label_components(df, nx=10).collect())
    out = {{"labels": labels, "daemon": daemon_module(spark)}}
    spark.stop()

    conf["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("outside_root_override", cores=2, extra_conf=conf)
    out["override_daemon"] = daemon_module(spark)
    spark.stop()
    print(json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def outside_root_run(tmp_path_factory):
    """One driver started from a temporary directory with PYTHONPATH
    unset: a default session, then one whose extra_conf names pyspark's
    own daemon."""
    cwd = tmp_path_factory.mktemp("outside_root")
    script = cwd / "drive.py"
    script.write_text(_OUTSIDE_ROOT.format(root=str(ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workers_import_engine_outside_repo_root(outside_root_run):
    assert outside_root_run["labels"] == [[1, 1, 1], [1, 2, 1], [5, 5, 2]]
    assert outside_root_run["daemon"] == ["marex_spark._worker_daemon"]


def test_extra_conf_overrides_daemon_module(outside_root_run):
    assert outside_root_run["override_daemon"] == ["zipimport"]
