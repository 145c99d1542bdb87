"""The worker-side zipimport hook: an unchanged archive is not re-read on
``importlib.invalidate_caches()``, a changed one is, and the driver's import
system is left alone."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from node_mongo2influx_spark import worker_zipimport

REPO = Path(__file__).resolve().parent.parent


def test_unchanged_archive_not_reread_changed_archive_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zhook_mod_a.py", "A = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_zipimport.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    try:
        assert importlib.import_module("zhook_mod_a").A == 1
        importlib.invalidate_caches()  # the first call reads and stamps
        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("zhook_mod_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert str(archive) in reads
        assert importlib.import_module("zhook_mod_b").B == 2
    finally:
        for name in ("zhook_mod_a", "zhook_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_driver_import_system_untouched(monkeypatch):
    import node_mongo2influx_spark  # noqa: F401  (installs in workers only)

    stdlib = zipimport.zipimporter.invalidate_caches
    assert stdlib.__module__ == "zipimport"
    assert stdlib is worker_zipimport._STDLIB_INVALIDATE
    assert worker_zipimport.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib

    # in a worker, install patches the class (restored by monkeypatch)
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert worker_zipimport.install() is (sys.version_info < (3, 13))


_PROBE = textwrap.dedent(
    """
    import json, os, sys, zipfile, zipimport
    from pyspark.sql import SparkSession
    from node_mongo2influx_spark.sources import mongospool

    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        assert mongospool.arrow_decoder  # package-referencing, like every package UDF
        # _read_directory calls since the previous probe in this worker:
        # on a reused worker, the ones Spark's invalidate_caches() made
        # at the start of this task
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            real = zipimport._read_directory
            reads = zipimport._probe_reads = []
            zipimport._read_directory = lambda a: reads.append(a) or real(a)
            seen = -1
        else:
            seen = len(reads)
        reads.clear()
        zips = sum(os.path.isfile(p) and zipfile.is_zipfile(p) for p in sys.path)
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [seen], "zips": [zips]}
        )

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.range(1, numPartitions=1).mapInArrow(
        probe, "pid long, reads long, zips long")
    rows = [df.collect()[0].asDict() for _ in range(2)]
    spark.stop()
    print(json.dumps(rows))
    """
)


def test_spark_worker_second_task_rereads_no_archive(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=REPO,  # workers import the package from the working directory
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    if not second["zips"]:
        pytest.skip("no zip archive on the Spark worker's sys.path")
    assert second["pid"] == first["pid"], "local[1] should reuse its worker"
    assert second["reads"] == 0
