"""Python-worker daemon (``etl_lala_spark._pydaemon``): the stat-checked
zip-directory cache, its effect inside real workers, and the workers'
PYTHONPATH from a driver that runs outside the repository."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the daemon patches CPython < 3.12 only")
def test_stat_checked_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    from etl_lala_spark._pydaemon import stat_checked_invalidate_caches

    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pydaemon_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    importer = zipimport.zipimporter(archive)
    # registered for restore before the wrapper replaces it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    stat_checked_invalidate_caches()
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )

    importer.invalidate_caches()  # first sight of the archive: one read
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("pydaemon_probe_a").X == 1

    with zipfile.ZipFile(archive, "a") as zf:  # rewritten: new size and mtime
        zf.writestr("pydaemon_probe_b.py", "Y = 2\n")
    importlib.invalidate_caches()  # the sys.path importer re-reads it
    importer.invalidate_caches()  # and this one picks up that read
    assert reads.count(archive) == 2
    assert importer.find_spec("pydaemon_probe_b") is not None
    assert importlib.import_module("pydaemon_probe_b").Y == 2


def test_workers_skip_zip_reread(spark):
    """Inside a task, ``importlib.invalidate_caches()`` re-reads no zip: the
    session's workers were forked by the engine's daemon."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or stock(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(4).repartition(4).mapInPandas(probe, "reads long").collect()
    assert [r["reads"] for r in rows] == [0] * 4


def test_udf_resolves_engine_from_foreign_cwd(tmp_path):
    """A driver started outside the repository with PYTHONPATH unset still
    gets workers that import the daemon and the engine."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from etl_lala_spark.session import get_spark

        def f(batches):
            from etl_lala_spark.io import table_path
            for pdf in batches:
                pdf["p"] = [table_path("/sf", f"t{{i}}") for i in pdf["id"]]
                yield pdf

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        rows = spark.range(2).mapInPandas(f, "id long, p string").collect()
        print(sorted(r["p"] for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "['/sf/t0.parquet', '/sf/t1.parquet']"
