"""Session defaults that must be safe on the host in use, and the
one constructor of driver-built tables."""

from __future__ import annotations

import importlib
import inspect
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import georaster_spark
from georaster_spark import pyworker
from georaster_spark.session import default_driver_memory, local_df

PKG = Path(georaster_spark.__file__).parent

GiB = 2**30


def test_driver_memory_is_half_of_host_ram():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(64 * GiB) == "32768m"


def test_driver_memory_is_clamped():
    assert default_driver_memory(1 * GiB) == "1024m"
    assert default_driver_memory(512 * GiB) == "49152m"


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# the engine's awkward driver-built shapes: the kNN candidate index,
# a NULL-padded cover edge row, and an empty table with a schema
LOCAL_SHAPES = {
    "knn_index": (
        [
            (7, [("p1", 8.25, 46.5), ("p0", 8.0, 46.0)]),
            (9, [("p2", -0.5, 51.5)]),
            (11, []),
        ],
        "cell long, cands array<struct<poi_id: string, p_lon: double, p_lat: double>>",
    ),
    "cover_edges": (
        [
            (3, "poly_0", True, None, None, None, None),
            (4, "poly_1", False, 8.0, 46.0, 8.5, 46.25),
        ],
        "cell long, poly_id string, full boolean, "
        "x0_0 double, y0_0 double, x1_0 double, y1_0 double",
    ),
    "empty": ([], "path string"),
}


@pytest.mark.parametrize("shape", sorted(LOCAL_SHAPES))
def test_local_df_matches_create_dataframe(spark, shape):
    rows, schema = LOCAL_SHAPES[shape]
    got = local_df(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert got.schema == old.schema
    assert got.collect() == old.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_create_dataframe_only_inside_local_df():
    """Every driver-built table goes through ``local_df``: the package
    calls ``createDataFrame(`` nowhere else."""
    sites = [
        (str(p.relative_to(PKG)), n)
        for p in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    src, start = inspect.getsourcelines(local_df)
    inside = [
        ("session.py", start + i) for i, line in enumerate(src) if "createDataFrame(" in line
    ]
    assert sites == inside and len(inside) == 1


def test_get_spark_forks_workers_from_the_zip_cache_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "georaster_spark.pyworker"


@pytest.mark.skipif(not pyworker.SUPPORTED, reason="zipimport has no pure-Python directory cache")
def test_workers_run_the_swapped_invalidate_caches(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        swapped = hasattr(zipimport.zipimporter.invalidate_caches, "stock")
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"swapped": [swapped]})

    rows = spark.range(4).mapInArrow(probe, "swapped boolean").collect()
    assert rows and all(r.swapped for r in rows)


@pytest.mark.skipif(not pyworker.SUPPORTED, reason="zipimport has no pure-Python directory cache")
def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)  # restored after
    monkeypatch.setattr(pyworker, "_stamps", {})
    assert pyworker.install()

    arc = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("gr_zipcache_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(arc)
    for name in ("gr_zipcache_a", "gr_zipcache_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gr_zipcache_a").X == 1

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()  # first call stamps the archive
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert arc not in reads

    # rewritten in place, with an extra module: re-read once, and the
    # new module imports
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("gr_zipcache_a.py", "X = 1\n")
        z.writestr("gr_zipcache_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads.count(arc) == 1
    assert importlib.import_module("gr_zipcache_b").Y == 2


def test_get_spark_runs_python_stages_outside_the_repo(tmp_path):
    """A driver started in another directory still runs Python stages:
    the workers, started as ``python -m georaster_spark.pyworker``,
    find the package through ``spark.executorEnv.PYTHONPATH``."""
    script = tmp_path / "job.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        "from georaster_spark.session import get_spark\n"
        "def ids(batches):\n"
        "    yield from batches\n"
        "spark = get_spark('outside', cores=1, extra_conf={'spark.driver.memory': '1g'})\n"
        "print('ROWS', spark.range(3).mapInArrow(ids, 'id long').count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 3" in out.stdout, out.stderr[-2000:]
