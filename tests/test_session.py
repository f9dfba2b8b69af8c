"""Session defaults that must be safe on the host in use, and the
one constructor of driver-built tables."""

from __future__ import annotations

import inspect
from pathlib import Path

import pytest

import georaster_spark
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
