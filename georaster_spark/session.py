"""SparkSession factory with engine defaults.

Local-mode settings mirror what we would set cluster-side:
- shuffle partitions ~ cores (AQE coalesces further at runtime),
- AQE on (runtime re-plan, skew-join backstop behind our explicit
  salting),
- Arrow on (every custom kernel exchanges Arrow batches with the JVM),
- UTC session timezone (DuckDB-oracle comparisons are UTC-naive),
- no Python call-site capture (``dataFrameDebugging`` off): PySpark
  otherwise wraps every ``F.*``/``Column`` call in ~5 extra JVM round
  trips to record where in Python it was made, which was most of the
  driver's fixed cost per vector-path call. What it gives up: the
  Python call site in DataFrame error context; the JVM query context
  (the failing expression and its SQL fragment) stays.
- Python workers forked from ``georaster_spark.pyworker``
  (``spark.python.daemon.module``): before every task PySpark calls
  ``importlib.invalidate_caches()``, and on CPython 3.11 that makes
  each zip importer re-parse its archive's central directory
  (``pyspark.zip``, py4j and the spark-core jar: ~27k entries,
  0.1-0.4 s per task, most of a small Python stage). The daemon keeps
  a directory until its archive's mtime or size changes, so a
  rewritten archive is still re-read. Workers import this package to
  run the engine's kernels anyway, so this adds no deployment need.
- the package's parent directory on the workers' ``PYTHONPATH``
  (``spark.executorEnv.PYTHONPATH``): a worker starts as ``python -m
  georaster_spark.pyworker``, which finds the package through that
  path, whatever directory the driver runs in.

``local_df`` is the one way the engine turns driver-built rows (cover
and kNN indexes, path lists, fixtures) into a DataFrame; ``paths_df``
is the one reading of a source's ``paths`` argument, and ``map_rows``
the one per-row executor stage that every file source reads its files
in. ``arrow_batch`` packs Python tuples for both ends.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# the directory that holds the georaster_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(host_bytes: int) -> str:
    """Half of host RAM in MiB (at least 1 GiB, at most the 48g a
    large shared box was tuned for): the local-mode driver JVM is the
    whole engine, and the rest is left to its Python workers."""
    return f"{min(48 * 1024, max(1024, host_bytes // 2 // 2**20))}m"


def get_spark(
    app_name: str = "georaster_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to
    the core count (never the 200 default: wrong at both ends). The
    driver heap is ``$SPARK_DRIVER_MEM`` if set, else
    ``default_driver_memory`` of the host's RAM; ``extra_conf``
    overrides both.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "georaster_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # whole-table MIN/MAX/COUNT answered from parquet footers —
        # free for metadata-style queries (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def arrow_batch(rows, schema: pa.Schema) -> pa.RecordBatch:
    """Tuples in ``schema`` order as one Arrow record batch: how the
    driver (``local_df``) and the ``map_rows`` kernels pack Python
    rows."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver-built rows (tuples in ``schema`` order; a DDL string or a
    ``StructType``) as an Arrow table, which Spark plans as a
    ``LocalTableScan``: the rows sit in the plan, split into
    min(rows, default parallelism) slices, with exact size statistics.
    ``createDataFrame`` over Python rows would plan a pickled-RDD
    ``Scan ExistingRDD`` that is read again on every action."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_batches([arrow_batch(rows, to_arrow_schema(schema))])
    return spark.createDataFrame(table, schema)


def paths_df(spark: SparkSession, paths, n: int | None = None) -> DataFrame:
    """A source's ``paths`` argument as a table with a ``path`` column.

    ``paths`` is a list of path strings (a ``LocalTableScan``, so
    nothing shuffles before the kernel that reads it) or a DataFrame
    with a ``path`` string column (the scale form: a file catalog
    never reaches the driver). With ``n``, each path becomes the rows
    ``(path, k, n)`` for k < n, the k-th of ``n`` tasks that share
    the path's work; in the DataFrame form those rows are made next
    to their path row and, for n > 1, spread round-robin over ``n``
    partitions (an Exchange of those small rows)."""
    listed = isinstance(paths, (list, tuple))
    if n is None:
        if listed:
            return local_df(spark, [(p,) for p in paths], "path string")
        return paths.select("path")
    if listed:
        return local_df(
            spark, [(p, k, n) for p in paths for k in range(n)], "path string, k int, n int"
        )
    ks = F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    work = paths.select("path", ks.alias("k"), F.lit(n).alias("n"))
    return work.repartition(n) if n > 1 else work


def map_rows(df: DataFrame, batches_of, schema: str) -> DataFrame:
    """The per-row executor stage: one Arrow map over ``df`` that
    calls ``batches_of(row, arrow_schema)`` with each input row as a
    dict and the output schema (``schema``, a DDL string) in Arrow
    form, and yields the record batches it returns (``arrow_batch``
    packs tuples). Every file source reads its files here: TIFF chunk
    plan, metadata and decode over ``paths_df`` rows, PMTiles tiles,
    WARC splits and records. The driver ships only those small rows
    and opens no file."""
    arrow = to_arrow_schema(DataType.fromDDL(schema))

    def kernel(batches):
        for batch in batches:
            for row in batch.to_pylist():
                yield from batches_of(row, arrow)

    return df.mapInArrow(kernel, schema=schema)
