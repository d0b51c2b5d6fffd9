"""SparkSession construction with scale-appropriate defaults.

Single place where shuffle/AQE/Arrow knobs are set so tests, bench and
the driver entry all run the same configuration. The settings are
chosen for the 100 TB design point and proxy-tested on local[N]:

- AQE on (runtime re-plan, skew-join backstop to our explicit salting)
- shuffle partitions sized to parallelism (driver may override)
- Arrow batches sized for tile-blocked UDFs
- broadcast threshold generous: every dimension/polygon side we join
  is small by design (FIXTURES.md §2)

``local_frame`` is the one way the package turns driver-side rows into
a relation: a JVM ``LocalRelation`` instead of a Python RDD.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 3/8 of physical RAM: local mode
    runs every task thread in the driver JVM, so the heap is sized for
    cores * in-flight batch memory, leaving the rest to the Python
    workers and the page cache (48g on a 128 GiB box)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram * 3 // 8 // 2**30)}g"


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as a DataFrame whose
    plan is a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, ddl)`` parallelizes a Python RDD: its
    plan is a ``LogicalRDD`` and every action over it runs a job of
    Python tasks (a noop write of a 1-row relation: 150-170 ms, against
    21-25 ms here; local[4]). An Arrow table is shipped to the JVM once
    and planned as a ``LocalTableScan``, whatever
    ``arrow.pyspark.enabled`` says. The schema and the collected rows
    equal the ``createDataFrame`` ones; numpy scalars are accepted as
    well (tests/test_session.py).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "georeader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x cores: keeps every core busy through stragglers without
        # flooding the scheduler; on a real cluster this is set to
        # ~2-3x total executor cores or left to AQE coalescing.
        shuffle_partitions = 2 * cpus

    # Codegen-heavy workloads churn generated classes (AQE re-plans per
    # execution); the JVM default 240 MB code cache fills and the JIT
    # enters a compile storm (measured: 10-30s of compiler time per
    # repeated identical query at local[32]). 1 GB cache stabilizes it
    # — the standard Spark recommendation for long-running sessions.
    java_opts = "-XX:ReservedCodeCacheSize=1g"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Always use the sort-based (Unsafe) shuffle writer. SQL
        # exchanges carry no map-side combiner at the shuffle layer, so
        # with <= 200 reduce partitions Spark picks the bypass-merge
        # writer — R files per MAP TASK, i.e. an M x R file-creation
        # tax that dominates small shuffles on this filesystem
        # (measured: a 96-map x 64-reduce groupBy drops 1.64 s ->
        # 0.38 s). Scale-neutral: past 200 partitions (any production
        # shuffle) bypass never applies anyway.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k rows/batch: with ~1 KB rows and N concurrent tasks in ONE
        # local JVM, 64k-row batches thrash GC (measured 3-6x slowdowns
        # at local[32] under an 8g heap); production executors have
        # per-executor heaps so batch sizing is per-core there too
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
