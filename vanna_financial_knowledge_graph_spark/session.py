"""SparkSession factory with scale-oriented defaults, and local_frame, the
one way the package turns driver rows into a DataFrame.

Tuned for local[$SPARK_GRAFT_CPUS] in this sandbox but every knob is the one
you would set on a 1000-executor cluster: AQE (runtime coalesce + skew-join
splitting), Arrow-batched Python exchange, an explicit shuffle-partition
count, and a generous broadcast threshold so dimension/gazetteer joins never
shuffle the fact side.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver rows (tuples or Rows, in schema field order) -> a DataFrame
    planned as a LocalTableScan.

    `spark.createDataFrame(<list>)` pickles the rows into a Python RDD
    (`Scan ExistingRDD`), so every scan of it runs a Python-worker job;
    built from a pyarrow.Table the same rows become a LocalRelation that
    scans inside the JVM with no job at all. `schema` (a StructType or a
    DDL string) fixes the field names, types and nullability."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "vkg-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    n = cpus if cpus is not None else default_parallelism()
    sp = shuffle_partitions if shuffle_partitions is not None else max(2 * n, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting (hot
        # entities like AAPL/SEC produce skewed shuffle blocks; AQE splits
        # them, complementing our explicit two-phase salted aggregations).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        # This workload is CPU-per-row heavy (trie matching, chunking) over
        # zstd-compressed text: at the default 128MB split / 64MB advisory
        # size a whole table fits in 1-2 tasks and UDF stages serialize.
        # Split small so scan/shuffle parallelism tracks the core count.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(8 * 1024 * 1024),
        )
        # Arrow for every pandas UDF / mapInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Gazetteer / canonical-map / ontology joins must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(128 * 1024 * 1024))
        # local-mode driver == executor: size the heap to the thread count
        # (32 concurrent tasks over binary html columns thrash an 8g heap
        # with GC that also stalls every later small-job stage)
        .config(
            "spark.driver.memory",
            os.environ.get("VKG_DRIVER_MEM", f"{max(16, n)}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # make the JVM actually BE an n-core machine: without this, a
        # local[2] session on a 32-vCPU host still sizes GC worker threads,
        # JIT compiler threads and IO pools from the 32 host CPUs — i.e. a
        # "2-core cluster" borrowing 30 cores of background work, which
        # corrupts any N vs 4N scaling comparison
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={n}",
        )
        # zstd everywhere (same choice as the reference's parquet backend):
        # html/text columns compress 3-5x, and this sandbox's virtio disk is
        # throttled — fewer bytes written is the single biggest stabilizer
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # shuffle/broadcast scratch on tmpfs: the sandbox's /tmp sits on a
        # virtio disk that throttles erratically (32-256 MB/s), which shows
        # up as random multi-second stalls in whatever stage shuffles next
        .config(
            "spark.local.dir",
            os.environ.get("VKG_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # saved-table warehouse (bucketed tables, sources/bucketed.py) —
        # kept off the repo tree; on a cluster this is the Iceberg catalog
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("VKG_WAREHOUSE", "/tmp/vkg_warehouse"),
        )
    )
    return builder.getOrCreate()
