"""SparkSession factory with scale-oriented defaults.

AQE (runtime re-plan + skew-join splitting + partition coalescing) is the
first line of defense for the quadratic candidate join on hot documents;
Arrow is on for every pandas-UDF stage. On a real cluster the same settings
apply — only master/memory change (spark-submit --py-files per north_rule).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "fonduer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Cached stage outputs (extract_candidates_auto's fused frame, the
        # mentions frame) are re-read within the same job graph; columnar
        # compression costs ~2x the cache-write CPU for no benefit at this
        # memory budget (measured: persist tax 1.2s -> 0.5s on the 40k-doc
        # pipeline with compression off).
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        # UI off by default (startup cost); bench --scaling turns it on via
        # env to read per-stage shuffle/CPU metrics from the REST API
        .config("spark.ui.enabled",
                os.environ.get("SPARK_GRAFT_UI", "false"))
        # Straggler mitigation: this sandbox's vCPUs stall unpredictably
        # (hypervisor jitter); on a real cluster the same setting covers slow
        # nodes. Speculation re-launches the slowest tasks.
        # gentle settings: aggressive speculation (1s/2x/0.75) re-launched
        # healthy tasks at every stage tail and cost ~20% wall (measured A/B)
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "2s")
        .config("spark.speculation.multiplier", "3")
        .config("spark.speculation.quantile", "0.9")
        .getOrCreate()
    )


def rows_frame(spark: SparkSession, rows: Iterable[tuple],
               schema: str) -> DataFrame:
    """A frame over driver-side row tuples with the DDL ``schema``, shipped
    to the JVM as one Arrow table. ``createDataFrame`` over a Python list
    plans a PythonRDD that re-runs ``defaultParallelism`` Python tasks, each
    a fixed ~0.2 s of worker CPU, on every action; the Arrow table is read
    in the JVM, also for zero rows."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
