"""SparkSession factory tuned for this engine.

Local mode stands in for the cluster; all sizing knobs are per-core so the
same settings scale to multi-executor deployments (see README scale notes).
"""

from __future__ import annotations

import os


def get_spark(app_name: str = "pisa-spark", cores: int | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None):
    from pyspark.sql import SparkSession

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 2 waves of shuffle tasks per core: stragglers overlap instead of
    # tail-blocking the stage; AQE coalescing trims the excess when small
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # glibc malloc in the python workers must not mmap/munmap per Arrow
    # batch: at high task concurrency the kernel-side mmap lock + TLB
    # shootdowns serialize every worker on the box (measured 10-20x
    # slowdown of Arrow transfer at 16+ workers). Raising the thresholds
    # keeps batch buffers on the free lists. Must be in the environment
    # BEFORE the JVM spawns (workers inherit it through the daemon).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    # Shuffle/spill dir: tmpfs when available. A cluster deployment puts
    # spark.local.dir on executor-local NVMe; on this single box every
    # executor thread would otherwise contend on one ext4 journal.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Wave balance for file scans: Spark plans splits of size
        # min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum)).
        # The default minPartitionNum (= core count) targets ONE wave of
        # scan tasks, so a corpus whose packed size lands just above
        # cores x 128MB plans cores+epsilon tasks -> ceil() quantizes to 2
        # waves with the second nearly empty (measured: the 1.2M-doc bench
        # corpus planned 11 splits at 8 cores = 69% scan utilization, the
        # whole window-14 tokenize-phase scaling loss). Target 4 waves
        # instead: stragglers overlap, and at production scale
        # (totalBytes/4N >= 128MB) the cap binds and this is a no-op.
        .config("spark.sql.files.minPartitionNum", str(cores * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, rows: list, schema: str):
    """A DataFrame of driver-side rows (tuples in `schema`'s DDL column
    order), shipped as one Arrow table: a LocalRelation in the plan.
    createDataFrame(list) gives a pickled-row RDD scan instead, and every
    execution that broadcasts it rebuilds the broadcast through a
    Python-worker job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)],
                     schema=arrow)
    return spark.createDataFrame(table, struct)
