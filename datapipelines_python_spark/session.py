"""SparkSession construction with scale-aware defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
configs apply (AQE handles runtime re-planning / skew; shuffle partitions
are a floor that AQE coalesces down from).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datapipelines_python_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE on (runtime coalescing + skew-join split), Arrow on (fast
    Pandas-UDF boundary), UTC session timezone (deterministic timestamp
    semantics vs the oracle).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split granularity (round-7 sf1-decade finding): the
        # fixtures are single parquet files, and even sf1's 6M-row
        # lineitem compresses under the 128 MB default split — so every
        # scan-rooted stage runs ONE task regardless of cores, and
        # CPU-heavy-per-byte plans (combination explodes, regex fields)
        # serialize entirely. Bytes are the wrong split driver when
        # CPU/byte is high; production tunes maxPartitionBytes to match
        # per-byte CPU cost. SPARK_GRAFT_MAX_PARTITION_BYTES pins it per
        # run (the sf1 scaling battery uses 4m); the 128 MB default is
        # unchanged for correctness runs, where plans not wall-clocks are
        # under test.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clone_session(spark: SparkSession, confs: dict[str, str] | None = None) -> SparkSession:
    """A copy of ``spark`` with ``confs`` set on the copy only.

    An operator that needs a conf of its own runs on a clone, so another
    query on the caller's session never sees it. ``cloneSession`` copies
    every runtime conf, temp view and function of ``spark`` (``newSession``
    copies none of them) and shares its SparkContext and cached data.
    Streaming-query listeners are per session, so the caller's are added
    to the clone: a listener on ``spark`` then sees the micro-batches the
    clone runs. Each clone that starts a query leaves its listener bus on
    the SparkContext.
    """
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in (confs or {}).items():
        clone.conf.set(k, v)
    listeners = spark._jsparkSession.streams().listListeners()
    if len(listeners):
        streams = clone._jsparkSession.streams()
        for listener in listeners:
            streams.addListener(listener)
    return clone


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The driver passes its own SparkSession into ``__spark_entry__`` — only
    runtime-mutable confs can be set there (timezone, AQE toggles).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # pragma: no cover - static conf on some builds
        pass
    return spark
