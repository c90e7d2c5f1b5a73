"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned partition counts when the
  same plans run on a real cluster.
- ``spark.sql.shuffle.partitions`` is only a *pre-AQE upper bound*; at test
  scale we keep it near core count so local runs are not dominated by empty
  partition scheduling, while AQE coalescing keeps the same code correct at
  cluster scale.
- Arrow enabled for any pandas interchange (the hot path uses none).
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver environments (parquet stores UTC instants).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The config pins ``get_spark`` applies before any ``extra_conf``.

    Read at call time from ``$SPARK_GRAFT_CPUS``; the ``spark.sql.*``
    keys here are also the ones a vanilla session leaves at Spark's
    defaults (``tools/compare.vanilla_session``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else int(cpus)
        ),
        "spark.sql.session.timeZone": "UTC",
        # Parquet files written without the UTC-adjusted flag are inferred
        # as TIMESTAMP_NTZ by Spark 4.x; that type is rejected by
        # unix_micros and by withWatermark (streaming event time). With
        # the session tz pinned to UTC the instant semantics are
        # identical, so keep the classic TIMESTAMP inference for a stable
        # dtype contract across driver environments.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep splits big enough that sf0.1 files don't over-partition.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # no [Stage n:> bars interleaved with a tool's own output
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }


def get_spark(
    app_name: str = "insect-observation-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured; on a real cluster pass ``master=None`` with
    ``--master`` supplied by spark-submit.
    """
    if shuffle_partitions is not None and shuffle_partitions < 1:
        # loud instead of a falsy-zero fallback (round-13 review): a
        # computed 0 silently became the 32-partition default
        raise ValueError(
            f"shuffle_partitions must be >= 1, got {shuffle_partitions!r}"
        )
    # read at CALL time, for both master and partitions (round-13
    # review: the old import-time DEFAULT_SHUFFLE_PARTITIONS snapshot
    # could disagree with a later env change that master picked up)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")

    conf = session_conf(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
