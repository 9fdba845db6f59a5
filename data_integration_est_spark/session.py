"""SparkSession factory with scale-appropriate defaults.

Test/bench runs happen on ``local[$SPARK_GRAFT_CPUS]`` (single JVM; by
default the CPUs this process may run on); the configuration below is
chosen so the same code runs unchanged on a real multi-executor cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
- Arrow on (the few pandas-interop paths are batch-vectorized)
- shuffle partitions sized to the local core count; at cluster scale this
  is expected to be overridden via ``spark.sql.shuffle.partitions`` /
  left to AQE's coalescing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # managed tables (bucketed writes) land in tmp, not the repo cwd
    "spark.sql.warehouse.dir": os.path.join(tempfile.gettempdir(), "di_spark_warehouse"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: keep partitions large enough to amortize task overhead
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # checkpoint-file checksums (Spark 4.1 default-on) stall state-store
    # commits on local filesystems; corruption detection matters on object
    # stores, not local/dev runs — clusters can re-enable explicitly.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


def _cpus() -> str:
    """Local parallelism: ``SPARK_GRAFT_CPUS`` when set (a deployment
    setting), else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "data_integration_est_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with the engine's default config."""
    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(master or f"local[{_cpus()}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(_cpus()))
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
