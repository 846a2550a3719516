"""SparkSession builder + engine config validation.

Reference parity: the reference fails fast when required env config is
missing (``main.py:76-87``, A24 in SURVEY §2). Here config is the Spark
conf itself; :func:`validate_config` checks the handful of settings the
engine relies on for correctness (UTC session timezone, Arrow enabled)
and surfaces them in one place.

Scale notes (100 TB): AQE is on so shuffle partition counts, skew joins
and empty-partition coalescing are re-planned at runtime from real map
output sizes; ``spark.sql.shuffle.partitions`` here is only the local
test default — on a real cluster set it ~2-3x total cores and let AQE
coalesce down. Timestamps are pinned to UTC so results do not depend on
executor-local timezones (the reference has a local-time bug at
``db_utils.py:160-163`` that we deliberately do not replicate).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf the engine requires for deterministic, oracle-checkable results.
REQUIRED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Performance conf applied by default (all overridable by caller).
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local default; cluster deployments size this to cores and let AQE coalesce
    "spark.sql.shuffle.partitions": str(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # fixture events.parquet stores TIMESTAMP(NANOS); read as long + convert
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # one round of IndexClient searches (seven modes) uses more generated
    # classes than the default 100 entries hold; at 100, every warm
    # search recompiles what the previous mode evicted
    "spark.sql.codegen.cache.maxEntries": "1000",
    # the cache keys on generated source; with the stage id in the class
    # name, the same stage numbered differently by adaptive execution
    # (stage completion order varies run to run) misses and recompiles
    "spark.sql.codegen.useIdInClassName": "false",
    # reliable checkpoints (reliable_checkpoint under a checkpoint dir,
    # e.g. one per foreachBatch micro-batch) are deleted once the frame
    # that owns them is garbage-collected, instead of accumulating
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


class ConfigError(RuntimeError):
    """Raised when the session is missing conf the engine depends on."""


def get_spark(
    app_name: str = "bakasura-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and the bench harness share one code path; on
    a cluster pass ``master=None`` with an externally configured
    SparkSession instead.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    for k, v in {**DEFAULT_CONF, **REQUIRED_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    validate_config(spark)
    return spark


def validate_config(spark: SparkSession) -> None:
    """Fail fast when conf required for correctness is missing (A24)."""
    missing = []
    for key, want in REQUIRED_CONF.items():
        got = spark.conf.get(key, None)
        if got is None or got.lower() != want.lower():
            missing.append(f"{key}={got!r} (want {want!r})")
    if missing:
        raise ConfigError("engine session misconfigured: " + "; ".join(missing))


def reliable_checkpoint(df):
    """Materialize ``df`` now and truncate its lineage, surviving
    executor loss when the deployment provides reliable storage.

    This is the engine's one materialization primitive: every share
    point and lineage-truncation point (iterative union-find
    contraction, PageRank's transition matrix and sweeps,
    incremental-index anti-joins, foreachBatch write plans, the
    ``IndexClient.store`` probe) routes through here, and nothing else
    persists, caches or checkpoints a frame (a tier-1 AST scan enforces
    it). Checkpoints are eager: under AQE a lazy checkpoint of a plan
    with a shuffle runs its map stage at construction anyway. A released
    frame's blocks (and, with ``cleanCheckpoints``, its reliable files)
    are cleaned once it is garbage-collected, so no caller owns an
    unpersist.

    Local checkpoints keep the materialized blocks on executor block
    managers only — fine on ``local[32]``, but on a real cluster one
    lost executor aborts the whole job and restarts it from zero. When
    a checkpoint directory is configured (call ``sc.setCheckpointDir(...)``,
    or set ``spark.checkpoint.dir`` and this helper applies it to the
    context on first use) the reliable ``df.checkpoint()`` path is used
    instead: blocks land on shared storage (HDFS/S3) and survive
    executor loss. With no directory configured it falls back to
    ``localCheckpoint`` — identical plan shape, weaker fault-tolerance,
    zero extra infra.
    """
    sc = df.sparkSession.sparkContext
    ckdir = sc.getCheckpointDir()
    if not ckdir:
        conf_dir = df.sparkSession.conf.get("spark.checkpoint.dir", None)
        if conf_dir:
            sc.setCheckpointDir(conf_dir)
            ckdir = conf_dir
    if ckdir:
        return df.checkpoint()
    return df.localCheckpoint()
