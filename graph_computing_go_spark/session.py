"""SparkSession factory with scale-oriented defaults.

The reference tunes a goroutine pool (4-12 workers) with a memory watchdog
(/root/reference/internal/openAlexEntropy/openAlexEntropy.go:143-200); on Spark
the analogue is AQE (runtime coalescing / skew-join splitting) plus sane shuffle
partition sizing, which we switch on here once for every entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local mode (local[N]).  On a real cluster the same
# code runs unchanged via spark-submit --py-files; only master and
# shuffle-partitions change.
_DEFAULTS = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / toPandas boundary (BASELINE.json:15 —
    # vectorized Arrow transfer, never per-row Python pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Stop tiny dimension tables from ever sort-merging.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamps in tests.
    "spark.sql.session.timeZone": "UTC",
    # Silence the Spark 4 ANSI-mode surprises for modulo/cast parity with the
    # DuckDB oracles (we never rely on silent overflow).
    "spark.sql.ansi.enabled": "false",
}


def eager_results() -> bool:
    """True (the default): group-grain results ``localCheckpoint`` before
    returning so each operator's internal caches retire with the call
    instead of accreting across a long many-query driver session.
    ``SPARK_GRAFT_EAGER=0`` keeps results lazy (caches left to the caller)
    — ``tools/plandump.py`` uses it so the plan audit sees the full
    physical plan rather than the post-checkpoint scan."""
    return os.environ.get("SPARK_GRAFT_EAGER", "1") != "0"


def compute_once(df):
    """``df`` as a lazy ``localCheckpoint`` — for a DERIVED table that one
    query consumes more than once.  ``.cache()`` does not serve that case
    under Spark 4.1's AQE: an exchange whose subtree reads a cached relation
    (a ``TableCacheQueryStage``, whose stage id enters the exchange's
    canonical form) is never reused, so every consumer re-runs every
    shuffle above the cache.  Exchanges above a checkpoint scan ARE reused,
    and the checkpoint itself computes once.  Never pass a caller's input:
    only the operator that derived a table may pin it.
    ``SPARK_GRAFT_EAGER=0`` returns ``df`` unchanged so the plan audit sees
    the full lineage."""
    return df.localCheckpoint(eager=False) if eager_results() else df


def get_spark(
    app_name: str = "graph-computing-go-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox and is
    left unset under spark-submit (cluster manager decides).
    ``shuffle_partitions`` defaults to 2x the local cores — small enough that
    sf<=0.1 partitions stay cache-resident, large enough to exercise
    multi-partition shuffles exactly like a real cluster would.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_ENV_LOADED" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else max(cpus * 2, 8)
    )
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
