"""Gap-based sessionization, streaming and batch.

``sessionize_stream_watermarked`` is Spark's native ``session_window``
under an event-time watermark (pure JVM).  The batch twin
(``sessionize_batch``) computes the same sessions with window functions
(lag → gap flag → running session id), so the two paths cross-check — the
same kappa-architecture test as streaming/events.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def sessionize_stream_watermarked(
    spark: SparkSession,
    source_dir: str,
    gap_minutes: int = 30,
    max_lateness: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event-time-watermark sessionization via Spark's NATIVE
    ``session_window``.

    Semantics: sessions stay buffered in state until the watermark
    (max event time − ``max_lateness``) passes session end + gap, so an
    out-of-order event arriving in a LATER micro-batch — even one that
    bridges two provisional sessions into one — lands in the right session
    as long as it is younger than the watermark; events older than the
    watermark are dropped, also by spec.

    Boundary contract: ``session_window`` windows are end-exclusive
    (an event exactly ``gap`` after the previous one starts a NEW session),
    whereas the batch twin's ``lag > gap`` keeps it in the same session —
    equal results whenever no inter-event gap is exactly ``gap``.

    Scale shape: built-in streaming session aggregation — incremental state
    store keyed by (user, session), watermark-driven eviction, no Python in
    the loop at all.
    """
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts", "value")
    )
    return (
        stream.withWatermark("ts", max_lateness)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("session_window")
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Window-function twin: lag → new-session flag → running sum = session
    ordinal → group.  Returns every session including each user's last."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.lit(gap_minutes * 60)
    # cast-to-double keeps sub-second precision (unix_timestamp truncates)
    flagged = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).withColumn(
        "new_session",
        (
            (
                F.col("ts").cast("double")
                - F.lag(F.col("ts").cast("double")).over(w)
            )
            > gap
        ).cast("int"),
    )
    flagged = flagged.withColumn(
        "session_no",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
