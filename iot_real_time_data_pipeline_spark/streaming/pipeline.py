"""End-to-end Structured Streaming wrap (SURVEY §3.2 as one query).

``run_stream`` composes: line-delimited JSON file source -> parse ->
validate/alert (the SAME batch expression builders — one code path,
which the reference lacks) -> per-micro-batch:

- event_id dedup within the batch + against already-loaded facts (T5:
  at-least-once delivery + idempotent load, README.md:52);
- routed lake write, ``partitionBy(validation_status, loc_id, date)``
  Parquet (S5: the reference's valid/ / valid/warnings/ / invalid/
  prefixes become partition values -> static partition pruning for
  readers; the date key is SURVEY §4's fix for the reference's
  unprunable layout), with ``alerts_sent`` written back onto lake rows
  from the throttle output (lamda.py:465-471);
- dead-letter parquet sink (S6), partitioned by error class, carrying
  the error message + source sequence (lamda.py:488-530);
- throttled alert sink (S7) — appended to an alerts table;
- incremental star-schema load (S10/T4) appending dims + fact.

Exactly-once comes from two guards: the checkpoint replays an
uncommitted micro-batch, and the ``evt_id`` anti-join against the
loaded fact table drops events a replay (or a re-sent file) delivers
again. The loader passes ``use_watermark=False`` to
``incremental_load``, so the Glue watermark plays no part here.

Scale notes: every per-batch step is a narrow map or a key-bounded
join; the lake write shuffles only to coalesce output files. State on
the throttle path is one tuple per (loc_id, alert_type).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.alerts import with_alerts
from ..functions.validation import attach_validation_arrays
from ..operators.pipeline import exploded_alerts, flat_lake_row, process_events, route
from ..operators.star_schema import incremental_load
from ..sources.events import read_raw_events_stream
from .throttle import throttle_batch_window


def _append_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.exists(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — empty dir on first batch
        return None


def foreach_batch_loader(warehouse_dir: str, jsonl_mirror: bool = False):
    """Returns the foreachBatch callback wiring all sinks under
    ``warehouse_dir``: lake/, dead_letter/, alerts/, star/<table>/.

    ``jsonl_mirror=True`` additionally appends the flat lake rows as
    line-delimited JSON under lake_jsonl/ — the reference producer's
    local debug mirror (S4, producer.py:446-447).
    """

    def _load(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # P5 — empty-input short-circuit (s3-to-redshift.py:55-57):
        # empty micro-batches skip every sink write.
        if batch_df.isEmpty():
            return
        # Fill the source sequence the stream-level parse couldn't
        # assign (monotonically_increasing_id is batch-only); sources
        # that carry a real sequence (Kafka offset) arrive non-null.
        if "source_seq" in batch_df.columns:
            batch_df = batch_df.withColumn(
                "source_seq",
                F.coalesce(
                    F.col("source_seq"),
                    F.monotonically_increasing_id().cast("string"),
                ),
            )
        # Two-phase: persist the boolean flag frame, assemble the
        # error/warning arrays + alerts lazily above the cache (see
        # validation.validate_flags — cheaper cache, compilable codegen
        # regions, and status-only consumers prune the array assembly).
        flagged = process_events(batch_df, assemble=False).persist()
        processed = attach_validation_arrays(with_alerts(flagged))
        try:
            routed = route(processed)

            # Star history, read once per batch: the evt_id anti-join
            # below and the incremental load both use these frames.
            existing = {
                name: df
                for name in ["dim_location", "dim_time", "dim_soil",
                             "dim_weather", "fact_sensor_readings"]
                if (df := _read_or_none(spark, f"{warehouse_dir}/star/{name}")) is not None
            }
            # T5 — idempotency: batch-internal dedup, then anti-join
            # against facts already loaded (replayed batches drop out).
            lake = routed["lake"].dropDuplicates(["event_id"])
            if "fact_sensor_readings" in existing:
                lake = lake.join(
                    existing["fact_sensor_readings"].select(F.col("evt_id").alias("event_id")),
                    on="event_id",
                    how="left_anti",
                )
            lake = lake.persist()

            # S7 — throttled alerts (batch-window approximation inside
            # foreachBatch; the exact stateful variant runs stream-level,
            # see throttle_alerts_stateful). Computed before the lake
            # write so sent alerts can be joined back onto lake rows.
            alerts = throttle_batch_window(exploded_alerts(lake)).persist()
            _append_parquet(alerts, f"{warehouse_dir}/alerts")

            # alerts_sent write-back (lamda.py:465-471): each lake row
            # learns which of its alerts actually cleared the throttle.
            # array_sort makes the array order deterministic.
            sent = alerts.groupBy(F.col("event_id")).agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("alert_type").alias("type"),
                            F.col("priority"),
                            F.col("sent_timestamp"),
                        )
                    )
                ).alias("alerts_sent")
            )
            # S5 — routed lake (flat row format, lamda.py:333-348),
            # partitioned by (status, loc, DATE): the date key is
            # SURVEY §4's fix for the reference's unprunable S3 layout
            # (lamda.py:365-367 comments the date path out) — at scale
            # every time-bounded read prunes statically.
            from ..operators.pipeline import event_time

            flat = (
                flat_lake_row(lake.join(sent, "event_id", "left"))
                .withColumn("loc_id_part", F.coalesce("loc_id", F.lit("unknown")))
                .withColumn(
                    "date",
                    F.coalesce(
                        F.to_date(event_time(F.col("timestamp"))),
                        F.lit("1970-01-01").cast("date"),
                    ),
                )
            )
            _append_parquet(flat, f"{warehouse_dir}/lake",
                            ["validation_status", "loc_id_part", "date"])
            if jsonl_mirror:  # S4 — debug JSONL mirror of the stream
                flat.write.mode("append").json(f"{warehouse_dir}/lake_jsonl")
            # S6 — dead letters, partitioned by error class like the
            # reference's errors/json_decode/ vs errors/processing/
            # prefixes (lamda.py:488-530).
            _append_parquet(routed["dead_letter"], f"{warehouse_dir}/dead_letter",
                            ["error_type"])
            alerts.unpersist()

            # S10/T4 — star-schema incremental append.
            from ..operators.pipeline import to_staging

            # use_watermark=False: this batch is already exactly the
            # new deliveries and the evt_id anti-join above guarantees
            # exactly-once; the T4 watermark would silently drop late /
            # out-of-order arrivals (see incremental_load's docstring).
            new_tables = incremental_load(
                to_staging(lake), existing=existing, dense_keys=False, use_watermark=False,
            )
            for name, df in new_tables.items():
                _append_parquet(df, f"{warehouse_dir}/star/{name}")
            lake.unpersist()
        finally:
            flagged.unpersist()

    return _load


def run_stream(
    spark: SparkSession,
    source_path: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    jsonl_mirror: bool = False,
):
    """Wire the full streaming pipeline; returns the StreamingQuery."""
    raw = read_raw_events_stream(spark, source_path, max_files_per_trigger)
    writer = (
        raw.writeStream.foreachBatch(
            foreach_batch_loader(warehouse_dir, jsonl_mirror=jsonl_mirror)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
