"""The micro-batch loader (``streaming.pipeline.foreach_batch_loader``):
how often it reads the star history, that the traced benchmark run
still sees every layer it aggregates, and that streamed star keys
resolve to exactly one dim row carrying the event's own values."""

from __future__ import annotations

import datetime
import importlib.util
import os

import pytest

from .conftest import event_json

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAR_TABLES = ["dim_location", "dim_time", "dim_soil", "dim_weather", "fact_sensor_readings"]
BASE = datetime.datetime(2024, 3, 1, 6, 0, 0)


def _tracing():
    """``perfbench/tracing.py`` (a script directory, not a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _soil(i: int) -> dict:
    return {"ph": 6.6 + 0.1 * (i % 5), "nitrogen": 100.0 + i,
            "phosphorus": 50.0 + (i % 7), "potassium": 55.0 + (i % 3)}


def _event(i: int, minute: int, **kw) -> str:
    """A healthy loc_1 event: its soil tuple is unique to ``i``, its
    weather tuple repeats with period 5."""
    return event_json(
        event_id=f"evt_{i:03d}",
        timestamp=BASE.replace(minute=minute).isoformat() + "Z",
        sensors={**_soil(i), **kw.pop("sensors", {})},
        weather={"temperature_2m": 20.0 + (i % 5), "rain": 0.1 * (i % 5),
                 "wind_speed_10m": 5.0 + (i % 5)},
        **kw,
    )


def test_loader_reads_each_star_table_once_per_batch(spark, parse_payloads, tmp_path):
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from iot_real_time_data_pipeline_spark.operators import pipeline as ops
    from iot_real_time_data_pipeline_spark.streaming import pipeline as stream

    # Every name the traced benchmark run patches: the loader must keep
    # resolving these at call time for its layer spans to exist.
    patched = [(stream, name) for name in (
        "process_events", "with_alerts", "attach_validation_arrays", "route",
        "flat_lake_row", "exploded_alerts", "throttle_batch_window",
        "incremental_load", "foreach_batch_loader",
    )] + [(ops, "to_staging"), (DataFrameWriter, "parquet"),
          (DataFrameReader, "parquet"), (DataFrame, "isEmpty")]
    originals = [getattr(owner, name) for owner, name in patched]

    tracer = _tracing().Tracer()
    tracer.install()
    try:
        load = stream.foreach_batch_loader(str(tmp_path / "wh"))
        load(parse_payloads([_event(1, 1), _event(2, 2)]), 0)
        # batch 1: a cross-batch replay, a warning, an invalid row and
        # an undecodable payload, so every sink has rows to write.
        load(parse_payloads([
            _event(1, 1), _event(3, 3, sensors={"humidity": 93.0}),
            _event(4, 4, loc_id="loc_9"), "<<garbage>>",
        ]), 1)
    finally:
        tracer.uninstall()

    assert [getattr(owner, name) for owner, name in patched] == originals

    names = [s["name"] for s in tracer.spans if s["batch"] == 1]
    assert names.count("loader.history_read") == len(STAR_TABLES)
    assert [s["name"] for s in tracer.spans if s["batch"] == 0].count("loader.history_read") == 0
    expected = {
        "loader.add_batch", "loader.is_empty",
        "validation.process_events", "validation.with_alerts",
        "validation.attach_validation_arrays", "validation.route",
        "validation.flat_lake_row", "validation.exploded_alerts",
        "validation.to_staging", "throttle.build", "star_schema.build",
        "sink.alerts", "sink.lake", "sink.dead_letter", "sink.dims", "sink.fact",
    }
    assert expected <= set(names), expected - set(names)

    fact = spark.read.parquet(str(tmp_path / "wh" / "star" / "fact_sensor_readings"))
    assert sorted(r.evt_id for r in fact.collect()) == ["evt_001", "evt_002", "evt_003"]


@pytest.mark.slow
def test_streamed_star_keys_resolve_to_the_events_own_dim_rows(spark, tmp_path):
    from iot_real_time_data_pipeline_spark.streaming import run_stream

    src = tmp_path / "events_src"
    src.mkdir()
    wh = tmp_path / "wh"
    files = [
        [_event(i, i) for i in range(1, 7)],
        # replays evt_002 and evt_005; evt_011/evt_012 repeat the soil
        # and weather tuples of evt_001/evt_002, so their facts must
        # resolve to dim rows an earlier batch loaded.
        [_event(i, i) for i in (2, 5, 7, 8, 9, 10)]
        + [_event(11, 11, sensors=_soil(1)), _event(12, 12, sensors=_soil(2))],
        [_event(i, i) for i in (1, 13, 14, 15)]
        + [_event(16, 16, sensors={"humidity": 93.0})],
    ]
    for i, lines in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(lines) + "\n")

    q = run_stream(spark, str(src), str(wh), str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert q.awaitTermination(480), "stream did not finish (host-load timeout, not a data bug)"

    star = {t: [r.asDict() for r in spark.read.parquet(str(wh / "star" / t)).collect()]
            for t in STAR_TABLES}
    facts = star["fact_sensor_readings"]
    assert sorted(f["evt_id"] for f in facts) == [f"evt_{i:03d}" for i in range(1, 17)]

    dims = {}
    for table, key in [("dim_location", "location_key"), ("dim_soil", "soil_key"),
                       ("dim_weather", "weather_key"), ("dim_time", "full_date")]:
        keys = [r[key] for r in star[table]]
        assert len(keys) == len(set(keys)), f"{table}.{key} not unique"
        dims[table] = {r[key]: r for r in star[table]}
    assert len(dims["dim_soil"]) < len(facts), "no fact reused an earlier batch's soil row"

    lake_rows = spark.read.parquet(str(wh / "lake")).collect()
    lake = {r["event_id"]: r.asDict() for r in lake_rows}
    assert len(lake) == len(lake_rows) == len(facts), "a replay reached the lake"
    for f in facts:
        row = lake[f["evt_id"]]
        loc = dims["dim_location"][f["location_key"]]
        assert loc["loc_id"] == row["loc_id"]
        soil = dims["dim_soil"][f["soil_key"]]
        for c in ("ph", "nitrogen", "phosphorus", "potassium"):
            assert soil[c] == float(row[f"sensor_data_{c}"]), (f["evt_id"], c)
        weather = dims["dim_weather"][f["weather_key"]]
        for dim_col, lake_col in [
            ("weather_temperature", "temperature_2m"), ("weather_humidity", "relative_humidity_2m"),
            ("wind_speed", "wind_speed_10m"), ("wind_direction", "wind_direction_10m"),
            ("rain", "rain"), ("surface_pressure", "surface_pressure"),
        ]:
            assert weather[dim_col] == row[f"weather_data_{lake_col}"], (f["evt_id"], dim_col)
        assert f["full_date"] in dims["dim_time"]

