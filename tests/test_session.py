"""Settings drift: every engine Spark setting is defined once, in
``session.py``, and reaches each kind of session the engine runs in."""

from __future__ import annotations

from pathlib import Path

from iot_real_time_data_pipeline_spark.session import RUNTIME_CONFS, SHUFFLE_KEY

REPO = Path(__file__).resolve().parents[1]


def _missing(spark) -> dict[str, str | None]:
    return {
        k: spark.conf.get(k, None)
        for k, v in RUNTIME_CONFS.items()
        if spark.conf.get(k, None) != v
    }


def test_suite_session_carries_engine_runtime_confs(spark):
    assert _missing(spark) == {}


def test_local_session_shuffles_one_partition_per_core(spark):
    assert spark.conf.get(SHUFFLE_KEY) == str(spark.sparkContext.defaultParallelism)


def test_read_table_applies_engine_runtime_confs_to_plain_session(spark, tmp_path):
    """A caller of ``__spark_entry__`` may hand in a session of its own;
    one ``read_table`` call must leave it with the same runtime settings
    as ``build_session``."""
    from iot_real_time_data_pipeline_spark.entrypoints import read_table

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    plain = spark.newSession()
    for key in RUNTIME_CONFS:
        plain.conf.unset(key)
    assert _missing(plain)
    assert read_table(plain, str(tmp_path), "t").count() == 3
    assert _missing(plain) == {}


def test_read_table_keeps_values_the_session_owner_set(spark, tmp_path):
    """A caller's explicit setting (here: broadcast joins off) survives
    the first, cold ``read_table`` on its session."""
    from iot_real_time_data_pipeline_spark.entrypoints import read_table

    key = "spark.sql.autoBroadcastJoinThreshold"
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    plain = spark.newSession()
    for k in RUNTIME_CONFS:
        plain.conf.unset(k)
    plain.conf.set(key, "-1")
    assert read_table(plain, str(tmp_path), "t").count() == 3
    assert _missing(plain) == {key: "-1"}


def test_only_session_module_builds_sessions():
    needle = "SparkSession" + ".builder"
    offenders = [
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and needle in p.read_text(encoding="utf-8")
    ]
    assert offenders == ["iot_real_time_data_pipeline_spark/session.py"]
