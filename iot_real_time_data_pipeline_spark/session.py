"""The one SparkSession factory: every engine Spark setting lives here.

The settings below are chosen with the 1000-executor / 100 TB target in
mind, but they are measured only on ``local[N]`` masters (one JVM):

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
- Arrow on: the few Pandas-UDF operators (stateful throttle, multimodal
  decode) move data in columnar batches, not pickled rows.
- On a local master ``spark.sql.shuffle.partitions`` is the core count
  (``defaultParallelism``): one initial shuffle task per core, which AQE
  coalesces down further. On a cluster master the rule is not applied:
  there ``defaultParallelism`` at session start counts only the
  executors registered so far (it can be 2), AQE cannot split
  non-skewed partitions, and stateful streaming operators freeze the
  count into their checkpoint. A cluster run sets the count itself
  (``extra_conf`` or ``--conf``); no cluster value has been measured.

Two lists split the settings by when Spark accepts them. ``STATIC_CONFS``
only take effect when the JVM / SparkContext starts, so only
``build_session`` can apply them. ``RUNTIME_CONFS`` are SQL confs that
``apply_engine_confs`` fills into any live session; ``entrypoints.read_table``
calls it because a caller of ``__spark_entry__`` may hand in a plain
session of its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

STATIC_CONFS: dict[str, str] = {
    # A full bench session generates more whole-stage-codegen classes
    # than the default 240 MB JIT code cache holds; once it fills, the
    # JIT stops compiling and a roaming subset of queries runs
    # interpreted at a sustained 2-10x (BENCH_DETAIL_r12_gc16.json).
    # Long-lived executors hit the same wall: on a cluster
    # spark.executor.extraJavaOptions gets the same flag.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    # The default global codegen class cache (100 entries) evicts each
    # query's classes before its next run, so every repeat re-runs
    # Janino and starts HotSpot cold on a new class identity.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # PySpark 4 captures a Python stack trace per DataFrame/Column API
    # call for error context (~1 ms each); at this engine's expression
    # density that is ~1 s per pipeline construction. Diagnostic only.
    # For sessions built elsewhere, entrypoints pre-seeds PySpark's
    # cached reading of this conf instead.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Datetime-part extraction (dim_time) must agree with the DuckDB
    # oracle, which sees naive (UTC-equivalent) timestamps.
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; dims here are tiny and the
    # documents/embeddings side tables comfortably broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # The layered validation plan (~100 aliased boolean columns across
    # stacked projections) makes InferFiltersFromConstraints explode
    # combinatorially when a Filter sits above it: minutes of driver CPU
    # at plan time. Constraint propagation buys nothing for this query
    # surface (PERF.md).
    "spark.sql.constraintPropagation.enabled": "false",
    # InferFiltersFromGenerate turns every explode(f(x)) into a
    # size(f(x)) > 0 pre-filter that pushdown then re-inlines below the
    # repartition: the whole k-gram token-hash transform re-evaluated
    # once per chained element_at on the unsplit scan task (93 s vs
    # 1.3-2.6 s for docs_repeated_spans at sf0.1). The inferred filter
    # only skips empty arrays, which a non-outer Generate drops anyway,
    # so excluding it is semantics-free. Pinned by
    # test_generate_infers_no_expensive_scan_filter.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # The input events.parquet stores ``ts`` as TIMESTAMP(NANOS),
    # which Spark 4 rejects by default; read it as long nanos and let
    # ``entrypoints.iot_raw_events`` convert it back losslessly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def apply_engine_confs(spark: SparkSession) -> None:
    """Set each ``RUNTIME_CONFS`` entry that ``spark`` has not set itself.

    A value the session's owner chose wins: a session that turned
    broadcast joins or AQE off for memory safety keeps them off.
    Idempotent.
    """
    for key, value in RUNTIME_CONFS.items():
        if spark.conf.get(key, None) is None:
            spark.conf.set(key, value)


def build_session(
    app_name: str = "iot-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A session carrying every engine setting.

    ``extra_conf`` is for size settings (driver memory, warehouse dir)
    and overrides any entry of the two lists it repeats.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = {
        **STATIC_CONFS,
        **RUNTIME_CONFS,
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        spark.conf.set(SHUFFLE_KEY, str(sc.defaultParallelism))
    return spark
