"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); at scale the same settings
hold up: AQE handles post-shuffle skew and partition coalescing, Arrow
accelerates any pandas-UDF boundary, UTC session timezone keeps
timestamp semantics deterministic across engines (the DuckDB oracle
uses naive/UTC timestamps).

Generated code is compiled once per session. Whole-stage codegen keeps
the Janino-compiled classes in an LRU (``spark.sql.codegen.cache.maxEntries``,
100 by default). Query passes reuse their classes in the same cyclic
order, and an LRU smaller than a cycle misses on every lookup, so each
pass recompiled everything it ran. Measured in one session at sf0.001,
a cold pass then a warm pass, compilations with the default cache
against a 4096-entry one:

- the 8 ``perfbench`` ``query_mix`` queries: ~205 cold on both; warm
  168-205 against 0-18;
- the 21 headline queries: 514 / 500 against 468 / 28;
- the registry (223 of its 226 queries run standalone): 4,997 / 4,983
  against 3,126 / 86. The warm pass took 79 s instead of 109 s, and
  Metaspace grew from 189 to 211 MB.

So 4096 holds the largest working set the repository runs. What a warm
pass still compiles is AQE numbering a known stage anew when its inputs
finish in another order. The conf is a static SQL conf, read when the
session's shared state is built: it must be on the builder (a runtime
``spark.conf.set`` is refused), and a session that existed before
``get_spark`` keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bend_archiver_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, pass ``master=None`` with external submit config;
    locally defaults to ``local[$SPARK_GRAFT_CPUS]``, with as many
    shuffle partitions unless *shuffle_partitions* is given.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Naive (no-timezone) parquet timestamps must read as TimestampType
        # in the UTC session, not TIMESTAMP_NTZ: NTZ breaks watermarks
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and long-casts, and the
        # DuckDB oracle sees the same instants as naive/UTC. Matches the
        # reference's string-temporal model (SURVEY §1.2).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # hold every class the registry generates (see module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
