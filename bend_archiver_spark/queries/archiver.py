"""Archiver-parity queries — the reference's operator surface (SURVEY §2
Table A) expressed as distributed Spark queries over the test tables.

Each query exercises the *semantics* the reference implements
(predicate scans, split planning, scalar aggregates, rollups,
verification protocol) as Catalyst-optimized DataFrame plans. The
`lineitem` integer key plays the split key; `events.ts` plays the time
split key (FIXTURES.md §F6 binding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import register, t

# A generated split predicate ANDed with a user predicate, as the
# worker does per batch (reference worker/worker.go:45-71).
_SPLIT_PRED = "(l_orderkey >= 100 and l_orderkey < 600)"
_USER_PRED = "l_quantity > 10"


@register(
    "scan_predicate",
    oracle=f"""
    SELECT * FROM lineitem
    WHERE {_SPLIT_PRED} AND ({_USER_PRED})
    """,
    tags=("archiver", "scan"),
)
def scan_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row predicate scan (A1-A4): SELECT * with a split-range
    predicate ANDed to the user's where-condition. Catalyst pushes both
    conjuncts into the parquet scan (reference pushes them as SQL text,
    source/mysql.go:182-296)."""
    return t(spark, sf_dir, "lineitem").filter(
        F.expr(f"{_SPLIT_PRED} AND ({_USER_PRED})")
    )


@register(
    "agg_count_filtered",
    oracle=f"SELECT COUNT(*) AS cnt FROM lineitem WHERE {_USER_PRED}",
    tags=("archiver", "agg"),
)
def agg_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered COUNT(*) (A10, GetSourceReadRowsCount,
    source/mysql.go:67-77)."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(_USER_PRED)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "agg_minmax_key",
    oracle=f"""
    SELECT COALESCE(MIN(l_orderkey), 0) AS min_key,
           COALESCE(MAX(l_orderkey), 0) AS max_key
    FROM lineitem WHERE {_USER_PRED}
    """,
    tags=("archiver", "agg"),
)
def agg_minmax_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-key bounds probe (A11, GetMinMaxSplitKey,
    source/mysql.go:79-114) with the COALESCE(...,0) empty-table
    sentinel the Postgres/Oracle drivers use
    (source/postgres.go:116)."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(_USER_PRED)
        .agg(
            F.coalesce(F.min("l_orderkey"), F.lit(0)).alias("min_key"),
            F.coalesce(F.max("l_orderkey"), F.lit(0)).alias("max_key"),
        )
    )


@register(
    "agg_minmax_time",
    oracle="""
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events WHERE event_type <> 'error'
    """,
    tags=("archiver", "agg"),
)
def agg_minmax_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-key bounds probe returning formatted strings (A12,
    GetMinMaxTimeSplitKey, source/mysql.go:116-132 — temporal values
    travel as '2006-01-02 15:04:05'-format strings)."""
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        )
    )


@register(
    "split_key_buckets",
    oracle="""
    SELECT l_orderkey // 500 AS bucket_id,
           COUNT(*) AS rows_in_batch,
           MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key
    FROM lineitem
    GROUP BY 1
    """,
    headline=True,
    tags=("archiver", "split"),
)
def split_key_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-range batch assignment as a distributed query (A5-A7): every
    row mapped to its half-open ``[b*500, (b+1)*500)`` batch. This is
    the declarative form of SplitCondition (source/source.go:66-77) —
    one partial-aggregated shuffle instead of N range scans."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.expr("l_orderkey div 500").alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).alias("rows_in_batch"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


@register(
    "split_time_buckets",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS rows_in_window,
           COUNT(DISTINCT user_id) AS users
    FROM events
    GROUP BY 1
    """,
    headline=True,
    tags=("archiver", "split"),
)
def split_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window batch assignment (A8): tumbling day windows over the
    time split key — the declarative form of
    SplitConditionAccordingToTimeSplitKey (source/source.go:130-162).
    Where the reference is forced sequential (LIMIT/OFFSET hazard,
    worker/worker.go:139-143), this shuffles once and parallelizes
    freely."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("rows_in_window"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@register(
    "rollup_tables_count",
    oracle="""
    SELECT 'orders' AS table_name, COUNT(*) AS row_cnt FROM orders
    UNION ALL
    SELECT 'lineitem' AS table_name, COUNT(*) AS row_cnt FROM lineitem
    UNION ALL
    SELECT 'events' AS table_name, COUNT(*) AS row_cnt FROM events
    """,
    tags=("archiver", "agg"),
)
def rollup_tables_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table count rollup (A13, GetAllSourceReadRowsCount,
    source/mysql.go:353-383): per-table counts unioned — the engine's
    analog of summing filtered counts across discovered tables."""
    parts = []
    for name in ("orders", "lineitem", "events"):
        parts.append(
            t(spark, sf_dir, name).agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).alias("row_cnt"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "adaptive_batch_plan",
    oracle="""
    WITH probe AS (
      SELECT COALESCE(MIN(l_orderkey), 0) AS min_key,
             COALESCE(MAX(l_orderkey), 0) AS max_key,
             COUNT(*) AS row_cnt
      FROM lineitem
    )
    SELECT min_key, max_key, row_cnt,
           (max_key - min_key + 1) AS range_size,
           CASE
             WHEN row_cnt <= 1000 THEN max_key - min_key + 1
             WHEN (max_key - min_key + 1) // row_cnt >= 10 THEN 5000
             ELSE 1000
           END AS adjusted_batch
    FROM probe
    """,
    tags=("archiver", "plan"),
)
def adaptive_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-adaptive batch sizing as a query (A18,
    AdjustBatchSizeAccordingToSourceDbTable, source/mysql.go:43-65):
    the bounds+count probe and the density heuristic in one plan,
    batchSize=1000."""
    probe = t(spark, sf_dir, "lineitem").agg(
        F.coalesce(F.min("l_orderkey"), F.lit(0)).alias("min_key"),
        F.coalesce(F.max("l_orderkey"), F.lit(0)).alias("max_key"),
        F.count(F.lit(1)).alias("row_cnt"),
    )
    return probe.select(
        "min_key",
        "max_key",
        "row_cnt",
        (F.col("max_key") - F.col("min_key") + 1).alias("range_size"),
        F.when(
            F.col("row_cnt") <= 1000, F.col("max_key") - F.col("min_key") + 1
        )
        .when(
            F.expr("(max_key - min_key + 1) div row_cnt") >= 10, F.lit(5000)
        )
        .otherwise(F.lit(1000))
        .cast("bigint")
        .alias("adjusted_batch"),
    )


@register(
    "verify_archive_counts",
    oracle=f"""
    WITH source_side AS (
      SELECT COUNT(*) AS source_rows FROM lineitem WHERE {_USER_PRED}
    ),
    target_side AS (
      SELECT COUNT(*) AS target_rows FROM lineitem
      WHERE ({_USER_PRED}) AND l_linenumber <= 4
    )
    SELECT source_rows, target_rows,
           (source_rows = target_rows) AS is_correct
    FROM source_side, target_side
    """,
    tags=("archiver", "verify"),
)
def verify_archive_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verification contract (A31, IsWorkerCorrect,
    worker/worker.go:230-242): filtered source count vs target count,
    equality = archive correct. The 'target' here is a deliberately
    incomplete subset so the check exercises the failure branch too."""
    li = t(spark, sf_dir, "lineitem")
    src = li.filter(_USER_PRED).agg(F.count(F.lit(1)).alias("source_rows"))
    tgt = (
        li.filter(_USER_PRED)
        .filter(F.col("l_linenumber") <= 4)
        .agg(F.count(F.lit(1)).alias("target_rows"))
    )
    return src.crossJoin(tgt).select(
        "source_rows",
        "target_rows",
        (F.col("source_rows") == F.col("target_rows")).alias("is_correct"),
    )


@register(
    "events_latest_snapshot",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value, n_events
    FROM ranked WHERE rn = 1
    """,
    tags=("archiver", "snapshot"),
)
def events_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key snapshot compaction: collapse the
    append-only event archive to each user's most recent row (ties on
    ts break by event_id, so the winner is total-order deterministic).
    This is the read-side complement of the reference's append-only
    archive loop — the CDC-style 'current state' view a consumer
    materializes from it. One hash exchange on the key serves both
    the row_number and the per-key count."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            "n_events",
        )
    )


def _morton_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB-side Morton interleave, identical to
    maintenance.zorder_value (exact integer bit ops both engines)."""
    terms = []
    mask = (1 << bits) - 1
    for b in range(bits):
        terms.append(f"(((({x}) & {mask}) >> {b}) & 1) << {2 * b}")
        terms.append(f"(((({y}) & {mask}) >> {b}) & 1) << {2 * b + 1}")
    return "(" + " + ".join(f"({t})" for t in terms) + ")"


@register(
    "zorder_bucket_stats",
    oracle=f"""
    WITH z AS (
      SELECT l_orderkey, l_partkey,
             {_morton_sql('l_orderkey', 'l_partkey')} AS zval
      FROM lineitem)
    SELECT CAST(zval >> 20 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_ok,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_ok,
           CAST(MIN(l_partkey) AS BIGINT) AS min_pk,
           CAST(MAX(l_partkey) AS BIGINT) AS max_pk
    FROM z GROUP BY 1
    """,
    tags=("archiver", "layout", "zorder"),
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) bucket profile of lineitem over
    (l_orderkey, l_partkey): interleave the low 16 bits of both keys,
    bucket by the top z-bits, and report each bucket's key envelopes.
    This is the planning/audit view of a Z-order layout
    (maintenance.zorder_value): tight per-bucket min/max on BOTH keys is what
    lets parquet row-group stats prune scans filtered on either key
    at 100 TB. Exact integer bit arithmetic in both engines."""
    from ..maintenance import zorder_value

    li = t(spark, sf_dir, "lineitem")
    z = zorder_value(F.col("l_orderkey"), F.col("l_partkey"))
    return (
        li.withColumn("zval", z)
        .groupBy(
            F.shiftright(F.col("zval"), 20).cast("bigint").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_ok"),
            F.max("l_orderkey").cast("bigint").alias("max_ok"),
            F.min("l_partkey").cast("bigint").alias("min_pk"),
            F.max("l_partkey").cast("bigint").alias("max_pk"),
        )
    )


@register(
    "verify_quality_constraints",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS fk_violations
      FROM o LEFT JOIN customer ON c_custkey = o_custkey
      WHERE c_custkey IS NULL),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS null_keys,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS duplicate_keys,
             CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
               AS nonpositive_prices,
             CAST(COUNT(*) FILTER (
               WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
               AS bad_status
      FROM o)
    SELECT n_rows, null_keys, duplicate_keys, nonpositive_prices,
           bad_status, fk_violations,
           (null_keys = 0 AND duplicate_keys = 0
            AND nonpositive_prices = 0 AND bad_status = 0
            AND fk_violations = 0) AS all_pass
    FROM agg, fk
    """,
    tags=("archiver", "verify", "quality"),
)
def verify_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the archived orders table:
    key completeness + uniqueness, value range, enum membership, and
    referential integrity against customer — the expectation checks a
    target-side verifier runs after every archive batch, extending the
    reference's count-only verification (A31, worker/worker.go:230).
    The row-local rules compute in ONE combinable pass; uniqueness
    rides the same aggregate via COUNT(*) - COUNT(DISTINCT); the FK
    probe is an anti-join count (customer keys are scale-linear, so
    no broadcast hint — stats elect it small, shuffle at 100x)."""
    o = t(spark, sf_dir, "orders")
    cust_keys = t(spark, sf_dir, "customer").select("c_custkey")
    fk = (
        o.join(
            cust_keys,
            o.o_custkey == cust_keys.c_custkey,
            "left_anti",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("fk_violations"))
    )
    agg = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey"))
        .cast("bigint")
        .alias("null_keys"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("bigint")
        .alias("duplicate_keys"),
        F.count_if(F.col("o_totalprice") <= 0)
        .cast("bigint")
        .alias("nonpositive_prices"),
        F.count_if(~F.col("o_orderstatus").isin("F", "O", "P"))
        .cast("bigint")
        .alias("bad_status"),
    )
    ok = (
        (F.col("null_keys") == 0)
        & (F.col("duplicate_keys") == 0)
        & (F.col("nonpositive_prices") == 0)
        & (F.col("bad_status") == 0)
        & (F.col("fk_violations") == 0)
    )
    return agg.crossJoin(F.broadcast(fk)).select(
        "n_rows",
        "null_keys",
        "duplicate_keys",
        "nonpositive_prices",
        "bad_status",
        "fk_violations",
        ok.alias("all_pass"),
    )


@register(
    "events_scd2_history",
    oracle="""
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM events
    """,
    tags=("archiver", "scd2", "cdc"),
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each event opens a
    validity interval [valid_from, valid_to) that the user's next
    event closes; the open interval is the current state. The history
    twin of ``events_latest_snapshot`` — together they are the CDC
    materialization pair a warehouse keeps over an archived event
    stream (the reference only ever appends, cmd/main.go; the
    snapshot/history views are what consumers build on top). One
    window on user_id — the same single exchange the snapshot uses,
    so at 100 TB the pair shares a partitioning."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
