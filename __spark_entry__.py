"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the LLM-corpus operators), each runnable on the driver's
TPC-H-ish synthetic tables; ``oracle_sql()`` holds the DuckDB-equivalent SQL.
Column names and value rounding are aligned between both sides so the
driver's order-insensitive value hash matches.

Determinism rules used throughout:
- every computed column is aliased identically (lowercase) on both sides;
- floating aggregates are rounded (sums: 2-4 dp, ratios/avgs: 6 dp) on BOTH
  sides so engine-level accumulation-order jitter cannot flip the hash;
- hash-dependent operators (minhash/simhash/fingerprints) use the portable
  md5-based 60-bit hash (etdtransform_spark.functions.hashing) computed
  identically in Spark and DuckDB;
- ordered windows always carry a total order (ts, event_id).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etdtransform_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
    word_shingles,
    word_shingles_sql,
)
from etdtransform_spark.functions.scalars import (
    dampdruk,
    fold_case,
    fold_case_sql,
    gevoelstemperatuur,
    hh_key,
    qround,
    qround_sql,
    yyyymmdd_key,
)
from etdtransform_spark.sources.parquet import read_table
from etdtransform_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from etdtransform_spark.operators.similarity import cosine_expr, cosine_topk
from etdtransform_spark.operators.text import (
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    quality_features,
    token_count,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader; repairs nanosecond parquet timestamps (events.ts) to
    TimestampType with DuckDB-identical microsecond truncation.

    Events carry an INGESTION GATE: rows with NULL ts are dropped (mirrored
    by the oracle's ``_EV`` macro). An event that cannot be placed on the
    timeline cannot participate in any window/resample/session operator,
    and the two engines disagree on every default it would otherwise touch
    (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST; Spark's
    time-window drops it, DuckDB groups it) — a production pipeline routes
    such rows to a dead-letter table at ingestion, which is the semantics
    the contract declares."""
    df = read_table(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.filter(F.col("ts").isNotNull())
    elif name == "embeddings":
        # same principle for vectors: a NULL, empty, or NULL-element
        # embedding cannot enter any distance computation (DuckDB's
        # list_inner_product ERRORS on NULL elements; Spark's zip_with
        # fold silently yields NULL) — the index-build stage validates
        # and quarantines at ingestion. Mirrored by the oracle _EMB gate.
        df = df.filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & ~F.exists("embedding", lambda x: x.isNull())
        )
    return df


# Synthesized-null expression used by the gap/min-count queries: the events
# table has no nulls, so "error" rows play the role of missing meter readings.
def _v_nulled(col: str = "value") -> F.Column:
    return F.when(F.col("event_type") != "error", F.col(col))


_V_NULLED_SQL = "CASE WHEN event_type <> 'error' THEN value END"

# Oracle-side embeddings ingestion gate (single source of truth — mirrors
# the Spark-side filter in _t above; ADVICE r2: previously copy-pasted
# verbatim across the embedding oracles, risking silent drift).
_EMB = (
    "(SELECT * FROM embeddings WHERE embedding IS NOT NULL "
    "AND len(embedding) > 0 "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0)"
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the sf events table with ``ts`` normalized to
    TimestampType regardless of the parquet's physical encoding.

    The driver may regenerate testdata with either TIMESTAMP(NANOS) (reads
    as LongType nanoseconds under ``nanosAsLong``) or TIMESTAMP_NTZ micros,
    so the repair is schema-dispatched: LongType gets the exact div-1000
    truncation (DuckDB-identical), NTZ gets a cast (deterministic — session
    timezone pinned UTC). The file-stream source needs a *directory*; the
    single events file is exposed through a symlinked staging dir
    (driver-side, tiny).
    """
    import hashlib as _hl
    import os as _os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = f"/tmp/etd_stream_src_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}"
    _os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not _os.path.exists(link):
        _os.symlink(f"{sf_dir}/events.parquet", link)
    stream = spark.readStream.schema(static_schema).parquet(stage)
    ts_type = static_schema["ts"].dataType.typeName()
    if ts_type == "long":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # same ingestion gate as _t: NULL event-time cannot enter a watermarked
    # stream (and would diverge from the oracle's _EV macro)
    return stream.filter(F.col("ts").isNotNull())


# ---------------------------------------------------------------------------
# §2.2 scans / filters / projections
# ---------------------------------------------------------------------------

def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushed to the parquet scan; row-level computed
    column (SURVEY §2.2). Catalyst pushes both the filter and the 5-column
    ReadSchema into the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") >= 10))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            qround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "net_price"
            ),
        )
    )


_SQL_SCAN = """
SELECT l_orderkey, l_linenumber, l_quantity,
       floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS net_price
FROM lineitem
WHERE l_discount > 0.05 AND l_quantity >= 10
"""


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def q_multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way left-join chain (fact preserved, dims broadcast) + group-agg —
    the ETD household⟕index⟕weather join shape on TPC-H tables."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey, "left")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    )
    return joined.groupBy("r_name", "n_name").agg(
        qround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


_SQL_MULTI_JOIN = """
SELECT r_name, n_name,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
       count(*) AS n_items
FROM lineitem
LEFT JOIN orders   ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi membership filter (reference households_to_include,
    impute.py:100-105)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey")
    )
    kept = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi")
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        qround(F.sum("o_totalprice"), 2).alias("total"),
    )


_SQL_SEMI_JOIN = """
SELECT o_orderpriority, count(*) AS n_orders, floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
GROUP BY o_orderpriority
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: parts never ordered."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    unordered = part.join(li, part.p_partkey == li.l_partkey, "left_anti")
    return unordered.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))


_SQL_ANTI_JOIN = """
SELECT p_brand, count(*) AS n_parts
FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
GROUP BY p_brand
"""


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of tagged slices (reference concat of households/KNMI
    files, aggregate.py:116,211; knmi.py:99)."""
    li = _t(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_discount") >= 0.05).withColumn("slice", F.lit("high"))
    lo = li.filter(F.col("l_discount") < 0.05).withColumn("slice", F.lit("low"))
    return (
        hi.unionByName(lo)
        .groupBy("slice", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            qround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


_SQL_UNION_ALL = """
SELECT slice, l_returnflag, count(*) AS n_rows, floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM (
  SELECT 'high' AS slice, l_returnflag, l_quantity FROM lineitem WHERE l_discount >= 0.05
  UNION ALL
  SELECT 'low'  AS slice, l_returnflag, l_quantity FROM lineitem WHERE l_discount < 0.05
)
GROUP BY slice, l_returnflag
"""


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate in one groupBy (map-side partial
    aggregation; the reference's per-variable merge loop collapsed)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qround(F.sum("l_quantity"), 2).alias("sum_qty"),
        qround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        qround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        qround(F.avg("l_quantity"), 6).alias("avg_qty"),
        qround(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
       floor((avg(l_quantity)) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty,
       floor((avg(l_discount)) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_mincount_gated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature 60%-presence-gated sum/avg/max
    (aggregate.py:659-761): NULL unless >= 60% of the group's rows have a
    non-null value. Nulls synthesized from event_type."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    cnt = F.count("v")
    gate = F.count(F.lit(1)) * 0.6
    return ev.groupBy("user_id").agg(
        qround(F.when(cnt >= gate, F.sum("v")), 4).alias("gated_sum"),
        qround(F.when(cnt >= gate, F.sum("v") / cnt), 6).alias("gated_avg"),
        qround(F.when(cnt >= gate, F.max("v")), 4).alias("gated_max"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_MINCOUNT = f"""
SELECT user_id,
       floor((CASE WHEN count(v) >= count(*) * 0.6 THEN sum(v) END) * 10000.0 + 0.5) / 10000.0 AS gated_sum,
       floor((CASE WHEN count(v) >= count(*) * 0.6 THEN sum(v) / count(v) END) * 1000000.0 + 0.5) / 1000000.0 AS gated_avg,
       floor((CASE WHEN count(v) >= count(*) * 0.6 THEN max(v) END) * 10000.0 + 0.5) / 10000.0 AS gated_max,
       count(*) AS n
FROM (SELECT user_id, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL))
GROUP BY user_id
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (reference load_data.py:192-199)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


_SQL_DISTINCT = "SELECT DISTINCT user_id, event_type FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)"


def q_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered exact p95 doubled into an outlier bound, NULL when no values
    pass the filter (reference impute.py:55-90). Exact percentile, not
    percentile_approx — required for oracle parity."""
    orders = _t(spark, sf_dir, "orders")
    gated = F.when(F.col("o_totalprice") > 150000.0, F.col("o_totalprice"))
    q = F.percentile(gated, F.lit(0.95))
    return orders.groupBy("o_orderpriority").agg(
        qround(q, 6).alias("p95"),
        qround(q * 2, 6).alias("upper_bound"),
        F.count(gated).alias("n_in"),
    )


_SQL_PERCENTILE = """
SELECT o_orderpriority,
       floor((quantile_cont(CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END, 0.95)) * 1000000.0 + 0.5) / 1000000.0 AS p95,
       floor((quantile_cont(CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END, 0.95) * 2) * 1000000.0 + 0.5) / 1000000.0 AS upper_bound,
       count(CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END) AS n_in
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# §2.5 window / ordered operators
# ---------------------------------------------------------------------------

def _w_user():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def q_window_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity consecutive difference (the <Var>Diff derivation,
    aggregate.py:203-207)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        qround(F.col("value") - F.lag("value").over(_w_user()), 6).alias("diff"),
    )


_SQL_LAG_DIFF = """
SELECT event_id, user_id,
       floor((value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 1000000.0 + 0.5) / 1000000.0 AS diff
FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
"""


def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped running sum (cumulative rebuild, aggregate.py:199-211)."""
    ev = _t(spark, sf_dir, "events")
    running = F.sum("value").over(
        _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", qround(running, 4).alias("cum_value")
    )


_SQL_CUMSUM = """
SELECT event_id, user_id,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)) * 10000.0 + 0.5) / 10000.0 AS cum_value
FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
"""


def q_window_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill of synthesized gaps (reference group ffill,
    vectorized_impute.py:409,501-505)."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    filled = F.last("v", ignorenulls=True).over(
        _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", qround(filled, 6).alias("v_filled")
    )


_SQL_FFILL = f"""
SELECT event_id, user_id,
       floor((last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING)) * 1000000.0 + 0.5) / 1000000.0 AS v_filled
FROM (SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL))
"""


def q_rolling_avg_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row rolling mean with min_periods=3 gate (reference
    load_data.py:122-128, calculated_columns.py:148-205)."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    frame = _w_user().rowsBetween(-4, Window.currentRow)
    gated = F.when(F.count("v").over(frame) >= 3, F.avg("v").over(frame))
    return ev.select(
        "event_id", "user_id", qround(gated, 6).alias("rolling_avg")
    )


_SQL_ROLLING = f"""
SELECT event_id, user_id,
       floor((CASE WHEN count(v) OVER w >= 3 THEN avg(v) OVER w END) * 1000000.0 + 0.5) / 1000000.0 AS rolling_avg
FROM (SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL))
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_iso_week_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-week aggregates (reference load_data.py:176-199): weekly mean +
    days-observed estimate; exercises weekofyear/isoyear parity."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumns(
            {
                "iso_year": F.expr("extract(yearofweek FROM ts)").cast("bigint"),
                "week_of_year": F.weekofyear("ts").cast("bigint"),
            }
        )
        .groupBy("event_type", "iso_year", "week_of_year")
        .agg(
            qround(F.avg("value"), 6).alias("weekly_avg"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_SQL_ISO_WEEK = """
SELECT event_type, isoyear(ts)::BIGINT AS iso_year, weekofyear(ts)::BIGINT AS week_of_year,
       floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS weekly_avg, count(*) AS n_events
FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
GROUP BY 1, 2, 3
"""


def q_rank_topk_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank ISO weeks by weekly average within a group; flag the 2 lowest
    (the coldest-2-ISO-weeks pattern, load_data.py:204-229)."""
    weekly = q_iso_week_stats(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        "weekly_avg", "iso_year", "week_of_year"
    )
    return weekly.select(
        "event_type",
        "iso_year",
        "week_of_year",
        "weekly_avg",
        F.rank().over(w).cast("bigint").alias("rnk"),
        (F.row_number().over(w) <= 2).alias("is_lowest2"),
    )


_SQL_RANK_TOPK = f"""
WITH weekly AS ({_SQL_ISO_WEEK})
SELECT event_type, iso_year, week_of_year, weekly_avg,
       rank() OVER w ::BIGINT AS rnk,
       (row_number() OVER w) <= 2 AS is_lowest2
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY weekly_avg, iso_year, week_of_year)
"""


# ---------------------------------------------------------------------------
# §2.6 resampling
# ---------------------------------------------------------------------------

def q_resample_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 15-minute buckets with the reference's min-count gate
    (aggregate.py:800-866: 15min -> min_count 3). F.window start == pandas
    left-closed/left-labeled resample label == DuckDB time_bucket."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    bucket = F.window("ts", "15 minutes")
    cnt = F.count("v")
    return (
        ev.groupBy("event_type", bucket.alias("w"))
        .agg(
            qround(F.when(cnt >= 3, F.sum("v")), 4).alias("bucket_sum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "event_type", F.col("w.start").alias("bucket_start"), "bucket_sum", "n_rows"
        )
    )


_SQL_RESAMPLE_15 = f"""
SELECT event_type, time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
       floor((CASE WHEN count(v) >= 3 THEN sum(v) END) * 10000.0 + 0.5) / 10000.0 AS bucket_sum,
       count(*) AS n_rows
FROM (SELECT event_type, ts, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL))
GROUP BY 1, 2
"""


def q_resample_hourly_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly buckets per user with gated sum/max/avg — the per-variable
    registry dispatch (aggregate.py:869-1041) over one groupBy."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    bucket = F.window("ts", "60 minutes")
    cnt = F.count("v")
    mc = F.lit(2)
    return (
        ev.groupBy("user_id", bucket.alias("w"))
        .agg(
            qround(F.when(cnt >= mc, F.sum("v")), 4).alias("sum_v"),
            qround(F.when(cnt >= mc, F.max("v")), 4).alias("max_v"),
            qround(F.when(cnt >= mc, F.sum("v") / cnt), 6).alias("avg_v"),
        )
        .select("user_id", F.col("w.start").alias("bucket_start"), "sum_v", "max_v", "avg_v")
    )


_SQL_RESAMPLE_HOURLY = f"""
SELECT user_id, time_bucket(INTERVAL '60 minutes', ts) AS bucket_start,
       floor((CASE WHEN count(v) >= 2 THEN sum(v) END) * 10000.0 + 0.5) / 10000.0 AS sum_v,
       floor((CASE WHEN count(v) >= 2 THEN max(v) END) * 10000.0 + 0.5) / 10000.0 AS max_v,
       floor((CASE WHEN count(v) >= 2 THEN sum(v) / count(v) END) * 1000000.0 + 0.5) / 1000000.0 AS avg_v
FROM (SELECT user_id, ts, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL))
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# §2.8 imputation spine (gap grouping + gap stats + linear fill)
# ---------------------------------------------------------------------------

def q_gap_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-run identification: the exact gap_start/gap_group/gap_length
    machinery of vectorized_impute.py:343-426 on a synthesized-null series."""
    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    is_na = F.col("v").isNull()
    prev_na = F.coalesce(F.lag(is_na).over(_w_user()), F.lit(False))
    gap_start = (is_na & ~prev_na).cast("long")
    ev = ev.withColumn(
        "gap_group",
        F.when(
            is_na,
            F.sum(gap_start).over(
                _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ),
    )
    gap_len = F.when(
        F.col("gap_group").isNotNull(),
        F.count(F.lit(1)).over(Window.partitionBy("user_id", "gap_group")),
    )
    return ev.select("event_id", "user_id", "gap_group", gap_len.alias("gap_length"))


_SQL_GAP_GROUPS = f"""
WITH base AS (
  SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
), marked AS (
  SELECT *, (v IS NULL) AS is_na,
         coalesce(lag(v IS NULL) OVER (PARTITION BY user_id ORDER BY ts, event_id), false) AS prev_na
  FROM base
), grouped AS (
  SELECT *, CASE WHEN is_na THEN
      sum(CASE WHEN is_na AND NOT prev_na THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    END AS gap_group
  FROM marked
)
-- gap_group::BIGINT: un-cast it is HUGEINT; it stays NULL-bearing so both
-- engines land on pandas float64 either way, but the type contract
-- (tests/test_oracle_types.py) bans HUGEINT outputs outright
SELECT event_id, user_id, gap_group::BIGINT AS gap_group,
       CASE WHEN gap_group IS NOT NULL
            THEN count(*) OVER (PARTITION BY user_id, gap_group) END AS gap_length
FROM grouped
"""


def q_impute_linear_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The imputation engine's gap-statistics spine end-to-end: prev/end
    cumulative values, gap_jump, and the LINEAR_FILL value
    floor((gap_jump/gap_length) * 10000000000.0 + 0.5) / 10000000000.0 (vectorized_impute.py:429-678).

    Synthesized series: diff missing on error+signup rows; the cumulative
    is additionally visible on signup rows, which splits gap groups at
    mid-gap observed cumulative values (cum_value_encountered semantics).
    """
    ev = _t(spark, sf_dir, "events")
    v = qround(F.abs(F.col("value")), 2)
    diff = F.when(~F.col("event_type").isin("error", "signup"), v)
    ev = ev.withColumn("d", diff)
    cum_raw = F.sum(F.coalesce(F.col("d"), F.lit(0.0))).over(
        _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = ev.withColumn("cum", F.when(F.col("event_type") != "error", cum_raw))

    is_na = F.col("d").isNull()
    prev_na = F.coalesce(F.lag(is_na).over(_w_user()), F.lit(False))
    gap_start = is_na & ~prev_na
    cve = F.col("cum").isNotNull() & is_na
    ev = (
        ev.withColumn("_gs", gap_start)
        .withColumn("_cve_prev", F.coalesce(F.lag(cve).over(_w_user()), F.lit(False)))
    )
    seed = (F.col("_cve_prev") | F.col("_gs")).cast("long")
    running = F.sum(seed).over(
        _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = ev.withColumn("cvg", F.when(is_na, running))

    g_w = Window.partitionBy("user_id", "cvg")
    g_full = g_w.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gap_len = F.when(F.col("cvg").isNotNull(), F.count(F.lit(1)).over(g_w))
    first_in_group = F.col("cvg").isNotNull() & (
        F.coalesce(F.lag("cvg").over(_w_user()), F.lit(-1)) != F.col("cvg")
    )
    prev_raw = F.lag("cum").over(_w_user())
    prev_seed = F.when(first_in_group & (prev_raw >= 0), prev_raw)
    ev = ev.withColumn("_ps", prev_seed)
    prev_cum = F.when(
        F.col("cvg").isNotNull(), F.first("_ps", ignorenulls=True).over(g_full)
    )
    end_raw = F.when(
        F.col("cvg").isNotNull(), F.last("cum", ignorenulls=True).over(g_full)
    )
    end_cum = F.when(end_raw >= 0, end_raw)
    ev = (
        ev.withColumn("gap_length", gap_len)
        .withColumn("prev_cum", prev_cum)
        .withColumn("end_cum", end_cum)
        .withColumn("gap_jump", F.col("end_cum") - F.col("prev_cum"))
    )
    # Exact-integer contract outputs (round-1 driver red): the cumulative
    # values are sums of 2-dp-rounded inputs, so their true value is whole
    # cents — floor(x*100+0.5) recovers the exact integer regardless of
    # engine accumulation order (error << half-cent).  The linear-fill ratio
    # is then ONE correctly-rounded IEEE division of exact integers, which
    # is bit-identical across engines; no double-rounding float output.
    prev_c = F.floor(F.col("prev_cum") * 100 + F.lit(0.5))
    end_c = F.floor(F.col("end_cum") * 100 + F.lit(0.5))
    gap_c = end_c - prev_c
    linear_e6 = F.floor(gap_c * F.lit(10000.0) / F.col("gap_length") + F.lit(0.5))
    return ev.filter(F.col("cvg").isNotNull()).select(
        "event_id",
        "user_id",
        "cvg",
        "gap_length",
        prev_c.alias("prev_cum_c"),
        end_c.alias("end_cum_c"),
        gap_c.alias("gap_jump_c"),
        linear_e6.alias("linear_fill_e6"),
    )


_SQL_IMPUTE_LINEAR = """
WITH base AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type NOT IN ('error', 'signup') THEN floor((abs(value)) * 100.0 + 0.5) / 100.0 END AS d
  FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
), cumd AS (
  SELECT *, CASE WHEN event_type <> 'error' THEN
      sum(coalesce(d, 0.0)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    END AS cum
  FROM base
), marked AS (
  SELECT *, (d IS NULL) AS is_na,
         coalesce(lag(d IS NULL) OVER wu, false) AS prev_na,
         coalesce(lag(cum IS NOT NULL AND d IS NULL) OVER wu, false) AS cve_prev,
         lag(cum) OVER wu AS prev_raw
  FROM cumd
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)
), grouped AS (
  SELECT *, CASE WHEN is_na THEN
      sum(CASE WHEN cve_prev OR (is_na AND NOT prev_na) THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    END AS cvg
  FROM marked
), seeded AS (
  SELECT *,
         CASE WHEN cvg IS NOT NULL
                   AND coalesce(lag(cvg) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1) <> cvg
                   AND prev_raw >= 0
              THEN prev_raw END AS ps
  FROM grouped
), stats AS (
  SELECT *,
         CASE WHEN cvg IS NOT NULL THEN count(*) OVER wg END AS gap_length,
         CASE WHEN cvg IS NOT NULL THEN first_value(ps IGNORE NULLS) OVER wgo END AS prev_cum,
         CASE WHEN cvg IS NOT NULL THEN last_value(cum IGNORE NULLS) OVER wgo END AS end_raw
  FROM seeded
  WINDOW wg  AS (PARTITION BY user_id, cvg),
         wgo AS (PARTITION BY user_id, cvg ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), fixed AS (
  SELECT event_id, user_id, cvg, gap_length,
         floor(prev_cum * 100.0 + 0.5)::BIGINT AS prev_cum_c,
         floor((CASE WHEN end_raw >= 0 THEN end_raw END) * 100.0 + 0.5)::BIGINT AS end_cum_c
  FROM stats WHERE cvg IS NOT NULL
)
-- cvg::BIGINT: un-cast it is HUGEINT (windowed integer sum) → pandas
-- float64, mismatching Spark's non-null int64 under the driver's
-- dtype-sensitive canonicalizer (r1+r2 driver red root cause).
SELECT event_id, user_id, cvg::BIGINT AS cvg, gap_length, prev_cum_c, end_cum_c,
       end_cum_c - prev_cum_c AS gap_jump_c,
       floor((end_cum_c - prev_cum_c) * 10000.0 / gap_length + 0.5)::BIGINT AS linear_fill_e6
FROM fixed
"""


# ---------------------------------------------------------------------------
# §2.7 scalar functions (weather math, date keys, json, calculated columns)
# ---------------------------------------------------------------------------

def q_calculated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coalesce-arithmetic energy-balance pattern
    (calculated_columns.py:41-89) transplanted onto lineitem columns."""
    li = _t(spark, sf_dir, "lineitem")
    c0 = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    teruglevering = c0("l_tax") + c0("l_discount")
    netto = c0("l_extendedprice") * (1 - c0("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qround(teruglevering, 6).alias("teruglevering"),
        qround(netto, 6).alias("netto"),
        qround(netto - teruglevering, 6).alias("netuitwisseling"),
        qround(netto + c0("l_quantity") - teruglevering, 6).alias("bruto"),
    )


_SQL_CALCULATED = """
SELECT l_orderkey, l_linenumber,
       floor((coalesce(l_tax, 0.0) + coalesce(l_discount, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS teruglevering,
       floor((coalesce(l_extendedprice, 0.0) * (1 - coalesce(l_discount, 0.0))) * 1000000.0 + 0.5) / 1000000.0 AS netto,
       floor((coalesce(l_extendedprice, 0.0) * (1 - coalesce(l_discount, 0.0))
             - (coalesce(l_tax, 0.0) + coalesce(l_discount, 0.0))) * 1000000.0 + 0.5) / 1000000.0 AS netuitwisseling,
       floor((coalesce(l_extendedprice, 0.0) * (1 - coalesce(l_discount, 0.0))
             + coalesce(l_quantity, 0.0) - (coalesce(l_tax, 0.0) + coalesce(l_discount, 0.0))) * 1000000.0 + 0.5) / 1000000.0 AS bruto
FROM lineitem
"""


def q_weather_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNMI join-key derivation: integer yyyymmdd and HH = hour+1 (1-24)
    (load_data.py:300-305), aggregated per key."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.withColumns(
        {
            "yyyymmdd": yyyymmdd_key(F.col("ts")).cast("bigint"),
            "hh": hh_key(F.col("ts")).cast("bigint"),
        }
    )
    return keyed.groupBy("yyyymmdd", "hh").agg(
        F.count(F.lit(1)).alias("n_events"),
        qround(F.avg("value"), 6).alias("avg_value"),
    )


_SQL_WEATHER_KEYS = """
SELECT strftime(ts, '%Y%m%d')::BIGINT AS yyyymmdd,
       (hour(ts) + 1)::BIGINT AS hh,
       count(*) AS n_events,
       floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
GROUP BY 1, 2
"""


def q_gevoelstemperatuur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KNMI perceived-temperature formula (knmi.py:77-98): unit scaling,
    vapor-pressure exponential, linear combination."""
    ev = _t(spark, sf_dir, "events")
    t = qround(F.col("value"), 1) / 10.0
    wind = (F.col("user_id") % 10).cast("double") / 2.0
    hum = ((F.col("event_id") % 50) + 30).cast("double")
    return ev.select(
        "event_id",
        qround(dampdruk(t, hum), 6).alias("dampdruk"),
        qround(gevoelstemperatuur(t, wind, hum), 6).alias("gevoelstemperatuur"),
    )


_SQL_GEVOEL = """
SELECT event_id,
       floor((h * 6.105 * exp(17.27 * t / (t + 237.7)) / 100) * 1000000.0 + 0.5) / 1000000.0 AS dampdruk,
       floor((t + 0.33 * (h * 6.105 * exp(17.27 * t / (t + 237.7)) / 100) - 0.7 * w - 4.0) * 1000000.0 + 0.5) / 1000000.0
         AS gevoelstemperatuur
FROM (
  SELECT event_id,
         floor((value) * 10.0 + 0.5) / 10.0 / 10.0 AS t,
         (user_id % 10) / 2.0 AS w,
         ((event_id % 50) + 30)::DOUBLE AS h
  FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
)
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the events props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
    )


_SQL_JSON = """
SELECT CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.k')::BIGINT END AS k, count(*) AS n
FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# LLM-corpus operators: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs)


# Whitespace-normalized + engine-portable case fold (scalars.fold_case
# convention) — the shared exact-dedup key expression
_FOLD_WS_NORM = fold_case_sql("trim(regexp_replace(text, '\\s+', ' ', 'g'))")
_FOLD_TEXT = fold_case_sql("text")
_FOLD_PRE = fold_case_sql("text[1:64]")
_SQL_DEDUP_EXACT = f"""
SELECT min(doc_id) AS canonical_id, count(*) AS n_docs
FROM (SELECT doc_id, {_FOLD_WS_NORM} AS k FROM documents)
GROUP BY k
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fingerprint")


_FP_EXPR = portable_hash64_sql(
    fold_case_sql("trim(regexp_replace(text, '\\s+', ' ', 'g'))"), seed="fp"
)
_SQL_FINGERPRINT = f"SELECT doc_id, {_FP_EXPR} AS fingerprint FROM documents"


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.8, generated via a
    shingle equijoin (no cross join)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.8)


_SH3 = word_shingles_sql("text", 3)
_SQL_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, {_SH3} AS shingles FROM documents),
e AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         any_value(a.n) AS na, any_value(b.n) AS nb, count(*) AS c
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, floor((c / (na + nb - c)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter
WHERE floor((c / (na + nb - c)) * 1000000.0 + 0.5) / 1000000.0 >= 0.8
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-hash MinHash signatures (portable md5 hashes)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=8)
    return sigs.select(
        F.col("id").alias("doc_id"),
        *[F.col("minhash")[i].alias(f"mh{i}") for i in range(8)],
    )


def _sql_minhash_sigs() -> str:
    from etdtransform_spark.functions.hashing import derived_hashes_sql

    hashes = ",\n       ".join(
        f"min({h}) AS mh{i}" for i, h in enumerate(derived_hashes_sql("s", 8))
    )
    return f"""
WITH sh AS (SELECT doc_id, unnest({_SH3}) AS s FROM documents)
SELECT doc_id, {hashes}
FROM sh GROUP BY doc_id
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: 8 hashes, 4 bands x 2 rows."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=8, bands=4)


def _sql_minhash_lsh() -> str:
    sigs = _sql_minhash_sigs()
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat(mh{2 * b}, ',', mh{2 * b + 1}) AS bucket FROM sigs"
        for b in range(4)
    )
    return f"""
WITH sigs AS ({sigs}), banded AS ({bands})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints over word tokens."""
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, bits=16).select(F.col("id").alias("doc_id"), "simhash")


def _sql_simhash(bits: int = 16) -> str:
    h = portable_hash64_sql("tok", seed="simhash")
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b}::BIGINT ELSE 0 END" for b in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
  FROM documents
), hashed AS (SELECT doc_id, {h} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash FROM votes
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (deterministic argmax)."""
    docs = _t(spark, sf_dir, "documents")
    out = detect_language(docs)
    return out.select(
        "doc_id",
        *[qround(F.col(f"score_{lang}"), 6).alias(f"score_{lang}")
          for lang in ("de", "en", "es", "fr", "nl")],
        "detected_lang",
    )


def _sql_lang_id() -> str:
    from etdtransform_spark.operators.text import LANG_PROFILES

    toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    score_exprs = []
    for lang in sorted(LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        score_exprs.append(
            f"len(list_filter({toks}, t -> list_contains([{words}], lower(t))))"
            f" / greatest(len({toks}), 1) AS s_{lang}"
        )
    cases = "\n         ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(LANG_PROFILES)
    )
    rounded = ", ".join(f"floor((s_{lang}) * 1000000.0 + 0.5) / 1000000.0 AS score_{lang}" for lang in sorted(LANG_PROFILES))
    return f"""
WITH scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM documents),
best AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_nl) AS best FROM scored)
SELECT doc_id, {rounded},
       CASE {cases} END AS detected_lang
FROM best
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score (C4/Gopher-style filters)."""
    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_len",
        "quality_score",
    )


_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
_SQL_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars_calc,
         len({_TOKS})::BIGINT AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         len(list_filter({_TOKS}, t -> list_contains(['a','and','is','of','the','to'], lower(t)))) AS stop_en,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace
  FROM documents
), r AS (
  SELECT doc_id, n_chars_calc, n_tokens,
         CASE WHEN n_chars_calc > 0 THEN punct / n_chars_calc ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN stop_en / n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0 THEN n_nonspace / n_tokens END AS mean_word_len
  FROM f
)
SELECT doc_id, n_chars_calc, n_tokens,
       floor((punct_ratio) * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
       floor((stop_ratio) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
       floor((mean_word_len) * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
       -- ::DOUBLE: DuckDB decimal literals make the sum DECIMAL(6,2);
       -- pandas maps today's DECIMAL to float64 (matching Spark) but the
       -- oracle type contract bans DECIMAL outputs outright (see
       -- tests/test_oracle_types.py)
       (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END
        + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END)::DOUBLE AS quality_score
FROM r
"""


def q_fasttext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier scoring (fastText/CCNet-style
    model-based quality filter): word uni+bigrams -> portable 64-bucket
    hash -> sequential mean-of-weights fold -> sigmoid. Deterministic
    weights derived per bucket (b*2654435761 % 1000 scaled to [-0.5, 0.5))
    so the DuckDB oracle computes the identical model arithmetically."""
    from etdtransform_spark.operators.classify import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    n_features = 64
    weights = {
        b: ((b * 2654435761) % 1000) / 1000.0 - 0.5 for b in range(n_features)
    }
    scored = hashed_linear_score(
        docs, "text", weights, n_features, ngram_sizes=(1, 2)
    )
    return scored.select("doc_id", qround(F.col("score"), 6).alias("score"))


_SQL_FASTTEXT_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), grams AS (
  -- unigrams + positional bigrams; a 1-token doc yields its token as the
  -- single "bigram" (greatest(len-1, 1)), matching positional_word_grams
  SELECT doc_id,
         CASE WHEN len(t) > 0 THEN
           list_concat(t, list_transform(
             generate_series(1, greatest(len(t) - 1, 1)),
             i -> array_to_string(list_slice(t, i, i + 1), ' ')))
         END AS g
  FROM toks
), buckets AS (
  SELECT doc_id,
         list_transform(g, x ->
           ('0x' || substr(md5('0|' || x), 1, 15))::BIGINT % 64) AS b
  FROM grams
), logits AS (
  -- sequential fold == Spark F.aggregate: 0.0 + w1 + w2 + ... (adding the
  -- 0.0 init is exact, so list_reduce's w1-as-init bracketing matches)
  SELECT doc_id,
         CASE WHEN len(b) > 0 THEN
           list_reduce(
             list_transform(b, k -> ((k * 2654435761) % 1000)::DOUBLE / 1000 - 0.5),
             (a, x) -> a + x) / len(b)
         END AS logit
  FROM buckets
)
SELECT doc_id,
       floor((CASE WHEN logit IS NOT NULL THEN 1.0 / (1.0 + exp(-logit)) END)
             * 1000000.0 + 0.5) / 1000000.0 AS score
FROM logits
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("ws_tokens"),
        bpe_ish_token_count("text").cast("bigint").alias("bpe_ish_tokens"),
    )


_SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len({_TOKS})::BIGINT AS ws_tokens,
       (len(regexp_extract_all(text, '\\w+'))
        + length(regexp_replace(text, '[\\w\\s]', '', 'g')))::BIGINT AS bpe_ish_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etdtransform_spark.operators.similarity import norm_expr

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.size("embedding").cast("bigint").alias("dim"),
        qround(norm_expr(F.col("embedding")), 6).alias("l2_norm"),
    )


_SQL_EMB_NORMS = f"""
SELECT vec_id, label::BIGINT AS label,
       len(embedding)::BIGINT AS dim,
       floor((sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) * 1000000.0 + 0.5) / 1000000.0 AS l2_norm
FROM {_EMB}
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 10 vectors against the full
    corpus (broadcast queries x streamed corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(queries, emb, k=3).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


_SQL_COSINE_TOPK = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM {_EMB} a JOIN {_EMB} b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 3
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= 0.4 over all pairs."""
    from etdtransform_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.4)


_SQL_EMB_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
FROM {_EMB} a JOIN {_EMB} b ON a.vec_id < b.vec_id
WHERE floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0 >= 0.4
"""


# ---------------------------------------------------------------------------
# §2.5 period analytics (reference calculated_columns.py:148-556)
# ---------------------------------------------------------------------------

# WHERE mirrors _t's events ingestion gate: NULL-ts rows are quarantined
_EV = "(SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events WHERE ts IS NOT NULL)"


def q_extreme_avg_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest trailing 5-row rolling-average period per user (reference
    get_highest_avg_period, calculated_columns.py:209-294): (StartTime,
    EndTime, extreme value); ties resolve to the earliest EndTime."""
    from etdtransform_spark.operators.periods import get_extreme_avg_period

    ev = _t(spark, sf_dir, "events")
    out = get_extreme_avg_period(
        ev, "value", window_rows=5, partition_cols=["user_id"],
        order_col="ts", step_seconds=300, highest=True,
    )
    return out.select(
        "user_id",
        F.col("StartTime").alias("start_time"),
        F.col("EndTime").alias("end_time"),
        qround(F.col("value_extreme_avg"), 6).alias("extreme_avg"),
    )


_SQL_EXTREME_PERIOD = f"""
WITH r AS (
  SELECT user_id, ts,
         CASE WHEN count(value) OVER w >= 2 THEN avg(value) OVER w END AS ravg
  FROM {_EV}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ravg DESC, ts ASC) AS rn
  FROM r WHERE ravg IS NOT NULL
)
SELECT user_id,
       ts - INTERVAL 1200 SECONDS AS start_time,
       ts AS end_time,
       floor((ravg) * 1000000.0 + 0.5) / 1000000.0 AS extreme_avg
FROM ranked WHERE rn = 1
"""


def q_mark_coldest_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-looking extreme-period marking (reference
    mark_coldest_two_weeks, calculated_columns.py:429-482): flag the 5 rows
    ending at each user's rolling-average argmin; ties all marked."""
    from etdtransform_spark.operators.periods import mark_extreme_period

    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    out = mark_extreme_period(
        ev, "v", window_rows=5, partition_cols=["user_id"], order_col="ts",
        flag_col="in_coldest", lowest=True,
    )
    return out.select("event_id", "user_id", "in_coldest")


_SQL_MARK_COLDEST = f"""
WITH base AS (
  SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM {_EV}
), r AS (
  SELECT *, CASE WHEN count(v) OVER w >= 2 THEN avg(v) OVER w END AS ravg
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), m AS (
  SELECT *, min(ravg) OVER (PARTITION BY user_id) AS gmin FROM r
)
SELECT event_id, user_id,
       coalesce(max(CASE WHEN ravg = gmin THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) = 1,
                false) AS in_coldest
FROM m
"""


def q_gelijktijdigheid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simultaneity ratio (reference calculated_columns.py:297-337): max
    rolling coarse average over max fine-grained value, per event_type."""
    from etdtransform_spark.operators.periods import gelijktijdigheid

    ev = _t(spark, sf_dir, "events")
    out = gelijktijdigheid(
        ev, "value", partition_cols=["event_type"], order_col="ts", coarse_rows=12
    )
    return out.select(
        "event_type",
        qround(F.col("max_daily_avg"), 6).alias("max_coarse_avg"),
        qround(F.col("max_fine"), 4).alias("max_fine"),
        qround(F.col("gelijktijdigheid"), 6).alias("gelijktijdigheid"),
    )


_SQL_GELIJKTIJDIGHEID = f"""
WITH r AS (
  SELECT event_type, value,
         CASE WHEN count(value) OVER w >= 6 THEN avg(value) OVER w END AS davg
  FROM {_EV}
  WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       floor((max(davg)) * 1000000.0 + 0.5) / 1000000.0 AS max_coarse_avg,
       floor((max(value)) * 10000.0 + 0.5) / 10000.0 AS max_fine,
       floor((max(davg) / max(value)) * 1000000.0 + 0.5) / 1000000.0 AS gelijktijdigheid
FROM r GROUP BY event_type
"""


def q_normalized_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-week time normalization (reference
    calculated_columns.py:561-615): project every timestamp onto the week of
    Monday 2023-01-02 preserving day-of-week + time-of-day; pandas Monday=0
    day numbering."""
    from etdtransform_spark.functions.scalars import (
        normalized_datetime,
        pandas_dayofweek,
    )

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        normalized_datetime(F.col("ts")).alias("normalized_ts"),
        pandas_dayofweek(F.col("ts")).cast("bigint").alias("dow"),
    )


_SQL_NORMALIZED_DT = f"""
SELECT event_id,
       TIMESTAMP '2023-01-02'
         + ((isodow(ts) - 1) * 86400
            + hour(ts) * 3600 + minute(ts) * 60 + floor(second(ts))::INT)
           * INTERVAL '1 second' AS normalized_ts,
       (isodow(ts) - 1)::BIGINT AS dow
FROM {_EV}
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (binary columns + Arrow-batched feature extraction)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media pipeline: documents become (media_id, modality,
    content binary) rows; features extracted via the Arrow-batched
    ``mapInPandas`` stage (decode stubbed deterministically — sha256-derived
    features, cross-engine computable)."""
    from etdtransform_spark.operators.multimodal import extract_media_features
    from etdtransform_spark.sources.parquet import widen as _widen

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.col("text").cast("binary").alias("content"),
        F.lit("text/plain").alias("mime_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_media_features(_widen(media), feature_dim=4)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        "content_sha256",
        *[qround(F.col("features")[i], 6).alias(f"f{i}") for i in range(4)],
    )


def _sql_multimodal() -> str:
    fs = ",\n       ".join(
        f"floor((('0x' || substr(sha, {2 * i + 1}, 2))::INT / 256.0) * 1000000.0 + 0.5)"
        f" / 1000000.0 AS f{i}"
        for i in range(4)
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[(doc_id % 3 + 1)] AS modality,
         text
  FROM documents
), h AS (
  SELECT media_id, modality, octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS sha
  FROM m
)
SELECT media_id, modality, n_bytes, sha AS content_sha256,
       {fs}
FROM h
"""


# ---------------------------------------------------------------------------
# §2.9 Structured Streaming: tumbling-window min-count resample over a file
# stream, complete-mode memory sink — same semantics as the batch resample,
# so the SAME oracle SQL verifies the streaming path.
# ---------------------------------------------------------------------------

def q_streaming_resample_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from etdtransform_spark.streaming.resample_stream import streaming_resample

    stream = _stream_events(spark, sf_dir).withColumn("v", _v_nulled())
    agg = streaming_resample(
        stream,
        "15min",
        group_cols=["event_type"],
        variables={"v": "sum"},
        reading_date="ts",
        watermark="1 hour",
    )
    name = f"stream_resample_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "event_type",
        F.col("ts").alias("bucket_start"),
        qround(F.col("v"), 4).alias("bucket_sum"),
    )


_SQL_STREAM_RESAMPLE = f"""
SELECT event_type, time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
       floor((CASE WHEN count(v) >= 3 THEN sum(v) END) * 10000.0 + 0.5) / 10000.0 AS bucket_sum
FROM (SELECT event_type, ts, {_V_NULLED_SQL} AS v FROM {_EV})
GROUP BY 1, 2
"""


def q_brand_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-brand x supplier-nation revenue: lineitem ⟕ part ⟕ supplier ⟕
    nation with broadcast dims, grouped agg — covers the part/supplier tables
    (the ETD multi-dim join shape on the remaining TPC-H dims)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left")
    )
    # pre-round rows + post-round the sum to the SAME digits: the ±1e-9
    # accumulation-order jitter between engines collapses to identical
    # doubles, and the avg division then runs on identical inputs.
    term = qround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    return joined.groupBy("p_brand", "n_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        qround(F.sum(term), 2).alias("revenue"),
        qround(
            qround(F.sum(qround(F.col("p_retailprice"), 2)), 2)
            / F.count("p_retailprice"),
            4,
        ).alias("avg_retail"),
    )


def _r2(expr: str) -> str:
    return f"floor(({expr}) * 100.0 + 0.5) / 100.0"


_SQL_BRAND_SUPPLIER = f"""
SELECT p_brand, n_name, count(*) AS n_lines,
       {_r2(f"sum({_r2('l_extendedprice * (1 - l_discount)')})")} AS revenue,
       floor(({_r2(f"sum({_r2('p_retailprice')})")} / count(p_retailprice)) * 10000.0 + 0.5) / 10000.0 AS avg_retail
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
LEFT JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# §2.8 the full imputation rule chain — runs the REAL operator
# (operators.impute.impute_columns: 7 rules + threshold clamp) on an
# ETD-shaped frame synthesized from events, verified against a full SQL twin.
# ---------------------------------------------------------------------------

def _etd_household_series(
    ev: DataFrame, project_mod: int | None = None
) -> DataFrame:
    """events → the ETD household shape shared by q_impute_rule_chain and
    q_etd_pipeline_e2e: 'error'/'signup' rows are the gaps; signup rows
    selectively expose a cumulative value (visible/negative/zero by
    event_id % 4) so gap groups split and every gap-jump branch fires;
    houses with user_id % 7 == 0 have no project averages (linear fill),
    % 3 == 0 contribute nothing inside gaps (near-zero jumps).
    ``project_mod``: ProjectIdBSV = user_id % project_mod (constant 0 when
    None — the single-project rule-chain setting)."""
    d = F.when(
        ~F.col("event_type").isin("error", "signup"), qround(F.abs(F.col("value")), 2)
    )
    a = F.when(
        ~((F.col("event_type") == "view") | (F.col("user_id") % 7 == 0)),
        qround(F.abs(F.col("value")) / 7.0, 3),
    )
    pid = (
        F.lit(0).cast("long")
        if project_mod is None
        else (F.col("user_id") % project_mod).cast("long")
    )
    base = ev.select(
        "event_id",
        F.col("user_id").alias("HuisIdBSV"),
        pid.alias("ProjectIdBSV"),
        F.col("ts").alias("ReadingDate"),
        "event_type",
        d.alias("VDiff"),
        a.alias("VDiff_avg"),
    )
    contrib = F.coalesce(
        F.col("VDiff"),
        F.when(
            (F.col("event_type") == "signup") & (F.col("HuisIdBSV") % 3 != 0),
            F.lit(5.0),
        ).otherwise(F.lit(0.0)),
    )
    raw_cum = F.sum(contrib).over(
        Window.partitionBy("HuisIdBSV")
        .orderBy("ReadingDate")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        F.when(F.col("VDiff").isNotNull(), raw_cum)
        .when(
            (F.col("event_type") == "signup") & (F.col("event_id") % 4 == 0),
            raw_cum - 100.0,
        )
        .when((F.col("event_type") == "signup") & (F.col("event_id") % 4 == 1), raw_cum)
        .when(
            (F.col("event_type") == "signup") & (F.col("event_id") % 4 == 2), F.lit(0.0)
        )
    )
    # qround collapses engine-level accumulation-order jitter in the running
    # sum — otherwise a gap_jump of ±1e-13 flips NEAR_ZERO vs NEGATIVE
    return base.withColumn("V", qround(cum, 6))


def q_impute_rule_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ImputeType rules in one query (synthesis: _etd_household_series).
    Threshold Max=300 exercises the clamp."""
    from etdtransform_spark.operators.impute import impute_columns

    base = _etd_household_series(_t(spark, sf_dir, "events"))
    out = impute_columns(base, ["V"], {"VDiff": {"Min": 0.0, "Max": 300.0}})
    return out.select(
        "event_id",
        F.col("HuisIdBSV").alias("user_id"),
        F.col("VDiff_is_imputed").alias("is_imputed"),
        F.col("VDiff_impute_type").cast("bigint").alias("impute_type"),
        qround(F.col("VDiff"), 6).alias("new_diff"),
        qround(F.col("VOldDiff"), 6).alias("old_diff"),
    )


# The full impute-rule CTE chain (base synthesis -> gap grouping -> gap
# stats -> rules 1-7 -> threshold clamp), shared by _SQL_IMPUTE_RULES and
# _SQL_ETD_E2E. `pid` (user_id % 4) is the multi-project key used only by
# the e2e composite; the rule-chain contract ignores it.
_IMPUTE_CHAIN_CTES = f"""base AS (
  SELECT event_id, user_id, user_id % 4 AS pid, ts, event_type,
         CASE WHEN event_type NOT IN ('error','signup')
              THEN floor(abs(value) * 100.0 + 0.5) / 100.0 END AS d,
         CASE WHEN NOT (event_type = 'view' OR user_id % 7 = 0)
              THEN floor((abs(value) / 7.0) * 1000.0 + 0.5) / 1000.0 END AS a
  FROM {_EV}
), cumd AS (
  SELECT *,
         sum(CASE WHEN d IS NOT NULL THEN d
                  WHEN event_type = 'signup' AND user_id % 3 <> 0 THEN 5.0
                  ELSE 0.0 END)
           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS raw_cum
  FROM base
), withcum AS (
  SELECT *, floor((CASE WHEN d IS NOT NULL THEN raw_cum
                 WHEN event_type = 'signup' AND event_id % 4 = 0 THEN raw_cum - 100.0
                 WHEN event_type = 'signup' AND event_id % 4 = 1 THEN raw_cum
                 WHEN event_type = 'signup' AND event_id % 4 = 2 THEN 0.0 END)
               * 1000000.0 + 0.5) / 1000000.0 AS cum
  FROM cumd
), marked AS (
  SELECT *, (d IS NULL) AS is_na,
         coalesce(lag(d IS NULL) OVER wu, false) AS prev_na,
         coalesce(lag(cum IS NOT NULL AND d IS NULL) OVER wu, false) AS cve_prev,
         lag(cum) OVER wu AS prev_raw
  FROM withcum WINDOW wu AS (PARTITION BY user_id ORDER BY ts)
), grouped AS (
  SELECT *, CASE WHEN is_na THEN
      sum(CASE WHEN cve_prev OR (is_na AND NOT prev_na) THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) END AS cvg
  FROM marked
), seeded AS (
  SELECT *, CASE WHEN cvg IS NOT NULL
                  AND coalesce(lag(cvg) OVER (PARTITION BY user_id ORDER BY ts), -1) <> cvg
                  AND prev_raw >= 0 THEN prev_raw END AS ps
  FROM grouped
), stats AS (
  SELECT *,
         CASE WHEN cvg IS NOT NULL THEN count(*) OVER wg END AS gap_length,
         CASE WHEN cvg IS NOT NULL THEN first_value(ps IGNORE NULLS) OVER wgo END AS prev_cum,
         CASE WHEN cvg IS NOT NULL THEN last_value(cum IGNORE NULLS) OVER wgo END AS end_raw,
         CASE WHEN cvg IS NOT NULL THEN sum(coalesce(a, 0.0)) OVER wg END AS impute_jump,
         sum(CASE WHEN a IS NOT NULL AND d IS NOT NULL AND d >= 0 THEN a END) OVER wh AS sum_a,
         sum(CASE WHEN a IS NOT NULL AND d IS NOT NULL AND d >= 0 THEN d END) OVER wh AS sum_d,
         sum(CASE WHEN a IS NOT NULL AND d IS NOT NULL AND d >= 0 THEN 1 ELSE 0 END) OVER wh AS n_comp,
         count(*) OVER wh AS n_tot
  FROM seeded
  WINDOW wg  AS (PARTITION BY user_id, cvg),
         wgo AS (PARTITION BY user_id, cvg ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         wh  AS (PARTITION BY user_id)
), derived AS (
  SELECT *,
         CASE WHEN end_raw >= 0 THEN end_raw END AS end_cum,
         (CASE WHEN end_raw >= 0 THEN end_raw END) - prev_cum AS gap_jump,
         CASE WHEN n_comp <= n_tot / 2.0 THEN 1.0
              ELSE coalesce(CASE WHEN coalesce(sum_d, 0.0) <> 0.0
                                 THEN coalesce(sum_a, 0.0) / sum_d END, 1.0) END AS factor
  FROM stats
), ruled AS (
  SELECT *,
    CASE
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump < 0 THEN 0.0
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 0 AND gap_jump < 1e-8 THEN 0.0
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 1e-8 AND impute_jump < 1e-8
        THEN floor((gap_jump / gap_length) * 10000000000.0 + 0.5) / 10000000000.0
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 1e-8 AND impute_jump >= 1e-8
        THEN floor((coalesce(a, 0.0) * (gap_jump / impute_jump)) * 10000000000.0 + 0.5) / 10000000000.0
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NOT NULL AND prev_cum IS NULL AND end_cum < 1e-8 THEN 0.0
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NOT NULL AND prev_cum IS NULL AND end_cum > 1e-8 THEN coalesce(a, 0.0)
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NULL AND prev_cum IS NOT NULL THEN coalesce(a, 0.0) * factor
    END AS imputed_value,
    CASE
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump < 0 THEN 1
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 0 AND gap_jump < 1e-8 THEN 2
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 1e-8 AND impute_jump < 1e-8 THEN 4
      WHEN cvg IS NOT NULL AND gap_jump IS NOT NULL AND gap_jump >= 1e-8 AND impute_jump >= 1e-8 THEN 8
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NOT NULL AND prev_cum IS NULL AND end_cum < 1e-8 THEN 16
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NOT NULL AND prev_cum IS NULL AND end_cum > 1e-8 THEN 32
      WHEN cvg IS NOT NULL AND gap_jump IS NULL AND end_cum IS NULL AND prev_cum IS NOT NULL THEN 64
    END AS rule_type
  FROM derived
), clamped AS (
  SELECT *, coalesce(imputed_value, d) AS nd0,
         (coalesce(imputed_value, d) IS NOT NULL
          AND (coalesce(imputed_value, d) < 0.0 OR coalesce(imputed_value, d) > 300.0)) AS oob
  FROM ruled
)"""

_SQL_IMPUTE_RULES = f"""
WITH {_IMPUTE_CHAIN_CTES}
SELECT event_id, user_id,
       CASE WHEN oob THEN true ELSE imputed_value IS NOT NULL END AS is_imputed,
       (CASE WHEN oob THEN coalesce(rule_type, 0) | 128 ELSE rule_type END)::BIGINT AS impute_type,
       floor((CASE WHEN oob THEN a ELSE nd0 END) * 1000000.0 + 0.5) / 1000000.0 AS new_diff,
       floor((d) * 1000000.0 + 0.5) / 1000000.0 AS old_diff
FROM clamped
"""


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor (the ANN scale path beyond brute force)
# ---------------------------------------------------------------------------

def _cos_sql_of(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
    )


def _r6(expr: str) -> str:
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: 8 deterministic centroids, 2 probes per
    query, top-3 within the probed lists (similarity.ivf_topk)."""
    from etdtransform_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=3, nlist=8, nprobe=2).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


_SQL_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {_EMB} ORDER BY vec_id LIMIT 8
), assign_raw AS (
  SELECT c.vec_id AS neighbor_id, c.embedding AS cv, t.centroid_id,
         {_r6(_cos_sql_of("c.embedding", "t.cvec"))} AS acos
  FROM {_EMB} c CROSS JOIN cent t
), lists AS (
  SELECT neighbor_id, cv, centroid_id AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY acos DESC, centroid_id) AS rn
    FROM assign_raw) WHERE rn = 1
), probe_raw AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, t.centroid_id,
         {_r6(_cos_sql_of("q.embedding", "t.cvec"))} AS pcos
  FROM {_EMB} q CROSS JOIN cent t WHERE q.vec_id < 10
), probes AS (
  SELECT query_id, qv, centroid_id AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY pcos DESC, centroid_id) AS rn
    FROM probe_raw) WHERE rn <= 2
), scored AS (
  SELECT p.query_id, l.neighbor_id,
         {_r6(_cos_sql_of("p.qv", "l.cv"))} AS cosine
  FROM probes p JOIN lists l
    ON p.list_id = l.list_id AND p.query_id <> l.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# impute summary rollup (reference impute.py:671-759: bit_or of method
# bitmasks, distinct-method set union, percentage imputed)
# ---------------------------------------------------------------------------

def q_impute_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key impute summary: 'error' events play imputed rows, the method
    id is derived per row, combined with bit_or + set-union exactly like the
    reference's project summary (impute.py:701-714)."""
    ev = _t(spark, sf_dir, "events")
    imputed = F.col("event_type") == "error"
    method = (F.col("event_id") % 3 + 1).cast("bigint")
    mask = F.expr(
        "CASE WHEN event_type = 'error' THEN "
        "shiftleft(CAST(1 AS BIGINT), CAST(event_id % 3 + 1 AS INT)) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    base = ev.select(
        "user_id",
        imputed.alias("imp"),
        F.when(imputed, method).alias("m"),
        mask.alias("mask"),
    )
    return base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("imp"), F.lit(1))).alias("imputed"),
        F.expr("bit_or(mask)").alias("impute_type_mask"),
        # serialized (not ArrayType): the driver's canonicalizer pandas-sorts
        # result columns and cannot hash python lists (round-1 red row).
        F.array_join(
            F.transform(
                F.array_sort(F.array_distinct(F.collect_list("m"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("methods"),
        qround(
            F.count(F.when(F.col("imp"), F.lit(1))) * 100.0 / F.count(F.lit(1)), 6
        ).alias("percentage_imputed"),
    )


_SQL_IMPUTE_SUMMARY = f"""
WITH base AS (
  SELECT user_id, (event_type = 'error') AS imp,
         CASE WHEN event_type = 'error' THEN (event_id % 3 + 1)::BIGINT END AS m,
         CASE WHEN event_type = 'error'
              THEN (1::BIGINT << ((event_id % 3 + 1)::INT))
              ELSE 0::BIGINT END AS mask
  FROM {_EV}
)
SELECT user_id, count(*) AS n,
       count(CASE WHEN imp THEN 1 END) AS imputed,
       bit_or(mask) AS impute_type_mask,
       -- outer coalesce: DuckDB's array_to_string over an EMPTY list is
       -- NULL where Spark's array_join is ''
       coalesce(array_to_string(coalesce(list_sort(list_distinct(list(m) FILTER (m IS NOT NULL))), []), ','), '') AS methods,
       {_r6("count(CASE WHEN imp THEN 1 END) * 100.0 / count(*)")} AS percentage_imputed
FROM base GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# centered peak marking (reference mark_highest_peak,
# calculated_columns.py:485-527)
# ---------------------------------------------------------------------------

def q_mark_peak_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered-window extreme marking: flag the 5 rows centered on each
    user's centered-rolling-average argmax; ties all marked."""
    from etdtransform_spark.operators.periods import mark_extreme_period

    ev = _t(spark, sf_dir, "events").withColumn("v", _v_nulled())
    out = mark_extreme_period(
        ev, "v", window_rows=5, partition_cols=["user_id"], order_col="ts",
        flag_col="in_peak", lowest=False, centered=True,
    )
    return out.select("event_id", "user_id", "in_peak")


_SQL_MARK_PEAK = f"""
WITH base AS (
  SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM {_EV}
), r AS (
  SELECT *, CASE WHEN count(v) OVER w >= 1 THEN avg(v) OVER w END AS ravg
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
), m AS (
  SELECT *, max(ravg) OVER (PARTITION BY user_id) AS gmax FROM r
)
SELECT event_id, user_id,
       coalesce(max(CASE WHEN ravg = gmax THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) = 1,
                false) AS in_peak
FROM m
"""


# ---------------------------------------------------------------------------
# weekly coldest-weeks join-back (reference load_data.py:217-243: flag the 2
# coldest ISO weeks, then left-join the flags onto the hourly fact rows)
# ---------------------------------------------------------------------------

def q_coldest_weeks_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumns(
        {
            "iso_year": F.expr("extract(yearofweek FROM ts)").cast("bigint"),
            "week_of_year": F.weekofyear("ts").cast("bigint"),
        }
    )
    weekly = ev.groupBy("event_type", "iso_year", "week_of_year").agg(
        qround(F.avg("value"), 6).alias("weekly_avg")
    )
    w = Window.partitionBy("event_type").orderBy(
        "weekly_avg", "iso_year", "week_of_year"
    )
    flags = weekly.select(
        "event_type",
        "iso_year",
        "week_of_year",
        (F.row_number().over(w) <= 2).alias("is_coldest_week"),
    )
    return ev.join(
        F.broadcast(flags), ["event_type", "iso_year", "week_of_year"], "left"
    ).select(
        "event_id",
        "event_type",
        "iso_year",
        "week_of_year",
        # coalesce: a NULL-keyed row misses the left join and would emit a
        # NULL boolean, which pandas surfaces as None (Spark) vs NaN
        # (DuckDB .df()) in an object column — un-flagged weeks are FALSE
        F.coalesce("is_coldest_week", F.lit(False)).alias("is_coldest_week"),
    )


_SQL_COLDEST_JOIN = f"""
WITH ev AS (
  SELECT event_id, event_type, isoyear(ts)::BIGINT AS iso_year,
         weekofyear(ts)::BIGINT AS week_of_year, value
  FROM {_EV}
), weekly AS (
  SELECT event_type, iso_year, week_of_year,
         {_r6("avg(value)")} AS weekly_avg
  FROM ev GROUP BY 1, 2, 3
), flags AS (
  SELECT event_type, iso_year, week_of_year,
         (row_number() OVER (PARTITION BY event_type
                             ORDER BY weekly_avg, iso_year, week_of_year) <= 2)
           AS is_coldest_week
  FROM weekly
)
SELECT e.event_id, e.event_type, e.iso_year, e.week_of_year,
       coalesce(f.is_coldest_week, false) AS is_coldest_week
FROM ev e LEFT JOIN flags f
  ON e.event_type = f.event_type AND e.iso_year = f.iso_year
 AND e.week_of_year = f.week_of_year
"""


# ---------------------------------------------------------------------------
# §2.9 stateful streaming: per-key gap detection via applyInPandasWithState.
# On one complete batch it reduces to the lag-window query, which is the
# oracle.
# ---------------------------------------------------------------------------

def q_streaming_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from etdtransform_spark.streaming.gap_detect import streaming_gap_detect

    stream = _stream_events(spark, sf_dir)
    gaps = streaming_gap_detect(stream, gap_seconds=86400.0)
    name = f"stream_gaps_{uuid.uuid4().hex[:8]}"
    q = (
        gaps.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "gap_start", "gap_end",
        qround(F.col("gap_seconds"), 1).alias("gap_seconds"),
    )


_SQL_STREAM_GAPS = f"""
WITH d AS (
  SELECT user_id, lag(ts) OVER wu AS gap_start, ts AS gap_end,
         epoch(ts - lag(ts) OVER wu) AS gap_seconds
  FROM {_EV}
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, gap_start, gap_end,
       floor((gap_seconds) * 10.0 + 0.5) / 10.0 AS gap_seconds
FROM d WHERE gap_seconds > 86400.0
"""


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over LSH candidate pairs —
# iterative label propagation on Spark, recursive CTE as the oracle
# ---------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH candidate pairs become edges; each doc
    gets the min doc_id of its connected component
    (dedup.connected_components, iterative Pregel-min)."""
    from etdtransform_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def _sql_dedup_clusters() -> str:
    lsh = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
)
SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
"""


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup resolution (operators/dedup.py:resolve_duplicates): the
    MinHash-LSH pair list becomes keep/drop decisions — one survivor per
    connected duplicate cluster, singletons kept. The step that turns pair
    detection into a training-set filter."""
    from etdtransform_spark.operators.dedup import resolve_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return resolve_duplicates(docs, pairs)


def _sql_dedup_resolve() -> str:
    lsh = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
),
cc AS (SELECT v AS node, min(u) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
"""


# ---------------------------------------------------------------------------
# sessionization + deterministic sampling (event-pipeline operators)
# ---------------------------------------------------------------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-timeout sessionization (6h) per user: one row per session with
    start/end/count/duration (operators.sessions.session_stats)."""
    from etdtransform_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    out = session_stats(ev, timeout_seconds=6 * 3600.0, ts_col="ts",
                        key_cols=["user_id"])
    # Encoding-invariant contract outputs (round-1 driver red): whole-second
    # epoch bounds and an integer duration derived from them — no raw
    # timestamps, no float division, so neither a TIMESTAMP(NANOS) testdata
    # regeneration nor engine float-accumulation jitter can flip the hash.
    start_s = F.expr("unix_micros(cast(session_start as timestamp)) div 1000000")
    end_s = F.expr("unix_micros(cast(session_end as timestamp)) div 1000000")
    return out.select(
        "user_id",
        "session_id",
        start_s.alias("session_start_s"),
        end_s.alias("session_end_s"),
        "n_events",
        (end_s - start_s).alias("duration_s"),
    )


_SQL_SESSIONIZE = f"""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER wu IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER wu) > 21600000000
              THEN 1 ELSE 0 END AS ns
  FROM {_EV}
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
-- session_id::BIGINT: DuckDB sum(INTEGER) yields HUGEINT, which lands in
-- pandas as float64 ("1.0") while Spark's non-null long is int64 ("1") —
-- the driver's dtype-sensitive canonicalizer hashes those differently
-- (root cause of the r1+r2 driver red; reproduced locally via .df()).
SELECT user_id, session_id::BIGINT AS session_id,
       epoch_us(min(ts)) // 1000000 AS session_start_s,
       epoch_us(max(ts)) // 1000000 AS session_end_s,
       count(*) AS n_events,
       epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 AS duration_s
FROM g GROUP BY 1, 2
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of documents — reproducible across
    engines and reruns, no RNG (operators.sessions.hash_sample)."""
    from etdtransform_spark.operators.sessions import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 10).select("doc_id", "lang")


_HS = portable_hash64_sql("doc_id::VARCHAR", seed="sample")
_SQL_HASH_SAMPLE = f"""
SELECT doc_id, lang FROM documents WHERE {_HS} % 100 < 10
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: 50 events per event_type by hash
    rank (operators.sessions.stratified_hash_sample)."""
    from etdtransform_spark.operators.sessions import stratified_hash_sample

    ev = _t(spark, sf_dir, "events")
    out = stratified_hash_sample(ev, "event_id", ["event_type"], k=50)
    return out.select("event_id", "event_type", "user_id")


_SS = portable_hash64_sql("event_id::VARCHAR", seed="sample")
_SQL_STRATIFIED = f"""
SELECT event_id, event_type, user_id FROM (
  SELECT event_id, event_type, user_id,
         row_number() OVER (PARTITION BY event_type ORDER BY {_SS} ASC, event_id ASC) AS hr
  FROM {_EV}
) WHERE hr <= 50
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first-seen (user_id, event_type) pairs
    across micro-batches (streaming.dedup_stream.streaming_distinct); the
    oracle is batch DISTINCT."""
    import uuid

    from etdtransform_spark.streaming.dedup_stream import streaming_distinct

    stream = _stream_events(spark, sf_dir)
    deduped = streaming_distinct(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


_SQL_STREAM_DEDUP = f"SELECT DISTINCT user_id, event_type FROM {_EV}"


# ---------------------------------------------------------------------------
# as-of join + range join: the two time-series join shapes Spark lacks as
# primitives, re-expressed shuffle-once (operators/asof.py, rangejoin.py)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's latest signup at-or-before its
    timestamp (backward inclusive, left-join semantics). Spark side is the
    union+carry window plan — one shuffle, no pair explosion; oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from etdtransform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof_join(
        purchases,
        signups,
        on="ts",
        by=["user_id"],
        value_cols=["signup_event_id"],
        prefix="asof_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("signup_ts"),
        F.col("asof_signup_event_id").alias("signup_event_id"),
    )


_SQL_ASOF = f"""
WITH p AS (SELECT event_id, user_id, ts FROM {_EV} WHERE event_type = 'purchase'),
s AS (
  SELECT user_id, ts AS s_ts, max(event_id) AS signup_event_id
  FROM {_EV} WHERE event_type = 'signup' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts, s.s_ts AS signup_ts, s.signup_event_id
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.s_ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval containment: the 20 longest sessions (deterministic
    top-k) become intervals; count/sum ALL events (any user) inside each.
    Spark side is the bucketed range join (1h buckets) — an equi-join on
    bucket id, never BroadcastNestedLoop; oracle is a plain inequality join."""
    from etdtransform_spark.operators.olap import top_k
    from etdtransform_spark.operators.rangejoin import range_join
    from etdtransform_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    sessions = session_stats(ev, timeout_seconds=6 * 3600.0, ts_col="ts",
                             key_cols=["user_id"])
    top = top_k(
        sessions,
        [
            F.col("duration_seconds").desc(),
            F.col("user_id").asc(),
            F.col("session_id").asc(),
        ],
        20,
    ).select(
        F.col("user_id").alias("s_user_id"), "session_id",
        "session_start", "session_end",
    )
    points = ev.select("event_id", "ts", "value")
    rj = range_join(points, top, point_ts="ts", granularity_seconds=3600)
    # Integer-cent sum: floor(v*100+0.5) is a long on the Spark side and an
    # integer-valued double on the DuckDB side, so the aggregate is exact in
    # both engines regardless of accumulation order — no float ULP surface
    # in the contract (round-2 driver-red hardening).
    return rj.groupBy(
        F.col("s_user_id").alias("user_id"), "session_id"
    ).agg(
        F.count(F.lit(1)).alias("n_in_range"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("sum_value_c"),
    )


_SQL_RANGE_JOIN = f"""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER wu IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER wu) > 21600000000
              THEN 1 ELSE 0 END AS ns
  FROM {_EV}
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
), sess AS (
  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur
  FROM g GROUP BY 1, 2
), top AS (
  SELECT * FROM sess ORDER BY dur DESC, user_id ASC, session_id ASC LIMIT 20
)
SELECT t.user_id, t.session_id::BIGINT AS session_id, count(*) AS n_in_range,
       CAST(sum(floor(e.value * 100.0 + 0.5)) AS BIGINT) AS sum_value_c
FROM top t JOIN {_EV} e ON e.ts BETWEEN t.session_start AND t.session_end
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# simhash hamming near-dup: banded candidates + exact bit_count verify
# ---------------------------------------------------------------------------

def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance 3 of the 32-bit portable
    SimHash. Banded candidate generation (4 bands -> pigeonhole-exact for
    hamming <= 3); oracle does the all-pairs comparison the bands avoid.
    32-bit/4-band means 8-bit band values: candidate volume is ~n²/2⁸ per
    band instead of ~n²/2⁴ at 16 bits — the same reason the documented
    production config is 64-bit/4-band."""
    from etdtransform_spark.operators.dedup import simhash_near_dup

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup(docs, bits=32, bands=4, max_hamming=3)


def _sql_simhash_near_dup() -> str:
    return f"""
WITH s AS ({_sql_simhash(bits=32)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# OLAP surface the reference lacks: top-k, rollup, pivot, count-distinct,
# sliding windows (operators/olap.py)
# ---------------------------------------------------------------------------

def q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by lineitem revenue — TakeOrderedAndProject
    (per-partition k-heaps merged on the driver, no global sort)."""
    from etdtransform_spark.operators.olap import top_k

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        qround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return top_k(rev, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10)


_SQL_TOPK = f"""
SELECT l_orderkey,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem GROUP BY 1
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (status, priority) -> status -> grand total in
    one Expand+hash-agg pass, with grouping indicators."""
    from etdtransform_spark.operators.olap import rollup_stats

    orders = _t(spark, sf_dir, "orders")
    return rollup_stats(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            qround(F.sum("o_totalprice"), 2).alias("sum_total"),
        ],
    )


_SQL_ROLLUP = f"""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus)::BIGINT AS grouping_o_orderstatus,
       grouping(o_orderpriority)::BIGINT AS grouping_o_orderpriority,
       count(*) AS n_orders,
       {qround_sql('sum(o_totalprice)', 2)} AS sum_total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
-- HAVING: on an EMPTY table the SQL-standard () grouping set still emits
-- one grand-total row (count 0) — Spark's rollup emits nothing; align
HAVING count(*) > 0
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user wide counts by event type (explicit pivot values -> static
    schema, single conditional-aggregate pass)."""
    from etdtransform_spark.operators.olap import pivot_table

    ev = _t(spark, sf_dir, "events")
    wide = pivot_table(ev, "user_id", "event_type", EVENT_TYPES, F.count(F.lit(1)))
    # Spark pivot yields null for absent (user, type) combos; the SQL
    # conditional count yields 0 — align on 0.
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


_SQL_PIVOT = f"""
SELECT user_id,
       {", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                   for t in EVENT_TYPES)}
FROM {_EV} GROUP BY 1
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group cardinality (two-phase partial-distinct agg). The
    approx_count_distinct HLL++ variant is the 100 TB path (same operator,
    approx=True) — exact stays here because it is oracle-checkable."""
    from etdtransform_spark.operators.olap import count_distinct_agg

    orders = _t(spark, sf_dir, "orders")
    return count_distinct_agg(orders, ["o_orderpriority"], "o_custkey")


_SQL_COUNT_DISTINCT = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_o_custkey,
       count(*) AS n_rows
FROM orders GROUP BY 1
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding by 15 minutes over events — each row lands
    in exactly 2 windows (Expand + hash agg; the batch twin of a streaming
    sliding aggregation)."""
    from etdtransform_spark.operators.olap import sliding_window_agg

    ev = _t(spark, sf_dir, "events")
    return sliding_window_agg(
        ev,
        "ts",
        "30 minutes",
        "15 minutes",
        [
            F.count(F.lit(1)).alias("n_events"),
            qround(F.sum("value"), 2).alias("sum_value"),
        ],
    )


_SQL_SLIDING = f"""
WITH x AS (
  SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
                 time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'])
           AS window_start,
         value
  FROM {_EV}
)
SELECT window_start, count(*) AS n_events, {qround_sql('sum(value)', 2)} AS sum_value
FROM x GROUP BY 1
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming session windows (F.session_window, 6h gap) per
    user. Complete-mode memory sink (session windows reject update mode;
    append would hold back sessions newer than watermark+gap) — one
    availableNow batch emits every final session; the oracle is the batch
    gap-sessionization with the session_window boundary (new session when
    diff >= gap)."""
    import uuid

    from etdtransform_spark.streaming.session_stream import (
        streaming_session_stats,
    )

    stream = _stream_events(spark, sf_dir)
    sess = streaming_session_stats(
        stream, gap="6 hours", ts_col="ts", key_cols=["user_id"]
    )
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


_SQL_STREAM_SESSIONIZE = f"""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER wu IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER wu) >= 21600000000
              THEN 1 ELSE 0 END AS ns
  FROM {_EV}
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, session_id
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf * ln(N/df), deterministic
    tie-break) — corpus-level term weighting for training-data curation."""
    from etdtransform_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def _sql_tfidf() -> str:
    from etdtransform_spark.functions.scalars import qround_sql

    w = qround_sql("tf.tf * ln(n.n_docs / dfreq.df)", 6)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array({_FOLD_TEXT}, '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
wt AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, {w} AS weight
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, weight,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY weight DESC, term ASC) AS rank
  FROM wt
)
SELECT doc_id, term, tf, df, weight, rank FROM ranked WHERE rank <= 3
"""


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window aggregate (30 min window / 15 min slide,
    watermarked): the streaming twin of q_sliding_window, verified by the
    SAME batch SQL oracle (complete-mode memory sink)."""
    import uuid

    stream = _stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("_sv"),
        )
    )
    name = f"stream_slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("_w.start").alias("window_start"),
        "n_events",
        qround(F.col("_sv"), 2).alias("sum_value"),
    )


def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over per-user event values — the
    ranked-window family the reference lacks (SURVEY §2.5 'no
    ntile/percent_rank/cume_dist'). Total order (value, event_id) makes
    every function deterministic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        qround(F.percent_rank().over(w), 6).alias("pct_rank"),
        qround(F.cume_dist().over(w), 6).alias("cume"),
    )


_SQL_RANK_FAMILY = f"""
SELECT user_id, event_id,
       ntile(10) OVER w AS decile,
       {qround_sql('percent_rank() OVER w', 6)} AS pct_rank,
       {qround_sql('cume_dist() OVER w', 6)} AS cume
FROM {_EV}
-- NULLS FIRST matches Spark's ascending default (DuckDB defaults LAST)
WINDOW w AS (PARTITION BY user_id
             ORDER BY value ASC NULLS FIRST, event_id ASC)
"""


def q_unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the per-user pivot back to long form (DataFrame.unpivot —
    Expand-based, one pass): the round-trip twin of pivot_events, zeros
    included."""
    wide = q_pivot_events(spark, sf_dir)
    return wide.unpivot(
        ["user_id"], EVENT_TYPES, "event_type", "n"
    )


_SQL_UNPIVOT = f"""
WITH w AS ({_SQL_PIVOT})
{" UNION ALL ".join(f"SELECT user_id, '{t}' AS event_type, {t} AS n FROM w" for t in EVENT_TYPES)}
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 2 sample standard deviations, flag
    on the ROUNDED score for deterministic membership) — the statistical
    cousin of the reference's p95-based outlier bounds."""
    from etdtransform_spark.operators.stats import zscore_outliers

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = zscore_outliers(ev, "value", ["event_type"], threshold=2.0)
    return out.select("event_id", "event_type", "value", "z")


_SQL_ZSCORE = f"""
WITH a AS (
  SELECT event_type, count(value)::DOUBLE AS n,
         sum(value) AS sx, sum(value * value) AS sxx
  FROM {_EV} GROUP BY 1
), z AS (
  SELECT e.event_id, e.event_type, e.value,
         {qround_sql('(e.value - a.sx / a.n) / sqrt((a.sxx - a.sx * a.sx / a.n) / (a.n - 1))', 6)} AS z
  FROM {_EV} e JOIN a USING (event_type)
)
SELECT event_id, event_type, value, z FROM z WHERE abs(z) > 2.0
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis-Spirakis, hash-derived
    uniforms — identical across engines/reruns/task retries): 200 events
    weighted by |value|+1."""
    from etdtransform_spark.operators.sessions import weighted_hash_sample

    ev = _t(spark, sf_dir, "events")
    out = weighted_hash_sample(
        ev, "event_id", F.abs(F.col("value")) + 1.0, k=200
    )
    return out.select("event_id", "event_type", "value", "es_key")


_WS_HASH = portable_hash64_sql("event_id::VARCHAR", seed="wsample")
_SQL_WEIGHTED_SAMPLE = f"""
SELECT event_id, event_type, value, es_key FROM (
  SELECT event_id, event_type, value,
         {qround_sql(f'ln((({_WS_HASH}) % 1048576 + 0.5) / 1048576.0) / (abs(value) + 1.0)', 9)}
           AS es_key
  FROM {_EV}
) ORDER BY es_key DESC, event_id ASC LIMIT 200
"""


def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (value vs hour-of-day per event_type) via
    sufficient statistics — the ETD heating-analysis shape (energy vs
    temperature per project) as one hash aggregate. Small-magnitude x
    (0-23) keeps the closed form numerically tame cross-engine."""
    from etdtransform_spark.operators.stats import groupwise_ols

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return groupwise_ols(ev, "x", "y", ["event_type"])


_SQL_OLS = f"""
WITH b AS (
  -- pairwise-complete conditioning, matching groupwise_ols (the fixture
  -- is null-free, but the oracle must not diverge if that ever changes)
  SELECT event_type, hour(ts)::DOUBLE AS x, value AS y FROM {_EV}
  WHERE ts IS NOT NULL AND value IS NOT NULL
), a AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM b GROUP BY 1
)
SELECT event_type, n::BIGINT AS n,
       {qround_sql('CASE WHEN n*sxx - sx*sx <> 0.0 THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END', 6)} AS slope,
       {qround_sql('CASE WHEN n*sxx - sx*sx <> 0.0 THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END', 6)} AS intercept,
       {qround_sql('CASE WHEN n*sxx - sx*sx <> 0.0 AND n*syy - sy*sy <> 0.0 THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END', 6)} AS r2
FROM a
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type ([0, 200) x 20 bins,
    clamped edges) — single-pass profiling aggregate."""
    from etdtransform_spark.operators.stats import histogram

    ev = _t(spark, sf_dir, "events")
    return histogram(ev, "value", 0.0, 200.0, 20, keys=["event_type"])


_SQL_HISTOGRAM = f"""
SELECT event_type,
       least(greatest(floor((value - 0.0) / 10.0)::BIGINT, 0), 19) AS bin,
       count(*) AS n,
       {qround_sql('0.0 + least(greatest(floor((value - 0.0) / 10.0)::BIGINT, 0), 19) * 10.0', 6)} AS bin_start
FROM {_EV}
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


def q_time_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly calendar scaffold per user (sequence+explode grid left-
    joined with per-bucket aggregates — SURVEY §2.6's 'scaffold of empty
    buckets', aggregate.py:843-861, made explicit): empty hours appear with
    n = 0 and a null sum."""
    from etdtransform_spark.operators.timeseries import scaffold_time_grid

    ev = _t(spark, sf_dir, "events")
    return scaffold_time_grid(
        ev, ["user_id"], "ts", "1 hour",
        aggs=[qround(F.sum("value"), 2).alias("sum_value")],
    )


_SQL_TIME_GRID = f"""
WITH span AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM {_EV} GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span
), agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         count(*) AS n, {qround_sql('sum(value)', 2)} AS sum_value
  FROM {_EV} GROUP BY 1, 2
)
SELECT g.user_id, g.bucket, coalesce(a.n, 0) AS n, a.sum_value
FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
"""


def q_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of missing values between each
    user's nearest non-null neighbors (pandas interpolate(method='time');
    the continuous cousin of the reference's LINEAR_FILL impute rule,
    vectorized_impute.py:630-678). 'error' rows play the nulls; leading/
    trailing gaps stay null."""
    from etdtransform_spark.operators.timeseries import interpolate_linear

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", _v_nulled().alias("v"))
    )
    out = interpolate_linear(
        ev, ["user_id"], "ts", "v", order_cols=["event_id"]
    )
    return out.select("event_id", "user_id", "v", "v_interp")


_SQL_INTERPOLATE = f"""
WITH s AS (
  SELECT event_id, user_id, ts, {_V_NULLED_SQL} AS v FROM {_EV}
), w AS (
  SELECT event_id, user_id, v,
         epoch_us(ts) AS t,
         last_value(v IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wb AS pt,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wf AS nt
  FROM s
  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, v,
       CASE WHEN v IS NOT NULL THEN v
            WHEN nt = pt THEN {qround_sql('pv', 6)}
            ELSE {qround_sql('pv + ((t - pt)::DOUBLE / (nt - pt)::DOUBLE) * (nv - pv)', 6)}
       END AS v_interp
FROM w
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (alpha=0.3, 20-row frame) per user — the recursive
    fold Spark can't express as a window aggregate, done JVM-side via
    collect_list over a bounded frame + higher-order F.aggregate; the
    oracle folds the identical op sequence with list_reduce."""
    from etdtransform_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    out = ewma(
        ev, ["user_id"], "ts", "value", alpha=0.3, lookback=20,
        order_cols=["event_id"],
    )
    return out.select("event_id", "user_id", "value", "ewma")


_SQL_EWMA = f"""
SELECT event_id, user_id, value,
       -- FILTER mirrors collect_list's null-skipping; the CASE guards the
       -- all-null frame (list_reduce errors on an empty list, Spark seeds
       -- NULL via try_element_at)
       CASE WHEN len(l) > 0 THEN
         {qround_sql('list_reduce(l, (acc, x) -> 0.3 * x + 0.7 * acc)', 6)}
       END AS ewma
FROM (
  SELECT event_id, user_id, value,
         list(value) FILTER (WHERE value IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
  FROM {_EV}
)
"""


def q_quantile_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact quartiles + Tukey IQR fences (exact `percentile`, the
    same R-7 linear interpolation as DuckDB quantile_cont — the distributed
    generalization of the reference's exact-p95 outlier bound,
    impute.py:55-60,81-90)."""
    from etdtransform_spark.operators.stats import quantile_summary

    ev = _t(spark, sf_dir, "events")
    return quantile_summary(ev, "value", ["event_type"])


_SQL_QUANTILE = f"""
WITH q AS (
  SELECT event_type, count(value) AS n,
         {qround_sql('quantile_cont(value, 0.25)', 6)} AS p25,
         {qround_sql('quantile_cont(value, 0.50)', 6)} AS p50,
         {qround_sql('quantile_cont(value, 0.75)', 6)} AS p75
  FROM {_EV} GROUP BY 1
)
SELECT event_type, n, p25, p50, p75,
       {qround_sql('p75 - p25', 6)} AS iqr,
       {qround_sql('p25 - 1.5 * (p75 - p25)', 6)} AS lo_fence,
       {qround_sql('p75 + 1.5 * (p75 - p25)', 6)} AS hi_fence
FROM q
"""


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2^k grouping sets over (event_type, hour-of-day) — the cross-tab
    completion of rollup_orders, one Expand + one hash aggregate, grouping
    indicators distinguishing subtotal rows from genuine nulls."""
    from etdtransform_spark.operators.olap import cube_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return cube_stats(
        ev, ["event_type", "hr"],
        [F.count(F.lit(1)).alias("n"), qround(F.sum("value"), 2).alias("sum_value")],
    )


_SQL_CUBE = f"""
SELECT event_type, hr,
       grouping(event_type)::BIGINT AS grouping_event_type,
       grouping(hr)::BIGINT AS grouping_hr,
       count(*) AS n, {qround_sql('sum(value)', 2)} AS sum_value
FROM (SELECT event_type, hour(ts) AS hr, value FROM {_EV})
GROUP BY CUBE (event_type, hr)
-- same empty-input alignment as the rollup oracle
HAVING count(*) > 0
"""


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state snapshot: single latest row per user under the total
    order (ts, event_id) — QUALIFY row_number() = 1, the CDC/SCD
    'latest record wins' dedup."""
    from etdtransform_spark.operators.olap import latest_snapshot

    ev = _t(spark, sf_dir, "events")
    out = latest_snapshot(ev, ["user_id"], [F.col("ts"), F.col("event_id")])
    return out.select("user_id", "event_id", "event_type", "value", "ts")


_SQL_LATEST = f"""
SELECT user_id, event_id, event_type, value, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM {_EV}
) WHERE rn = 1
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over (user, day) activity: purchase-days ∩ view-days
    minus error-days (INTERSECT/EXCEPT — absent from the reference, SURVEY
    §2.3 'no intersect/except'; Spark plans both as aggregated joins)."""
    # day emitted as TIMESTAMP, not DATE: Spark DateType reaches pandas as
    # object(datetime.date) ("2023-01-05") while DuckDB DATE arrives as
    # datetime64 ("2023-01-05T00:00:00") — a dtype-sensitive canonicalizer
    # hash-mismatches even though the days are equal (same class as the
    # HUGEINT reds; caught by the r3 pandas-dtype harness sweep).
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("DAY", F.col("ts")).alias("day"), "event_type"
    )

    def days(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id", "day").distinct()

    return days("purchase").intersect(days("view")).subtract(days("error"))


_SQL_SET_OPS = f"""
(SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day FROM {_EV} WHERE event_type = 'purchase'
 INTERSECT
 SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day FROM {_EV} WHERE event_type = 'view')
EXCEPT
SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day FROM {_EV} WHERE event_type = 'error'
"""


def q_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase revenue FULL OUTER JOIN per-user error counts with
    coalesced keys — users appearing on either side survive (the only join
    family the reference lacks entirely, SURVEY §2.3 'all equi left
    joins')."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(qround(F.sum("value"), 2).alias("purchase_value"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        p.withColumnRenamed("user_id", "pu")
        .join(e.withColumnRenamed("user_id", "eu"), F.col("pu") == F.col("eu"), "full_outer")
        .select(
            F.coalesce(F.col("pu"), F.col("eu")).alias("user_id"),
            "purchase_value",
            "n_errors",
        )
    )


_SQL_FULL_OUTER = f"""
WITH p AS (
  SELECT user_id AS pu, {qround_sql('sum(value)', 2)} AS purchase_value
  FROM {_EV} WHERE event_type = 'purchase' GROUP BY 1
), e AS (
  SELECT user_id AS eu, count(*) AS n_errors
  FROM {_EV} WHERE event_type = 'error' GROUP BY 1
)
SELECT coalesce(pu, eu) AS user_id, purchase_value, n_errors
FROM p FULL OUTER JOIN e ON pu = eu
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) per-type outliers — the resistant twin of
    zscore_outliers: one wild value cannot drag the center or spread."""
    from etdtransform_spark.operators.stats import mad_outliers

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(ev, "value", ["event_type"], k=3.0).select(
        "event_id", "event_type", "value", "robust_z"
    )


_SQL_MAD = f"""
WITH med AS (
  SELECT event_type, {qround_sql('quantile_cont(value, 0.5)', 6)} AS med
  FROM {_EV} GROUP BY 1
), mad AS (
  SELECT e.event_type, {qround_sql('quantile_cont(abs(e.value - m.med), 0.5)', 6)} AS mad
  FROM {_EV} e JOIN med m USING (event_type) GROUP BY 1
), scored AS (
  SELECT e.event_id, e.event_type, e.value,
         {qround_sql('(e.value - m.med) / (1.4826 * d.mad)', 6)} AS robust_z
  FROM {_EV} e JOIN med m USING (event_type) JOIN mad d USING (event_type)
)
SELECT event_id, event_type, value, robust_z FROM scored WHERE abs(robust_z) > 3.0
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own unigram
    LM — cheap fluency/quality scoring (LLM-corpus filter family)."""
    from etdtransform_spark.operators.corpus import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


_SQL_UNIGRAM = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
total AS (SELECT sum(tf) AS total FROM tf)
SELECT t.doc_id, count(*) AS n_tokens,
       {qround_sql('avg(ln(f.tf::DOUBLE / total.total))', 6)} AS avg_logprob
FROM toks t JOIN tf f USING (term) CROSS JOIN total
GROUP BY 1
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-3-gram fraction per doc (Gopher/MassiveText
    repetition gate) — pure per-row array math, zero shuffles."""
    from etdtransform_spark.operators.corpus import repetition_ratio

    docs = _t(spark, sf_dir, "documents")
    return repetition_ratio(docs, n=3)


_SQL_REPETITION = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) - 2, 1)),
           -- coalesce: a zero-token document keeps Spark's degenerate ''
           -- whole-doc gram (array_to_string over an empty slice is NULL
           -- in DuckDB, '' via concat_ws in Spark)
           i -> coalesce(array_to_string(list_slice(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), i, i + 2), ' '), '')
         ) AS grams
  FROM documents
)
SELECT doc_id, len(grams) AS n_grams,
       {qround_sql('(len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)', 6)} AS dup_gram_frac
FROM g
"""


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-title near-dup pairs: Levenshtein <= 2 on the normalized
    64-char prefix, banded EXACTLY by the PassJoin segment filter (never a
    cross join; the oracle verifies against the full quadratic join)."""
    from etdtransform_spark.operators.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(docs, max_dist=2, prefix_len=64)


_SQL_EDIT_PAIRS = f"""
WITH p AS (
  SELECT doc_id, rpad({_FOLD_PRE}, 64, ' ') AS pre FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.pre, b.pre) AS dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.pre, b.pre) <= 2
"""


def q_argmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise argmin lookup (TPC-H Q2's core shape): per brand, the
    cheapest part — one hash aggregate on min(struct(price, key)), total
    order via the key tiebreak, NO self-join back."""
    part = _t(spark, sf_dir, "part")
    best = part.groupBy("p_brand").agg(
        F.min(F.struct("p_retailprice", "p_partkey")).alias("_m")
    )
    return best.select(
        "p_brand",
        F.col("_m.p_partkey").alias("p_partkey"),
        qround(F.col("_m.p_retailprice"), 2).alias("min_price"),
    )


_SQL_ARGMIN = f"""
SELECT p_brand, p_partkey, {qround_sql('p_retailprice', 2)} AS min_price
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice ASC, p_partkey ASC) AS rn
  FROM part
) WHERE rn = 1
"""


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of global
    order revenue. The global sum is a window over the 25-row aggregate —
    never over the fact table."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("_rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        qround(F.col("_rev"), 2).alias("revenue"),
        qround(F.col("_rev") / F.sum("_rev").over(w), 6).alias("share"),
    )


_SQL_REVENUE_SHARE = f"""
WITH per_nation AS (
  SELECT n_name, sum(o_totalprice) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name, {qround_sql('rev', 2)} AS revenue,
       {qround_sql('rev / sum(rev) OVER ()', 6)} AS share
FROM per_nation
"""


def q_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated scalar subquery (TPC-H Q22 shape): customers whose
    order total exceeds 1.5x the mean customer total. The scalar enters as
    a broadcast 1-row aggregate, not a driver collect."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("_tot")
    )
    avg_tot = per_cust.agg(F.avg("_tot").alias("_avg"))
    return (
        per_cust.crossJoin(F.broadcast(avg_tot))
        .filter(F.col("_tot") > 1.5 * F.col("_avg"))
        .select("o_custkey", qround(F.col("_tot"), 2).alias("total_spent"))
    )


_SQL_ABOVE_AVG = f"""
WITH per_cust AS (
  SELECT o_custkey, sum(o_totalprice) AS tot FROM orders GROUP BY 1
)
SELECT o_custkey, {qround_sql('tot', 2)} AS total_spent
FROM per_cust
WHERE tot > 1.5 * (SELECT avg(tot) FROM per_cust)
"""


def q_dim_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join dimension grid (region x order-priority) left-joined with
    observed counts — the categorical twin of the calendar scaffold: empty
    cells survive with n = 0. Cross join of two tiny distinct sets only."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    prios = orders.select("o_orderpriority").distinct()
    grid = region.select("r_name").crossJoin(prios)
    counts = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grid.join(counts, ["r_name", "o_orderpriority"], "left").select(
        "r_name",
        "o_orderpriority",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )


_SQL_DIM_GRID = """
WITH grid AS (
  SELECT r_name, o_orderpriority
  FROM (SELECT DISTINCT r_name FROM region)
  CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
), counts AS (
  SELECT r_name, o_orderpriority, count(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT g.r_name, g.o_orderpriority, coalesce(c.n, 0) AS n
FROM grid g LEFT JOIN counts c
  ON g.r_name = c.r_name AND g.o_orderpriority = c.o_orderpriority
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom GROUPING SETS ((event_type), (hr)) — subtotals only, a shape
    neither rollup nor cube can express (DataFrame.groupingSets, Spark 4);
    same single Expand + hash-agg physical plan."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return ev.groupingSets(
        [["event_type"], ["hr"]], "event_type", "hr"
    ).agg(
        F.grouping("event_type").cast("bigint").alias("grouping_event_type"),
        F.grouping("hr").cast("bigint").alias("grouping_hr"),
        F.count(F.lit(1)).alias("n"),
        qround(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_GROUPING_SETS = f"""
SELECT event_type, hr,
       grouping(event_type)::BIGINT AS grouping_event_type,
       grouping(hr)::BIGINT AS grouping_hr,
       count(*) AS n, {qround_sql('sum(value)', 2)} AS sum_value
FROM (SELECT event_type, hour(ts) AS hr, value FROM {_EV})
GROUP BY GROUPING SETS ((event_type), (hr))
"""


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joined per
    micro-batch against the static customer dimension, then a running
    (mktsegment, event_type) aggregate in the state store. Oracle = the
    identical batch join+agg."""
    import uuid

    from etdtransform_spark.streaming.enrich_stream import stream_static_enrich

    stream = _stream_events(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(
        stream,
        dim,
        F.col("user_id") == F.col("c_custkey"),
        ["c_mktsegment", "event_type"],
        [F.count(F.lit(1)).alias("n"), qround(F.sum("value"), 2).alias("sum_value")],
    )
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


_SQL_STREAM_ENRICH = f"""
SELECT c_mktsegment, event_type, count(*) AS n,
       {qround_sql('sum(value)', 2)} AS sum_value
FROM {_EV} e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition
    (purchases within 1h after a signup by the same user), both sides
    watermarked — state evicts at the watermark + interval horizon. Oracle
    is the identical batch join."""
    import uuid

    from etdtransform_spark.streaming.join_stream import stream_interval_join

    def src():
        return _stream_events(spark, sf_dir)

    signups = (
        src()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("s_event"),
        )
    )
    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
            F.col("value").alias("p_value"),
        )
    )
    joined = stream_interval_join(
        purchases,
        signups,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "p_ts",
        "s_ts",
    ).select(
        "p_user", "s_event", "p_event", qround(F.col("p_value"), 2).alias("p_value")
    )
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    # A stream-stream join instantiates 4 state stores PER shuffle partition;
    # at local-test scale the store setup dominates wall clock, so run the
    # stateful stage narrow (the partition count is a per-query knob read at
    # stream start — on a cluster it is sized to executor count).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


_SQL_STREAM_IJ = f"""
SELECT p.user_id AS p_user, s.event_id AS s_event, p.event_id AS p_event,
       {qround_sql('p.value', 2)} AS p_value
FROM (SELECT * FROM {_EV} WHERE event_type = 'purchase') p
JOIN (SELECT * FROM {_EV} WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
"""


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each event projects a 30-minute validity span;
    overlapping/touching spans per user coalesce into maximal islands
    (one window pass + one aggregate)."""
    from etdtransform_spark.operators.temporal import merge_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("span_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("span_end"),
    )
    return merge_intervals(ev, ["user_id"], "span_start", "span_end")


_SQL_MERGE_INTERVALS = f"""
WITH spans AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM {_EV}
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM spans
), islands AS (
  SELECT user_id, s, e,
         sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, min(s) AS island_start, max(e) AS island_end,
       count(*) AS n_merged
FROM islands GROUP BY user_id, island
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from the event log: one row per consecutive
    event_type version per user with [valid_from, valid_to) ranges
    (open version has null valid_to)."""
    from etdtransform_spark.operators.temporal import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev, ["user_id"], "event_type", "ts", order_cols=["event_id"]
    )


_SQL_SCD2 = f"""
WITH w AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER win AS rn,
         lag(event_type) OVER win AS prev_type
  FROM {_EV}
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
), versions AS (
  SELECT user_id, event_type, ts, event_id FROM w
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM versions
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: two deterministic derivations of orders (old
    drops keys %5==0; new drops %7==0 and bumps prices on %3==0) diffed on
    the key — added/removed/changed rows only, change-proportional
    output."""
    from etdtransform_spark.operators.temporal import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", qround(F.col("o_totalprice"), 2).alias("price")
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        qround(
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("price"),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["price"])


_SQL_SNAPSHOT_DIFF = f"""
WITH old AS (
  SELECT o_orderkey, {qround_sql('o_totalprice', 2)} AS price
  FROM orders WHERE o_orderkey % 5 <> 0
), new AS (
  SELECT o_orderkey,
         {qround_sql('CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END', 2)} AS price
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.price IS DISTINCT FROM n.price THEN 'changed'
       END AS status,
       o.price AS old_price, n.price AS new_price
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.price IS DISTINCT FROM n.price THEN 'changed'
      END IS NOT NULL
"""


def q_union_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two projections with different column sets
    combined by NAME with missing columns null-filled
    (unionByName(allowMissingColumns=True) ≡ DuckDB UNION ALL BY NAME) —
    how an append-only corpus absorbs a schema change without rewriting
    history."""
    ev = _t(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", qround(F.col("value"), 2).alias("value")
    )
    v2 = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        qround(F.col("value"), 2).alias("value"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


_SQL_UNION_EVOLVED = f"""
SELECT event_id, user_id, {qround_sql('value', 2)} AS value, NULL::BIGINT AS k
FROM {_EV} WHERE event_type = 'view'
UNION ALL BY NAME
SELECT event_id, user_id, {qround_sql('value', 2)} AS value,
       CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.k')::BIGINT END AS k
FROM {_EV} WHERE event_type = 'purchase'
"""


def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate: per user, the mean and count of
    values in the trailing 30 minutes of EVENT TIME (row count varies,
    span fixed — the irregular-cadence-correct complement of the
    row-based rolling windows)."""
    from etdtransform_spark.operators.windows import rolling_time_window

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        qround(
            rolling_time_window("value", ["user_id"], "ts", 1800, "avg"), 6
        ).alias("avg_30m"),
        rolling_time_window("value", ["user_id"], "ts", 1800, "count").alias(
            "n_30m"
        ),
    )


_SQL_ROLLING_TIME = f"""
SELECT event_id, user_id,
       {qround_sql('avg(value) OVER w', 6)} AS avg_30m,
       count(value) OVER w AS n_30m
FROM {_EV}
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)::BIGINT
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
"""


def q_impute_date_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-timestamp (hourly) imputation stats — the reference's disabled
    get_reading_date_imputation_stats (impute.py:330-412) as one hash
    aggregate: 'error' events play imputed rows, per-bucket counts + OR-ed
    method masks localize systematic outages."""
    ev = _t(spark, sf_dir, "events")
    imputed = F.col("event_type") == "error"
    mask = F.expr(
        "CASE WHEN event_type = 'error' THEN "
        "shiftleft(CAST(1 AS BIGINT), CAST(event_id % 3 + 1 AS INT)) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return (
        ev.select(
            F.date_trunc("hour", "ts").alias("bucket"),
            imputed.alias("imp"),
            mask.alias("mask"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("imp"), F.lit(1))).alias("imputed"),
            F.expr("bit_or(mask)").alias("impute_type_mask"),
            qround(
                F.count(F.when(F.col("imp"), F.lit(1))) * 100.0
                / F.count(F.lit(1)),
                6,
            ).alias("percentage_imputed"),
        )
    )


_SQL_IMPUTE_DATE_STATS = f"""
SELECT date_trunc('hour', ts)::TIMESTAMP AS bucket,
       count(*) AS n,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS imputed,
       bit_or(CASE WHEN event_type = 'error'
                   THEN (1::BIGINT << ((event_id % 3 + 1)::INT))
                   ELSE 0::BIGINT END) AS impute_type_mask,
       {qround_sql("count(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / count(*)", 6)} AS percentage_imputed
FROM {_EV}
GROUP BY 1
"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are assigned by the
    portable hash of their exact-dup GROUP representative (min doc_id over
    identical lowercased text), so duplicate groups can never straddle the
    train/test fence; hash-range bucketing keeps assignments stable under
    corpus growth."""
    from etdtransform_spark.operators.corpus import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(fold_case(F.col("text")))
    grouped = docs.withColumn("grp", F.min("doc_id").over(w))
    out = leakage_safe_split(grouped, group_col="grp")
    return out.select("doc_id", "grp", "split")


_LS_HASH = portable_hash64_sql("grp::VARCHAR", seed="split")
_SQL_LEAKAGE_SPLIT = f"""
WITH g AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY {_FOLD_TEXT}) AS grp
  FROM documents
)
SELECT doc_id, grp,
       CASE WHEN (({_LS_HASH}) % 1048576) / 1048576.0 < 0.8 THEN 'train'
            WHEN (({_LS_HASH}) % 1048576) / 1048576.0 < 0.9000000000000001 THEN 'val'
            ELSE 'test' END AS split
FROM g
"""


def q_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per linestatus, conditional counts of high- vs
    low-priority orders for a one-year shipdate window — CASE-aggregation
    with the date filter pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_SQL_PRIORITY_SHIP = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY 1
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format numeric profile of lineitem measures — one aggregate
    pass + struct unpivot for any column count (the df.summary() shape,
    deterministic)."""
    from etdtransform_spark.operators.stats import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _profile_sql_one(c: str) -> str:
    return f"""
SELECT '{c}' AS "column", count({c}) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       {qround_sql(f'avg({c}::DOUBLE)', 4)} AS mean,
       {qround_sql(f'stddev_samp({c}::DOUBLE)', 4)} AS std,
       {qround_sql(f'min({c}::DOUBLE)', 4)} AS "min",
       {qround_sql(f'max({c}::DOUBLE)', 4)} AS "max"
FROM lineitem"""


_SQL_PROFILE = " UNION ALL ".join(
    _profile_sql_one(c)
    for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table (5 iterations,
    k=8, deterministic lowest-id init) — the iterative training step behind
    ivf_topk's coarse quantizer. Oracle: _sql_kmeans() — the Lloyd loop
    unrolled in DuckDB; the output is integer cluster sizes, so the only
    cross-engine float risk is a near-tie in the Voronoi argmin (margins on
    this data are ~10 orders of magnitude above accumulation ULP)."""
    from etdtransform_spark.operators.similarity import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans(emb, k=8, iters=5).select("cluster_id", "n_members")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py:semantic_dedup): k-means-bucketed
    semantic near-dup pruning — pairs compared only within a cluster
    (equijoin, never all-pairs), lowest-id member of each near-dup chain
    kept. Oracle: _sql_semantic_dedup() — the shared unrolled-Lloyd prefix
    plus a within-cluster list_dot_product pair join; discrete outputs."""
    from etdtransform_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iters=5, threshold=0.4)


def q_semantic_dedup_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with SAMPLED centroid fitting
    (operators/similarity.py:semantic_dedup fit_sample_mod) — the 100 TB
    recipe measured in PLANS.md "Scale-stress r8": k scaled up so
    clusters stay small (cheap pair join) while Lloyd runs on the
    deterministic ~1/10 arithmetic sample unioned with the k lowest ids;
    the final assignment and the pair join still cover every vector.
    Oracle = the same sampled-Lloyd unroll (fitids/edf CTEs)."""
    from etdtransform_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, k=16, iters=5, threshold=0.4, fit_sample_mod=10
    )


def q_kmeans_assign_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-floor contract on the IVF-pruned assignment SCALE path
    (operators/similarity.py:kmeans_assignment_recall): exhaustive vs
    nprobe=1-of-3-cells assignment against the same deterministic
    9-centroid model, ONE row (n, n_agree, agreement, floor_ok). This
    contracts the regime semantic_dedup(assign_nprobe=...) actually
    runs at 100 TB — the probe-all parity setting is contracted
    separately by semantic_dedup_pruned. Oracle: _sql_kmeans_recall()
    — the driver-side coarse Lloyd over the k centroid vectors and
    both assignments replayed with ORDERED list folds (bit-exact
    replicas of the Python/Spark sequential accumulation)."""
    from etdtransform_spark.operators.similarity import (
        kmeans_assignment_recall,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assignment_recall(emb, k=9, nprobe=1, nlist=3, floor=0.5)


def _sql_kmeans_recall(
    k: int = 9, nlist: int = 3, nprobe: int = 1, iters: int = 5,
    floor: float = 0.5,
) -> str:
    """DuckDB replica of kmeans_assignment_recall: k lowest-id
    centroids, _coarse_quantize_centroids' driver Lloyd (first-nlist
    init, strict-< nearest = ties to lowest cell, empty cells keep the
    previous mean, empty cells dropped at the end), then the full and
    nprobe-pruned assignments. Every distance and mean is an ORDERED
    list fold (list_reduce over a 0.0-prepended dim-ordered list ≡ the
    Python sum() / Spark F.aggregate sequential accumulation — bit
    exact, unlike the exploded-sum kmeans prefix)."""

    def d2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, len({a})), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
        )

    parts = [f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM {_EMB}
), cent AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS pos, v AS cv
  FROM emb ORDER BY vec_id LIMIT {k}
), g0 AS (
  SELECT pos AS cell, cv AS gv FROM cent WHERE pos < {nlist}
)"""]
    for t in range(1, iters + 1):
        parts.append(f""", a{t} AS MATERIALIZED (
  SELECT pos, cell FROM (
    SELECT c.pos, g.cell,
           row_number() OVER (PARTITION BY c.pos
                              ORDER BY {d2('c.cv', 'g.gv')}, g.cell) AS rn
    FROM cent c CROSS JOIN g{t - 1} g) WHERE rn = 1
), m{t} AS (
  SELECT a.cell, list(c.cv ORDER BY c.pos) AS ms
  FROM a{t} a JOIN cent c USING (pos) GROUP BY 1
), g{t} AS MATERIALIZED (
  SELECT g.cell,
         CASE WHEN m.ms IS NULL THEN g.gv
              ELSE list_transform(generate_series(1, len(g.gv)),
                     i -> list_reduce(list_prepend(0.0,
                            list_transform(m.ms, mv -> mv[i])),
                            (x, y) -> x + y) / len(m.ms))
         END AS gv
  FROM g{t - 1} g LEFT JOIN m{t} m USING (cell)
)""")
    parts.append(f""", af AS (
  SELECT pos, cell FROM (
    SELECT c.pos, g.cell,
           row_number() OVER (PARTITION BY c.pos
                              ORDER BY {d2('c.cv', 'g.gv')}, g.cell) AS rn
    FROM cent c CROSS JOIN g{iters} g) WHERE rn = 1
), kept AS (
  SELECT cell, (dense_rank() OVER (ORDER BY cell) - 1)::INT AS ki
  FROM (SELECT DISTINCT cell FROM af)
), kg AS (
  SELECT kept.ki, g.gv FROM kept JOIN g{iters} g USING (cell)
), mem AS (
  SELECT kept.ki, af.pos FROM af JOIN kept USING (cell)
), probe AS MATERIALIZED (
  SELECT vec_id, ki FROM (
    SELECT e.vec_id, kg.ki,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2('e.v', 'kg.gv')}, kg.ki) AS rn
    FROM emb e CROSS JOIN kg) WHERE rn <= {nprobe}
), prd AS MATERIALIZED (
  SELECT vec_id, pos AS cp FROM (
    SELECT e.vec_id, c.pos,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2('e.v', 'c.cv')}, c.pos) AS rn
    FROM probe p
    JOIN mem USING (ki)
    JOIN cent c ON c.pos = mem.pos
    JOIN emb e ON e.vec_id = p.vec_id) WHERE rn = 1
), ful AS MATERIALIZED (
  SELECT vec_id, pos AS cf FROM (
    SELECT e.vec_id, c.pos,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2('e.v', 'c.cv')}, c.pos) AS rn
    FROM emb e CROSS JOIN cent c) WHERE rn = 1
), agr AS (
  SELECT count(*)::BIGINT AS n,
         coalesce(sum(CASE WHEN cf = cp THEN 1 ELSE 0 END), 0)::BIGINT
           AS n_agree
  FROM ful JOIN prd USING (vec_id)
)
SELECT n, n_agree,
       {qround_sql('CASE WHEN n > 0 THEN n_agree::DOUBLE / n::DOUBLE END', 6)}
         AS agreement,
       coalesce(
         {qround_sql('CASE WHEN n > 0 THEN n_agree::DOUBLE / n::DOUBLE END',
                     6)} >= {floor}, TRUE) AS floor_ok
FROM agr""")
    return "".join(parts)


def q_validate_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based twin of the reference's per-household loop
    validate_household_column (impute.py:262-326, unused there): one
    aggregate emits every quality flag per (key, column); second column has
    no diff twin, exercising the null-dsum path."""
    from etdtransform_spark.operators.validate import validate_household_columns

    ev = _t(spark, sf_dir, "events").withColumn("v_nulled", _v_nulled())
    return validate_household_columns(
        ev,
        [("value", "v_nulled"), ("v_nulled", None)],
        key_col="user_id",
    )


_SQL_VALIDATE = f"""
WITH base AS (
  SELECT user_id, value, {_V_NULLED_SQL} AS v_nulled FROM {_EV}
), a AS (
  SELECT user_id,
         (count(*) - count(value))::BIGINT AS n_missing,
         count(*)::BIGINT AS n_rows,
         {qround_sql('coalesce(sum(value), 0.0)', 10)} AS s,
         {qround_sql('coalesce(max(value) - min(value), 0.0)', 10)} AS rng,
         {qround_sql('coalesce(sum(v_nulled), 0.0)', 10)} AS dsum,
         (count(*) - count(v_nulled))::BIGINT AS vn_missing,
         {qround_sql('coalesce(sum(v_nulled), 0.0)', 10)} AS vs,
         {qround_sql('coalesce(max(v_nulled) - min(v_nulled), 0.0)', 10)} AS vrng
  FROM base GROUP BY 1
)
SELECT user_id, 'value' AS column, n_missing, n_rows,
       n_missing = n_rows AS all_missing,
       n_missing / n_rows > 0.4 AS high_na,
       s = 0.0 AS zero_sum, rng = 0.0 AS no_change,
       coalesce(dsum = 0.0, FALSE) AS zero_diff_sum,
       NOT (n_missing = n_rows) AND NOT (s = 0.0) AND NOT (rng = 0.0) AS valid
FROM a
UNION ALL
SELECT user_id, 'v_nulled' AS column, vn_missing AS n_missing, n_rows,
       vn_missing = n_rows AS all_missing,
       vn_missing / n_rows > 0.4 AS high_na,
       vs = 0.0 AS zero_sum, vrng = 0.0 AS no_change,
       FALSE AS zero_diff_sum,
       NOT (vn_missing = n_rows) AND NOT (vs = 0.0) AND NOT (vrng = 0.0) AS valid
FROM a
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-step signup->purchase funnel (purchase at-or-after the user's first
    signup, within 7 days), counted per signup-day cohort
    (operators/funnel.py — k conditional aggregates, no row-level
    self-join)."""
    from etdtransform_spark.operators.funnel import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    return funnel_conversion(
        ev, ["signup", "purchase"], within_seconds=7 * 86400.0
    )


_SQL_FUNNEL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS step1_ts FROM {_EV}
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS step2_ts
  FROM {_EV} e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s1.step1_ts
    AND epoch_us(e.ts) - epoch_us(s1.step1_ts) <= 604800000000
  GROUP BY 1
), u AS (
  SELECT s1.user_id, s1.step1_ts, s2.step2_ts
  FROM s1 LEFT JOIN s2 USING (user_id)
)
SELECT date_trunc('day', step1_ts)::TIMESTAMP AS cohort_day,
       count(step1_ts) AS n_step1, count(step2_ts) AS n_step2
FROM u GROUP BY 1
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: distinct active users per (first-activity
    cohort week, week offset)."""
    from etdtransform_spark.operators.funnel import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev)


_SQL_RETENTION = f"""
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts))::TIMESTAMP AS cohort_week
  FROM {_EV} GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS w FROM {_EV}
),
j AS (
  SELECT a.user_id, f.cohort_week,
         ((epoch_us(a.w) - epoch_us(f.cohort_week)) / 604800000000.0)::BIGINT
           AS week_offset
  FROM a JOIN f USING (user_id)
)
SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_active
FROM j GROUP BY 1, 2
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization of the embedding corpus (global
    per-dimension min/max -> 255-level codes): the memory side of
    billion-scale ANN (4x smaller resident index). One stats aggregate +
    a broadcast-stats narrow encode; the corpus itself never shuffles."""
    from etdtransform_spark.operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    # serialized for the driver's canonicalizer (cannot hash list cells)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda x: x.cast("string")), ","
        ).alias("codes"),
    )


_SQL_QUANTIZE = f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM {_EMB}
), s AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
c AS (
  SELECT e.vec_id, e.d,
         (CASE WHEN s.mx = s.mn THEN 0.0
               ELSE least(255.0, floor((e.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5))
          END)::BIGINT AS code
  FROM e JOIN s USING (d)
)
SELECT vec_id, array_to_string(list(code ORDER BY d), ',') AS codes
FROM c GROUP BY vec_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: timestamps enumerated Catalyst-side (sequence +
    posexplode), per-frame decode in the Arrow kernel (stubbed sha256 —
    cross-engine computable). Synthetic geometry: every doc_id%3==2 doc is a
    'video' whose duration is 40 ms per content byte."""
    from etdtransform_spark.operators.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("modality"),
        F.col("text").cast("binary").alias("content"),
        (F.octet_length("text") * 40).cast("long").alias("duration_ms"),
    )
    # project the stub-mode columns only: the real-mode extras
    # (sample_idx/sample_size) are NULL here and not part of the contract
    return sample_video_frames(media, every_ms=1000).select(
        "media_id", "frame_idx", "frame_ts_ms", "frame_sha256"
    )


_SQL_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, text,
         (octet_length(encode(text)) * 40)::BIGINT AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
    -- zero/NULL-duration videos have no frames — without this the range()
    -- below fabricates a phantom frame at ts=0 that the operator
    -- (sample_video_frames, duration_ms > 0 filter) correctly drops
    AND octet_length(encode(text)) > 0
), f AS (
  SELECT media_id, text,
         unnest(range(0, greatest(duration_ms - 1, 0) + 1, 1000)) AS frame_ts_ms
  FROM m
)
SELECT media_id, (frame_ts_ms // 1000)::BIGINT AS frame_idx, frame_ts_ms,
       sha256(text || ':' || frame_ts_ms) AS frame_sha256
FROM f
"""


# ---------------------------------------------------------------------------
# corpus preparation: chunking, packing, PII scrub, contamination
# (operators/corpus.py)
# ---------------------------------------------------------------------------

def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16 overlap) —
    the pretraining split step; explode is proportional to output."""
    from etdtransform_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


_SQL_CHUNK = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         unnest(range(0,
           floor((greatest(len(toks) - 16, 1) - 1) / 48.0)::BIGINT + 1)) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
       (chunk_id * 48)::BIGINT AS chunk_start,
       least(64, len(toks) - chunk_id * 48)::BIGINT AS n_chunk_tokens,
       -- DuckDB's array_to_string over an EMPTY slice is NULL where
       -- Spark's array_join is '' — a zero-token document keeps its one
       -- empty chunk on both engines; NULL text stays NULL on both
       CASE WHEN toks IS NOT NULL THEN
         coalesce(
           array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' '),
           '') END AS chunk_text
FROM c
"""


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget bin packing (2048-token bins per source, id order): one
    window cumsum, bin = where the document STARTS."""
    from etdtransform_spark.operators.corpus import pack_documents

    docs = _t(spark, sf_dir, "documents")
    return pack_documents(docs, budget_tokens=2048)


_SQL_PACK = r"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents
), c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ce
  FROM t
)
SELECT source, doc_id, n_tokens,
       floor(ce / 2048.0)::BIGINT AS bin_id,
       (ce % 2048)::BIGINT AS bin_offset
FROM c
"""


_PII_INJECT_SPARK = lambda c: F.concat(  # noqa: E731
    c,
    F.lit(" contact user"),
    F.col("doc_id").cast("string"),
    F.lit("@example.com via https://ex.example/p/"),
    F.col("doc_id").cast("string"),
    F.lit(" or +31 6 5550 12"),
    F.col("doc_id").cast("string"),
    F.lit(" ip 10.0.0.7 "),
)

_PII_INJECT_SQL = (
    "text || ' contact user' || doc_id || "
    "'@example.com via https://ex.example/p/' || doc_id || "
    "' or +31 6 5550 12' || doc_id || ' ip 10.0.0.7 '"
)


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (URL -> email -> IPv4 -> phone, RE2-portable patterns)
    over documents with deterministically injected PII so every counter
    fires; counts are per-stage so overlap semantics are well-defined."""
    from etdtransform_spark.operators.corpus import scrub_pii

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", _PII_INJECT_SPARK(F.col("text"))
    )
    return scrub_pii(docs)


def _sql_scrub() -> str:
    from etdtransform_spark.operators.corpus import PII_PATTERNS

    sql = (
        "WITH s0 AS (SELECT doc_id, " + _PII_INJECT_SQL + " AS t FROM documents)"
    )
    prev = "s0"
    counts = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, start=1):
        lit = pat.replace("'", "''")
        carried = ", ".join(f"n_{c}" for c in counts)
        carried = carried + ", " if carried else ""
        sql += (
            f", s{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(t, '{lit}'))::BIGINT AS n_{name}, "
            f"regexp_replace(t, '{lit}', '{repl}', 'g') AS t FROM {prev})"
        )
        prev = f"s{i}"
        counts.append(name)
    cols = ", ".join(f"n_{c}" for c in counts)
    sql += f" SELECT doc_id, {cols}, t AS text_scrubbed FROM {prev}"
    return sql


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage detection: corpus docs sharing any word 5-gram with
    the (deterministic 10% hash-sampled) benchmark set."""
    from etdtransform_spark.operators.corpus import contamination
    from etdtransform_spark.operators.sessions import hash_sample

    docs = _t(spark, sf_dir, "documents")
    bench = hash_sample(docs, "doc_id", 10)
    corp = docs.join(bench.select("doc_id"), "doc_id", "left_anti")
    return contamination(corp, bench, n=5)


def _sql_contamination() -> str:
    sh = word_shingles_sql("text", 5)
    return f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE {_HS} % 100 < 10),
corp AS (
  SELECT d.doc_id, d.text FROM documents d
  ANTI JOIN bench b ON d.doc_id = b.doc_id
),
bs AS (SELECT DISTINCT unnest({sh}) AS sh FROM bench),
cs AS (SELECT doc_id, unnest({sh}) AS sh FROM corp)
SELECT cs.doc_id, count(*) AS n_shared
FROM cs JOIN bs USING (sh) GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Composite LLM-pipeline contract (VERDICT r9 missing #5): ONE chained
# clean -> dedup -> filter -> decontaminate -> pack run, so interface
# mismatches between the per-operator contracts can't hide. The staged
# input adds deterministic multi-line structure so every stage has real
# work: a per-source NAV banner + global COOKIE footer (boilerplate),
# PII lines that become IDENTICAL after scrubbing (so scrub->boilerplate
# ordering matters), and 3-doc shared-body groups (exact dedup).
# ---------------------------------------------------------------------------

_E2E_BODY = (
    " shared body the quick brown fox jumps over a lazy dog while careful"
    " readers note that this paragraph exists to exercise the dedup stage"
    " of the pipeline and nothing more"
)
_E2E_FOOTER = "COOKIE terms apply to the site"


def _e2e_staged_text() -> F.Column:
    line1 = F.concat(F.lit("NAV "), F.col("source"))
    line2 = F.when(
        F.pmod(F.col("doc_id"), F.lit(50)).isin(11, 12, 13),
        F.concat(
            F.lit("group "),
            F.expr("doc_id div 50").cast("string"),
            F.lit(_E2E_BODY),
        ),
    ).otherwise(F.col("text"))
    line3 = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    )
    line4 = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(
            F.lit("see https://ex.example/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" for details"),
        ),
    )
    return F.concat_ws("\n", line1, line2, line3, line4, F.lit(_E2E_FOOTER))


def q_llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data pipeline: scrub_pii →
    remove_boilerplate_lines → exact-duplicate resolution (min-id
    canonical) → gopher_gate → contamination anti-join vs the raw
    benchmark sample → pack_documents(512). Output = the packed layout
    (source, doc_id, n_tokens, bin_id, bin_offset) of every surviving
    document — any drift in any stage moves token counts or bins.
    Plan audit: PLANS.md "llm_pipeline_e2e"."""
    from etdtransform_spark.operators.corpus import (
        contamination,
        pack_documents,
        remove_boilerplate_lines,
        scrub_pii,
    )
    from etdtransform_spark.operators.dedup import exact_duplicates
    from etdtransform_spark.operators.sessions import hash_sample
    from etdtransform_spark.operators.text import gopher_gate

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    staged = docs.select("doc_id", "source", _e2e_staged_text().alias("text"))
    # 1. PII scrub (URL -> email -> IP -> phone; the scrubbed lines
    #    become identical template lines, feeding stage 2)
    #    NOT checkpointed: an A/B measurement (r13) showed cutting here
    #    costs 3x the CPU (11.2 wall / 30.8 CPU vs 6.3 / 9.5) — the
    #    materialized full-text payload is more expensive than re-running
    #    the scrub regex per consumer.
    s1 = scrub_pii(staged).select(
        "doc_id", F.col("text_scrubbed").alias("text")
    )
    # 2. cross-document boilerplate line removal. STAGE BOUNDARY: the
    # cleaned text is referenced by three downstream consumers (dedup
    # key aggregate, gate, packing) — without a materialization each
    # would re-run the scrub + both boilerplate shuffles from the scan
    # (first audit read 52 FileScans / 200 exchanges for this one
    # pipeline). localCheckpoint here stands in for the stage-output
    # parquet a production pipeline writes between stages.
    s2 = (
        remove_boilerplate_lines(s1, min_doc_frac=0.02, min_docs=2)
        .select("doc_id", "text_clean")
        .localCheckpoint(eager=False)
    )
    # 3. exact dedup on the CLEANED text: keep one doc per normalized key.
    # localCheckpoint: canon is referenced by s3 (below) and, without it,
    # the gate's s3 input would re-run the whole normalize+hash aggregate
    # from s2 a second time (measured +2.1 s executor CPU at sf0.1); the
    # materialized side is doc_ids only.
    canon = exact_duplicates(s2, text_col="text_clean").select(
        F.col("canonical_id").alias("doc_id")
    ).localCheckpoint(eager=False)
    s3 = s2.join(canon, "doc_id")
    # 4. Gopher quality gate on the cleaned text. The gate is a pure
    # per-row projection, so gating s2 (pre-dedup) and intersecting with
    # s3 below yields EXACTLY the rows of gating s3 itself (same text per
    # doc_id), while keeping the dedup aggregate out of the gate's subtree.
    gate = gopher_gate(
        s2.select("doc_id", F.col("text_clean").alias("text")), min_words=30
    )
    # gate survivors feed both contamination sides AND the packing join
    s4 = s3.join(
        gate.filter(F.col("keep")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    # 5. decontamination: drop survivors sharing any word 5-gram with the
    #    RAW benchmark sample (the eval set is drawn from raw text)
    bench = hash_sample(docs, "doc_id", 10)
    contam = contamination(
        s4.select("doc_id", F.col("text_clean").alias("text")), bench, n=5
    )
    s5 = s4.join(contam.select("doc_id"), "doc_id", "left_anti")
    # 6. token-budget packing per source
    packed = pack_documents(
        s5.join(docs.select("doc_id", "source"), "doc_id").select(
            "source", "doc_id", F.col("text_clean").alias("text")
        ),
        budget_tokens=512,
    )
    return packed.select("source", "doc_id", "n_tokens", "bin_id", "bin_offset")


def _sql_llm_pipeline_e2e() -> str:
    """DuckDB replica of the full 6-stage chain, each stage the proven
    per-operator oracle SQL re-parameterized onto the previous stage's
    CTE."""
    from etdtransform_spark.operators.corpus import PII_PATTERNS

    scrub = "t"
    for _name, pat, repl in PII_PATTERNS:
        lit = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{lit}', '{repl}', 'g')"
    key = fold_case_sql("trim(regexp_replace(text_clean, '\\s+', ' ', 'g'))")
    sh_bench = word_shingles_sql("text", 5)
    sh_corp = word_shingles_sql("text_clean", 5)
    return f"""
WITH d0 AS (
  SELECT doc_id, source,
         concat_ws(chr(10),
           'NAV ' || source,
           CASE WHEN doc_id % 50 IN (11, 12, 13)
                THEN 'group ' || (doc_id // 50)::VARCHAR || '{_E2E_BODY}'
                ELSE text END,
           CASE WHEN doc_id % 3 = 0
                THEN 'contact user' || doc_id::VARCHAR || '@example.com now'
                END,
           CASE WHEN doc_id % 7 = 0
                THEN 'see https://ex.example/p/' || doc_id::VARCHAR
                     || ' for details' END,
           '{_E2E_FOOTER}') AS t
  FROM documents WHERE doc_id IS NOT NULL
), sc AS (
  SELECT doc_id, {scrub} AS t FROM d0
), lns AS (
  SELECT doc_id, generate_subscripts(string_split(t, chr(10)), 1) AS pos,
         unnest(string_split(t, chr(10))) AS raw
  FROM sc
), l2 AS (
  SELECT doc_id, pos, raw, trim(raw) AS line FROM lns
), nb AS (SELECT * FROM l2 WHERE line <> ''),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS ndocs FROM nb),
freq AS (
  SELECT line FROM (
    SELECT line, count(*)::BIGINT AS df
    FROM (SELECT DISTINCT doc_id, line FROM nb) GROUP BY line
  ), nd
  WHERE df >= greatest(2, ceil(0.02 * ndocs))
), marked AS (
  SELECT l2.doc_id, l2.pos, l2.raw, (freq.line IS NOT NULL) AS dropped
  FROM l2 LEFT JOIN freq ON l2.line = freq.line
), s2 AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN NOT dropped THEN raw END, chr(10)
                             ORDER BY pos), '') AS text_clean
  FROM marked GROUP BY doc_id
), canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, {key} AS k FROM s2) GROUP BY k
), s3 AS (
  SELECT s2.* FROM s2 JOIN canon USING (doc_id)
), gf AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text_clean, '\\s+'),
                     x -> x <> '') AS toks,
         length(regexp_replace(text_clean, '\\s+', '', 'g')) AS n_nonspace
  FROM s3
), gm AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN len(toks) > 0
              THEN n_nonspace / CAST(len(toks) AS DOUBLE) END AS mean_wl,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                   / CAST(len(toks) AS DOUBLE) END AS alpha_ratio,
         len(list_intersect(list_transform(toks, t -> lower(t)),
                            ['a','and','is','of','the','to'])) AS n_stops,
         list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         ) AS grams
  FROM gf
), gc AS (
  SELECT doc_id,
         (coalesce(n BETWEEN 30 AND 100000, FALSE)
          AND coalesce(mean_wl BETWEEN 3.0 AND 10.0, FALSE)
          AND coalesce(alpha_ratio >= 0.8, FALSE)
          AND coalesce(n_stops >= 2, FALSE)
          AND coalesce(CASE WHEN n < 3 THEN TRUE
                            ELSE (len(grams) - len(list_distinct(grams)))
                                 / CAST(len(grams) AS DOUBLE) <= 0.3 END,
                       FALSE)) AS keep
  FROM gm
), s4 AS (
  SELECT s3.* FROM s3 JOIN gc USING (doc_id) WHERE gc.keep
), bench AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IS NOT NULL AND {_HS} % 100 < 10
), bs AS (
  SELECT DISTINCT unnest({sh_bench}) AS sh FROM bench
), cs AS (
  SELECT doc_id, unnest({sh_corp}) AS sh FROM s4
), contam AS (
  SELECT DISTINCT doc_id FROM cs JOIN bs USING (sh)
), s5 AS (
  SELECT s4.doc_id, s4.text_clean FROM s4
  ANTI JOIN contam ON s4.doc_id = contam.doc_id
), pt AS (
  SELECT d.source, s5.doc_id,
         len(list_filter(regexp_split_to_array(s5.text_clean, '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM s5 JOIN documents d ON s5.doc_id = d.doc_id
), pc AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ce
  FROM pt
)
SELECT source, doc_id, n_tokens,
       floor(ce / 512.0)::BIGINT AS bin_id,
       (ce % 512)::BIGINT AS bin_offset
FROM pc
"""


def q_streaming_stateful_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregate via Spark 4's transformWithStateInPandas
    (named ValueState, update mode) — the successor API to
    applyInPandasWithState. Oracle = the batch groupBy aggregate (the
    final state after the availableNow run IS the batch total)."""
    import uuid

    from etdtransform_spark.streaming.stateful_agg import streaming_running_agg

    stream = _stream_events(spark, sf_dir)
    agg = streaming_running_agg(stream, "user_id", "value")
    name = f"stream_state_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # single-source availableNow = one micro-batch -> one row per key
    return spark.table(name).select(
        F.col("key").alias("user_id"),
        "n",
        qround(F.col("sum_value"), 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


_SQL_STREAM_STATEFUL = f"""
SELECT user_id, count(value) AS n,
       {qround_sql('sum(value)', 2)} AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM {_EV}
GROUP BY 1
"""


def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join without BNLJ: each user's signup
    validity spans (2h) against their purchase spans (1h), bucketed on
    coarse time + user key with canonical-bucket pair dedup."""
    from etdtransform_spark.operators.temporal import overlap_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("s_event"),
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("s_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_event"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("p_end"),
    )
    out = overlap_join(
        signups,
        purchases,
        "s_start",
        "s_end",
        "p_start",
        "p_end",
        by=["user_id"],
        granularity_seconds=3600,
    )
    return out.select("user_id", "s_event", "p_event", "s_start", "p_start")


_SQL_OVERLAP_JOIN = f"""
WITH s AS (
  SELECT user_id, event_id AS s_event, ts AS s_start,
         ts + INTERVAL 2 HOUR AS s_end
  FROM {_EV} WHERE event_type = 'signup'
), p AS (
  SELECT user_id, event_id AS p_event, ts AS p_start,
         ts + INTERVAL 1 HOUR AS p_end
  FROM {_EV} WHERE event_type = 'purchase'
)
SELECT s.user_id, s_event, p_event, s_start, p_start
FROM s JOIN p ON s.user_id = p.user_id
             AND s_start <= p_end AND p_start <= s_end
"""


def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event_type by day — the distinct
    window aggregate SQL can't express, via first-bucket attribution +
    running sum over the bucket grid."""
    from etdtransform_spark.operators.olap import cumulative_distinct

    ev = _t(spark, sf_dir, "events")
    return cumulative_distinct(
        ev,
        ["event_type"],
        "user_id",
        F.date_trunc("day", F.col("ts")),
        bucket_name="day",
    )


_SQL_CUMULATIVE_DISTINCT = f"""
WITH b AS (
  SELECT event_type, user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM {_EV}
), firsts AS (
  SELECT event_type, user_id, min(day) AS day FROM b GROUP BY 1, 2
), news AS (
  SELECT event_type, day, count(*) AS n_new FROM firsts GROUP BY 1, 2
), grid AS (
  SELECT DISTINCT event_type, day FROM b
)
SELECT g.event_type, g.day, coalesce(n.n_new, 0) AS n_new,
       CAST(sum(coalesce(n.n_new, 0)) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cumulative_distinct
FROM grid g LEFT JOIN news n USING (event_type, day)
"""


def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (highest count, then lowest value) via
    min(struct(-count, value)) — no window sort, tie-stable under
    partitioning (F.mode is not)."""
    from etdtransform_spark.operators.olap import group_mode

    ev = _t(spark, sf_dir, "events")
    return group_mode(ev, ["user_id"], "event_type")


_SQL_GROUP_MODE = f"""
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM {_EV} GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type ASC) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_value, cnt AS mode_count
FROM r WHERE rn = 1
"""


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lead over the user timeline, hash agg on state pairs, row-normalized
    probabilities."""
    from etdtransform_spark.operators.funnel import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, order_cols=["event_id"])


_SQL_TRANSITIONS = f"""
WITH seq AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM {_EV}
), pairs AS (
  SELECT from_state, to_state, count(*) AS n_transitions
  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n_transitions,
       {qround_sql('n_transitions / sum(n_transitions) OVER (PARTITION BY from_state)', 6)}
         AS probability
FROM pairs
"""


def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality gate on lineitem: completeness,
    compound-key uniqueness, value ranges, accepted sets, min row count,
    and FK containment against orders — all but the FK check in ONE
    full-scan aggregate."""
    from etdtransform_spark.operators.quality import check_expectations

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return check_expectations(
        li,
        not_null=["l_orderkey", "l_shipdate"],
        unique=[["l_orderkey", "l_linenumber"]],
        ranges={"l_discount": (0.0, 0.1), "l_quantity": (1.0, 50.0)},
        accepted_values={"l_returnflag": ["A", "N", "R"]},
        min_rows=100,
        foreign_keys=[("l_orderkey", orders, "o_orderkey")],
    )


_SQL_EXPECTATIONS = """
SELECT 'not_null' AS check, 'l_orderkey' AS target,
       CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS DOUBLE) AS metric,
       (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) = 0 AS passed
UNION ALL
SELECT 'not_null', 'l_shipdate',
       CAST((SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL) AS DOUBLE),
       (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL) = 0
UNION ALL
SELECT 'unique', 'l_orderkey,l_linenumber',
       CAST((SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) AS DOUBLE),
       (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) = 0
UNION ALL
SELECT 'range', 'l_discount',
       CAST((SELECT count(*) FROM lineitem
             WHERE l_discount < 0.0 OR l_discount > 0.1) AS DOUBLE),
       (SELECT count(*) FROM lineitem
        WHERE l_discount < 0.0 OR l_discount > 0.1) = 0
UNION ALL
SELECT 'range', 'l_quantity',
       CAST((SELECT count(*) FROM lineitem
             WHERE l_quantity < 1.0 OR l_quantity > 50.0) AS DOUBLE),
       (SELECT count(*) FROM lineitem
        WHERE l_quantity < 1.0 OR l_quantity > 50.0) = 0
UNION ALL
SELECT 'accepted_values', 'l_returnflag',
       CAST((SELECT count(*) FROM lineitem
             WHERE l_returnflag IS NOT NULL
               AND l_returnflag NOT IN ('A','N','R')) AS DOUBLE),
       (SELECT count(*) FROM lineitem
        WHERE l_returnflag IS NOT NULL
          AND l_returnflag NOT IN ('A','N','R')) = 0
UNION ALL
SELECT 'min_rows', '*',
       CAST((SELECT count(*) FROM lineitem) AS DOUBLE),
       (SELECT count(*) FROM lineitem) >= 100
UNION ALL
SELECT 'foreign_key', 'l_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE),
       (SELECT count(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) = 0
"""


def q_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user signup -> first-purchase latency (censored users kept with
    null end), via conditional aggregates — no row-level self-join."""
    from etdtransform_spark.operators.funnel import time_to_conversion

    ev = _t(spark, sf_dir, "events")
    return time_to_conversion(ev, "signup", "purchase")


_SQL_TIME_TO_CONVERT = f"""
WITH f AS (
  SELECT user_id, event_type, ts FROM {_EV}
  WHERE event_type IN ('signup', 'purchase')
), s AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS start_ts
  FROM f GROUP BY 1
), e AS (
  SELECT f.user_id, min(f.ts) AS end_ts
  FROM f JOIN s ON f.user_id = s.user_id
  WHERE f.event_type = 'purchase' AND f.ts >= s.start_ts
  GROUP BY 1
)
SELECT s.user_id, s.start_ts, e.end_ts,
       (epoch_us(e.end_ts) - epoch_us(s.start_ts)) / 1e6 AS seconds_to_convert
FROM s LEFT JOIN e ON s.user_id = e.user_id
WHERE s.start_ts IS NOT NULL
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve in doc_id order: per-doc token /
    new-term counts with running vocabulary size and cumulative tokens
    (first-doc term attribution, window over #docs rows)."""
    from etdtransform_spark.operators.corpus import vocab_growth

    docs = _t(spark, sf_dir, "documents")
    return vocab_growth(docs)


_SQL_VOCAB_GROWTH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
), per_doc AS (
  SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1
), news AS (
  SELECT doc_id, count(*) AS n_new_terms
  FROM (SELECT term, min(doc_id) AS doc_id FROM toks GROUP BY 1)
  GROUP BY 1
), curve AS (
  SELECT p.doc_id, p.n_tokens, coalesce(n.n_new_terms, 0) AS n_new_terms,
         CAST(sum(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
         CAST(sum(coalesce(n.n_new_terms, 0)) OVER w AS BIGINT) AS vocab_size
  FROM per_doc p LEFT JOIN news n ON p.doc_id = n.doc_id
  WINDOW w AS (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
)
SELECT doc_id, n_tokens, n_new_terms, cum_tokens, vocab_size,
       {qround_sql('vocab_size / CAST(cum_tokens AS DOUBLE)', 6)} AS type_token_ratio
FROM curve
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional exact-substring duplication profile (Lee et al. span
    dedup): per doc, word-5-gram positions whose shingle first occurs
    elsewhere — min(struct(doc,pos)) ownership, shuffles carry hashes+ids
    not text."""
    from etdtransform_spark.operators.corpus import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, n=5)


_SQL_DUPLICATE_SPANS = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT doc_id, i AS pos, array_to_string(list_slice(t, i, i + 4), ' ') AS sh
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), marked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
  FROM spans
), agg AS (
  SELECT doc_id, count(*) AS n_spans,
         count(CASE WHEN rn > 1 THEN 1 END) AS n_dup_spans
  FROM marked GROUP BY 1
)
SELECT doc_id, n_spans, n_dup_spans,
       {qround_sql('n_dup_spans / CAST(n_spans AS DOUBLE)', 6)} AS dup_ratio
FROM agg
"""


def q_exclusive_problem_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY returned-flag supplier
    in a multi-supplier finished order. The correlated EXISTS + NOT EXISTS
    pair decorrelates into ONE per-order aggregate (distinct suppliers,
    distinct problem suppliers) joined back — two self-joins of the fact
    replaced by one map-side-combined groupBy, the rewrite that matters
    when lineitem is the 100 TB table. Oracle keeps the EXISTS form."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    # the two distinct counts as CASCADED plain aggregates — the
    # count_distinct pair planned as Expand x2 over the lineitem scan
    # (doubling every pre-shuffle row); per-(order, supplier) first, then
    # per-order, is the same pair of integers with both aggregates
    # map-side combinable and no row multiplication
    stats = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (F.col("l_returnflag") == "R").cast("int")
            ).alias("_bad")
        )
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("_bad").alias("n_bad"),
        )
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
        )
        .join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_bad") == 1))
        .join(
            F.broadcast(
                supplier.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_name"
                )
            ),
            "l_suppkey",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_SQL_EXCLUSIVE_SUPPLIER = """
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
"""


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-rules document gate: per-rule booleans + keep +
    auditable fail_reasons, all in one zero-shuffle projection."""
    from etdtransform_spark.operators.text import gopher_gate

    docs = _t(spark, sf_dir, "documents")
    return gopher_gate(docs, min_words=30).select(
        "doc_id",
        "ok_words",
        "ok_mean_word_len",
        "ok_alpha_ratio",
        "ok_stopwords",
        "ok_repetition",
        "keep",
        "fail_reasons",
    )


_SQL_GOPHER = """
WITH f AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n, n_nonspace,
         CASE WHEN len(toks) > 0
              THEN n_nonspace / CAST(len(toks) AS DOUBLE) END AS mean_wl,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                   / CAST(len(toks) AS DOUBLE) END AS alpha_ratio,
         len(list_intersect(list_transform(toks, t -> lower(t)),
                            ['a','and','is','of','the','to'])) AS n_stops,
         list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         ) AS grams
  FROM f
), c AS (
  SELECT doc_id,
         coalesce(n BETWEEN 30 AND 100000, FALSE) AS ok_words,
         coalesce(mean_wl BETWEEN 3.0 AND 10.0, FALSE) AS ok_mean_word_len,
         coalesce(alpha_ratio >= 0.8, FALSE) AS ok_alpha_ratio,
         coalesce(n_stops >= 2, FALSE) AS ok_stopwords,
         coalesce(CASE WHEN n < 3 THEN TRUE
                       ELSE (len(grams) - len(list_distinct(grams)))
                            / CAST(len(grams) AS DOUBLE) <= 0.3 END,
                  FALSE) AS ok_repetition
  FROM m
)
SELECT doc_id, ok_words, ok_mean_word_len, ok_alpha_ratio, ok_stopwords,
       ok_repetition,
       (ok_words AND ok_mean_word_len AND ok_alpha_ratio AND ok_stopwords
        AND ok_repetition) AS keep,
       concat_ws(',',
         CASE WHEN NOT ok_words THEN 'words' END,
         CASE WHEN NOT ok_mean_word_len THEN 'mean_word_len' END,
         CASE WHEN NOT ok_alpha_ratio THEN 'alpha_ratio' END,
         CASE WHEN NOT ok_stopwords THEN 'stopwords' END,
         CASE WHEN NOT ok_repetition THEN 'repetition' END) AS fail_reasons
FROM c
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the 'new batch' (doc_id % 5 == 0)
    LSH-banded against the persisted index of the already-accepted corpus
    — only new-vs-index candidate pairs, the corpus never re-banded."""
    from etdtransform_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    accepted = docs.filter(F.col("doc_id") % 5 != 0)
    index = minhash_band_index(accepted, num_hashes=8, bands=4)
    return minhash_lsh_incremental(new, index, num_hashes=8, bands=4)


def _sql_incremental_dedup() -> str:
    sigs = _sql_minhash_sigs()
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat(mh{2 * b}, ',', mh{2 * b + 1}) AS bucket FROM sigs"
        for b in range(4)
    )
    return f"""
WITH sigs AS ({sigs}), banded AS ({bands})
SELECT n.doc_id AS new_id, ix.doc_id AS index_id, count(*) AS n_bands_shared
FROM banded n JOIN banded ix
  ON n.band = ix.band AND n.bucket = ix.bucket
WHERE n.doc_id % 5 = 0 AND ix.doc_id % 5 <> 0
GROUP BY 1, 2
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median (7-row trailing frame) per user — the robust
    sliding statistic; linear-interpolation percentile over a bounded row
    frame, ≡ DuckDB quantile_cont."""
    from etdtransform_spark.operators.windows import rolling_quantile

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        qround(
            rolling_quantile(
                "value", ["user_id"], ["ts", "event_id"], 0.5, 7
            ),
            6,
        ).alias("rolling_median"),
    )


_SQL_ROLLING_MEDIAN = f"""
SELECT event_id, user_id,
       {qround_sql('quantile_cont(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)', 6)}
         AS rolling_median
FROM {_EV}
"""


def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline anomalies per event_type: values
    scoring |z| > 2 against their (type, hour) cell mean/std — the
    de-seasonalized outlier detector (a plain z-score would flag every
    evening peak)."""
    from etdtransform_spark.operators.stats import seasonal_residuals

    ev = _t(spark, sf_dir, "events")
    out = seasonal_residuals(
        ev,
        "value",
        ["event_type"],
        F.hour(F.col("ts")),
        season_name="hour_of_day",
        threshold=2.0,
    )
    return out.select("event_id", "event_type", "hour_of_day", "baseline", "z")


_SQL_SEASONAL = f"""
WITH s AS (
  SELECT event_type, hour(ts) AS hour_of_day,
         count(value)::DOUBLE AS n, sum(value) AS sx,
         sum(value * value) AS sxx
  FROM {_EV} GROUP BY 1, 2
), z AS (
  SELECT e.event_id, e.event_type, hour(e.ts) AS hour_of_day,
         {qround_sql('s.sx / s.n', 6)} AS baseline,
         {qround_sql('(e.value - s.sx / s.n) / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))', 6)} AS z
  FROM {_EV} e JOIN s ON e.event_type = s.event_type
                     AND hour(e.ts) = s.hour_of_day
)
SELECT event_id, event_type, hour_of_day, baseline, z
FROM z WHERE abs(z) > 2.0
"""


def q_load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve per event_type: demand ranked descending with
    exceedance fraction — the sorted-demand curve capacity planning reads
    peak/base load from."""
    from etdtransform_spark.operators.stats import load_duration_curve

    ev = _t(spark, sf_dir, "events")
    return load_duration_curve(
        ev, "value", ["event_type"], order_cols=["event_id"]
    )


_SQL_LOAD_DURATION = f"""
SELECT event_type,
       row_number() OVER w AS rank,
       {qround_sql('row_number() OVER w / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE)', 6)} AS exceedance,
       value AS demand
FROM {_EV}
WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-value events per user (WindowGroupLimit rewrite: k
    rows per key survive each partition BEFORE the shuffle)."""
    from etdtransform_spark.operators.olap import top_k_per_group

    ev = _t(spark, sf_dir, "events")
    out = top_k_per_group(
        ev, ["user_id"], [F.col("value").desc(), F.col("event_id").asc()], 3
    )
    return out.select("user_id", "rank_in_group", "event_id", "value")


_SQL_TOPK_PER_GROUP = f"""
SELECT user_id, rk AS rank_in_group, event_id, value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rk
  FROM {_EV}
)
WHERE rk <= 3
"""


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem numerics in ONE aggregate
    pass (all sufficient statistics side by side, long-format output)."""
    from etdtransform_spark.operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _sql_corr_matrix() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            corr = qround_sql(
                f"(sum({a} * {b}) - sum({a}) * sum({b}) / count(*))"
                f" / sqrt((sum({a} * {a}) - sum({a}) * sum({a}) / count(*))"
                f" * (sum({b} * {b}) - sum({b}) * sum({b}) / count(*)))",
                6,
            )
            parts.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" count(*) AS n, {corr} AS corr FROM lineitem"
            )
    return "\nUNION ALL\n".join(parts)


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning: learn quartile boundaries of order totals
    globally, assign each order its bin (rounded-boundary membership)."""
    from etdtransform_spark.operators.stats import quantile_bins

    orders = _t(spark, sf_dir, "orders")
    out = quantile_bins(orders, "o_totalprice", 4)
    return out.select("o_orderkey", "bin")


_SQL_QUANTILE_BINS = f"""
WITH b AS (
  SELECT {", ".join(qround_sql(f'quantile_cont(o_totalprice, {i}/4.0)', 6) + f' AS q{i}' for i in (1, 2, 3))}
  FROM orders
)
SELECT o.o_orderkey,
       (CASE WHEN {qround_sql('o.o_totalprice', 6)} > b.q1 THEN 1 ELSE 0 END
      + CASE WHEN {qround_sql('o.o_totalprice', 6)} > b.q2 THEN 1 ELSE 0 END
      + CASE WHEN {qround_sql('o.o_totalprice', 6)} > b.q3 THEN 1 ELSE 0 END) AS bin
FROM orders o CROSS JOIN b
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean): posexplode +
    one (label, dim) hash aggregate — the shuffle carries partial sums,
    never vectors."""
    from etdtransform_spark.operators.similarity import groupwise_embedding_mean

    emb = _t(spark, sf_dir, "embeddings")
    out = groupwise_embedding_mean(emb, ["label"])
    # long format for the oracle compare (array hashing is engine-brittle)
    return out.select(
        "label", "n_vectors", F.posexplode("centroid").alias("dim", "mean_x")
    )


_SQL_EMB_CENTROIDS = f"""
WITH e AS (
  SELECT label, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM {_EMB}
), d AS (
  SELECT label, dim, {qround_sql('avg(CAST(x AS DOUBLE))', 6)} AS mean_x,
         count(*) AS n
  FROM e GROUP BY 1, 2
)
SELECT label, max(n) OVER (PARTITION BY label) AS n_vectors, dim, mean_x
FROM d
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 highest-revenue orders for one market
    segment with orders placed before / lineitems shipped after a date —
    broadcast dim filter, fact aggregate, TakeOrderedAndProject top-k."""
    from etdtransform_spark.operators.olap import top_k

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    agg = (
        li.filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1995-03-15")).select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_custkey",
                "o_orderdate",
                "o_orderpriority",
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.filter(F.col("c_mktsegment") == "BUILDING").select(
                    F.col("c_custkey").alias("o_custkey")
                )
            ),
            "o_custkey",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return top_k(
        agg,
        [F.col("revenue").desc(), F.col("l_orderkey").asc()],
        10,
    )


_SQL_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where supplier and customer share
    the nation — a 6-table chain (fact + 5 broadcast dims) with the
    equality predicate tying two dimension paths together."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    "n_name",
                    "n_regionkey",
                )
            ),
            "s_nationkey",
        )
        .join(
            F.broadcast(
                region.select(
                    F.col("r_regionkey").alias("n_regionkey"), "r_name"
                )
            ),
            "n_regionkey",
        )
        .groupBy("r_name", "n_name")
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_SQL_Q5 = f"""
SELECT r_name, n_name,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY 1, 2
"""


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    date window — fact filter + order window join + broadcast dims +
    TakeOrderedAndProject."""
    from etdtransform_spark.operators.olap import top_k

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    agg = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1994-01-01"))
                & (F.col("o_orderdate") < F.lit("1995-01-01"))
            ).select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_name",
                    "c_acctbal",
                    "c_nationkey",
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_name"
                )
            ),
            "c_nationkey",
        )
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            "c_name",
            qround(F.col("c_acctbal"), 2).alias("c_acctbal"),
            "n_name",
        )
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20)


_SQL_Q10 = f"""
SELECT c_custkey, c_name, {qround_sql('c_acctbal', 2)} AS c_acctbal, n_name,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with their customer — the HAVING-over-fact-aggregate semi-join (the
    qualifying-order set is aggregate-derived, then joined back)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(qround(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_custkey",
                "o_orderdate",
                qround(F.col("o_totalprice"), 2).alias("o_totalprice"),
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.select(F.col("c_custkey").alias("o_custkey"), "c_name")
            ),
            "o_custkey",
        )
        .select(
            "c_name",
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


_SQL_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       {qround_sql('o_totalprice', 2)} AS o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {qround_sql('sum(l_quantity)', 2)} AS total_qty
  FROM lineitem GROUP BY 1
  HAVING {qround_sql('sum(l_quantity)', 2)} > 150
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q_forecasted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-scan predicate aggregate. The whole query is
    one parquet scan whose date/discount/quantity predicates all push into
    the reader (PushedFilters) — no join, no shuffle beyond the final
    1-row partial/final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        qround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


_SQL_Q6 = f"""
SELECT {qround_sql('sum(l_extendedprice * l_discount)', 2)} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated semi-join counted by priority.
    The reference schema has no commit/receipt dates, so "late" is reshaped
    as a lineitem shipped >30 days after the order date. The EXISTS becomes
    a LEFT SEMI hash join on the order key with the date inequality as a
    residual condition — at scale it shuffles once on o_orderkey and never
    duplicates order rows."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        window.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
"""


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation dims are pre-filtered to the two nations of interest BEFORE
    joining (the classic Q7 rewrite — the OR-of-pairs predicate cannot push
    through the join by itself, but the IN-list on each side can), so the
    fact rows surviving the two broadcast joins are already the ~2/25th
    slice; the residual pair filter then only removes same-nation rows."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n_s = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    n_c = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    return (
        li.join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .join(F.broadcast(n_s), "s_nationkey")
        .join(F.broadcast(n_c), "c_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_SQL_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS l_year,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue within one
    region's customers, by order year — the conditional-sum-over-sum ratio
    computed in a single aggregate (no second pass over the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(
                part.filter(F.col("p_type") == "PROMO").select(
                    F.col("p_partkey").alias("l_partkey")
                )
            ),
            "l_partkey",
        )
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_custkey",
                "o_orderdate",
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cust.select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
                )
            ),
            "c_nationkey",
        )
        .join(
            F.broadcast(
                region.filter(F.col("r_name") == "EUROPE").select(
                    F.col("r_regionkey").alias("n_regionkey")
                )
            ),
            "n_regionkey",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            "s_nationkey",
        )
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            qround(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        0.0
                    )
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


_SQL_Q8 = f"""
SELECT year(o_orderdate)::BIGINT AS o_year,
       {qround_sql(
           "sum(CASE WHEN n2.n_name = 'NATION_3' "
           "THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
           " / sum(l_extendedprice * (1 - l_discount))", 6)} AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
GROUP BY 1
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for one part
    family. The schema has no partsupp/supplycost, so unit cost is reshaped
    as 10% of p_retailprice — the query shape (LIKE-filtered part dim,
    arithmetic over two joined columns, two-key agg) is what matters."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%widget%")).select(
                    F.col("p_partkey").alias("l_partkey"), "p_retailprice"
                )
            ),
            "l_partkey",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("nation"),
                )
            ),
            "s_nationkey",
        )
        .groupBy("nation", F.year("l_shipdate").cast("bigint").alias("o_year"))
        .agg(
            qround(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("p_retailprice") * F.col("l_quantity") * 0.1
                ),
                2,
            ).alias("sum_profit")
        )
    )


_SQL_Q9 = f"""
SELECT n_name AS nation, year(l_shipdate)::BIGINT AS o_year,
       {qround_sql(
           'sum(l_extendedprice * (1 - l_discount)'
           ' - p_retailprice * l_quantity * 0.1)', 2)} AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total lineitem value exceeds a fraction
    of the global total — HAVING against a scalar subquery. The global
    total is a 1-row aggregate broadcast into the filter; the per-part agg
    and the global agg share one scan shape (Catalyst reuses the exchange
    under AQE when the subplans match)."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("raw_value"))
    total = li.agg((F.sum(val) * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("raw_value") > F.col("threshold"))
        .select("l_partkey", qround(F.col("raw_value"), 2).alias("part_value"))
    )


_SQL_Q11 = f"""
SELECT l_partkey,
       {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS part_value
FROM lineitem
GROUP BY 1
HAVING sum(l_extendedprice * (1 - l_discount)) > (
  SELECT sum(l_extendedprice * (1 - l_discount)) * 0.001 FROM lineitem)
"""


def q_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer — LEFT
    OUTER join so zero-order customers survive as c_count=0, then a second
    aggregation over the first's output (two shuffles, the second tiny)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    counts = (
        cust.select(F.col("c_custkey").alias("o_custkey"))
        .join(orders.select("o_custkey", "o_orderkey"), "o_custkey", "left")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY 1)
GROUP BY 1
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one month — a
    conditional-sum / sum ratio in a single aggregate over the date-pruned
    fact joined to the broadcast part dim."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(
            F.broadcast(
                part.select(F.col("p_partkey").alias("l_partkey"), "p_type")
            ),
            "l_partkey",
        )
        .agg(
            qround(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
                )
                / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


_SQL_Q14 = f"""
SELECT {qround_sql(
    "100.0 * sum(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
    " / sum(l_extendedprice * (1 - l_discount))", 6)} AS promo_revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    agg, scalar max over the agg, equality join-back keeping ties. Revenue
    is qround-ed BEFORE the max comparison so the tie set is identical
    across engines (raw double accumulation order differs)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(
                supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
            ),
            "l_suppkey",
        )
        .select(
            F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_revenue"
        )
    )


_SQL_Q15 = f"""
WITH rev AS (
  SELECT l_suppkey,
         {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)}
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY 1)
SELECT l_suppkey AS s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    with brand/type exclusions. The schema has no partsupp, so the
    part–supplier relation is derived from lineitem (distinct pairs fold
    into the count-distinct agg — no separate dedup pass)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != "Brand#13")
                    & (F.col("p_type") != "PROMO")
                ).select(
                    F.col("p_partkey").alias("l_partkey"),
                    "p_brand",
                    "p_type",
                    "p_size",
                )
            ),
            "l_partkey",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SQL_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
GROUP BY 1, 2, 3
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of the part's average
    quantity, for one brand. The correlated per-part AVG decorrelates into
    a broadcast join of a per-part aggregate back onto the same fact slice;
    the average is qround-ed so the 0.2×avg threshold is bit-identical to
    the oracle's."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brand_parts = F.broadcast(
        part.filter(F.col("p_brand") == "Brand#12").select(
            F.col("p_partkey").alias("l_partkey")
        )
    )
    li_brand = li.join(brand_parts, "l_partkey")
    avg_qty = li_brand.groupBy("l_partkey").agg(
        qround(F.avg("l_quantity"), 6).alias("avg_qty")
    )
    return (
        li_brand.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            qround(F.sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            )
        )
    )


_SQL_Q17 = f"""
WITH li_brand AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#12'
), avg_qty AS (
  SELECT l_partkey, {qround_sql('avg(l_quantity)', 6)} AS avg_qty
  FROM li_brand GROUP BY 1)
SELECT {qround_sql('sum(l_extendedprice) / 7.0', 2)} AS avg_yearly
FROM li_brand JOIN avg_qty USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions over fact+dim columns. The
    shared l_quantity range (1..30) and the p_size/p_brand bounds are what
    an optimizer can factor out and push below the join; the full
    disjunction stays as the residual filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(
            part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand", "p_size"
            )
        ),
        "l_partkey",
    )
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#24")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(c1 | c2 | c3).agg(
        qround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_SQL_Q19 = f"""
SELECT {qround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped a large volume of one part
    family in one year — nested IN-subquery over a grouped HAVING,
    reshaped without partsupp (shipped quantity from lineitem stands in
    for availqty). Executes as agg → filter → distinct → LEFT SEMI join
    into the supplier dim; the summed-quantity threshold is qround-ed for
    cross-engine determinism."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_name").like("small%")).select(
                    F.col("p_partkey").alias("l_partkey")
                )
            ),
            "l_partkey",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(qround(F.sum("l_quantity"), 4).alias("qty"))
        .filter(F.col("qty") > 60)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return supp.join(heavy, "s_suppkey", "left_semi").select(
        "s_suppkey", "s_name"
    )


_SQL_Q20 = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING {qround_sql('sum(l_quantity)', 4)} > 60)
"""


def q_rebalance_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data mixing: thin the corpus to a target language
    mixture (operators/corpus.py:rebalance_mixture). The binding language
    is kept whole; acceptance is a deterministic hash-uniform so the kept
    set is engine- and retry-stable."""
    from etdtransform_spark.operators.corpus import rebalance_mixture

    docs = _t(spark, sf_dir, "documents")
    kept = rebalance_mixture(
        docs,
        "lang",
        "doc_id",
        {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05},
        seed="mix",
    )
    return kept.select("doc_id", "lang", "accept_rate")


_SQL_REBALANCE = f"""
WITH tgt(lang, w) AS (VALUES
  ('de', 0.2), ('en', 0.5), ('es', 0.1), ('fr', 0.15), ('zh', 0.05)),
counts AS (
  SELECT d.lang, w, count(*)::DOUBLE AS n
  FROM documents d JOIN tgt USING (lang)
  GROUP BY 1, 2),
feasible AS (SELECT min(n / w) AS t_max FROM counts),
rates AS (
  SELECT lang, {qround_sql('least(w * t_max / n, 1.0)', 9)} AS accept_rate
  FROM counts, feasible)
SELECT doc_id, d.lang, accept_rate
FROM documents d JOIN rates USING (lang)
WHERE (({portable_hash64_sql('doc_id::VARCHAR', seed='mix')} % 1048576) + 0.5)
      / 1048576.0 < accept_rate
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag quantity-weighted median price
    (operators/stats.py:weighted_quantile): RANGE-frame cumulative weight so
    value ties accumulate together — deterministic under partitioning. The
    weighted rollup the reference's equal-weight project aggregation lacks
    (reference README.md:92-96 exposes Oppervlakte for exactly this)."""
    from etdtransform_spark.operators.stats import weighted_quantile

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantile(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"], q=0.5,
        out_col="wmedian_price",
    )


_SQL_WEIGHTED_MEDIAN = f"""
WITH c AS (
  SELECT l_returnflag,
         l_extendedprice::DOUBLE AS v,
         sum(l_quantity::DOUBLE) OVER (
           PARTITION BY l_returnflag ORDER BY l_extendedprice::DOUBLE
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(l_quantity::DOUBLE) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
)
SELECT l_returnflag,
       {qround_sql('min(CASE WHEN cum >= 0.5 * tot THEN v END)', 6)}
         AS wmedian_price
FROM c GROUP BY l_returnflag
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items over event types
    (operators/stats.py:heavy_hitters): two map-side-combined aggregates,
    output bounded by ⌈1/threshold⌉ regardless of input size."""
    from etdtransform_spark.operators.stats import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "event_type", threshold=0.199)


_SQL_HEAVY_HITTERS = f"""
WITH c AS (SELECT event_type AS item, count(*) AS cnt FROM (SELECT * FROM events WHERE ts IS NOT NULL) events GROUP BY 1),
t AS (SELECT count(*) AS tot FROM (SELECT * FROM events WHERE ts IS NOT NULL) events)
SELECT item, cnt, {qround_sql('cnt / tot::DOUBLE', 6)} AS share
FROM c, t WHERE cnt >= 0.199 * tot
"""


def q_entropy_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the language mix + KL divergence
    against the corpus-wide mix (operators/stats.py:categorical_divergence)
    — the mixture-drift monitor for a training-data pipeline. One scan;
    the global distribution is re-aggregated from the (group, value)
    counts, never a second pass."""
    from etdtransform_spark.operators.stats import categorical_divergence

    docs = _t(spark, sf_dir, "documents")
    return categorical_divergence(docs, "source", "lang").withColumnRenamed(
        "grp", "source"
    )


_SQL_ENTROPY = f"""
WITH gv AS (
  SELECT source AS grp, lang AS val, count(*)::DOUBLE AS n
  FROM documents GROUP BY 1, 2),
g AS (SELECT grp, sum(n) AS g_n FROM gv GROUP BY 1),
v AS (SELECT val, sum(n) AS v_n FROM gv GROUP BY 1),
a AS (SELECT sum(n) AS all_n FROM gv)
SELECT grp AS source,
       {qround_sql('-sum((n / g_n) * ln(n / g_n))', 6)} AS entropy,
       {qround_sql(
           'sum((n / g_n) * ln((n / g_n) / (v_n / all_n)))', 6)}
         AS kl_vs_global
FROM gv JOIN g USING (grp) JOIN v USING (val) CROSS JOIN a
GROUP BY grp
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts maximizing (size, retail price)
    (operators/olap.py:pareto_frontier): distributed scan-line in two
    phases — per-bucket local skyline, then one pass over survivors. The
    oracle is the quadratic NOT EXISTS the operator avoids."""
    from etdtransform_spark.operators.olap import pareto_frontier

    part = _t(spark, sf_dir, "part")
    return pareto_frontier(part, "p_size", "p_retailprice")


_SQL_PARETO = """
WITH pts AS (SELECT DISTINCT p_size, p_retailprice FROM part)
SELECT p_size, p_retailprice FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.p_size >= p.p_size AND q.p_retailprice >= p.p_retailprice
    AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice))
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week value totals per event type with change / %-change
    against the previous observed week
    (operators/timeseries.py:period_over_period). Periods surface as
    TIMESTAMP on both engines — Spark DateType would reach pandas as
    object(date) vs DuckDB's datetime64 and hash-mismatch at the driver."""
    from etdtransform_spark.operators.timeseries import period_over_period

    ev = _t(spark, sf_dir, "events")
    out = period_over_period(
        ev, "ts", "value", ["event_type"], unit="week", digits=4
    )
    return out.select(
        "event_type",
        F.col("period").cast("timestamp").alias("period"),
        "total",
        F.col("prev_period").cast("timestamp").alias("prev_period"),
        "change",
        "pct_change",
    )


_SQL_POP = f"""
WITH agg AS (
  SELECT event_type, date_trunc('week', ts)::TIMESTAMP AS period,
         {qround_sql('sum(value)', 4)} AS total
  FROM (SELECT * FROM events WHERE ts IS NOT NULL) events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, period, total,
         lag(total) OVER (PARTITION BY event_type ORDER BY period) AS prev,
         lag(period) OVER (PARTITION BY event_type ORDER BY period)
           AS prev_period
  FROM agg)
SELECT event_type, period, total, prev_period,
       {qround_sql('total - prev', 4)} AS change,
       {qround_sql(
           'CASE WHEN prev <> 0 THEN (total - prev) / prev END', 4)}
         AS pct_change
FROM lagged
"""


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift over (user, event_type)
    baskets (operators/funnel.py:cooccurrence): presence-collapsed before
    the pair join, marginals broadcast back."""
    from etdtransform_spark.operators.funnel import cooccurrence

    ev = _t(spark, sf_dir, "events")
    return cooccurrence(ev, "user_id", "event_type", min_pair_count=2)


_SQL_COOCCURRENCE = f"""
WITH pres AS (SELECT DISTINCT user_id AS basket, event_type AS item
              FROM (SELECT * FROM events WHERE ts IS NOT NULL) events),
ic AS (SELECT item, count(*) AS icnt FROM pres GROUP BY 1),
nb AS (SELECT count(DISTINCT basket) AS nb FROM pres),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_count
  FROM pres a JOIN pres b USING (basket)
  WHERE a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT item_a, item_b, pair_count, ia.icnt AS cnt_a, ib.icnt AS cnt_b,
       {qround_sql(
           'pair_count * nb / (ia.icnt::DOUBLE * ib.icnt)', 6)} AS lift
FROM pairs
JOIN ic ia ON ia.item = item_a
JOIN ic ib ON ib.item = item_b
CROSS JOIN nb
"""


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch attribution before each user's first purchase
    (operators/funnel.py:touch_attribution): min-aggregate conversion
    moment keyed back onto the events, one total-order window per user."""
    from etdtransform_spark.operators.funnel import touch_attribution

    ev = _t(spark, sf_dir, "events")
    return touch_attribution(
        ev, "user_id", "ts", "event_type", "event_id", conversion="purchase"
    )


_SQL_ATTRIBUTION = """
WITH conv AS (
  SELECT user_id, min(ts) AS conv_ts FROM (SELECT * FROM events WHERE ts IS NOT NULL) events
  WHERE event_type = 'purchase' GROUP BY 1),
touches AS (
  SELECT e.user_id, c.conv_ts, e.event_type,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS rn_f,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn_l
  FROM (SELECT * FROM events WHERE ts IS NOT NULL) e JOIN conv c USING (user_id)
  WHERE e.event_type <> 'purchase' AND e.ts < c.conv_ts)
SELECT user_id AS user, conv_ts,
       min(CASE WHEN rn_f = 1 THEN event_type END) AS first_touch,
       min(CASE WHEN rn_l = 1 THEN event_type END) AS last_touch
FROM touches GROUP BY 1, 2
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → sorted postings-list index over the document corpus
    (operators/text.py:inverted_index), min_df = 5. Postings surface as a
    comma-joined string so the value hash is order-exact on both engines."""
    from etdtransform_spark.operators.text import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, min_df=5)


_SQL_INVERTED_INDEX = f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(regexp_split_to_array({_FOLD_TEXT}, '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents)
SELECT term, count(*) AS df,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
FROM toks GROUP BY term HAVING count(*) >= 5
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance
    (operators/incremental.py): the events table arrives as two batches
    (split on event_id parity), each folded to a per-key mergeable state;
    states merge and finalize WITHOUT re-reading raw history. The oracle is
    the direct aggregate over everything — the algebraic contract
    finalize(merge(build(b1), build(b2))) ≡ direct_agg(b1 ∪ b2)."""
    from etdtransform_spark.operators.incremental import (
        agg_state_build,
        agg_state_finalize,
        agg_state_merge,
    )

    ev = _t(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    merged = agg_state_merge(
        [
            agg_state_build(b1, ["event_type"], "value"),
            agg_state_build(b2, ["event_type"], "value"),
        ],
        ["event_type"],
    )
    return agg_state_finalize(merged, ["event_type"], digits=4)


_SQL_INCREMENTAL_AGG = f"""
SELECT event_type,
       count(value) AS n,
       {qround_sql('sum(value)', 4)} AS sum,
       {qround_sql('avg(value)', 4)} AS avg,
       {qround_sql('stddev_samp(value)', 4)} AS std,
       {qround_sql('min(value)', 4)} AS min,
       {qround_sql('max(value)', 4)} AS max
FROM (SELECT * FROM events WHERE ts IS NOT NULL) events GROUP BY event_type
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph
    (operators/graph.py:pagerank): 6 rounds, per-round ranks pinned to 12
    digits so the identical recurrence in the chained-CTE oracle is
    bit-stable. The graph is derived exactly like transition_matrix (lead
    over each user's timeline, counted state pairs)."""
    from etdtransform_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("_next", F.lead("event_type").over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("_next").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return pagerank(edges, iterations=6).withColumnRenamed("node", "state")


def _sql_pagerank(iters: int = 6, d: float = 0.85) -> str:
    head = f"""
WITH seq AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM {_EV}
), edges AS (
  SELECT from_state AS src, to_state AS dst, count(*)::DOUBLE AS w
  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
), norm AS (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
), nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
pr0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
"""
    steps = []
    for i in range(1, iters + 1):
        step = qround_sql(f"(1.0 - {d}) / nn.n + {d} * coalesce(s.c, 0.0)", 12)
        steps.append(
            f"""pr{i} AS (
  SELECT nd.node, {step} AS rank
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, sum(p.rank * e.p) AS c
             FROM pr{i - 1} p JOIN norm e ON e.src = p.node GROUP BY 1) s
    ON s.node = nd.node)"""
        )
    tail = (
        f"\nSELECT node AS state, {qround_sql('rank', 6)} AS rank"
        f" FROM pr{iters}"
    )
    return head + ",\n".join(steps) + tail


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic, click-vs-view event values
    (operators/stats.py:welch_ttest): one conditional full-scan aggregate,
    sufficient-statistics arithmetic identical on both engines."""
    from etdtransform_spark.operators.stats import welch_ttest

    ev = _t(spark, sf_dir, "events")
    return welch_ttest(ev, "event_type", "value", "click", "view")


_SQL_WELCH = f"""
WITH s AS (
  SELECT count(CASE WHEN event_type = 'click' THEN value END)::DOUBLE AS n_a,
         sum(CASE WHEN event_type = 'click' THEN value END) AS s_a,
         sum(CASE WHEN event_type = 'click' THEN value * value END) AS q_a,
         count(CASE WHEN event_type = 'view' THEN value END)::DOUBLE AS n_b,
         sum(CASE WHEN event_type = 'view' THEN value END) AS s_b,
         sum(CASE WHEN event_type = 'view' THEN value * value END) AS q_b
  FROM events WHERE ts IS NOT NULL AND event_type IN ('click', 'view')
), d AS (
  SELECT n_a, n_b, s_a / n_a AS ma, s_b / n_b AS mb,
         ((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a AS sea,
         ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b AS seb
  FROM s)
SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
       {qround_sql('ma', 6)} AS mean_a, {qround_sql('mb', 6)} AS mean_b,
       {qround_sql('(ma - mb) / sqrt(sea + seb)', 6)} AS t_stat,
       {qround_sql(
           '(sea + seb) * (sea + seb)'
           ' / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1))', 6)} AS dof
FROM d
"""


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square for event_type × (value > 50) independence
    (operators/stats.py:chi_square): contingency cells are the only
    data-sized aggregate; margins re-aggregate the cells; absent cells
    enter via the margin-grid scaffold."""
    from etdtransform_spark.operators.stats import chi_square

    ev = _t(spark, sf_dir, "events").withColumn(
        "outcome", F.when(F.col("value") > 50, "hi").otherwise("lo")
    )
    return chi_square(ev, "event_type", "outcome")


_SQL_CHI2 = f"""
WITH cells AS (
  SELECT event_type AS g,
         CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS o,
         count(*) AS n
  FROM (SELECT * FROM events WHERE ts IS NOT NULL) events GROUP BY 1, 2),
gm AS (SELECT g, sum(n) AS g_n FROM cells GROUP BY 1),
om AS (SELECT o, sum(n) AS o_n FROM cells GROUP BY 1),
tot AS (SELECT sum(n) AS all_n FROM cells),
grid AS (
  SELECT gm.g, om.o, g_n, o_n, coalesce(cells.n, 0)::DOUBLE AS obs
  FROM gm CROSS JOIN om LEFT JOIN cells ON cells.g = gm.g AND cells.o = om.o)
SELECT {qround_sql(
    'sum((obs - g_n * o_n / all_n) * (obs - g_n * o_n / all_n)'
    ' / (g_n * o_n / all_n))', 6)} AS chi2,
       (count(DISTINCT g) - 1) * (count(DISTINCT o) - 1) AS dof
FROM grid CROSS JOIN tot
"""


def q_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median estimate per event type from MERGED two-batch histogram
    states (operators/incremental.py:hist_state_*): integer bin counts are
    exactly mergeable, the estimate interpolates inside the crossing bin —
    the incremental quantile path where moment states aren't enough."""
    from etdtransform_spark.operators.incremental import (
        hist_state_build,
        hist_state_merge,
        hist_state_quantile,
    )

    ev = _t(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    merged = hist_state_merge(
        [
            hist_state_build(b1, ["event_type"], "value", 0.0, 500.0, 100),
            hist_state_build(b2, ["event_type"], "value", 0.0, 500.0, 100),
        ],
        ["event_type"],
    )
    return hist_state_quantile(
        merged, ["event_type"], 0.5, 0.0, 500.0, 100
    )


_SQL_HIST_QUANTILE = f"""
WITH b AS (
  SELECT event_type,
         least(greatest(floor(value / 5.0), 0), 99)::INT AS bin,
         count(*) AS bin_n
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, bin_n,
         sum(bin_n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(bin_n) OVER (PARTITION BY event_type) AS tot
  FROM b)
SELECT event_type,
       {qround_sql(
           '(bin + (0.5 * tot - (cum - bin_n)) / bin_n) * 5.0', 6)} AS q50
FROM c WHERE cum >= 0.5 * tot
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY bin) = 1
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the supplier co-supply graph (suppliers adjacent when
    they supply the same part; operators/graph.py:triangle_count): two
    equijoins over the canonicalized edge list + a semi-join closure, each
    triangle counted once as a<b<c. Bounded to suppliers < 200: co-supply
    on the synthetic schema approaches a complete graph (every supplier
    shares parts with every other), whose triangle count is intrinsically
    ~n³ — fixture degeneracy, not operator cost."""
    from etdtransform_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 200)
    ps = li.select("l_partkey", "l_suppkey").distinct()
    a = ps.select("l_partkey", F.col("l_suppkey").alias("src"))
    b = ps.select("l_partkey", F.col("l_suppkey").alias("dst"))
    edges = a.join(b, "l_partkey").filter(F.col("src") < F.col("dst"))
    return triangle_count(edges)


_SQL_TRIANGLES = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_suppkey < 200),
edges AS (
  SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
  FROM ps a JOIN ps b USING (l_partkey)
  WHERE a.l_suppkey < b.l_suppkey)
SELECT count(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.hi = e2.lo
WHERE EXISTS (SELECT 1 FROM edges e3
              WHERE e3.lo = e1.lo AND e3.hi = e2.hi)
"""


def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user
    (operators/temporal.py:longest_streak): gaps-and-islands anchor on
    day-granular distinct rows, earliest-start tie-break."""
    from etdtransform_spark.operators.temporal import longest_streak

    ev = _t(spark, sf_dir, "events")
    out = longest_streak(ev, "user_id", "ts")
    # TIMESTAMP emission (not DATE) — pandas dtype parity with the oracle
    return out.select(
        "user_id",
        "streak_days",
        F.col("streak_start").cast("timestamp").alias("streak_start"),
        F.col("streak_end").cast("timestamp").alias("streak_end"),
    )


_SQL_LONGEST_STREAK = f"""
WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM {_EV}),
isl AS (
  SELECT user_id, day,
         day - (row_number() OVER (PARTITION BY user_id ORDER BY day))::INT
           AS anchor
  FROM days),
agg AS (
  SELECT user_id, anchor, count(*) AS streak_days,
         min(day) AS streak_start, max(day) AS streak_end
  FROM isl GROUP BY 1, 2)
SELECT user_id, streak_days,
       streak_start::TIMESTAMP AS streak_start,
       streak_end::TIMESTAMP AS streak_end
FROM agg
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY streak_days DESC, streak_start ASC) = 1
"""


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct users per event type per day via HLL sketch state
    (streaming/cardinality_stream.py): fixed-size state per open group,
    mergeable across micro-batches. DataSketches HLL is exact in sparse
    mode, so at gate cardinality the estimate ≡ the batch COUNT(DISTINCT)
    oracle."""
    import uuid

    from etdtransform_spark.streaming.cardinality_stream import (
        streaming_distinct_count,
    )

    stream = _stream_events(spark, sf_dir)
    agg = streaming_distinct_count(
        stream, ["event_type"], "user_id", "1 day"
    )
    name = f"stream_hll_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


_SQL_STREAM_HLL = f"""
SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS bucket_start,
       count(DISTINCT user_id) AS n_distinct
FROM {_EV} GROUP BY 1, 2
"""


def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup SURGERY (operators/corpus.py:
    remove_duplicate_spans): rebuild documents with non-canonical 5-gram
    occurrences removed; canonical = corpus-wide lowest (doc, pos). The
    profile twin is duplicate_spans; this one returns the cleaned text."""
    from etdtransform_spark.operators.corpus import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=5)


_SQL_REMOVE_SPANS = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT doc_id, i AS pos, array_to_string(list_slice(t, i, i + 4), ' ') AS sh
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), marked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
  FROM spans
), dups AS (
  SELECT doc_id, list(pos) AS dp FROM marked WHERE rn > 1 GROUP BY 1
), kept AS (
  SELECT tk.doc_id, tk.t,
         list_filter(
           generate_series(1, len(tk.t)),
           i -> len(list_filter(coalesce(d.dp, []),
                                p -> p <= i AND p + 4 >= i)) = 0) AS ki
  FROM toks tk LEFT JOIN dups d USING (doc_id)
)
SELECT doc_id,
       coalesce(array_to_string(list_transform(ki, i -> t[i]), ' '), '')
         AS clean_text,
       len(t) AS n_tokens,
       len(t) - len(ki) AS n_removed
FROM kept
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile capping of order totals per priority class
    (operators/stats.py:winsorize): per-group exact [p5, p95] bounds
    broadcast back onto the scan, clamp in projection."""
    from etdtransform_spark.operators.stats import winsorize

    orders = _t(spark, sf_dir, "orders")
    out = winsorize(
        orders, "o_totalprice", keys=["o_orderpriority"],
        p_lo=0.05, p_hi=0.95,
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        qround(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "o_totalprice_winsorized",
        "was_clamped",
    )


_SQL_WINSORIZE = f"""
WITH b AS (
  SELECT o_orderpriority,
         {qround_sql('quantile_cont(o_totalprice, 0.05)', 6)} AS b_lo,
         {qround_sql('quantile_cont(o_totalprice, 0.95)', 6)} AS b_hi
  FROM orders GROUP BY 1)
SELECT o_orderkey, o_orderpriority,
       {qround_sql('o_totalprice', 2)} AS o_totalprice,
       {qround_sql('least(greatest(o_totalprice, b_lo), b_hi)', 6)}
         AS o_totalprice_winsorized,
       (o_totalprice < b_lo OR o_totalprice > b_hi) AS was_clamped
FROM orders JOIN b USING (o_orderpriority)
"""


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity join at cosine ≥ 0.9
    (operators/text.py:tfidf_cosine_pairs): candidates only through shared
    terms — the inverted-index dual of the dense embedding near-dup. The
    contract query bounds the input (doc_id < 1000): the synthetic corpus
    has a ~30-word vocabulary, so EVERY pair shares informative terms and
    the candidate set is intrinsically quadratic — a degeneracy of the
    fixture, not the operator (real vocabularies are Heaps-law sparse)."""
    from etdtransform_spark.operators.text import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return tfidf_cosine_pairs(docs, threshold=0.9)


_SQL_TFIDF_COSINE = f"""
WITH docs AS (SELECT * FROM documents WHERE doc_id < 1000),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array({_FOLD_TEXT}, '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM docs
), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
w AS (
  -- max_df_fraction = 0.5 vocabulary cap, mirroring the operator default
  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs / dfreq.df) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE dfreq.df <= n.n_docs * 0.5
    AND tf.tf * ln(n.n_docs / dfreq.df) > 0
), norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b USING (term)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       {qround_sql('dot / (na.nrm * nb.nrm)', 6)} AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE {qround_sql('dot / (na.nrm * nb.nrm)', 6)} >= 0.9
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session event journeys (operators/sessions.py:session_paths):
    6h gap-timeout sessions, total-ordered (ts, event_id) paths capped at
    50 events with an explicit truncated flag."""
    from etdtransform_spark.operators.sessions import session_paths

    ev = _t(spark, sf_dir, "events")
    return session_paths(
        ev,
        timeout_seconds=6 * 3600.0,
        key_cols=["user_id"],
        order_cols=["event_id"],
        max_events=50,
    )


_SQL_SESSION_PATHS = f"""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER wu IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER wu) > 21600000000
              THEN 1 ELSE 0 END AS ns
  FROM {_EV}
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
), agg AS (
  SELECT user_id, session_id, min(ts) AS session_start,
         count(*) AS n_events,
         list(event_type ORDER BY ts, event_id) AS seq
  FROM g GROUP BY 1, 2
)
SELECT user_id, session_id::BIGINT AS session_id, session_start, n_events,
       -- coalesce: a session whose only events have NULL event_type joins
       -- to NULL in DuckDB but '' via Spark's null-skipping array_join
       coalesce(array_to_string(seq[1:50], '>'), '') AS path,
       n_events > 50 AS truncated
FROM agg
"""


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of event values per type
    (operators/stats.py:autocorrelation): one lag window + one
    sufficient-statistics aggregate sharing the key exchange."""
    from etdtransform_spark.operators.stats import autocorrelation

    ev = _t(spark, sf_dir, "events")
    return autocorrelation(
        ev, "ts", "value", ["event_type"], lag=1, order_cols=["event_id"]
    )


_SQL_AUTOCORR = f"""
WITH p AS (
  SELECT event_type, value AS x,
         lag(value) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS y
  FROM {_EV}
), c AS (
  -- FILTER (not WHERE): a key whose every pair is incomplete must still
  -- emit an n_pairs=0 row, matching the operator's conditional aggregate
  -- (latent divergence flagged in round-1 advice; fixture is null-free)
  SELECT event_type,
         count(*) FILTER (x IS NOT NULL AND y IS NOT NULL)::DOUBLE AS n,
         sum(x)     FILTER (x IS NOT NULL AND y IS NOT NULL) AS sx,
         sum(y)     FILTER (x IS NOT NULL AND y IS NOT NULL) AS sy,
         sum(x * x) FILTER (x IS NOT NULL AND y IS NOT NULL) AS sxx,
         sum(y * y) FILTER (x IS NOT NULL AND y IS NOT NULL) AS syy,
         sum(x * y) FILTER (x IS NOT NULL AND y IS NOT NULL) AS sxy
  FROM p GROUP BY 1)
SELECT event_type, n::BIGINT AS n_pairs,
       {qround_sql(
           'CASE WHEN n > 1 AND sxx - sx * sx / n > 0'
           ' AND syy - sy * sy / n > 0'
           ' THEN (sxy - sx * sy / n)'
           ' / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) END', 6)}
         AS acf_lag1
FROM c
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM single change-point estimate per event type
    (operators/timeseries.py:cusum_changepoint): running standardized
    cumsum, peak |C| argmax with earliest-ts tie-break, scaled
    significance."""
    from etdtransform_spark.operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(
        ev, "ts", "value", ["event_type"], threshold=3.0,
        order_cols=["event_id"],
    )


_SQL_CUSUM = f"""
WITH mom AS (
  SELECT event_type,
         sum(value) / count(value) AS mu,
         sqrt((sum(value * value) - sum(value) * sum(value) / count(value))
              / (count(value) - 1)) AS sd,
         count(value) AS n
  FROM (SELECT * FROM events WHERE ts IS NOT NULL) events GROUP BY 1
), c AS (
  SELECT e.event_type, e.ts,
         sum((e.value - mu) / sd) OVER (PARTITION BY e.event_type
                                        ORDER BY e.ts, e.event_id
                                        ROWS UNBOUNDED PRECEDING) AS cu,
         n
  FROM {_EV} e JOIN mom USING (event_type)
  WHERE sd > 0 AND e.value IS NOT NULL
), ranked AS (
  SELECT event_type, ts, n,
         {qround_sql('abs(cu)', 9)} AS a,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {qround_sql('abs(cu)', 9)} DESC, ts ASC) AS rn
  FROM c)
SELECT event_type, ts AS changepoint_ts,
       {qround_sql('a / sqrt(n)', 6)} AS cusum_stat,
       a / sqrt(n) > 3.0 AS significant
FROM ranked WHERE rn = 1
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/similarity.py:pq_encode)
    against the deterministic lowest-id codebook (m=4 subspaces × k=8
    codes over 64 dims): nearest-centroid code per subspace, computed as a
    pure literal-model projection. Production swaps in pq_train's fitted
    codebook — identical operator."""
    from etdtransform_spark.operators.similarity import (
        pq_deterministic_codebook,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_deterministic_codebook(emb, m=4, k=8)
    out = pq_encode(emb, cb)
    # serialized for the driver's canonicalizer (cannot hash list cells)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda x: x.cast("string")), ","
        ).alias("codes"),
    )


_SQL_PQ_BASE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM {_EMB}
), cb0 AS (
  SELECT vv, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), subs AS (SELECT unnest(range(4)) AS s),
dist AS (
  SELECT v.vec_id, subs.s, cb0.code,
         list_sum(list_transform(range(1, 17),
           i -> (v.vv[s * 16 + i] - cb0.vv[s * 16 + i])
              * (v.vv[s * 16 + i] - cb0.vv[s * 16 + i]))) AS d2
  FROM v CROSS JOIN subs CROSS JOIN cb0
), best AS (
  SELECT vec_id, s, code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, s
                             ORDER BY d2 ASC, code ASC) = 1
)"""


_SQL_PQ_CODES = _SQL_PQ_BASE + """
SELECT vec_id, array_to_string(list(code ORDER BY s), ',') AS codes
FROM best GROUP BY 1
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-3 (operators/similarity.py:pq_adc_topk):
    the 10 lowest-id float queries against the PQ-compressed corpus —
    per subspace the contribution is dot(query_slice, codebook[code]),
    scores rounded before ranking for cross-engine-stable ties."""
    from etdtransform_spark.operators.similarity import (
        pq_adc_topk,
        pq_deterministic_codebook,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_deterministic_codebook(emb, m=4, k=8)
    codes = pq_encode(emb, cb)
    queries = emb.orderBy("vec_id").limit(10)
    return pq_adc_topk(queries, codes, cb, k=3)


_SQL_PQ_ADC = _SQL_PQ_BASE + f""",
q AS (SELECT vec_id AS qid, vv AS qv FROM v ORDER BY vec_id LIMIT 10),
contrib AS (
  SELECT q.qid, b.vec_id AS did,
         list_sum(list_transform(range(1, 17),
           i -> q.qv[b.s * 16 + i] * cb0.vv[b.s * 16 + i])) AS dot
  FROM best b JOIN cb0 ON cb0.code = b.code CROSS JOIN q
  WHERE q.qid <> b.vec_id
), scored AS (
  SELECT qid, did, {qround_sql('sum(dot)', 6)} AS approx_dot
  FROM contrib GROUP BY 1, 2
), ranked AS (
  SELECT qid, did, approx_dot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_dot DESC, did ASC) AS rank
  FROM scored)
SELECT qid AS vec_id, did AS neighbor_id, approx_dot, rank
FROM ranked WHERE rank <= 3
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ search (operators/similarity.py:ivfpq_topk): IVF list
    pruning (nlist=8, nprobe=2) + PQ asymmetric-distance scoring over codes
    only — the FAISS IndexIVFPQ composition, deterministic lowest-id models
    for oracle parity."""
    from etdtransform_spark.operators.similarity import (
        ivfpq_topk,
        pq_deterministic_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_deterministic_codebook(emb, m=4, k=8)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(queries, emb, cb, k=3, nlist=8, nprobe=2)


_SQL_IVFPQ = _SQL_PQ_BASE + f""",
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {_EMB} ORDER BY vec_id LIMIT 8
), assign_raw AS (
  SELECT c.vec_id AS did, t.centroid_id,
         {_r6(_cos_sql_of("c.embedding", "t.cvec"))} AS acos
  FROM {_EMB} c CROSS JOIN cent t
), lists AS (
  SELECT did, centroid_id AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY did
                                 ORDER BY acos DESC, centroid_id) AS rn
    FROM assign_raw) WHERE rn = 1
), probe_raw AS (
  SELECT q.vec_id AS qid, t.centroid_id,
         {_r6(_cos_sql_of("q.embedding", "t.cvec"))} AS pcos
  FROM {_EMB} q CROSS JOIN cent t WHERE q.vec_id < 10
), probes AS (
  SELECT qid, centroid_id AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY pcos DESC, centroid_id) AS rn
    FROM probe_raw) WHERE rn <= 2
), contrib AS (
  SELECT p.qid, b.vec_id AS did,
         list_sum(list_transform(range(1, 17),
           i -> qq.vv[b.s * 16 + i] * cb0.vv[b.s * 16 + i])) AS dot
  FROM best b
  JOIN lists l ON l.did = b.vec_id
  JOIN probes p ON p.list_id = l.list_id
  JOIN cb0 ON cb0.code = b.code
  JOIN v qq ON qq.vec_id = p.qid
  WHERE p.qid <> b.vec_id
), scored AS (
  SELECT qid, did, {qround_sql('sum(dot)', 6)} AS approx_dot
  FROM contrib GROUP BY 1, 2
)
SELECT qid AS query_id, did AS neighbor_id, approx_dot,
       rank::BIGINT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY approx_dot DESC, did) AS rank
      FROM scored) WHERE rank <= 3
"""


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction + tokenization
    (operators/corpus.py:bpe_train/bpe_encode): 10 merge rules learned from
    the corpus word dictionary, then per-doc subword token counts.
    Oracle: _sql_bpe() — the merge loop unrolled in DuckDB (integer-only
    outputs); merge semantics additionally unit-tested against the
    canonical Sennrich corpus."""
    from etdtransform_spark.operators.corpus import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=10)
    return bpe_encode(docs, merges)


def _sql_bpe() -> str:
    """DuckDB replica of bpe_train(n_merges=10) + bpe_encode, fully unrolled.

    Key trick: a word's symbol sequence is one string with every symbol
    wrapped in chr(31) separators ("\\x1fh\\x1f\\x1fe\\x1f..."), so applying
    one merge (l, r) is ONE left-to-right non-overlapping ``replace`` of
    "\\x1fl\\x1f\\x1fr\\x1f" with "\\x1flr\\x1f" — exactly the greedy
    carry-fold semantics of operators/corpus.py:_bpe_apply_merge (verified:
    [a,a,a] -> [aa,a]; [a,a,b,a,b] -> [a,ab,ab]).  Training runs on the
    word dictionary; every output column is an exact integer, so there is
    no float-accumulation hash risk.  Early stop (freq < 2) is mirrored by
    an empty p{{j}} CTE making later steps no-ops."""
    S = "chr(31)"
    toks = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
    parts = [f"""
WITH words AS (
  SELECT w, count(*)::BIGINT AS cnt
  FROM (SELECT unnest({toks}) AS w FROM documents) GROUP BY w
), s0 AS (
  SELECT w, cnt,
         regexp_replace(w, '(.)', {S} || '\\1' || {S}, 'g')
           || {S} || '</w>' || {S} AS s
  FROM words
)"""]
    for j in range(1, 11):
        prev = f"s{j - 1}"
        parts.append(f""", p{j} AS MATERIALIZED (
  SELECT l, r FROM (
    SELECT l, r, sum(cnt) AS freq
    FROM (SELECT cnt,
                 unnest(list_slice(sy, 1, len(sy) - 1)) AS l,
                 unnest(list_slice(sy, 2, len(sy))) AS r
          FROM (SELECT cnt,
                       list_filter(string_split(s, {S}), x -> x <> '') AS sy
                FROM {prev}))
    GROUP BY 1, 2 ORDER BY freq DESC, l, r LIMIT 1)
  WHERE freq >= 2
), s{j} AS MATERIALIZED (
  SELECT w, cnt,
         CASE WHEN (SELECT count(*) FROM p{j}) = 0 THEN s
              ELSE replace(s,
                     {S} || (SELECT l FROM p{j}) || {S}
                         || {S} || (SELECT r FROM p{j}) || {S},
                     {S} || (SELECT l FROM p{j}) || (SELECT r FROM p{j}) || {S})
         END AS s
  FROM {prev}
)""")
    parts.append(f""", wtok AS (
  SELECT w, ((length(s) - length(replace(s, {S}, ''))) // 2)::BIGINT AS n_tok
  FROM s10
), docw AS (
  SELECT doc_id, unnest({toks}) AS w FROM documents
)
SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_tok)::BIGINT AS n_bpe_tokens
FROM docw JOIN wtok USING (w) GROUP BY doc_id""")
    return "".join(parts)


def _sql_kmeans_prefix(k: int = 8, iters: int = 5,
                       fit_mod: int | None = None) -> str:
    """Shared DuckDB replica of the Lloyd loop in
    operators/similarity.py:_kmeans_fit/_kmeans_assign, unrolled over
    exploded (vec_id, dim, x) rows: init = the k lowest vec_ids
    (cluster_id = rank-1), assignment = argmin of squared L2 with
    lowest-cluster tie-break (row_number over (d2, cluster_id) ==
    array_position-of-min), empty clusters keep their previous centroid
    (LEFT JOIN + coalesce).  Ends with CTE ``a{iters+1}`` = the final
    (vec_id, cluster_id) assignment.

    ``fit_mod``: mirror of semantic_dedup's fit_sample_mod — the Lloyd
    ITERATIONS (assignment + centroid averages) run only on the
    deterministic arithmetic sample unioned with the k lowest ids
    (``edf``); the FINAL assignment still covers every vector. With
    fit_mod=None, edf = ed and the SQL is the historical full-fit
    replica."""
    parts = [f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM {_EMB}
), ed AS (
  SELECT vec_id, i::INT AS dim, x
  FROM (SELECT vec_id, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x
        FROM emb)
), c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster_id, vec_id
  FROM emb ORDER BY vec_id LIMIT {k}
), cd0 AS (
  SELECT c0.cluster_id, ed.dim, ed.x AS cx FROM c0 JOIN ed USING (vec_id)
)"""]
    if fit_mod:
        parts.append(f""", fitids AS (
  SELECT vec_id FROM emb
  WHERE ((vec_id % 100003) * 2654435761) % {fit_mod} = 0
  UNION
  SELECT vec_id FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {k})
), edf AS (SELECT ed.* FROM ed JOIN fitids USING (vec_id))""")
    else:
        parts.append(", edf AS (SELECT * FROM ed)")
    for i in range(1, iters + 2):
        src_tbl = "ed" if i == iters + 1 else "edf"
        parts.append(f""", d{i} AS MATERIALIZED (
  SELECT {src_tbl}.vec_id, cd.cluster_id,
         sum(({src_tbl}.x - cd.cx) * ({src_tbl}.x - cd.cx)) AS d2
  FROM {src_tbl} JOIN cd{i - 1} cd USING (dim) GROUP BY 1, 2
), a{i} AS MATERIALIZED (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
    FROM d{i}) WHERE rn = 1
)""")
        if i <= iters:
            parts.append(f""", cd{i} AS MATERIALIZED (
  SELECT p.cluster_id, p.dim, coalesce(n.cx, p.cx) AS cx
  FROM cd{i - 1} p LEFT JOIN (
    SELECT a.cluster_id, edf.dim, avg(edf.x) AS cx
    FROM a{i} a JOIN edf USING (vec_id) GROUP BY 1, 2) n
  USING (cluster_id, dim)
)""")
    return "".join(parts)


def _sql_kmeans() -> str:
    """kmeans_centroids oracle: integer cluster sizes from the shared
    unrolled-Lloyd prefix — centroid floats never leave the query."""
    return _sql_kmeans_prefix() + (
        "\nSELECT cluster_id, count(*) AS n_members FROM a6 GROUP BY 1"
    )


def _sql_semantic_dedup(k: int = 8, iters: int = 5,
                        fit_mod: int | None = None) -> str:
    """semantic_dedup oracle: within-cluster cosine pairs on the final
    assignment (list_dot_product ≡ the Spark zip_with fold's accumulation
    order), drop ids that have a >=-threshold neighbor with a lower id in
    their cluster.  Output is (vec_id, cluster_id, keep) — float-free.
    Parametrized over the shared Lloyd prefix (k / iters / sampled fit)."""
    cos = (
        "list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v)))"
    )
    fin = f"a{iters + 1}"
    return _sql_kmeans_prefix(k, iters, fit_mod) + f""", pr AS MATERIALIZED (
  SELECT DISTINCT y.vec_id AS id_b
  FROM {fin} x
  JOIN {fin} y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
  JOIN emb ea ON ea.vec_id = x.vec_id
  JOIN emb eb ON eb.vec_id = y.vec_id
  WHERE floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 >= 0.4
)
SELECT a.vec_id, a.cluster_id, pr.id_b IS NULL AS keep
FROM {fin} a LEFT JOIN pr ON pr.id_b = a.vec_id"""


def q_customer_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening (operators/graph.py:transitive_closure): the
    WITH RECURSIVE / CONNECT BY gap — every (customer, ancestor, depth)
    over the binary tree parent(k) = k/2 derived from customer keys.
    Iterative frontier expansion with early-out; oracle is the genuine
    recursive CTE."""
    from etdtransform_spark.operators.graph import transitive_closure

    cust = _t(spark, sf_dir, "customer")
    edges = cust.filter(F.col("c_custkey") > 1).select(
        F.col("c_custkey").alias("child"),
        (F.col("c_custkey") / 2).cast("bigint").alias("parent"),
    )
    return transitive_closure(edges, max_depth=32).select(
        F.col("node").alias("c_custkey"),
        "ancestor",
        F.col("depth").cast("bigint").alias("depth"),
    )


_SQL_HIERARCHY = """
WITH RECURSIVE edges AS (
  SELECT c_custkey AS child, (c_custkey // 2) AS parent
  FROM customer WHERE c_custkey > 1
),
reach(node, ancestor, depth) AS (
  SELECT child, parent, 1 FROM edges
  UNION ALL
  SELECT r.node, e.parent, r.depth + 1
  FROM reach r JOIN edges e ON e.child = r.ancestor
)
SELECT node AS c_custkey, ancestor, depth::BIGINT AS depth FROM reach
"""


def q_streaming_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-3 event types per day maintained by foreachBatch
    (streaming/topn_stream.py): minimal stateful aggregate + full batch
    query surface per micro-batch, idempotent snapshot publish — verified
    against the batch top-N oracle."""
    import hashlib as _hl
    import uuid

    from etdtransform_spark.streaming.topn_stream import streaming_leaderboard

    stream = _stream_events(spark, sf_dir)
    out = (
        f"/tmp/etd_leaderboard_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_{uuid.uuid4().hex[:6]}"
    )
    q = streaming_leaderboard(stream, "event_type", out, window="1 day", n=3)
    q.awaitTermination(300)
    return spark.read.parquet(out)


_SQL_STREAM_LEADERBOARD = f"""
WITH c AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
         event_type AS item, count(*) AS n_events
  FROM {_EV} GROUP BY 1, 2
)
SELECT bucket_start, item, n_events, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY bucket_start
                               ORDER BY n_events DESC, item ASC) AS rank
  FROM c) WHERE rank <= 3
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group quantile normalization of event values
    (operators/stats.py:quantile_normalize): per-type rank position mapped
    onto the pooled inverse CDF with linear interpolation — the score
    alignment step for mixed sources."""
    from etdtransform_spark.operators.stats import quantile_normalize

    ev = _t(spark, sf_dir, "events")
    return quantile_normalize(ev, "value", "event_type", ["event_id"])


_SQL_QUANTILE_NORMALIZE = f"""
WITH base AS (
  SELECT event_id, event_type AS grp, value AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), ranked AS (
  -- single-row groups pin to the pooled median (r = 0.5), matching the
  -- operator's n=1 guard
  SELECT event_id, grp, v,
         CASE WHEN count(*) OVER (PARTITION BY grp) > 1
              THEN (rank() OVER (PARTITION BY grp ORDER BY v) - 1)::DOUBLE
                   / (count(*) OVER (PARTITION BY grp) - 1)::DOUBLE
              ELSE 0.5 END AS r
  FROM base
), cdf AS (
  SELECT v AS cv, row_number() OVER (ORDER BY v) AS rn,
         lead(v) OVER (ORDER BY v) AS nxt
  FROM base
), n AS (SELECT count(*)::DOUBLE AS n FROM base),
pos AS (
  SELECT event_id, grp, v,
         r * (n.n - 1) + 1 AS p
  FROM ranked CROSS JOIN n)
SELECT event_id, grp AS event_type,
       {qround_sql('v', 6)} AS value,
       {qround_sql(
           'cv + (p - floor(p)) * (coalesce(nxt, cv) - cv)', 6)}
         AS normalized
FROM pos JOIN cdf ON floor(p)::INT = cdf.rn
"""


def q_degree_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heating/cooling degree days per day
    (operators/timeseries.py:degree_days): event values scaled to a
    pseudo-temperature, daily mean, clamped shortfall/excess — the energy
    sector's weather-demand index (reference README.md:299-326 regresses
    against exactly this covariate)."""
    from etdtransform_spark.operators.timeseries import degree_days

    ev = _t(spark, sf_dir, "events").withColumn(
        "temp", F.col("value") / 10.0
    )
    out = degree_days(ev, "ts", "temp")
    # TIMESTAMP emission (not DATE) — pandas dtype parity with the oracle
    return out.withColumn("day", F.col("day").cast("timestamp"))


_SQL_DEGREE_DAYS = f"""
WITH daily AS (
  SELECT ts::DATE AS day,
         sum(value / 10.0) / count(value / 10.0) AS tavg
  FROM {_EV} WHERE value IS NOT NULL GROUP BY 1)
SELECT day::TIMESTAMP AS day, {qround_sql('tavg', 4)} AS t_mean,
       {qround_sql('greatest(18.0 - tavg, 0.0)', 4)} AS hdd,
       {qround_sql('tavg - 22.0', 4).replace('tavg - 22.0',
           'greatest(tavg - 22.0, 0.0)')} AS cdd
FROM daily
"""


def q_weather_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weather-normalized consumption benchmark
    (operators/stats.py:weather_normalize): per event type, the OLS fit of
    value on hour-of-day evaluated at the reference hour 12 — groups
    compared after removing the covariate."""
    from etdtransform_spark.operators.stats import weather_normalize

    ev = _t(spark, sf_dir, "events").withColumn(
        "hr", F.hour("ts").cast("double")
    )
    return weather_normalize(ev, "hr", "value", ["event_type"], x_ref=12.0)


_SQL_WEATHER_NORM = f"""
WITH b AS (
  -- pairwise-complete conditioning, matching groupwise_ols (the fixture
  -- is null-free, but the oracle must not diverge if that ever changes)
  SELECT event_type, hour(ts)::DOUBLE AS x, value AS y FROM {_EV}
  WHERE ts IS NOT NULL AND value IS NOT NULL
), a AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM b GROUP BY 1
), fit AS (
  SELECT event_type, n,
         {qround_sql(
             'CASE WHEN n*sxx - sx*sx <> 0.0'
             ' THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END', 12)} AS slope12,
         {qround_sql(
             'CASE WHEN n*sxx - sx*sx <> 0.0'
             ' THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END',
             12)} AS icept12
  FROM a)
SELECT event_type, n::BIGINT AS n,
       {qround_sql('slope12', 4)} AS slope,
       {qround_sql('icept12 + slope12 * 12.0', 4)} AS y_at_ref
FROM fit
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment join
    (operators/dedup.py:containment_pairs): near-superset / quote
    detection that symmetric Jaccard misses — either direction ≥ 0.8 over
    distinct 3-gram shingles. Bounded input (doc_id < 1000) for the same
    tiny-vocabulary fixture degeneracy as tfidf_cosine_pairs."""
    from etdtransform_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return containment_pairs(docs, threshold=0.8)


_SQL_CONTAINMENT = f"""
WITH docs AS (SELECT * FROM documents WHERE doc_id < 1000),
sh AS (SELECT doc_id, list_distinct({_SH3}) AS shingles FROM docs),
e AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         any_value(a.nsh) AS na, any_value(b.nsh) AS nb,
         count(*) AS inter
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       {qround_sql('inter / na::DOUBLE', 6)} AS containment_a_in_b,
       {qround_sql('inter / nb::DOUBLE', 6)} AS containment_b_in_a
FROM pairs
WHERE greatest({qround_sql('inter / na::DOUBLE', 6)},
               {qround_sql('inter / nb::DOUBLE', 6)}) >= 0.8
"""


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / 7-day rolling active users / stickiness per day
    (operators/sessions.py:rolling_active_users): non-decomposable rolling
    distinct via presence-contribution explode — no day×day self-join."""
    from etdtransform_spark.operators.sessions import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    out = rolling_active_users(ev, window_days=7)
    # TIMESTAMP emission (not DATE) — pandas dtype parity with the oracle
    return out.withColumn("day", F.col("day").cast("timestamp"))


_SQL_ROLLING_ACTIVE = f"""
WITH pres AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM {_EV}),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM pres),
contrib AS (
  SELECT u, unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS rd
  FROM pres),
rolling AS (SELECT rd, count(DISTINCT u) AS rolling_active
            FROM contrib GROUP BY 1),
dau AS (SELECT d AS rd, count(DISTINCT u) AS dau FROM pres GROUP BY 1)
SELECT r.rd::TIMESTAMP AS day, coalesce(dau.dau, 0) AS dau, rolling_active,
       {qround_sql('coalesce(dau.dau, 0) / rolling_active::DOUBLE', 6)}
         AS stickiness
FROM rolling r LEFT JOIN dau ON dau.rd = r.rd CROSS JOIN bounds
WHERE r.rd >= bounds.lo AND r.rd <= bounds.hi
"""


def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance inequality: per-source Gini of document lengths
    (operators/stats.py:gini_coefficient) — one rank window + one
    aggregate sharing the group exchange."""
    from etdtransform_spark.operators.stats import gini_coefficient

    docs = _t(spark, sf_dir, "documents")
    return gini_coefficient(docs, "n_chars", ["source"])


_SQL_GINI = f"""
WITH base AS (
  SELECT source, n_chars::DOUBLE AS v FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0
), ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS i
  FROM base
), a AS (
  SELECT source, count(*)::DOUBLE AS n, sum(v) AS s, sum(i * v) AS isum
  FROM ranked GROUP BY 1)
SELECT source, n::BIGINT AS n,
       {qround_sql(
           'CASE WHEN s > 0'
           ' THEN 2.0 * isum / (n * s) - (n + 1) / n END', 6)} AS gini
FROM a
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM fluency score
    (operators/corpus.py:bigram_logprob): transitions built in-row, two
    broadcast dictionaries, V as a broadcast scalar."""
    from etdtransform_spark.operators.corpus import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs)


_SQL_BIGRAM_LP = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT w1, count(*) AS c1 FROM (
    SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
vocab AS (SELECT count(*)::DOUBLE AS v FROM uni)
SELECT doc_id, count(*) AS n_bigrams,
       {qround_sql('avg(ln((c2 + 1) / (c1 + v)))', 6)}
         AS avg_bigram_logprob
FROM pairs JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab
GROUP BY doc_id
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-level n-gram novelty score
    (operators/corpus.py:ngram_novelty): distinct-shingle explode →
    document-frequency aggregate → join-back aggregate; no pair join."""
    from etdtransform_spark.operators.corpus import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3, min_df=2)


_SQL_NGRAM_NOVELTY = f"""
WITH sh AS (SELECT doc_id, {word_shingles_sql("text", 3)} AS shingles
            FROM documents),
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM e GROUP BY 1)
SELECT doc_id, count(*) AS n_shingles,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
       {qround_sql(
           '1.0 - sum(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END)'
           ' / count(*)::DOUBLE', 6)} AS novelty
FROM e JOIN dfreq USING (s)
GROUP BY doc_id
"""


def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair exact-duplication matrix
    (operators/dedup.py:cross_source_duplication): per-(text-hash, source)
    counts self-joined per hash; pair tallies are count products, document
    pairs are never materialized."""
    from etdtransform_spark.operators.dedup import cross_source_duplication

    docs = _t(spark, sf_dir, "documents")
    return cross_source_duplication(docs)


_SQL_CROSS_SOURCE_DUP = fr"""
WITH per AS (
  SELECT {_FOLD_WS_NORM} AS k,
         source, count(*) AS c
  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
), p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source THEN a.c * (a.c - 1) / 2
              ELSE a.c * b.c END AS np
  FROM per a JOIN per b ON a.k = b.k AND a.source <= b.source
)
SELECT source_a, source_b,
       sum(CASE WHEN np > 0 THEN 1 ELSE 0 END)::BIGINT AS n_texts,
       sum(np)::BIGINT AS n_dup_pairs
FROM p GROUP BY 1, 2
HAVING sum(np) > 0
"""


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap
    (operators/corpus.py:per_source_cap): hash-rank row_number filter,
    compiled to a partial-then-final WindowGroupLimit."""
    from etdtransform_spark.operators.corpus import per_source_cap

    docs = _t(spark, sf_dir, "documents")
    return per_source_cap(docs, max_docs=40).select(
        "doc_id", "source", "sample_rank"
    )


_SQL_PER_SOURCE_CAP = f"""
SELECT doc_id, source,
       row_number() OVER (
         PARTITION BY source
         ORDER BY {portable_hash64_sql('doc_id::VARCHAR', 'cap')}, doc_id
       )::INT AS sample_rank
FROM documents
QUALIFY sample_rank <= 40
"""


# ---------------------------------------------------------------------------
# round-3 additions: skew mitigation, sketch intersection, LSH ANN,
# z-order round-trip — the strongest previously unit-only operators,
# promoted to hard oracle contracts (VERDICT r2 next-round #6)
# ---------------------------------------------------------------------------

def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage skew-safe aggregation (operators/skew.py:salted_agg):
    partial aggregate on (key, salt) spreads a hot key over 16 reducers,
    then the per-key combine — result ≡ the direct one-stage groupBy the
    oracle runs. Measures are integer cents so the two-stage double
    accumulation has no ULP surface; avg is ONE IEEE division of exact
    integers."""
    from etdtransform_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "vc", F.floor(F.col("value") * 100 + F.lit(0.5))
    )
    out = salted_agg(
        ev,
        ["event_type"],
        [
            ("vc", "sum", "sum_c"),
            ("vc", "count", "n"),
            ("vc", "min", "min_c"),
            ("vc", "max", "max_c"),
        ],
        n_salt=16,
    )
    avg = F.when(
        F.col("n") > 0,
        qround(
            F.col("sum_c").cast("double")
            / (F.col("n") * 100).cast("double"),
            6,
        ),
    )
    return out.select(
        "event_type", "sum_c", "n", "min_c", "max_c", avg.alias("avg_v")
    )


_SQL_SALTED_AGG = f"""
WITH b AS (
  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
  FROM {_EV}
)
SELECT event_type, CAST(sum(vc) AS BIGINT) AS sum_c, count(vc) AS n,
       min(vc) AS min_c, max(vc) AS max_c,
       CASE WHEN count(vc) > 0 THEN
         {qround_sql('CAST(sum(vc) AS DOUBLE) / CAST(count(vc) * 100 AS DOUBLE)', 6)}
       END AS avg_v
FROM b GROUP BY 1
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join (operators/skew.py:salted_join): fact rows get a
    deterministic salt, the dim side is replicated n_salt ways, the join
    runs on (key, salt) — each hot key spreads over 8 reducers. Result
    multiset ≡ the plain inner join the oracle runs."""
    from etdtransform_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    fact = ev.select("event_id", "event_type", "user_id")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_count")
    )
    out = salted_join(fact, dim, on=["event_type"], n_salt=8, how="inner")
    return out.select("event_id", "event_type", "user_id", "type_count")


_SQL_SALTED_JOIN = f"""
WITH d AS (SELECT event_type, count(*) AS type_count FROM {_EV} GROUP BY 1)
SELECT e.event_id, e.event_type, e.user_id, d.type_count
FROM {_EV} e JOIN d ON e.event_type = d.event_type
"""


def q_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-overlap of two HLL state tables by inclusion-exclusion
    (operators/incremental.py:hll_intersection_estimate): |A∩B| ≈ |A| +
    |B| − |A∪B| on mergeable DataSketches state. At gate cardinality the
    sketches are in sparse mode, where estimates are EXACT — so the
    oracle is the exact COUNT(DISTINCT) arithmetic."""
    from etdtransform_spark.operators.incremental import (
        hll_intersection_estimate,
        hll_state_build,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(5))
    )
    a = hll_state_build(
        ev.filter(F.col("event_type") == "purchase"), ["cohort"], "user_id"
    )
    b = hll_state_build(
        ev.filter(F.col("event_type") == "view"), ["cohort"], "user_id"
    )
    return hll_intersection_estimate(a, b, ["cohort"])


_SQL_HLL_INTERSECTION = f"""
WITH pu AS (SELECT DISTINCT ((user_id % 5 + 5) % 5) AS cohort, user_id FROM {_EV}
            WHERE event_type = 'purchase'),
vu AS (SELECT DISTINCT ((user_id % 5 + 5) % 5) AS cohort, user_id FROM {_EV}
       WHERE event_type = 'view'),
a AS (SELECT cohort, count(*) AS n_a FROM pu GROUP BY 1),
b AS (SELECT cohort, count(*) AS n_b FROM vu GROUP BY 1),
u AS (SELECT cohort, count(*) AS n_union
      FROM (SELECT * FROM pu UNION SELECT * FROM vu) GROUP BY 1)
SELECT a.cohort, n_a, n_b, n_union,
       greatest(n_a + n_b - n_union, 0) AS n_intersection
FROM a JOIN b USING (cohort) JOIN u USING (cohort)
"""


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed approximate cosine top-k
    (operators/similarity.py:lsh_cosine_topk): corpus and queries hash to
    a 4-bit sign-prefix bucket (axis-plane LSH), candidates come from a
    bucket EQUIJOIN — O(Q·N/2⁴) instead of the brute-force O(Q·N) scan.
    The bucketing is a pure function of the vector, so the oracle mirrors
    it exactly in SQL — a full-value check of the approximate plan."""
    from etdtransform_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return lsh_cosine_topk(queries_df, emb, k=3, bucket_dims=4).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _bucket_sql_of(v: str) -> str:
    return " + ".join(
        f"(CASE WHEN {v}[{d + 1}] >= 0 THEN {2 ** d} ELSE 0 END)"
        for d in range(4)
    )


_SQL_LSH_COSINE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_bucket_sql_of('embedding')} AS bucket
  FROM {_EMB} WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         {_bucket_sql_of('embedding')} AS bucket
  FROM {_EMB}
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         {_r6(_cos_sql_of('q.qv', 'c.cv'))} AS cosine
  FROM q JOIN c USING (bucket)
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id ASC) AS rank
FROM scored
QUALIFY rank <= 3
"""


def q_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered layout round-trip (sources/parquet.py:write_zordered):
    events re-written range-partitioned + sorted on the (user_id,
    event_id) Morton code, read back, filtered and aggregated — the
    multi-dimensional clustering must be a pure LAYOUT change (the file-
    pruning effect itself is plan-asserted in tests/test_zorder_pruning).
    Oracle runs the same filter/aggregate on the original table."""
    import glob
    import shutil
    import uuid

    from etdtransform_spark.sources.parquet import write_zordered

    # best-effort cleanup of prior runs' layout dirs (bench runs this
    # every round; without it /tmp accumulates one dir per invocation)
    for old in glob.glob("/tmp/zorder_rt_*"):
        shutil.rmtree(old, ignore_errors=True)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    path = f"/tmp/zorder_rt_{uuid.uuid4().hex[:8]}"
    write_zordered(ev, path, by=["user_id", "event_id"], n_files=8)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("user_id") % 10 == 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("sum_c"),
        )
    )


_SQL_ZORDER_RT = f"""
SELECT event_type, count(*) AS n,
       CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS sum_c
FROM {_EV} WHERE user_id % 10 = 3
GROUP BY 1
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/corpus.py:
    dsir_importance_weights; Xie et al. NeurIPS 2023): hashed-unigram
    log-ratio weights of every document against a target-domain sample
    (here source='src18'), with deterministic top-40 selection. The
    web-crawl → target-domain data-selection step of an LLM pipeline."""
    from etdtransform_spark.operators.corpus import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs,
        target=F.col("source") == "src18",
        n_buckets=64,
        top_n=40,
    )


_DSIR_B = portable_hash64_sql("term", "dsir")
_SQL_DSIR = f"""
WITH toks AS (
  SELECT doc_id, (source = 'src18') AS is_t,
         {_DSIR_B} % 64 AS b
  FROM (
    SELECT doc_id, source,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
  )
), dists AS (
  SELECT b, count(*) AS cq,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cp
  FROM toks GROUP BY 1
), totals AS (SELECT CAST(sum(cq) AS BIGINT) AS tq,
                     CAST(sum(cp) AS BIGINT) AS tp FROM dists),
ratio AS (
  SELECT b, ln((cp + 1)::DOUBLE / (tp + 64)::DOUBLE)
           - ln((cq + 1)::DOUBLE / (tq + 64)::DOUBLE) AS lr
  FROM dists CROSS JOIN totals
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         {qround_sql('sum(r.lr)', 6)} AS logw
  FROM toks t JOIN ratio r USING (b) GROUP BY 1
)
SELECT doc_id, n_tokens, logw,
       row_number() OVER (ORDER BY logw DESC, doc_id ASC) AS rank,
       row_number() OVER (ORDER BY logw DESC, doc_id ASC) <= 40 AS selected
FROM scored
"""


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script histogram + dominant script
    (operators/text.py:script_profile) — writing-system detection that
    complements n-gram language ID; zero-shuffle strip-and-diff counts."""
    from etdtransform_spark.operators.text import script_profile

    docs = _t(spark, sf_dir, "documents")
    return script_profile(docs)


def _script_sql() -> str:
    classes = [
        ("latin", r"\p{Latin}"),
        ("cyrillic", r"\p{Cyrillic}"),
        ("han", r"\p{Han}"),
        ("arabic", r"\p{Arabic}"),
        ("greek", r"\p{Greek}"),
        ("digit", "[0-9]"),
        ("space", r"\s"),
    ]
    cnt = {
        n: f"(length(text) - length(regexp_replace(text, '{p}', '', 'g')))"
        for n, p in classes
    }
    named = [n for n, _ in classes if n not in ("digit", "space")]
    dom = "CAST(NULL AS VARCHAR)"
    for n in reversed(named):
        conds = [f"{cnt[n]} > 0"] + [
            f"{cnt[n]} >= {cnt[o]}" for o in named if o != n
        ]
        dom = f"CASE WHEN {' AND '.join(conds)} THEN '{n}' ELSE {dom} END"
    cols = ",\n       ".join(f"{cnt[n]}::BIGINT AS n_{n}" for n, _ in classes)
    others = " - ".join([f"length(text)::BIGINT"] + [cnt[n] for n, _ in classes])
    return f"""
SELECT doc_id, length(text)::BIGINT AS n_chars_total,
       {cols},
       ({others})::BIGINT AS n_other,
       {dom} AS dominant_script
FROM documents
"""


def q_dedup_resolve_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup resolution
    (operators/dedup.py:resolve_duplicates_best): the survivor of each
    MinHash-LSH duplicate cluster is the LONGEST member (n_chars, ties to
    lowest id) — what production curation keeps, instead of the min-id
    arbitrary representative."""
    from etdtransform_spark.operators.dedup import resolve_duplicates_best

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return resolve_duplicates_best(docs, pairs, quality_col="n_chars")


def _sql_dedup_resolve_best() -> str:
    lsh = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
),
cc AS (SELECT v AS node, min(u) AS cluster_id FROM reach GROUP BY v),
base AS (
  SELECT d.doc_id,
         coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         coalesce(d.n_chars, -1)::BIGINT AS quality
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
)
SELECT doc_id, cluster_id, quality,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC, doc_id ASC) = 1 AS keep
FROM base
"""


def q_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization asymmetric-distance top-k
    (operators/similarity.py:adc_topk): float queries scored against the
    CODES-ONLY corpus, dequantized on the fly from broadcast per-dim
    min/max stats — the memory path of billion-scale ANN (the corpus never
    exists in float form at query time). Oracle mirrors quantize +
    dequantize + cosine end-to-end."""
    from etdtransform_spark.operators.similarity import (
        adc_topk,
        embedding_dim_stats,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    stats = embedding_dim_stats(emb, n_dims=64)
    codes = quantize_embeddings(emb, stats_df=stats)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return adc_topk(queries_df, codes, stats, k=3, n_dims=64)


_SQL_ADC_TOPK = f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM {_EMB}
), s AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
c AS (
  SELECT e.vec_id, e.d,
         (CASE WHEN s.mx = s.mn THEN 0.0
               ELSE least(255.0, floor((e.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5))
          END)::BIGINT AS code
  FROM e JOIN s USING (d)
), deq AS (
  SELECT c.vec_id, c.d, s.mn + c.code * (s.mx - s.mn) / 255.0 AS xh
  FROM c JOIN s USING (d)
), corpus AS (
  SELECT vec_id AS corpus_id, list(xh ORDER BY d) AS vhat FROM deq GROUP BY 1
), q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM {_EMB} WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, corpus.corpus_id,
         list_dot_product(q.qv, corpus.vhat)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(corpus.vhat, corpus.vhat))) AS cos_raw
  FROM q CROSS JOIN corpus
  WHERE q.query_id <> corpus.corpus_id
)
SELECT query_id, corpus_id, {_r6('cos_raw')} AS cos_adc,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_raw DESC, corpus_id ASC) AS rank
FROM scored
QUALIFY rank <= 3
"""


def q_mg_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries mergeable frequent-items summaries
    (operators/incremental.py:mg_state_build/merge): per-partition counter
    sketches merged by a state-sized aggregate — the heavy-hitter member
    of the incremental-state family (moments/HLL/histogram). The gate runs
    in the EXACT regime (event-type domain ≪ capacity, so no decrement
    ever fires and max_err ≡ 0): the oracle is the plain GROUP BY count."""
    from etdtransform_spark.operators.incremental import (
        mg_state_build,
        mg_state_merge,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(3))
    )
    state = mg_state_build(ev, ["cohort"], "event_type", capacity=16)
    return mg_state_merge([state], ["cohort"], capacity=16)


_SQL_MG_FREQ = f"""
SELECT ((user_id % 3 + 3) % 3) AS cohort, event_type AS item,
       count(*) AS weight, CAST(0 AS BIGINT) AS max_err
FROM {_EV} WHERE event_type IS NOT NULL
GROUP BY 1, 2
"""


# NULL-safe squared norm: DuckDB flattens the _EMB-gate subquery and may
# reorder WHERE conjuncts, evaluating a bare list_dot_product BEFORE the
# NULL-element gate (list_dot_product ERRORS on NULL elements). CASE pins
# the evaluation order, making the guard self-contained.
_SAFE_NORM_SQL = (
    "CASE WHEN embedding IS NOT NULL AND len(embedding) > 0 "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0 "
    "THEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) END"
)


def q_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/eval decontamination
    (operators/similarity.py:embedding_decontaminate): every train vector
    (vec_id >= 5) scored against the broadcast eval set (vec_id < 5),
    keeping only its best match via one map-side-combinable max(struct)
    aggregate; contaminated = best cosine >= 0.25. The semantic
    complement of the n-gram contamination_check — catches paraphrased
    eval leakage exact n-grams miss."""
    from etdtransform_spark.operators.similarity import embedding_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < 5)
    tr = emb.filter(F.col("vec_id") >= 5)
    return embedding_decontaminate(tr, ev, threshold=0.25)


_SQL_DECONTAM = f"""
WITH ev AS (
  SELECT vec_id AS eid, embedding FROM {_EMB}
  WHERE vec_id < 5 AND ({_SAFE_NORM_SQL}) > 0
), tr AS (
  SELECT vec_id AS tid, embedding FROM {_EMB} WHERE vec_id >= 5
), scored AS (
  SELECT a.tid, b.eid,
         floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0 AS c
  FROM (SELECT tid, embedding FROM tr
        WHERE ({_SAFE_NORM_SQL}) > 0) a
  JOIN ev b ON true
), top AS (
  SELECT tid, eid, c,
         row_number() OVER (PARTITION BY tid ORDER BY c DESC, eid ASC) AS rn
  FROM scored
)
SELECT tr.tid AS id, top.eid AS top_eval_id, top.c AS top_cosine,
       coalesce(top.c >= 0.25, false) AS contaminated
FROM tr LEFT JOIN top ON top.tid = tr.tid AND top.rn = 1
"""


def q_zorder_roundtrip_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED z-order path (sources/parquet.py:write_zordered
    exact=False — broadcast approx-quantile cut arrays + F.aggregate-fold
    binary search, no window anywhere): same layout-round-trip contract
    as zorder_roundtrip, proving the 100 TB layout path is also a pure
    layout change on real data. Oracle runs the same filter/aggregate on
    the original table."""
    import glob
    import shutil
    import uuid

    from etdtransform_spark.sources.parquet import write_zordered

    for old in glob.glob("/tmp/zorder_rts_*"):
        shutil.rmtree(old, ignore_errors=True)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    path = f"/tmp/zorder_rts_{uuid.uuid4().hex[:8]}"
    write_zordered(
        ev, path, by=["user_id", "event_id"], n_files=8, exact=False
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("user_id") % 10 == 7)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("sum_c"),
        )
    )


_SQL_ZORDER_RTS = f"""
SELECT event_type, count(*) AS n,
       CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS sum_c
FROM {_EV} WHERE user_id % 10 = 7
GROUP BY 1
"""


def q_dsir_weights_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED DSIR top-N path (operators/corpus.py:
    dsir_importance_weights exact=False — approx-percentile boundary
    slice, global sort shrunk to ~2·top_n rows): restricted to the
    SELECTED rows, whose ranks are exact by construction, so the oracle
    is the exact top-40 — a full-value driver check of the scale path."""
    from etdtransform_spark.operators.corpus import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    out = dsir_importance_weights(
        docs,
        target=F.col("source") == "src18",
        n_buckets=64,
        top_n=40,
        exact=False,
    )
    return out.filter(F.col("selected")).select(
        "doc_id", "n_tokens", "logw", "rank"
    )


_SQL_DSIR_SAMPLED = f"""
SELECT doc_id, n_tokens, logw, rank FROM ({_SQL_DSIR}) WHERE rank <= 40
"""


# ---------------------------------------------------------------------------
# round 6: drift-detection family (stats.ks_2samp / mann_whitney_u /
# psi_drift / psi_time_drift, similarity.embedding_drift)
# ---------------------------------------------------------------------------

def q_ks_drift_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift per user cohort
    (operators/stats.py:ks_2samp): click vs view value distributions,
    keyed by user_id % 4. ECDFs come from one distinct-value count
    aggregate + a cohort-partitioned cumulative window — data-sized work
    is a single map-side-combined groupBy."""
    from etdtransform_spark.operators.stats import ks_2samp

    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", F.col("user_id") % 4
    )
    return ks_2samp(ev, "value", "event_type", "click", "view", keys=["cohort"])


_SQL_KS_DRIFT = f"""
WITH base AS (
  SELECT user_id % 4 AS cohort, value AS v, event_type AS s
  FROM {_EV} WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), counts AS (
  SELECT cohort, v,
         sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN s = 'view' THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY 1, 2
), cum AS (
  SELECT cohort,
         sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
         sum(ca) OVER (PARTITION BY cohort) AS na,
         sum(cb) OVER (PARTITION BY cohort) AS nb
  FROM counts
  WINDOW w AS (PARTITION BY cohort ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort::BIGINT AS cohort, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
       {qround_sql(
           'max(CASE WHEN na > 0 AND nb > 0 THEN'
           ' abs(cum_a / na::DOUBLE - cum_b / nb::DOUBLE) END)', 6)} AS d_stat
FROM cum GROUP BY 1
"""


def q_mwu_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless Mann-Whitney U with tie-corrected z
    (operators/stats.py:mann_whitney_u): purchase vs signup values over
    the whole table — this is the RANGE-PARTITIONED PREFIX-SUM path
    (approx-quantile buckets + broadcast offsets), never a
    single-partition window over the distinct-value table."""
    from etdtransform_spark.operators.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "purchase", "signup")


_SQL_MWU_DRIFT = f"""
WITH base AS (
  SELECT value AS v, event_type AS s
  FROM {_EV} WHERE event_type IN ('purchase', 'signup') AND value IS NOT NULL
), counts AS (
  SELECT v,
         sum(CASE WHEN s = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN s = 'signup' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM base GROUP BY 1
), cum AS (
  SELECT ca, cb, (ca + cb)::DOUBLE AS c,
         (sum(ca + cb) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS ct
  FROM counts
), per_val AS (
  SELECT ca::DOUBLE AS cad, cb::DOUBLE AS cbd,
         ca::DOUBLE * ((ct - c) + (c + 1.0) / 2.0) AS ra,
         c * c * c - c AS tie
  FROM cum
), agged AS (
  SELECT sum(cad) AS na, sum(cbd) AS nb, sum(ra) AS rsum, sum(tie) AS tsum
  FROM per_val
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       {qround_sql(
           'CASE WHEN na > 0 AND nb > 0'
           ' THEN rsum - na * (na + 1.0) / 2.0 END', 6)} AS u_stat,
       {qround_sql(
           'CASE WHEN na > 0 AND nb > 0 AND na + nb > 1'
           ' AND na * nb / 12.0 * ((na + nb + 1.0)'
           '   - tsum / ((na + nb) * (na + nb - 1.0))) > 0'
           ' THEN (rsum - na * (na + 1.0) / 2.0 - na * nb / 2.0)'
           ' / sqrt(na * nb / 12.0 * ((na + nb + 1.0)'
           '   - tsum / ((na + nb) * (na + nb - 1.0)))) END', 6)} AS z
FROM agged
"""


def q_psi_drift_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per language
    (operators/stats.py:psi_drift): even vs odd doc_id halves of the
    n_chars distribution, quintile edges from the even half. Full
    1..n_bins Laplace spine; segments missing a reference half surface
    with n_a = 0 and NULL psi; null-safe key joins."""
    from etdtransform_spark.operators.stats import psi_drift

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .withColumn("half", F.col("doc_id") % 2)
    )
    return psi_drift(docs, "n_chars", "half", 0, 1, keys=["lang"], n_bins=5)


_SQL_PSI_DRIFT = f"""
WITH base AS (
  SELECT lang, n_chars::DOUBLE AS v,
         CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS s
  FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
), segs AS (
  SELECT lang,
         sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN s = 'b' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY 1
), edges AS (
  SELECT lang, quantile_cont(v, [0.2, 0.4, 0.6, 0.8]) AS ed
  FROM base WHERE s = 'a' GROUP BY 1
), cells AS (
  SELECT b.lang, len(list_filter(e.ed, x -> b.v > x)) + 1 AS bin,
         sum(CASE WHEN b.s = 'a' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN b.s = 'b' THEN 1 ELSE 0 END) AS cb
  FROM base b JOIN edges e ON b.lang IS NOT DISTINCT FROM e.lang
  GROUP BY 1, 2
), spine AS (
  SELECT segs.lang, segs.na, segs.nb, gs.g AS bin
  FROM segs, generate_series(1, 5) gs(g)
), full_bins AS (
  SELECT sp.lang, sp.na, sp.nb,
         coalesce(c.ca, 0)::DOUBLE AS ca, coalesce(c.cb, 0)::DOUBLE AS cb
  FROM spine sp LEFT JOIN cells c
    ON sp.lang IS NOT DISTINCT FROM c.lang AND sp.bin = c.bin
), terms AS (
  SELECT lang, na, nb,
         CASE WHEN na > 0 AND nb > 0 THEN
           ((ca + 0.5) / (na::DOUBLE + 2.5) - (cb + 0.5) / (nb::DOUBLE + 2.5))
           * ln(((ca + 0.5) / (na::DOUBLE + 2.5))
                / ((cb + 0.5) / (nb::DOUBLE + 2.5)))
         END AS t
  FROM full_bins
)
SELECT lang, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
       {qround_sql('sum(t)', 6)} AS psi
FROM terms GROUP BY 1
"""


def q_psi_time_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed drift dashboard (operators/stats.py:psi_time_drift):
    daily PSI of the event value distribution against the fixed
    before-Jan-22 reference window. The reference is histogrammed ONCE
    (broadcast n_bins counts), each day adds only its own count — no
    reference-x-day blowup at scale."""
    from etdtransform_spark.operators.stats import psi_time_drift

    ev = _t(spark, sf_dir, "events")
    return psi_time_drift(ev, "value", "ts", "2024-01-22 00:00:00")


_SQL_PSI_TIME_DRIFT = f"""
WITH pop AS (
  SELECT ts, value AS v FROM {_EV} WHERE value IS NOT NULL
), ref AS (
  SELECT v FROM pop WHERE ts < TIMESTAMP '2024-01-22 00:00:00'
), cur AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts, v
  FROM pop WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
), edges AS (
  SELECT quantile_cont(v, [0.2, 0.4, 0.6, 0.8]) AS ed FROM ref
), rt AS (
  SELECT count(*)::BIGINT AS na FROM ref
), ref_cells AS (
  SELECT len(list_filter(e.ed, x -> r.v > x)) + 1 AS bin, count(*) AS ca
  FROM ref r, edges e GROUP BY 1
), segb AS (
  SELECT bucket_ts, count(*)::BIGINT AS nb FROM cur GROUP BY 1
), cur_cells AS (
  SELECT c.bucket_ts, len(list_filter(e.ed, x -> c.v > x)) + 1 AS bin,
         count(*) AS cb
  FROM cur c, edges e GROUP BY 1, 2
), spine AS (
  SELECT s.bucket_ts, rt.na, s.nb, gs.g AS bin
  FROM segb s, rt, generate_series(1, 5) gs(g)
), full_bins AS (
  SELECT sp.bucket_ts, sp.na, sp.nb,
         coalesce(rc.ca, 0)::DOUBLE AS ca, coalesce(cc.cb, 0)::DOUBLE AS cb
  FROM spine sp
  LEFT JOIN ref_cells rc ON sp.bin = rc.bin
  LEFT JOIN cur_cells cc
    ON cc.bucket_ts = sp.bucket_ts AND cc.bin = sp.bin
), terms AS (
  SELECT bucket_ts, na, nb,
         CASE WHEN na > 0 AND nb > 0 THEN
           ((ca + 0.5) / (na::DOUBLE + 2.5) - (cb + 0.5) / (nb::DOUBLE + 2.5))
           * ln(((ca + 0.5) / (na::DOUBLE + 2.5))
                / ((cb + 0.5) / (nb::DOUBLE + 2.5)))
         END AS t
  FROM full_bins
)
SELECT bucket_ts, max(na)::BIGINT AS n_ref, max(nb)::BIGINT AS n_cur,
       {qround_sql('sum(t)', 6)} AS psi
FROM terms GROUP BY 1
"""


def q_embedding_drift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label (operators/similarity.py:
    embedding_drift): centroid cosine + Euclidean shift between even and
    odd vec_id halves. One posexplode + map-side-combined per-dim
    aggregate; centroids re-assembled dictionary-sized; sequential-order
    folds for cross-engine bit-reproducibility."""
    from etdtransform_spark.operators.similarity import embedding_drift

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull())
        .withColumn("half", F.col("vec_id") % 2)
    )
    return embedding_drift(emb, "embedding", "half", 0, 1, keys=["label"])


_SQL_EMB_DRIFT = f"""
WITH base AS (
  SELECT label, CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS s, embedding
  FROM {_EMB} WHERE vec_id IS NOT NULL
), e AS (
  SELECT label, s, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM base
), per_dim AS (
  SELECT label, s, dim, {qround_sql('avg(x)', 6)} AS m, count(*) AS n
  FROM e GROUP BY 1, 2, 3
), cents AS (
  SELECT label, s, max(n)::BIGINT AS n, list(m ORDER BY dim) AS c
  FROM per_dim GROUP BY 1, 2
), a AS (SELECT label, n AS na, c AS ca FROM cents WHERE s = 'a'),
b AS (SELECT label, n AS nb, c AS cb FROM cents WHERE s = 'b'),
j AS (
  SELECT coalesce(a.label, b.label) AS label, na, ca, nb, cb,
         CASE WHEN na IS NOT NULL AND nb IS NOT NULL
              THEN list_transform(generate_series(1, len(ca)),
                                  i -> ca[i] - cb[i]) END AS d
  FROM a FULL OUTER JOIN b ON a.label IS NOT DISTINCT FROM b.label
)
SELECT label, coalesce(na, 0)::BIGINT AS n_a, coalesce(nb, 0)::BIGINT AS n_b,
       {qround_sql(
           'CASE WHEN na IS NOT NULL AND nb IS NOT NULL'
           ' AND sqrt(list_dot_product(ca, ca)) > 0'
           ' AND sqrt(list_dot_product(cb, cb)) > 0'
           ' THEN list_dot_product(ca, cb)'
           ' / (sqrt(list_dot_product(ca, ca))'
           '    * sqrt(list_dot_product(cb, cb))) END', 6)} AS centroid_cos,
       {qround_sql(
           'CASE WHEN na IS NOT NULL AND nb IS NOT NULL'
           ' THEN sqrt(list_dot_product(d, d)) END', 6)} AS centroid_shift
FROM j
"""


def q_expectations_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL data-quality gate (operators/quality.py:
    check_expectations, threshold_completeness + compliance params): the
    production form of expectations — "at least 99.x% complete / y%
    compliant", not "zero violations" — mixed with classic count checks.
    All metrics still ride ONE aggregate pass; verdicts compare the
    ROUNDED fraction so the gate is cross-engine deterministic; an empty
    batch FAILS fractional gates (NULL metric) instead of passing
    vacuously."""
    from etdtransform_spark.operators.quality import check_expectations

    ev = _t(spark, sf_dir, "events")
    return check_expectations(
        ev,
        not_null=["event_id"],
        min_rows=10,
        threshold_completeness={"value": 0.95, "user_id": 0.99},
        compliance={
            "value_positive": ("value > 0", 0.5),
            "known_type": (
                "event_type IN ('click','view','purchase','signup','error')",
                0.999,
            ),
        },
    )


_SQL_EXPECT_THRESH = f"""
WITH m AS (
  SELECT count(*)::DOUBLE AS n,
         count(CASE WHEN event_id IS NULL THEN 1 END)::DOUBLE AS nn_id,
         count(value)::DOUBLE AS c_val,
         count(user_id)::DOUBLE AS c_uid,
         sum(CASE WHEN value > 0 THEN 1 ELSE 0 END)::DOUBLE AS cp_pos,
         sum(CASE WHEN event_type IN
               ('click', 'view', 'purchase', 'signup', 'error')
             THEN 1 ELSE 0 END)::DOUBLE AS cp_type
  FROM {_EV}
)
SELECT 'not_null' AS check, 'event_id' AS target,
       nn_id AS metric, nn_id = 0 AS passed FROM m
UNION ALL
SELECT 'completeness', 'value',
       {qround_sql('CASE WHEN n > 0 THEN c_val / n END', 6)},
       coalesce({qround_sql('CASE WHEN n > 0 THEN c_val / n END', 6)}
                >= 0.95, false)
FROM m
UNION ALL
SELECT 'completeness', 'user_id',
       {qround_sql('CASE WHEN n > 0 THEN c_uid / n END', 6)},
       coalesce({qround_sql('CASE WHEN n > 0 THEN c_uid / n END', 6)}
                >= 0.99, false)
FROM m
UNION ALL
SELECT 'compliance', 'value_positive',
       {qround_sql('CASE WHEN n > 0 THEN cp_pos / n END', 6)},
       coalesce({qround_sql('CASE WHEN n > 0 THEN cp_pos / n END', 6)}
                >= 0.5, false)
FROM m
UNION ALL
SELECT 'compliance', 'known_type',
       {qround_sql('CASE WHEN n > 0 THEN cp_type / n END', 6)},
       coalesce({qround_sql('CASE WHEN n > 0 THEN cp_type / n END', 6)}
                >= 0.999, false)
FROM m
UNION ALL
SELECT 'min_rows', '*', n, n >= 10 FROM m
"""


def q_streaming_psi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift dashboard (streaming/drift_stream.py): the frozen
    reference artifact (exact-percentile edges + bin counts over events
    before Jan 22) is computed batch-side; the STREAM maintains only
    per-(day, bin) counts on those fixed edges (n_bins rows of state per
    open window); PSI is a dictionary-sized roll-up over the sink. Oracle
    is the SAME SQL as the batch psi_time_drift_daily — streaming is a
    deployment mode, not a different answer."""
    import uuid

    from etdtransform_spark.streaming.drift_stream import (
        psi_from_binned_counts,
        streaming_metric_bins,
    )

    ref_end = "2024-01-22 00:00:00"
    n_bins = 5
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ref = ev.filter(F.col("ts") < F.lit(ref_end))
    edges = ref.agg(
        F.percentile(
            F.col("value").cast("double"),
            F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)]),
        ).alias("e")
    ).collect()[0].e
    if edges is None:
        edges = [0.0] * (n_bins - 1)  # empty reference: bins still defined
        ref_bins = spark.createDataFrame([], "bin int, n bigint")
    else:
        arr = F.array(*[F.lit(float(e)) for e in edges])
        ref_bins = ref.groupBy(
            (
                F.size(F.filter(arr, lambda e: F.col("value") > e)) + F.lit(1)
            ).alias("bin")
        ).agg(F.count(F.lit(1)).alias("n"))
    stream = _stream_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("ts") >= F.lit(ref_end))
    )
    bins = streaming_metric_bins(stream, "value", "ts", edges, window="1 day")
    name = f"stream_psi_{uuid.uuid4().hex[:8]}"
    q = (
        bins.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = psi_from_binned_counts(spark.table(name), ref_bins, n_bins)
    return out.select("bucket_ts", "n_ref", "n_cur", "psi")


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-equivalence-class k-anonymity / l-diversity audit
    (operators/privacy.py:k_anonymity): quasi-identifiers (nation,
    market segment), sensitive attribute = account-balance band. ONE
    finest-grain aggregate; every coarser statistic derives from counts,
    so the shuffle never carries rows. NULL balances map to a NULL
    sensitive value, which counts as its own diversity value."""
    from etdtransform_spark.operators.privacy import k_anonymity

    cust = _t(spark, sf_dir, "customer").withColumn(
        "balance_band",
        F.when(F.col("c_acctbal").isNull(), F.lit(None).cast("string"))
        .when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 4500, F.lit("mid"))
        .otherwise(F.lit("high")),
    )
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], "balance_band")


_SQL_K_ANON = f"""
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal IS NULL THEN NULL
              WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 4500 THEN 'mid'
              ELSE 'high' END AS sens
  FROM customer
), fine AS (
  SELECT c_nationkey, c_mktsegment, sens, count(*)::BIGINT AS n
  FROM base GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, sum(n)::BIGINT AS k,
       (count(DISTINCT sens)
        + max(CASE WHEN sens IS NULL THEN 1 ELSE 0 END))::BIGINT AS l_distinct,
       {qround_sql('max(n) / sum(n)::DOUBLE', 6)} AS top_sensitive_share
FROM fine GROUP BY 1, 2
"""


def q_reid_risk_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row re-identification risk report
    (operators/privacy.py:reidentification_risk): finer QI set (nation,
    segment, 500-unit balance band) so small classes exist; sensitive =
    customer name. Two aggregates total — the class build and a
    dictionary-sized rollup with rows-at-risk under k<2/5/10."""
    from etdtransform_spark.operators.privacy import reidentification_risk

    cust = _t(spark, sf_dir, "customer").withColumn(
        "balance_band", F.floor(F.col("c_acctbal") / 500).cast("long")
    )
    return reidentification_risk(
        cust,
        ["c_nationkey", "c_mktsegment", "balance_band"],
        "c_name",
        k_thresholds=(2, 5, 10),
    )


_SQL_REID_RISK = f"""
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 500) AS BIGINT) AS band, c_name AS sens
  FROM customer
), fine AS (
  SELECT c_nationkey, c_mktsegment, band, sens, count(*)::BIGINT AS n
  FROM base GROUP BY 1, 2, 3, 4
), classes AS (
  SELECT c_nationkey, c_mktsegment, band, sum(n)::BIGINT AS k,
         (count(DISTINCT sens)
          + max(CASE WHEN sens IS NULL THEN 1 ELSE 0 END))::BIGINT AS l
  FROM fine GROUP BY 1, 2, 3
)
SELECT sum(k)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
       min(k)::BIGINT AS min_k,
       sum(CASE WHEN k < 2 THEN k ELSE 0 END)::BIGINT AS rows_at_risk_k2,
       {qround_sql(
           'sum(CASE WHEN k < 2 THEN k ELSE 0 END) / sum(k)::DOUBLE', 6
       )} AS pct_at_risk_k2,
       sum(CASE WHEN k < 5 THEN k ELSE 0 END)::BIGINT AS rows_at_risk_k5,
       {qround_sql(
           'sum(CASE WHEN k < 5 THEN k ELSE 0 END) / sum(k)::DOUBLE', 6
       )} AS pct_at_risk_k5,
       sum(CASE WHEN k < 10 THEN k ELSE 0 END)::BIGINT AS rows_at_risk_k10,
       {qround_sql(
           'sum(CASE WHEN k < 10 THEN k ELSE 0 END) / sum(k)::DOUBLE', 6
       )} AS pct_at_risk_k10,
       min(l)::BIGINT AS min_l
FROM classes
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/bloom.py:bloom_semi_join):
    events restricted to users with any purchase over 300, keys built as
    a separate scan (the blocklist/cohort pattern). The Bloom bitmap is
    a 1-row broadcast that prunes the probe stream BEFORE the join
    shuffle; the confirm join makes the result exactly the plain
    semi-join, which is what the oracle states."""
    from etdtransform_spark.operators.bloom import bloom_semi_join

    ev = _t(spark, sf_dir, "events")
    keys = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 300))
        .select("user_id")
    )
    hits = bloom_semi_join(ev, keys, key_col="user_id", num_bits=1 << 16)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        qround(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_BLOOM_SEMI = f"""
WITH hits AS (
  SELECT * FROM {_EV}
  WHERE user_id IN (SELECT user_id FROM {_EV}
                    WHERE event_type = 'purchase' AND value > 300
                      AND user_id IS NOT NULL)
)
SELECT event_type, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       {qround_sql('sum(value)', 2)} AS sum_value
FROM hits GROUP BY 1
"""


# Deterministic crawl-URL synthesis shared by the Spark query and the
# oracle: events has no URL column, so both engines derive the SAME raw
# spellings from (event_id, user_id) and the contract tests the
# NORMALIZER, not the synthesis. The variants cover every rule: scheme
# case, www. label, default/cross-scheme/explicit ports, trailing slash,
# unsorted + tracking query params, fragments.
_URL_RE_SQL = (
    r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$"
)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup (operators/urls.py:url_dedup): pure
    Column regexp/array normalization (scheme+host lowercase, www./
    default-port strip, fragment drop, tracking-param drop + byte-sort,
    trailing-slash trim) then ONE hash aggregate — the shuffle carries
    (canonical, counts), never page payloads."""
    from etdtransform_spark.operators.urls import url_dedup

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    )
    e3, u3, e4, e5 = (
        F.col("event_id") % 3,
        F.col("user_id") % 3,
        F.col("event_id") % 4,
        F.col("event_id") % 5,
    )
    url = F.concat(
        F.when(e3 == 0, "http").when(e3 == 1, "HTTP").otherwise("https"),
        F.lit("://"),
        F.when(u3 == 0, "www.Example.COM")
        .when(u3 == 1, "example.com")
        .otherwise("Shop.test.ORG"),
        F.when(e4 == 0, ":80")
        .when(e4 == 1, ":443")
        .when(e4 == 2, ":8080")
        .otherwise(""),
        F.lit("/p/"),
        (F.col("user_id") % 50).cast("string"),
        F.when(e5 == 0, "/")
        .when(e5 == 1, "")
        .when(e5 == 2, "?b=2&a=1")
        .when(e5 == 3, "?a=1&utm_source=x&b=2")
        .otherwise("#frag"),
    )
    return url_dedup(ev.select(url.alias("url")))


_SQL_URL_DEDUP = f"""
WITH raw AS (
  SELECT (CASE WHEN event_id % 3 = 0 THEN 'http'
               WHEN event_id % 3 = 1 THEN 'HTTP' ELSE 'https' END)
      || '://'
      || (CASE WHEN user_id % 3 = 0 THEN 'www.Example.COM'
               WHEN user_id % 3 = 1 THEN 'example.com'
               ELSE 'Shop.test.ORG' END)
      || (CASE WHEN event_id % 4 = 0 THEN ':80'
               WHEN event_id % 4 = 1 THEN ':443'
               WHEN event_id % 4 = 2 THEN ':8080' ELSE '' END)
      || '/p/' || (user_id % 50)::VARCHAR
      || (CASE WHEN event_id % 5 = 0 THEN '/'
               WHEN event_id % 5 = 1 THEN ''
               WHEN event_id % 5 = 2 THEN '?b=2&a=1'
               WHEN event_id % 5 = 3 THEN '?a=1&utm_source=x&b=2'
               ELSE '#frag' END) AS url
  FROM {_EV} WHERE event_id IS NOT NULL AND user_id IS NOT NULL
), p AS (
  SELECT url,
         lower(regexp_extract(url, '{_URL_RE_SQL}', 1)) AS scheme,
         lower(regexp_extract(url, '{_URL_RE_SQL}', 2)) AS hostport,
         regexp_extract(url, '{_URL_RE_SQL}', 3) AS rawpath,
         regexp_extract(url, '{_URL_RE_SQL}', 4) AS rawq
  FROM raw WHERE regexp_matches(url, '{_URL_RE_SQL}')
), n AS (
  SELECT url, scheme,
         regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
                        '^www\\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(rawpath, '/+$', '') END AS path,
         list_sort(list_filter(
             string_split(substr(rawq, 2, 1048576), '&'),
             q -> q <> '' AND NOT regexp_matches(
                 q, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))) AS params
  FROM p
), norm AS (
  SELECT url,
         scheme || '://' || host
         || CASE WHEN port <> ''
                  AND NOT (scheme = 'http' AND port = '80')
                  AND NOT (scheme = 'https' AND port = '443')
                 THEN ':' || port ELSE '' END
         || path
         || CASE WHEN len(params) > 0
                 THEN '?' || array_to_string(params, '&')
                 ELSE '' END AS norm_url
  FROM n
)
SELECT norm_url, count(*)::BIGINT AS n_rows,
       count(DISTINCT url)::BIGINT AS n_variants, min(url) AS first_url
FROM norm GROUP BY 1
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations over adjacent word pairs
    (operators/text.py:pmi_collocations): one distinct-bigram groupBy is
    the dominant shuffle; unigram counts are vocab-sized; totals ride in
    as a broadcast 1-row aggregate. Tokenization is the corpus
    whitespace convention shared with bigram_logprob."""
    from etdtransform_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5)


_SQL_PMI = f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), pairs AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), big AS (SELECT w1, w2, count(*)::BIGINT AS n_pair FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT w1 AS w, count(*)::BIGINT AS n_w FROM (
    SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
tot AS (
  SELECT (SELECT sum(n_w)::DOUBLE FROM uni) AS ut,
         (SELECT sum(n_pair)::DOUBLE FROM big) AS bt)
SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
       {qround_sql(
           'ln((n_pair / bt) / (u1.n_w / ut) / (u2.n_w / ut))', 6
       )} AS pmi
FROM big JOIN uni u1 ON big.w1 = u1.w JOIN uni u2 ON big.w2 = u2.w
CROSS JOIN tot
WHERE n_pair >= 5
"""


# ---------------------------------------------------------------------------
# model-evaluation statistics (operators/evaluation.py): reliability
# diagram + ECE for the classifier scores, Cohen's kappa for annotator /
# LLM-judge label agreement — the companion stage to classify.py
# ---------------------------------------------------------------------------

def _scored_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (score, label) frame from events: pseudo-score in
    [0, 1] from event_id, NULL where value is NULL (exercises the
    evidence filter on the nulls corpus); label = purchase indicator."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.when(
            F.col("value").isNotNull(),
            F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 96.0,
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )


_SQL_SCORED_EVENTS = f"""
SELECT CASE WHEN value IS NOT NULL THEN (event_id % 97)::DOUBLE / 96 END AS score,
       (event_type = 'purchase')::INT AS label
FROM {_EV}
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (operators/evaluation.py:calibration_bins):
    one hash aggregate; shuffle carries at most n_bins partials per task."""
    from etdtransform_spark.operators.evaluation import calibration_bins

    return calibration_bins(
        _scored_events(spark, sf_dir), "score", "label", n_bins=10
    )


_SQL_CALIBRATION_BINS = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT greatest(least(floor(score * 10), 9), 0)::BIGINT AS bin, score, label
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
    AND NOT isnan(score) AND NOT isnan(label::DOUBLE)
)
SELECT bin, count(*)::BIGINT AS n,
       {qround_sql('avg(score)', 6)} AS avg_score,
       {qround_sql('avg(label::DOUBLE)', 6)} AS pos_rate
FROM b GROUP BY bin
"""


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error
    (operators/evaluation.py:expected_calibration_error): dictionary-sized
    rollup over the bin table; empty batch -> n=0 with NULL ece (fail
    closed, same convention as the fractional expectation gates)."""
    from etdtransform_spark.operators.evaluation import (
        expected_calibration_error,
    )

    return expected_calibration_error(
        _scored_events(spark, sf_dir), "score", "label", n_bins=10
    )


_SQL_CALIBRATION_ECE = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT greatest(least(floor(score * 10), 9), 0)::BIGINT AS bin, score, label
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
    AND NOT isnan(score) AND NOT isnan(label::DOUBLE)
), bins AS (
  SELECT bin, count(*)::BIGINT AS n, avg(score) AS avg_score,
         avg(label::DOUBLE) AS pos_rate
  FROM b GROUP BY bin
)
SELECT coalesce(sum(n), 0)::BIGINT AS n,
       {qround_sql(
           'CASE WHEN coalesce(sum(n), 0) > 0 THEN '
           'sum(n * abs(avg_score - pos_rate)) / sum(n) END', 6
       )} AS ece,
       {qround_sql('max(abs(avg_score - pos_rate))', 6)} AS mce
FROM bins
"""


def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic synthetic labelers
    (operators/evaluation.py:cohens_kappa): labeler A = event_type (NULL
    where value is NULL -> complete-case exclusion exercised on the nulls
    corpus), labeler B agrees on event_id % 4 == 0 and otherwise answers
    a 3-char truncation. ONE data-sized contingency aggregate; marginals
    and the chance term derive from the cell table."""
    from etdtransform_spark.operators.evaluation import cohens_kappa

    ev = _t(spark, sf_dir, "events")
    labeled = ev.select(
        F.when(F.col("value").isNotNull(), F.col("event_type")).alias("a"),
        F.when(
            F.pmod(F.col("event_id"), F.lit(4)) == 0, F.col("event_type")
        ).otherwise(F.substring(F.col("event_type"), 1, 3)).alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


_SQL_ANNOTATOR_KAPPA = f"""
WITH lab AS (
  SELECT CASE WHEN value IS NOT NULL THEN event_type END AS a,
         CASE WHEN event_id % 4 = 0 THEN event_type
              ELSE substr(event_type, 1, 3) END AS b
  FROM {_EV}
), cells AS (
  SELECT a, b, count(*)::BIGINT AS n FROM lab
  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY a, b
), am AS (SELECT a AS cls, sum(n) AS na FROM cells GROUP BY a),
bm AS (SELECT b AS cls, sum(n) AS nb FROM cells GROUP BY b),
tot AS (
  SELECT (SELECT sum(n) FROM cells) AS nn,
         (SELECT sum(n) FROM cells WHERE a = b) AS agree,
         (SELECT sum(na::DOUBLE * nb) FROM am JOIN bm USING (cls)) AS pe_num
)
SELECT coalesce(nn, 0)::BIGINT AS n,
       {qround_sql(
           'CASE WHEN nn > 0 THEN coalesce(agree, 0)::DOUBLE / nn END', 6
       )} AS po,
       {qround_sql('CASE WHEN nn > 0 THEN pe_num / (nn::DOUBLE * nn) END', 6)} AS pe,
       {qround_sql(
           'CASE WHEN nn > 0 AND pe_num / (nn::DOUBLE * nn) < 1.0 THEN '
           '(coalesce(agree, 0)::DOUBLE / nn - pe_num / (nn::DOUBLE * nn))'
           ' / (1.0 - pe_num / (nn::DOUBLE * nn)) END', 6
       )} AS kappa
FROM tot
"""


def _pref_judgments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared deterministic pairwise-judgment synthesis for the
    position-bias / streaming-Elo / streaming-position-bias contracts:
    items event_id % 5 vs (event_id div 7) % 5, judge PLANTED biased —
    picks the item shown first on event_id % 3 < 2 (2/3) regardless of
    who is shown. One definition, three consumers; the SQL twin is
    _SQL_PREF_COMP."""
    ev = _t(spark, sf_dir, "events")
    first = F.pmod(F.col("event_id"), F.lit(5))
    second = F.pmod(F.expr("event_id div 7"), F.lit(5))
    win = F.when(F.pmod(F.col("event_id"), F.lit(3)) < 2, first).otherwise(
        second
    )
    return ev.select(
        F.col("ts"),
        F.col("event_id"),
        first.alias("shown_first"),
        second.alias("shown_second"),
        win.alias("win_item"),
    ).filter(first != second)


_SQL_PREF_COMP = f"""
SELECT ts, event_id, event_id % 5 AS f, (event_id // 7) % 5 AS s,
       CASE WHEN event_id % 3 < 2 THEN event_id % 5
            ELSE (event_id // 7) % 5 END AS w
FROM {_EV}
WHERE event_id % 5 <> (event_id // 7) % 5
"""


def q_streaming_elo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Elo online preference rating
    (streaming/preference_stream.py:streaming_elo): order-dependent
    GLOBAL-state sequential fold — within a micro-batch comparisons fold
    in (event-time, event_id) order, so the single-batch availableNow run
    over the time-sorted source is bit-identical to the batch sequential
    fold, which the oracle expresses as a DuckDB list_reduce over the
    ordered comparison list (state = one 15-slot vector: 5 ratings +
    5 game counts + 5 win counts). Comparisons synthesized like
    position_bias (position-1 winner 2 of 3)."""
    import uuid

    from etdtransform_spark.streaming.preference_stream import streaming_elo

    stream = _stream_events(spark, sf_dir)
    first = F.pmod(F.col("event_id"), F.lit(5))
    second = F.pmod(F.expr("event_id div 7"), F.lit(5))
    win = F.when(F.pmod(F.col("event_id"), F.lit(3)) < 2, first).otherwise(
        second
    )
    # same judge synthesis as _pref_judgments, applied to the STREAM
    # source (the batch helper reads through read_table, not readStream)
    comp = stream.select(
        F.col("ts"),
        F.col("event_id"),
        win.alias("w"),
        (first + second - win).alias("l"),
    ).filter(first != second)
    elo = streaming_elo(comp, "w", "l", "ts", order_col="event_id")
    name = f"stream_elo_{uuid.uuid4().hex[:8]}"
    q = (
        elo.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name)
    # final snapshot: every batch re-emits the full state, so the newest
    # seq group is complete (single-source availableNow = one batch here)
    top = out.agg(F.max("seq")).collect()[0][0]
    return out.filter(F.col("seq") == F.coalesce(F.lit(top), F.lit(0))).select(
        F.col("item").cast("bigint").alias("item"),
        "n_games",
        "wins",
        qround(F.col("rating"), 2).alias("rating"),
    )


_SQL_STREAMING_ELO = f"""
WITH c0_ AS ({_SQL_PREF_COMP}),
comp AS (SELECT ts, event_id, w, f + s - w AS l FROM c0_), enc AS (
  SELECT list([w::DOUBLE, l::DOUBLE] ORDER BY ts, event_id) AS cs FROM comp
), folded AS (
  SELECT list_reduce(
    list_prepend(
      [1000.0,1000.0,1000.0,1000.0,1000.0,0,0,0,0,0,0,0,0,0,0]::DOUBLE[],
      coalesce(cs, []::DOUBLE[][])),
    (acc, x) -> CASE WHEN len(x) = 2 THEN
       list_transform([0,1,2,3,4,5,6,7,8,9,10,11,12,13,14], i ->
         CASE
           WHEN i < 5 AND i = x[1]::INT THEN
             acc[i+1] + 32.0 * (1.0 - 1.0/(1.0
               + pow(10.0, (acc[x[2]::INT + 1] - acc[x[1]::INT + 1]) / 400.0)))
           WHEN i < 5 AND i = x[2]::INT THEN
             acc[i+1] - 32.0 * (1.0 - 1.0/(1.0
               + pow(10.0, (acc[x[2]::INT + 1] - acc[x[1]::INT + 1]) / 400.0)))
           WHEN i >= 5 AND i < 10
                AND (i - 5 = x[1]::INT OR i - 5 = x[2]::INT)
             THEN acc[i+1] + 1.0
           WHEN i >= 10 AND i - 10 = x[1]::INT THEN acc[i+1] + 1.0
           ELSE acc[i+1]
         END)
      ELSE x END
  ) AS st
  FROM enc
), item_dom AS (
  SELECT DISTINCT w AS item FROM comp UNION SELECT DISTINCT l FROM comp
)
SELECT item::BIGINT AS item,
       st[item::INT + 6]::BIGINT AS n_games,
       st[item::INT + 11]::BIGINT AS wins,
       {qround_sql('st[item::INT + 1]', 2)} AS rating
FROM item_dom, folded
"""


def q_streaming_position_bias_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming position-bias monitor
    (streaming/preference_stream.py:streaming_position_bias): FROZEN
    Bradley-Terry strengths score the judgment stream statelessly (a
    literal map, like the quality monitor's weight map); one tumbling-day
    window holds a single (n, wins, Σp, Σp(1−p)) row. Judge is the same
    planted position-1-biased synthesis as position_bias, so every
    window's z reads positive. Oracle = the equivalent batch SQL."""
    import uuid

    from etdtransform_spark.streaming.preference_stream import (
        streaming_position_bias,
    )

    strengths = {0: 1.3, 1: 1.1, 2: 1.0, 3: 0.9, 4: 0.7}
    stream = _stream_events(spark, sf_dir)
    first = F.pmod(F.col("event_id"), F.lit(5))
    second = F.pmod(F.expr("event_id div 7"), F.lit(5))
    win = F.when(F.pmod(F.col("event_id"), F.lit(3)) < 2, first).otherwise(
        second
    )
    comp = stream.select(
        F.col("ts"),
        first.alias("shown_first"),
        second.alias("shown_second"),
        win.alias("win_item"),
    ).filter(first != second)
    mon = streaming_position_bias(
        comp, "shown_first", "shown_second", "win_item", "ts", strengths
    )
    name = f"stream_pbias_{uuid.uuid4().hex[:8]}"
    q = (
        mon.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "bucket_ts", "n", "wins", "win_rate", "expected_rate", "z"
    )


_SQL_STREAMING_POSITION_BIAS = f"""
WITH comp AS ({_SQL_PREF_COMP}), scored AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
         (w = f)::INT::DOUBLE AS w1,
         (CASE f WHEN 0 THEN 1.3 WHEN 1 THEN 1.1 WHEN 2 THEN 1.0 WHEN 3 THEN 0.9 WHEN 4 THEN 0.7 END)::DOUBLE / ((CASE f WHEN 0 THEN 1.3 WHEN 1 THEN 1.1 WHEN 2 THEN 1.0 WHEN 3 THEN 0.9 WHEN 4 THEN 0.7 END)::DOUBLE + (CASE s WHEN 0 THEN 1.3 WHEN 1 THEN 1.1 WHEN 2 THEN 1.0 WHEN 3 THEN 0.9 WHEN 4 THEN 0.7 END)::DOUBLE) AS p
  FROM comp
), agg AS (
  SELECT bucket_ts, count(*)::BIGINT AS n, sum(w1) AS wins,
         sum(p) AS e1, sum(p * (1.0 - p)) AS v
  FROM scored GROUP BY bucket_ts
)
SELECT bucket_ts, n, wins::BIGINT AS wins,
       {qround_sql('wins / n', 6)} AS win_rate,
       {qround_sql('e1 / n', 6)} AS expected_rate,
       {qround_sql('CASE WHEN v > 0 THEN (wins - e1) / sqrt(v) END', 6)} AS z
FROM agg
"""


def q_streaming_cls_monitor_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming model-performance monitor
    (streaming/quality_stream.py:streaming_classification_monitor):
    per tumbling day, confusion counts + accuracy/precision/recall of
    the pseudo-scored events against their labels — the only state is
    FOUR counts per open window. Oracle = the equivalent batch SQL."""
    import uuid

    from etdtransform_spark.streaming.quality_stream import (
        streaming_classification_monitor,
    )

    stream = _stream_events(spark, sf_dir)
    scored = stream.select(
        F.col("ts"),
        F.when(
            F.col("value").isNotNull(),
            F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 96,
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    mon = streaming_classification_monitor(
        scored, "score", "label", "ts", threshold=0.3
    )
    name = f"stream_clsmon_{uuid.uuid4().hex[:8]}"
    q = (
        mon.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "bucket_ts", "n", "tp", "fp", "tn", "fn",
        "accuracy", "precision", "recall",
    )


_SQL_STREAMING_CLS_MONITOR = f"""
WITH s AS (
  SELECT ts,
         CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE / 96 END AS score,
         (event_type = 'purchase')::INT AS label
  FROM {_EV}
), b AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
         (score >= 0.3) AS pred, (label <> 0) AS pos
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
), c AS (
  SELECT bucket_ts,
         count(CASE WHEN pred AND pos THEN 1 END)::BIGINT AS tp,
         count(CASE WHEN pred AND NOT pos THEN 1 END)::BIGINT AS fp,
         count(CASE WHEN NOT pred AND NOT pos THEN 1 END)::BIGINT AS tn,
         count(CASE WHEN NOT pred AND pos THEN 1 END)::BIGINT AS fn
  FROM b GROUP BY 1
)
SELECT bucket_ts, (tp + fp + tn + fn)::BIGINT AS n, tp, fp, tn, fn,
       {qround_sql(
           'CASE WHEN tp + fp + tn + fn > 0 THEN '
           '(tp::DOUBLE + tn::DOUBLE) / '
           '(tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE) END', 6
       )} AS accuracy,
       {qround_sql(
           'CASE WHEN tp + fp > 0 THEN tp::DOUBLE / '
           '(tp::DOUBLE + fp::DOUBLE) END', 6)} AS precision,
       {qround_sql(
           'CASE WHEN tp + fn > 0 THEN tp::DOUBLE / '
           '(tp::DOUBLE + fn::DOUBLE) END', 6)} AS recall
FROM c
"""


def q_streaming_quality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model-quality monitor (streaming/quality_stream.py): the
    frozen hashed-weight model scores the event stream's props text as a
    STATELESS projection; the only stateful operator is one tumbling-day
    window holding a single (n, avg, pass-rate) row per open window.
    Oracle is the equivalent batch SQL — streaming is a deployment mode,
    not a different answer."""
    import uuid

    from etdtransform_spark.streaming.quality_stream import (
        streaming_quality_monitor,
    )

    n_features = 64
    weights = {
        b: ((b * 2654435761) % 1000) / 1000.0 - 0.5 for b in range(n_features)
    }
    stream = _stream_events(spark, sf_dir)
    mon = streaming_quality_monitor(
        stream, "props", "ts", weights, n_features, threshold=0.5
    )
    name = f"stream_quality_{uuid.uuid4().hex[:8]}"
    q = (
        mon.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("bucket_ts", "n", "avg_score", "pass_rate")


_SQL_STREAMING_QUALITY = f"""
WITH toks AS (
  SELECT ts, list_filter(regexp_split_to_array(props, '\\s+'), x -> x <> '') AS t
  FROM {_EV}
), grams AS (
  SELECT ts,
         CASE WHEN len(t) > 0 THEN
           list_concat(t, list_transform(
             generate_series(1, greatest(len(t) - 1, 1)),
             i -> array_to_string(list_slice(t, i, i + 1), ' ')))
         END AS g
  FROM toks
), scores AS (
  SELECT ts,
         CASE WHEN len(g) > 0 THEN 1.0 / (1.0 + exp(-(
           list_reduce(
             list_transform(g, x ->
               (((('0x' || substr(md5('0|' || x), 1, 15))::BIGINT % 64)
                 * 2654435761) % 1000)::DOUBLE / 1000 - 0.5),
             (a, x) -> a + x) / len(g))))
         END AS score
  FROM grams
)
SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
       count(*)::BIGINT AS n,
       {qround_sql('avg(score)', 6)} AS avg_score,
       {qround_sql('avg((score >= 0.5)::INT::DOUBLE)', 6)} AS pass_rate
FROM scores WHERE score IS NOT NULL
GROUP BY 1
"""


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha, nominal
    (operators/evaluation.py:krippendorff_alpha): items = user cohorts,
    ratings = event types (NULL where value is NULL — missing ratings
    are the operator's native case); single-rating items drop from both
    D_o and the margins. ONE finest-grain aggregate; every rollup is
    item-/category-domain-sized."""
    from etdtransform_spark.operators.evaluation import krippendorff_alpha

    ev = _t(spark, sf_dir, "events")
    rated = ev.select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("item"),
        F.when(F.col("value").isNotNull(), F.col("event_type")).alias("label"),
    )
    return krippendorff_alpha(rated, "item", "label")


_SQL_KRIPPENDORFF = f"""
WITH base AS (
  SELECT user_id % 50 AS u,
         CASE WHEN value IS NOT NULL THEN event_type END AS c
  FROM {_EV}
), fine AS (
  SELECT u, c, count(*)::DOUBLE AS nuc FROM base
  WHERE u IS NOT NULL AND c IS NOT NULL GROUP BY u, c
), per_item AS (
  SELECT u, sum(nuc) AS m, sum(nuc * nuc) AS sq
  FROM fine GROUP BY u HAVING sum(nuc) >= 2
), obs AS (
  SELECT count(*)::BIGINT AS n_items, sum(m) AS n,
         sum((m * m - sq) / (m - 1.0)) AS do_num
  FROM per_item
), marg AS (
  SELECT sum(nc * nc) AS snc FROM (
    SELECT sum(nuc) AS nc
    FROM fine JOIN per_item USING (u) GROUP BY c)
)
SELECT n_items, coalesce(n, 0)::BIGINT AS n_ratings,
       {qround_sql('CASE WHEN n > 0 THEN do_num / n END', 6)} AS d_o,
       {qround_sql(
           'CASE WHEN n > 1 THEN (n * n - snc) / (n * (n - 1.0)) END', 6)} AS d_e,
       {qround_sql(
           'CASE WHEN n > 1 AND (n * n - snc) / (n * (n - 1.0)) > 0'
           ' THEN 1.0 - (do_num / n) / ((n * n - snc) / (n * (n - 1.0))) END',
           6)} AS alpha
FROM obs CROSS JOIN marg
"""


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-preference strengths after 3 MM rounds
    (operators/preference.py:bradley_terry_strengths): comparisons
    synthesized deterministically from events (small ids win 2 of 3);
    the pair table is the only data-sized shuffle, each MM round is
    item-domain-sized. Oracle unrolls the 3 rounds as CTEs."""
    from etdtransform_spark.operators.preference import (
        bradley_terry_strengths,
    )

    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(5))
    b = F.pmod(F.expr("event_id div 7"), F.lit(5))
    comp = ev.select(
        F.when(F.pmod(F.col("event_id"), F.lit(3)) < 2, F.least(a, b))
        .otherwise(F.greatest(a, b))
        .alias("winner"),
        F.when(F.pmod(F.col("event_id"), F.lit(3)) < 2, F.greatest(a, b))
        .otherwise(F.least(a, b))
        .alias("loser"),
    ).filter(F.col("winner") != F.col("loser"))
    return bradley_terry_strengths(comp, iterations=3)


def _bt_round_sql(prev: str, cur: str) -> str:
    """One Bradley-Terry MM round as CTE fragments (DuckDB).

    Every CTE is MATERIALIZED: each round references the previous
    round's strengths 4× (two branches × two joins) and the pairs table
    2×, so inlined evaluation re-runs the whole prefix multiplicatively
    (~8^rounds) — measured >110 s for the 3-round preference composite
    at sf0.001 vs <1 s materialized. The tables are item-domain-sized,
    so materialization is free.
    """
    return f"""
d_{cur} AS MATERIALIZED (
  SELECT item, sum(d) AS denom FROM (
    SELECT ia AS item, n_total::DOUBLE / (sa.strength + sb.strength) AS d
    FROM pairs JOIN {prev} sa ON sa.item = pairs.ia
               JOIN {prev} sb ON sb.item = pairs.ib
    UNION ALL
    SELECT ib AS item, n_total::DOUBLE / (sa.strength + sb.strength) AS d
    FROM pairs JOIN {prev} sa ON sa.item = pairs.ia
               JOIN {prev} sb ON sb.item = pairs.ib
  ) GROUP BY item
), r_{cur} AS MATERIALIZED (
  SELECT i.item,
         CASE WHEN denom > 0 THEN i.wins::DOUBLE / denom ELSE 0.0 END AS raw
  FROM items i JOIN d_{cur} USING (item)
), t_{cur} AS MATERIALIZED (SELECT sum(raw) AS t, count(*) AS k FROM r_{cur}),
{cur} AS MATERIALIZED (
  SELECT item,
         CASE WHEN t > 0 THEN raw * k / t ELSE 0.0 END AS strength
  FROM r_{cur} CROSS JOIN t_{cur}
)"""


_SQL_BRADLEY_TERRY = f"""
WITH comp AS (
  SELECT CASE WHEN event_id % 3 < 2 THEN least(event_id % 5, (event_id // 7) % 5)
              ELSE greatest(event_id % 5, (event_id // 7) % 5) END AS w,
         CASE WHEN event_id % 3 < 2 THEN greatest(event_id % 5, (event_id // 7) % 5)
              ELSE least(event_id % 5, (event_id // 7) % 5) END AS l
  FROM {_EV}
  WHERE event_id % 5 <> (event_id // 7) % 5
), pairs AS (
  SELECT least(w, l) AS ia, greatest(w, l) AS ib,
         count(*)::BIGINT AS n_total,
         count(CASE WHEN w = least(w, l) THEN 1 END)::BIGINT AS wins_a
  FROM comp GROUP BY 1, 2
), items AS (
  SELECT item, sum(n)::BIGINT AS n_comparisons, sum(wn)::BIGINT AS wins
  FROM (
    SELECT ia AS item, n_total AS n, wins_a AS wn FROM pairs
    UNION ALL
    SELECT ib AS item, n_total AS n, n_total - wins_a AS wn FROM pairs
  ) GROUP BY item
), s0 AS (SELECT item, 1.0::DOUBLE AS strength FROM items),
{_bt_round_sql('s0', 's1')},
{_bt_round_sql('s1', 's2')},
{_bt_round_sql('s2', 's3')}
SELECT i.item, i.n_comparisons, i.wins,
       {qround_sql('s3.strength', 6)} AS strength
FROM items i JOIN s3 USING (item)
"""


def q_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-bias audit for pairwise-preference data
    (operators/preference.py:position_bias_audit): per presentation
    position, observed vs Bradley-Terry-expected win rate with a
    binomial z. Judge is PLANTED biased — picks position 1 on
    event_id % 3 < 2 (2/3) regardless of who is shown, while the item
    assignment is position-symmetric, so expected ~= 0.5 and z >> 0.
    ONE data-sized audit pass (two broadcast strength joins folding into
    a 4-number aggregate) on top of the 3-round MM fit; oracle reuses
    the bradley_terry CTE prefix."""
    from etdtransform_spark.operators.preference import position_bias_audit

    return position_bias_audit(
        _pref_judgments(spark, sf_dir),
        "shown_first",
        "shown_second",
        "win_item",
        iterations=3,
    )


_SQL_POSITION_BIAS = f"""
WITH base AS ({_SQL_PREF_COMP}), pairs AS (
  SELECT least(w, f + s - w) AS ia, greatest(w, f + s - w) AS ib,
         count(*)::BIGINT AS n_total,
         count(CASE WHEN w = least(w, f + s - w) THEN 1 END)::BIGINT AS wins_a
  FROM base GROUP BY 1, 2
), items AS (
  SELECT item, sum(n)::BIGINT AS n_comparisons, sum(wn)::BIGINT AS wins
  FROM (
    SELECT ia AS item, n_total AS n, wins_a AS wn FROM pairs
    UNION ALL
    SELECT ib AS item, n_total AS n, n_total - wins_a AS wn FROM pairs
  ) GROUP BY item
), s0 AS (SELECT item, 1.0::DOUBLE AS strength FROM items),
{_bt_round_sql('s0', 's1')},
{_bt_round_sql('s1', 's2')},
{_bt_round_sql('s2', 's3')},
joined AS (
  SELECT b.w, b.f, sa.strength AS sf, sb.strength AS ss
  FROM base b JOIN s3 sa ON sa.item = b.f JOIN s3 sb ON sb.item = b.s
), agg AS (
  SELECT count(*)::BIGINT AS n,
         count(CASE WHEN w = f THEN 1 END)::BIGINT AS w1,
         sum(CASE WHEN sf + ss > 0 THEN sf / (sf + ss) ELSE 0.5 END) AS e1,
         sum(CASE WHEN sf + ss > 0
                  THEN (sf / (sf + ss)) * (1.0 - sf / (sf + ss))
                  ELSE 0.25 END) AS v
  FROM joined
)
SELECT 1::BIGINT AS position, n, w1 AS wins,
       {qround_sql('CASE WHEN n > 0 THEN w1::DOUBLE / n END', 6)} AS win_rate,
       {qround_sql('CASE WHEN n > 0 THEN e1 / n END', 6)} AS expected_rate,
       {qround_sql(
           'CASE WHEN v > 0 THEN (w1::DOUBLE - e1) / sqrt(v) END', 6
       )} AS z
FROM agg
UNION ALL
SELECT 2::BIGINT AS position, n, (n - w1)::BIGINT AS wins,
       {qround_sql(
           'CASE WHEN n > 0 THEN (n::DOUBLE - w1::DOUBLE) / n::DOUBLE END', 6
       )} AS win_rate,
       {qround_sql(
           'CASE WHEN n > 0 THEN (n::DOUBLE - e1) / n::DOUBLE END', 6
       )} AS expected_rate,
       {qround_sql(
           'CASE WHEN v > 0 THEN '
           '((n::DOUBLE - w1::DOUBLE) - (n::DOUBLE - e1)) / sqrt(v) END', 6
       )} AS z
FROM agg
"""


def q_transitivity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-cycle audit (operators/preference.py:
    transitivity_violations): majority direction per pair, directed
    3-cycle rate over complete untied triples. Data-sized work = the ONE
    pair aggregate; the triple join runs on the item-domain-bounded
    direction table (7 items here)."""
    from etdtransform_spark.operators.preference import (
        transitivity_violations,
    )

    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(7))
    b = F.pmod(F.expr("event_id div 11"), F.lit(7))
    win = F.when(F.pmod(F.col("event_id"), F.lit(16)) < 9, a).otherwise(b)
    comp = ev.select(
        win.alias("winner"), (a + b - win).alias("loser")
    ).filter(a != b)
    return transitivity_violations(comp)


_SQL_TRANSITIVITY = f"""
WITH comp AS (
  SELECT CASE WHEN event_id % 16 < 9 THEN event_id % 7
              ELSE (event_id // 11) % 7 END AS w,
         (event_id % 7) + ((event_id // 11) % 7)
           - CASE WHEN event_id % 16 < 9 THEN event_id % 7
                  ELSE (event_id // 11) % 7 END AS l
  FROM {_EV}
  WHERE event_id % 7 <> (event_id // 11) % 7
), pairs AS (
  SELECT least(w, l) AS ia, greatest(w, l) AS ib,
         count(*)::BIGINT AS n_total,
         count(CASE WHEN w = least(w, l) THEN 1 END)::BIGINT AS wins_a
  FROM comp GROUP BY 1, 2
), edges AS (
  SELECT ia, ib, CASE WHEN wins_a * 2 > n_total THEN 1
                      WHEN wins_a * 2 < n_total THEN 0 END AS d
  FROM pairs
), e AS (SELECT * FROM edges WHERE d IS NOT NULL),
tri AS (
  SELECT e1.d AS d1, e2.d AS d2, e3.d AS d3
  FROM e e1
  JOIN e e2 ON e2.ia = e1.ib
  JOIN e e3 ON e3.ia = e1.ia AND e3.ib = e2.ib
), agg AS (
  SELECT count(*)::BIGINT AS n_triples,
         count(CASE WHEN (d1 = 1 AND d2 = 1 AND d3 = 0)
                      OR (d1 = 0 AND d2 = 0 AND d3 = 1)
                    THEN 1 END)::BIGINT AS n_cyclic
  FROM tri
)
SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_pairs,
       (SELECT count(*) FROM edges WHERE d IS NULL)::BIGINT AS n_tied_pairs,
       n_triples, n_cyclic,
       {qround_sql(
           'CASE WHEN n_triples > 0 THEN n_cyclic::DOUBLE / n_triples END', 6
       )} AS violation_rate
FROM agg
"""


def _fair_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cohort-scored events for the fairness contracts: cohort =
    user_id % 4, same pseudo-score/label as _scored_events. SQL twin is
    _SQL_FAIR_GROUPS (the per-cohort confusion-count spine)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(4)).alias("cohort"),
        F.when(
            F.col("value").isNotNull(),
            F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 96,
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )


_SQL_FAIR_GROUPS = f"""
s AS (
  SELECT user_id % 4 AS cohort,
         CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE / 96 END AS score,
         (event_type = 'purchase')::INT AS label
  FROM {_EV}
), b AS (
  SELECT cohort, (score >= 0.3) AS pred, (label <> 0) AS pos
  FROM s
  WHERE score IS NOT NULL AND label IS NOT NULL AND cohort IS NOT NULL
), g AS (
  SELECT cohort, count(*)::BIGINT AS n,
         count(CASE WHEN pos THEN 1 END)::BIGINT AS npos,
         count(CASE WHEN pred THEN 1 END)::BIGINT AS npred,
         count(CASE WHEN pred AND pos THEN 1 END)::BIGINT AS tp,
         count(CASE WHEN pred AND NOT pos THEN 1 END)::BIGINT AS fp
  FROM b GROUP BY 1
), rates AS (
  SELECT cohort, n,
         npos::DOUBLE / n AS base_rate,
         npred::DOUBLE / n AS pred_pos_rate,
         CASE WHEN npos > 0 THEN tp::DOUBLE / npos END AS tpr,
         CASE WHEN n - npos > 0 THEN fp::DOUBLE / (n - npos) END AS fpr,
         CASE WHEN npred > 0 THEN tp::DOUBLE / npred::DOUBLE END
           AS prec
  FROM g
)"""


def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort classifier-behavior audit
    (operators/evaluation.py:fairness_audit): demographic parity /
    equalized-odds table in ONE hash aggregate (four counts per group)."""
    from etdtransform_spark.operators.evaluation import fairness_audit

    return fairness_audit(
        _fair_scored(spark, sf_dir), "score", "label", "cohort",
        threshold=0.3,
    )


_SQL_FAIRNESS_AUDIT = f"""
WITH {_SQL_FAIR_GROUPS}
SELECT cohort AS "group", n,
       {qround_sql('base_rate', 6)} AS base_rate,
       {qround_sql('pred_pos_rate', 6)} AS pred_pos_rate,
       {qround_sql('tpr', 6)} AS tpr,
       {qround_sql('fpr', 6)} AS fpr,
       {qround_sql('prec', 6)} AS precision
FROM rates
"""


def q_fairness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-gap fairness summary (operators/evaluation.py:fairness_gaps):
    max−min per rate over groups where the rate is DEFINED; NULL gap
    below 2 defining groups. Group-domain rollup on the same single
    data pass."""
    from etdtransform_spark.operators.evaluation import fairness_gaps

    return fairness_gaps(
        _fair_scored(spark, sf_dir), "score", "label", "cohort",
        threshold=0.3,
    )


_SQL_FAIRNESS_GAPS = f"""
WITH {_SQL_FAIR_GROUPS}
SELECT count(*)::BIGINT AS n_groups,
       {qround_sql(
           'CASE WHEN count(pred_pos_rate) >= 2 '
           'THEN max(pred_pos_rate) - min(pred_pos_rate) END', 6
       )} AS demographic_parity_gap,
       {qround_sql(
           'CASE WHEN count(tpr) >= 2 THEN max(tpr) - min(tpr) END', 6
       )} AS equal_opportunity_gap,
       {qround_sql(
           'CASE WHEN count(fpr) >= 2 THEN max(fpr) - min(fpr) END', 6
       )} AS fpr_gap
FROM rates
"""


def q_top_label_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass top-label reliability bins
    (operators/evaluation.py:top_label_calibration): 4-class
    deterministic probability vectors synthesized from events (modular
    numerators normalized in identical IEEE order both engines);
    argmax = first occurrence (array_position ≡ list_position). ONE hash
    aggregate."""
    from etdtransform_spark.operators.evaluation import (
        top_label_calibration,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    ns = [
        (F.pmod(F.col("event_id"), F.lit(p)) + 1).cast("double")
        for p in (7, 11, 13, 17)
    ]
    tot = ns[0] + ns[1] + ns[2] + ns[3]
    probs = F.array(*[x / tot for x in ns])
    labeled = ev.select(
        probs.alias("probs"),
        F.pmod(F.col("event_id"), F.lit(4)).alias("label"),
    )
    return top_label_calibration(labeled, "probs", "label")


_SQL_TOP_LABEL_CALIBRATION = f"""
WITH base AS (
  SELECT [
      (event_id % 7 + 1)::DOUBLE
        / ((event_id % 7 + 1)::DOUBLE + (event_id % 11 + 1)::DOUBLE
           + (event_id % 13 + 1)::DOUBLE + (event_id % 17 + 1)::DOUBLE),
      (event_id % 11 + 1)::DOUBLE
        / ((event_id % 7 + 1)::DOUBLE + (event_id % 11 + 1)::DOUBLE
           + (event_id % 13 + 1)::DOUBLE + (event_id % 17 + 1)::DOUBLE),
      (event_id % 13 + 1)::DOUBLE
        / ((event_id % 7 + 1)::DOUBLE + (event_id % 11 + 1)::DOUBLE
           + (event_id % 13 + 1)::DOUBLE + (event_id % 17 + 1)::DOUBLE),
      (event_id % 17 + 1)::DOUBLE
        / ((event_id % 7 + 1)::DOUBLE + (event_id % 11 + 1)::DOUBLE
           + (event_id % 13 + 1)::DOUBLE + (event_id % 17 + 1)::DOUBLE)
    ] AS probs,
    (event_id % 4)::BIGINT AS label
  FROM {_EV}
  WHERE event_id IS NOT NULL
), scored AS (
  SELECT list_max(probs) AS c,
         (list_position(probs, list_max(probs)) - 1)::BIGINT AS pred,
         label
  FROM base
), binned AS (
  SELECT greatest(least(floor(c * 10), 9), 0)::BIGINT AS bin, c,
         (pred = label)::INT::DOUBLE AS hit
  FROM scored
)
SELECT bin, count(*)::BIGINT AS n,
       {qround_sql('avg(c)', 6)} AS avg_conf,
       {qround_sql('avg(hit)', 6)} AS accuracy
FROM binned GROUP BY bin
"""


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning label-noise estimate
    (operators/evaluation.py:label_noise_estimate): per-class mean-score
    thresholds + cross-threshold suspicion counts; two data-sized
    aggregates joined through a broadcast 1-row threshold frame."""
    from etdtransform_spark.operators.evaluation import label_noise_estimate

    return label_noise_estimate(
        _scored_events(spark, sf_dir), "score", "label"
    )


_SQL_LABEL_NOISE = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT score AS sc, (label <> 0) AS pos
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
), thr AS (
  SELECT avg(CASE WHEN pos THEN sc END) AS tp,
         avg(CASE WHEN NOT pos THEN sc END) AS tn
  FROM b
), agg AS (
  SELECT count(*)::BIGINT AS n,
         count(CASE WHEN pos THEN 1 END)::BIGINT AS n_pos,
         count(CASE WHEN NOT pos THEN 1 END)::BIGINT AS n_neg,
         max(tp) AS t_pos, max(tn) AS t_neg,
         count(CASE WHEN NOT pos AND sc >= tp THEN 1 END)::BIGINT AS fn,
         count(CASE WHEN pos AND sc <= tn THEN 1 END)::BIGINT AS fp
  FROM b CROSS JOIN thr
)
SELECT n, n_pos, n_neg,
       {qround_sql('t_pos', 6)} AS t_pos,
       {qround_sql('t_neg', 6)} AS t_neg,
       CASE WHEN t_pos IS NOT NULL THEN fn END AS suspected_fn,
       CASE WHEN t_neg IS NOT NULL THEN fp END AS suspected_fp,
       {qround_sql(
           'CASE WHEN n > 0 AND t_pos IS NOT NULL AND t_neg IS NOT NULL '
           'THEN (fn + fp)::DOUBLE / n::DOUBLE END', 6
       )} AS noise_rate
FROM agg
"""


def q_annotator_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-annotator leniency vs leave-one-out consensus
    (operators/evaluation.py:annotator_bias): annotator user_id % 5,
    item event_id % 499, label = parity signal with annotator 0 PLANTED
    lenient (always 1) — its bias/z must surface positive. One item
    rollup + one item-keyed join + one annotator-domain aggregate."""
    from etdtransform_spark.operators.evaluation import annotator_bias

    ev = _t(spark, sf_dir, "events")
    an = F.pmod(F.col("user_id"), F.lit(5))
    item = F.pmod(F.col("event_id"), F.lit(499))
    y = F.when(an == 0, F.lit(1)).otherwise(
        (F.pmod(F.col("event_id"), F.lit(3)) == 0).cast("int")
    )
    rated = ev.select(
        an.alias("annotator_id"), item.alias("item_id"), y.alias("label")
    )
    return annotator_bias(rated, "annotator_id", "item_id", "label")


_SQL_ANNOTATOR_BIAS = f"""
WITH base AS (
  SELECT user_id % 5 AS an, event_id % 499 AS it,
         (CASE WHEN user_id % 5 = 0 THEN 1
               ELSE (event_id % 3 = 0)::INT END)::DOUBLE AS y
  FROM {_EV}
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
), stats AS (
  SELECT it, sum(y) AS sy, count(*) AS cy FROM base GROUP BY it
), rated AS (
  SELECT an, y, (sy - y) / (cy - 1)::DOUBLE AS p
  FROM base JOIN stats USING (it) WHERE cy >= 2
), per AS (
  SELECT an AS annotator, count(*)::BIGINT AS n, avg(y) AS own,
         avg(p) AS cons, sum(y - p) AS bsum, sum(p * (1.0 - p)) AS v
  FROM rated GROUP BY an
)
SELECT annotator, n,
       {qround_sql('own', 6)} AS pos_rate,
       {qround_sql('cons', 6)} AS consensus_rate,
       {qround_sql('own - cons', 6)} AS bias,
       {qround_sql('CASE WHEN v > 0 THEN bsum / sqrt(v) END', 6)} AS z
FROM per
"""


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected AUC via the rank statistic
    (operators/evaluation.py:auc_roc) — rides the SAME distinct-value
    cumulative substrate as ks_2samp / mann_whitney_u, so the keyless
    case exercises the range-partitioned prefix sum again."""
    from etdtransform_spark.operators.evaluation import auc_roc

    return auc_roc(_scored_events(spark, sf_dir), "score", "label")


_SQL_AUC_ROC = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT ca, cb, (ca + cb)::DOUBLE AS c,
         (sum(ca + cb) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS ct
  FROM counts
), per_val AS (
  SELECT ca::DOUBLE AS cad, cb::DOUBLE AS cbd,
         ca::DOUBLE * ((ct - c) + (c + 1.0) / 2.0) AS ra
  FROM cum
), agged AS (
  SELECT sum(cad) AS np, sum(cbd) AS nn, sum(ra) AS rsum FROM per_val
)
SELECT np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       {qround_sql(
           'CASE WHEN np > 0 AND nn > 0'
           ' THEN (rsum - np * (np + 1.0) / 2.0) / (np * nn) END', 6)} AS auc
FROM agged
"""


def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold confusion summary
    (operators/evaluation.py:binary_classification_report): ONE aggregate
    pass; undefined ratios surface as NULL, never 0 or 1."""
    from etdtransform_spark.operators.evaluation import (
        binary_classification_report,
    )

    return binary_classification_report(
        _scored_events(spark, sf_dir), "score", "label", threshold=0.3
    )


_SQL_CLASSIFICATION_REPORT = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT (score >= 0.3) AS pred, (label <> 0) AS pos
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
), c AS (
  SELECT count(CASE WHEN pred AND pos THEN 1 END)::BIGINT AS tp,
         count(CASE WHEN pred AND NOT pos THEN 1 END)::BIGINT AS fp,
         count(CASE WHEN NOT pred AND NOT pos THEN 1 END)::BIGINT AS tn,
         count(CASE WHEN NOT pred AND pos THEN 1 END)::BIGINT AS fn
  FROM b
)
SELECT tp, fp, tn, fn,
       {qround_sql(
           'CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END', 6)} AS precision,
       {qround_sql(
           'CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END', 6)} AS recall,
       {qround_sql(
           'CASE WHEN tp + fp > 0 AND tp + fn > 0 THEN '
           ' CASE WHEN tp > 0 THEN '
           '  2.0 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn))'
           '  / (tp::DOUBLE / (tp + fp) + tp::DOUBLE / (tp + fn))'
           ' ELSE 0.0 END END', 6)} AS f1,
       {qround_sql(
           'CASE WHEN tp + fp + tn + fn > 0 THEN '
           '(tp + tn)::DOUBLE / (tp + fp + tn + fn) END', 6)} AS accuracy
FROM c
"""


def _multiclass_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiclass (pred, true) labels over events: true =
    event_type (NULL where value is NULL -> complete-case exclusion
    exercised on the nulls corpus); pred agrees on event_id % 3 == 0 and
    otherwise answers a 4-char truncation — so the union class domain
    contains never-predicted and zero-support classes, exercising the
    full-outer class spine."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.when(
            F.pmod(F.col("event_id"), F.lit(3)) == 0, F.col("event_type")
        ).otherwise(F.substring(F.col("event_type"), 1, 4)).alias("pred"),
        F.when(F.col("value").isNotNull(), F.col("event_type")).alias("truth"),
    )


_SQL_MULTICLASS_EVENTS = f"""
SELECT CASE WHEN event_id % 3 = 0 THEN event_type
            ELSE substr(event_type, 1, 4) END AS pred,
       CASE WHEN value IS NOT NULL THEN event_type END AS truth
FROM {_EV}
"""

# shared per-class spine (cells -> pm/tm rollups -> full-outer class
# domain); both multiclass oracles compose it so the spine cannot drift
_SQL_MULTICLASS_PER = """cells AS (
  SELECT pred AS a, truth AS b, count(*)::BIGINT AS n FROM lab
  WHERE pred IS NOT NULL AND truth IS NOT NULL GROUP BY 1, 2
), pm AS (
  SELECT a AS cls, sum(n) AS prd,
         coalesce(sum(CASE WHEN a = b THEN n END), 0) AS tp
  FROM cells GROUP BY a
), tm AS (SELECT b AS cls, sum(n) AS sup FROM cells GROUP BY b),
per AS (
  SELECT cls, coalesce(sup, 0)::DOUBLE AS sup,
         coalesce(prd, 0)::DOUBLE AS prd, coalesce(tp, 0)::DOUBLE AS tp
  FROM pm FULL OUTER JOIN tm USING (cls)
)"""


def q_classification_report_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class multiclass precision/recall/F1 long table
    (operators/evaluation.py:classification_report_multi): the only
    data-sized pass is the confusion_counts contingency build; per-class
    rollups + one class-domain-sized full outer join."""
    from etdtransform_spark.operators.evaluation import (
        classification_report_multi,
    )

    return classification_report_multi(
        _multiclass_events(spark, sf_dir), "pred", "truth"
    )


_SQL_CLASSIFICATION_REPORT_MULTI = f"""
WITH lab AS ({_SQL_MULTICLASS_EVENTS}),
{_SQL_MULTICLASS_PER}
SELECT cls AS class, sup::BIGINT AS support, prd::BIGINT AS predicted,
       tp::BIGINT AS tp,
       {qround_sql('CASE WHEN prd > 0 THEN tp / prd END', 6)} AS precision,
       {qround_sql('CASE WHEN sup > 0 THEN tp / sup END', 6)} AS recall,
       {qround_sql(
           'CASE WHEN prd > 0 AND sup > 0 THEN '
           ' CASE WHEN tp > 0 THEN '
           '  2.0 * (tp / prd) * (tp / sup) / (tp / prd + tp / sup)'
           ' ELSE 0.0 END END', 6)} AS f1
FROM per
"""


def q_classification_summary_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro/micro/weighted multiclass averages
    (operators/evaluation.py:classification_summary_multi): same single
    data-sized contingency pass; macro zero-fills undefined per-class
    ratios (sklearn zero_division=0 convention)."""
    from etdtransform_spark.operators.evaluation import (
        classification_summary_multi,
    )

    return classification_summary_multi(
        _multiclass_events(spark, sf_dir), "pred", "truth"
    )


_SQL_CLASSIFICATION_SUMMARY_MULTI = f"""
WITH lab AS ({_SQL_MULTICLASS_EVENTS}),
{_SQL_MULTICLASS_PER}, z AS (
  SELECT sup, tp,
         coalesce(CASE WHEN prd > 0 THEN tp / prd END, 0.0) AS p0,
         coalesce(CASE WHEN sup > 0 THEN tp / sup END, 0.0) AS r0,
         coalesce(CASE WHEN prd > 0 AND sup > 0 THEN
            CASE WHEN tp > 0 THEN
              2.0 * (tp / prd) * (tp / sup) / (tp / prd + tp / sup)
            ELSE 0.0 END END, 0.0) AS f0
  FROM per
), agg AS (
  SELECT coalesce(sum(sup), 0) AS n, count(*)::BIGINT AS n_classes,
         sum(tp) AS tps, avg(p0) AS mp, avg(r0) AS mr, avg(f0) AS mf,
         sum(p0 * sup) AS wp, sum(r0 * sup) AS wr, sum(f0 * sup) AS wf
  FROM z
)
SELECT n::BIGINT AS n, n_classes,
       {qround_sql('CASE WHEN n > 0 THEN tps / n END', 6)} AS accuracy,
       {qround_sql('CASE WHEN n > 0 THEN tps / n END', 6)} AS micro_f1,
       {qround_sql('CASE WHEN n > 0 THEN mp END', 6)} AS macro_precision,
       {qround_sql('CASE WHEN n > 0 THEN mr END', 6)} AS macro_recall,
       {qround_sql('CASE WHEN n > 0 THEN mf END', 6)} AS macro_f1,
       {qround_sql('CASE WHEN n > 0 THEN wp / n END', 6)} AS weighted_precision,
       {qround_sql('CASE WHEN n > 0 THEN wr / n END', 6)} AS weighted_recall,
       {qround_sql('CASE WHEN n > 0 THEN wf / n END', 6)} AS weighted_f1
FROM agg
"""


def _reg_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (pred, target) regression frame from events. Every
    value is a multiple of 2^-5 (integer pred; target = pred/4 +
    (event_id%89)/32), so all oracle-compared SUMS are exact in binary
    and fold-order invariant across engines — no last-ulp drift risk in
    the Σ|e| / Σe² / Σy² aggregates. pred is NULL where value is NULL
    (exercises the evidence filter on the nulls corpus)."""
    ev = _t(spark, sf_dir, "events")
    p = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
    return ev.select(
        F.when(F.col("value").isNotNull(), p).alias("pred"),
        (
            p / F.lit(4.0)
            + F.pmod(F.col("event_id"), F.lit(89)).cast("double") / F.lit(32.0)
        ).alias("target"),
    )


_SQL_REG_SCORED = f"""
SELECT CASE WHEN value IS NOT NULL THEN (event_id % 97)::DOUBLE END AS pred,
       (event_id % 97)::DOUBLE / 4 + (event_id % 89)::DOUBLE / 32 AS target
FROM {_EV}
"""


def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ROC curve table (operators/evaluation.py:roc_curve): one row
    per distinct score threshold from the ks/mwu/auc cumulative
    substrate — the keyless range-partitioned prefix-sum path, never a
    single-partition window."""
    from etdtransform_spark.operators.evaluation import roc_curve

    return roc_curve(_scored_events(spark, sf_dir), "score", "label")


_SQL_ROC_CURVE = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT v, (na - cum_a + ca)::BIGINT AS tp, (nb - cum_b + cb)::BIGINT AS fp,
         na::BIGINT AS na, nb::BIGINT AS nb
  FROM cum
)
SELECT v AS threshold, tp, fp,
       {qround_sql('CASE WHEN na > 0 THEN tp::DOUBLE / na::DOUBLE END', 6)} AS tpr,
       {qround_sql('CASE WHEN nb > 0 THEN fp::DOUBLE / nb::DOUBLE END', 6)} AS fpr
FROM t
"""


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve table (operators/evaluation.py:pr_curve):
    the PR sibling on the identical distinct-score cumulative substrate;
    precision is always defined on an attained threshold."""
    from etdtransform_spark.operators.evaluation import pr_curve

    return pr_curve(_scored_events(spark, sf_dir), "score", "label")


_SQL_PR_CURVE = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT v, (na - cum_a + ca)::BIGINT AS tp, (nb - cum_b + cb)::BIGINT AS fp,
         na::BIGINT AS na
  FROM cum
)
SELECT v AS threshold, tp, fp,
       {qround_sql('tp::DOUBLE / (tp + fp)::DOUBLE', 6)} AS precision,
       {qround_sql('CASE WHEN na > 0 THEN tp::DOUBLE / na::DOUBLE END', 6)} AS recall
FROM t
"""


def q_fairness_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free fairness (operators/evaluation.py:fairness_auc):
    per-cohort tie-corrected AUC — the keyed (windowed) cumulative path,
    group segments partition the distinct-score table."""
    from etdtransform_spark.operators.evaluation import fairness_auc

    return fairness_auc(
        _fair_scored(spark, sf_dir), "score", "label", "cohort"
    )


_SQL_FAIR_AUC_AGGED = f"""
s AS (
  SELECT user_id % 4 AS cohort,
         CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE / 96 END AS score,
         (event_type = 'purchase')::INT AS label
  FROM {_EV}
), counts AS (
  SELECT cohort, score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s
  WHERE score IS NOT NULL AND label IS NOT NULL AND cohort IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, ca, cb, (ca + cb)::DOUBLE AS c,
         (sum(ca + cb) OVER (PARTITION BY cohort ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS ct
  FROM counts
), per_val AS (
  SELECT cohort, ca::DOUBLE AS cad, cb::DOUBLE AS cbd,
         ca::DOUBLE * ((ct - c) + (c + 1.0) / 2.0) AS ra
  FROM cum
), agged AS (
  SELECT cohort, sum(cad) AS np, sum(cbd) AS nn, sum(ra) AS rsum
  FROM per_val GROUP BY cohort
)"""

_SQL_FAIRNESS_AUC = f"""
WITH {_SQL_FAIR_AUC_AGGED}
SELECT cohort AS "group", np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       {qround_sql(
           'CASE WHEN np > 0 AND nn > 0'
           ' THEN (rsum - np * (np + 1.0) / 2.0) / (np * nn) END', 6)} AS auc
FROM agged
"""


def q_fairness_auc_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max−min per-group AUC summary
    (operators/evaluation.py:fairness_auc_gap): gap over groups whose
    AUC is defined, NULL below 2 defining groups — the threshold-free
    twin of fairness_gaps."""
    from etdtransform_spark.operators.evaluation import fairness_auc_gap

    return fairness_auc_gap(
        _fair_scored(spark, sf_dir), "score", "label", "cohort"
    )


_SQL_FAIRNESS_AUC_GAP = f"""
WITH {_SQL_FAIR_AUC_AGGED},
per AS (
  SELECT CASE WHEN np > 0 AND nn > 0
              THEN (rsum - np * (np + 1.0) / 2.0) / (np * nn) END AS auc
  FROM agged
)
SELECT count(*)::BIGINT AS n_groups, count(auc)::BIGINT AS n_defined,
       {qround_sql(
           'CASE WHEN count(auc) >= 2 THEN max(auc) - min(auc) END', 6
       )} AS auc_gap
FROM per
"""


def q_regression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row regression QA summary
    (operators/evaluation.py:regression_report): mae/rmse/r² in ONE hash
    aggregate carrying six partials; r² NULL on a constant target. The
    fixture's 2^-5-grid values make every compared sum exact."""
    from etdtransform_spark.operators.evaluation import regression_report

    return regression_report(_reg_scored(spark, sf_dir), "pred", "target")


_SQL_REGRESSION_REPORT = f"""
WITH s AS ({_SQL_REG_SCORED}),
b AS (
  SELECT pred, target FROM s
  WHERE pred IS NOT NULL AND target IS NOT NULL
), agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(abs(pred - target)) AS sae,
         sum((pred - target) * (pred - target)) AS sse,
         sum(target) AS sy, sum(target * target) AS syy,
         sum(pred) AS sp
  FROM b
)
SELECT n,
       {qround_sql('CASE WHEN n > 0 THEN sae / n::DOUBLE END', 6)} AS mae,
       {qround_sql('CASE WHEN n > 0 THEN sqrt(sse / n::DOUBLE) END', 6)} AS rmse,
       {qround_sql(
           'CASE WHEN n > 0 AND (syy - sy * sy / n::DOUBLE) > 0'
           ' THEN 1.0 - sse / (syy - sy * sy / n::DOUBLE) END', 6)} AS r2,
       {qround_sql('CASE WHEN n > 0 THEN sp / n::DOUBLE END', 6)} AS mean_pred,
       {qround_sql('CASE WHEN n > 0 THEN sy / n::DOUBLE END', 6)} AS mean_target
FROM agg
"""


def q_regression_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-by-decile for continuous predictions
    (operators/evaluation.py:regression_calibration_deciles): exact
    percentile boundaries ride a broadcast 1-row frame into the binning
    projection (lazy, no collect); integer-valued preds keep the
    quantile boundaries engine-portable."""
    from etdtransform_spark.operators.evaluation import (
        regression_calibration_deciles,
    )

    return regression_calibration_deciles(
        _reg_scored(spark, sf_dir), "pred", "target", n_bins=10
    )


_SQL_REGRESSION_DECILES = f"""
WITH s AS ({_SQL_REG_SCORED}),
b AS (
  SELECT pred, target FROM s
  WHERE pred IS NOT NULL AND target IS NOT NULL
), bd AS (
  SELECT quantile_cont(pred,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS q
  FROM b
), binned AS (
  SELECT len(list_filter(bd.q, x -> b.pred > x))::BIGINT AS bin,
         pred, target
  FROM b, bd
)
SELECT bin, count(*)::BIGINT AS n,
       {qround_sql('avg(pred)', 6)} AS avg_pred,
       {qround_sql('avg(target)', 6)} AS avg_target,
       {qround_sql('avg(pred) - avg(target)', 6)} AS bias
FROM binned GROUP BY bin
"""


def q_semantic_dedup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through the IVF-PRUNED assignment path
    (operators/similarity.py:_kmeans_assign nprobe): centroids
    coarse-quantized driver-side, each row scores only probed cells. With
    nprobe >= the cell count the pruned path reproduces the exhaustive
    scan bit-for-bit (unit-pinned), so the oracle is the same sampled-
    Lloyd unroll as semantic_dedup_sampled; approximate nprobe (the
    scale setting — measured 9.8s→4.8s assignment at sf1 k=80, PLANS.md
    "Scale-stress r9") is pinned by unit tests instead, since its
    cluster boundaries are model-dependent by design."""
    from etdtransform_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, k=16, iters=5, threshold=0.4, fit_sample_mod=10,
        assign_nprobe=16,
    )


def q_transitivity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-cycle audit under the STRUCTURAL item cap
    (operators/preference.py:transitivity_violations max_items): the
    deterministic hash-ranked 5-item sample bounds the triple join at
    max_items³ regardless of the true item domain; the oracle replicates
    the portable hash ranking exactly."""
    from etdtransform_spark.operators.preference import (
        transitivity_violations,
    )

    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(7))
    b = F.pmod(F.expr("event_id div 11"), F.lit(7))
    win = F.when(F.pmod(F.col("event_id"), F.lit(16)) < 9, a).otherwise(b)
    comp = ev.select(
        win.alias("winner"), (a + b - win).alias("loser")
    ).filter(a != b)
    return transitivity_violations(comp, max_items=5)


_SQL_TRANSITIVITY_SAMPLED = f"""
WITH comp AS (
  SELECT CASE WHEN event_id % 16 < 9 THEN event_id % 7
              ELSE (event_id // 11) % 7 END AS w,
         (event_id % 7) + ((event_id // 11) % 7)
           - CASE WHEN event_id % 16 < 9 THEN event_id % 7
                  ELSE (event_id // 11) % 7 END AS l
  FROM {_EV}
  WHERE event_id % 7 <> (event_id // 11) % 7
), items AS (
  SELECT w AS it FROM comp WHERE w IS NOT NULL
  UNION
  SELECT l FROM comp WHERE l IS NOT NULL
), keep AS (
  SELECT it FROM items
  ORDER BY {portable_hash64_sql('it::VARCHAR', 'transitivity')} ASC, it ASC
  LIMIT 5
), fcomp AS (
  SELECT c.w, c.l FROM comp c
  JOIN keep ka ON c.w = ka.it
  JOIN keep kb ON c.l = kb.it
), pairs AS (
  SELECT least(w, l) AS ia, greatest(w, l) AS ib,
         count(*)::BIGINT AS n_total,
         count(CASE WHEN w = least(w, l) THEN 1 END)::BIGINT AS wins_a
  FROM fcomp GROUP BY 1, 2
), edges AS (
  SELECT ia, ib, CASE WHEN wins_a * 2 > n_total THEN 1
                      WHEN wins_a * 2 < n_total THEN 0 END AS d
  FROM pairs
), e AS (SELECT * FROM edges WHERE d IS NOT NULL),
tri AS (
  SELECT e1.d AS d1, e2.d AS d2, e3.d AS d3
  FROM e e1
  JOIN e e2 ON e2.ia = e1.ib
  JOIN e e3 ON e3.ia = e1.ia AND e3.ib = e2.ib
), agg AS (
  SELECT count(*)::BIGINT AS n_triples,
         count(CASE WHEN (d1 = 1 AND d2 = 1 AND d3 = 0)
                      OR (d1 = 0 AND d2 = 0 AND d3 = 1)
                    THEN 1 END)::BIGINT AS n_cyclic
  FROM tri
)
SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_pairs,
       (SELECT count(*) FROM edges WHERE d IS NULL)::BIGINT AS n_tied_pairs,
       n_triples, n_cyclic,
       {qround_sql(
           'CASE WHEN n_triples > 0 THEN n_cyclic::DOUBLE / n_triples END', 6
       )} AS violation_rate
FROM agg
"""


def q_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-optimal operating point (operators/evaluation.py:
    best_threshold): argmax over the distinct-score curve substrate,
    ties to the lowest threshold via max(struct(f1, −threshold));
    ZERO rows when no positives exist."""
    from etdtransform_spark.operators.evaluation import best_threshold

    return best_threshold(_scored_events(spark, sf_dir), "score", "label")


_SQL_BEST_THRESHOLD = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT v, (na - cum_a + ca)::BIGINT AS tp, (nb - cum_b + cb)::BIGINT AS fp,
         na::BIGINT AS na
  FROM cum WHERE na > 0
), cand AS (
  SELECT v, tp, fp, na,
         2.0 * tp::DOUBLE / (tp + fp + na)::DOUBLE AS f1
  FROM t
), best AS (
  SELECT * FROM cand ORDER BY f1 DESC, v ASC LIMIT 1
)
SELECT v AS threshold, tp, fp,
       {qround_sql('tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE)', 6)} AS precision,
       {qround_sql('tp::DOUBLE / na::DOUBLE', 6)} AS recall,
       {qround_sql('f1', 6)} AS f1
FROM best
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two derived score columns
    (operators/stats.py:spearman_corr): avg-rank tables off the shared
    keyless range-partitioned cumulative substrate, two value-keyed
    joins back, ONE six-partial aggregate over DOUBLED integer ranks in
    DECIMAL(38,0) — exact partials at any realistic n (HUGEINT on the
    DuckDB side)."""
    from etdtransform_spark.operators.stats import spearman_corr

    ev = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
    two = ev.select(
        F.when(F.col("value").isNotNull(), x).alias("x"),
        (
            x * F.lit(2.0)
            + F.pmod(F.col("event_id"), F.lit(13)).cast("double")
        ).alias("y"),
    )
    return spearman_corr(two, "x", "y")


_SQL_SPEARMAN = f"""
WITH b AS (
  SELECT x, y FROM (
    SELECT CASE WHEN value IS NOT NULL
                THEN (event_id % 97)::DOUBLE END AS x,
           (event_id % 97)::DOUBLE * 2.0 + (event_id % 13)::DOUBLE AS y
    FROM {_EV}
  ) WHERE x IS NOT NULL AND y IS NOT NULL
), cx AS (
  SELECT x AS v, count(*)::BIGINT AS c FROM b GROUP BY 1
), rx AS (
  -- DOUBLED average rank 2r = 2·below + c + 1: an exact BIGINT even at
  -- tie half-ranks, mirroring the operator's DECIMAL(38) exact-partial
  -- path (rho is invariant under the ×2 rank scaling)
  SELECT v,
         (2 * ((sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW)) - c) + c + 1)::BIGINT AS r
  FROM cx
), cy AS (
  SELECT y AS v, count(*)::BIGINT AS c FROM b GROUP BY 1
), ry AS (
  SELECT v,
         (2 * ((sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW)) - c) + c + 1)::BIGINT AS r
  FROM cy
), j AS (
  SELECT rx.r AS ra, ry.r AS rb
  FROM b JOIN rx ON b.x = rx.v JOIN ry ON b.y = ry.v
), agg AS (
  -- HUGEINT partials: exact like Spark's DECIMAL(38,0); the ::DOUBLE
  -- casts below are single correctly-rounded conversions of exact
  -- integers, identical across engines
  SELECT count(*)::BIGINT AS n,
         sum(ra::HUGEINT) AS sx, sum(rb::HUGEINT) AS sy,
         sum(ra::HUGEINT * ra::HUGEINT) AS sxx,
         sum(rb::HUGEINT * rb::HUGEINT) AS syy,
         sum(ra::HUGEINT * rb::HUGEINT) AS sxy
  FROM j
)
SELECT n,
       {qround_sql(
           'CASE WHEN n > 0'
           ' AND n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0'
           ' AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0'
           ' THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)'
           ' / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)'
           ' * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))'
           ' END', 6)} AS rho
FROM agg
"""


def q_streaming_reg_monitor_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming regression-quality monitor
    (streaming/quality_stream.py:streaming_regression_monitor): per
    tumbling day, mae/rmse/signed bias of the 2^-5-grid pred/target pair
    — exact window sums, so stream ≡ batch SQL bit-for-bit. State is
    FOUR partials per open window."""
    import uuid

    from etdtransform_spark.streaming.quality_stream import (
        streaming_regression_monitor,
    )

    stream = _stream_events(spark, sf_dir)
    p = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
    scored = stream.select(
        F.col("ts"),
        F.when(F.col("value").isNotNull(), p).alias("pred"),
        (
            p / F.lit(4.0)
            + F.pmod(F.col("event_id"), F.lit(89)).cast("double") / F.lit(32.0)
        ).alias("target"),
    )
    mon = streaming_regression_monitor(scored, "pred", "target", "ts")
    name = f"stream_regmon_{uuid.uuid4().hex[:8]}"
    q = (
        mon.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("bucket_ts", "n", "mae", "rmse", "bias")


_SQL_STREAMING_REG_MONITOR = f"""
WITH s AS (
  SELECT ts,
         CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE END AS pred,
         (event_id % 97)::DOUBLE / 4 + (event_id % 89)::DOUBLE / 32 AS target
  FROM {_EV}
), b AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
         pred - target AS e
  FROM s WHERE pred IS NOT NULL AND target IS NOT NULL
), c AS (
  SELECT bucket_ts, count(*)::BIGINT AS n,
         sum(abs(e)) AS sae, sum(e * e) AS sse, sum(e) AS se
  FROM b GROUP BY 1
)
SELECT bucket_ts, n,
       {qround_sql('sae / n::DOUBLE', 6)} AS mae,
       {qround_sql('sqrt(sse / n::DOUBLE)', 6)} AS rmse,
       {qround_sql('se / n::DOUBLE', 6)} AS bias
FROM c
"""


def q_prob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper-scoring-rule summary
    (operators/evaluation.py:probability_scores_report): eps-clamped
    log loss + unclamped Brier in ONE aggregate (three partials)."""
    from etdtransform_spark.operators.evaluation import (
        probability_scores_report,
    )

    return probability_scores_report(
        _scored_events(spark, sf_dir), "score", "label"
    )


_SQL_PROB_SCORES = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT score AS p, (label <> 0)::INT::DOUBLE AS y
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
), c AS (
  SELECT p, y,
         least(greatest(p, 1e-15), 1.0 - 1e-15) AS pc
  FROM b
), agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))) AS sll,
         sum((p - y) * (p - y)) AS ssq
  FROM c
)
SELECT n,
       {qround_sql('CASE WHEN n > 0 THEN sll / n::DOUBLE END', 6)} AS log_loss,
       {qround_sql('CASE WHEN n > 0 THEN ssq / n::DOUBLE END', 6)} AS brier
FROM agg
"""


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-classifier test
    (operators/evaluation.py:mcnemar_test): continuity-corrected
    discordant-pair statistic for two pseudo-models scored on the same
    events; ONE aggregate."""
    from etdtransform_spark.operators.evaluation import mcnemar_test

    ev = _t(spark, sf_dir, "events")
    two = ev.select(
        F.when(
            F.col("value").isNotNull(),
            F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 96,
        ).alias("score_a"),
        (F.pmod(F.col("event_id"), F.lit(89)).cast("double") / 88).alias(
            "score_b"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return mcnemar_test(two, "score_a", "score_b", "label", threshold=0.3)


_SQL_MCNEMAR = f"""
WITH s AS (
  SELECT CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE / 96 END AS a,
         (event_id % 89)::DOUBLE / 88 AS b,
         (event_type = 'purchase')::INT AS label
  FROM {_EV}
), c AS (
  SELECT ((a >= 0.3) = (label <> 0)) AS a_ok,
         ((b >= 0.3) = (label <> 0)) AS b_ok
  FROM s WHERE a IS NOT NULL AND b IS NOT NULL AND label IS NOT NULL
), agg AS (
  SELECT count(*)::BIGINT AS n,
         count(CASE WHEN a_ok AND NOT b_ok THEN 1 END)::BIGINT AS ao,
         count(CASE WHEN NOT a_ok AND b_ok THEN 1 END)::BIGINT AS bo
  FROM c
)
SELECT n, (ao + bo)::BIGINT AS n_disagree,
       ao AS a_only_correct, bo AS b_only_correct,
       {qround_sql(
           'CASE WHEN ao + bo > 0 THEN '
           '(abs(ao::DOUBLE - bo::DOUBLE) - 1.0)'
           ' * (abs(ao::DOUBLE - bo::DOUBLE) - 1.0)'
           ' / (ao::DOUBLE + bo::DOUBLE) END', 6)} AS chi2
FROM agg
"""


def q_regression_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped regression QA (operators/evaluation.py:regression_report
    keys=): per-cohort mae/rmse/r² — the regression face of the fairness
    audit; group-domain-sized output off one hash aggregate."""
    from etdtransform_spark.operators.evaluation import regression_report

    ev = _t(spark, sf_dir, "events")
    p = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
    frame = ev.select(
        F.pmod(F.col("user_id"), F.lit(4)).alias("cohort"),
        F.when(F.col("value").isNotNull(), p).alias("pred"),
        (
            p / F.lit(4.0)
            + F.pmod(F.col("event_id"), F.lit(89)).cast("double") / F.lit(32.0)
        ).alias("target"),
    )
    return regression_report(frame, "pred", "target", keys=["cohort"])


_SQL_REGRESSION_BY_COHORT = f"""
WITH s AS (
  SELECT user_id % 4 AS cohort,
         CASE WHEN value IS NOT NULL
              THEN (event_id % 97)::DOUBLE END AS pred,
         (event_id % 97)::DOUBLE / 4 + (event_id % 89)::DOUBLE / 32 AS target
  FROM {_EV}
), b AS (
  SELECT cohort, pred, target FROM s
  WHERE pred IS NOT NULL AND target IS NOT NULL AND cohort IS NOT NULL
), agg AS (
  SELECT cohort, count(*)::BIGINT AS n,
         sum(abs(pred - target)) AS sae,
         sum((pred - target) * (pred - target)) AS sse,
         sum(target) AS sy, sum(target * target) AS syy,
         sum(pred) AS sp
  FROM b GROUP BY 1
)
SELECT cohort, n,
       {qround_sql('CASE WHEN n > 0 THEN sae / n::DOUBLE END', 6)} AS mae,
       {qround_sql('CASE WHEN n > 0 THEN sqrt(sse / n::DOUBLE) END', 6)} AS rmse,
       {qround_sql(
           'CASE WHEN n > 0 AND (syy - sy * sy / n::DOUBLE) > 0'
           ' THEN 1.0 - sse / (syy - sy * sy / n::DOUBLE) END', 6)} AS r2,
       {qround_sql('CASE WHEN n > 0 THEN sp / n::DOUBLE END', 6)} AS mean_pred,
       {qround_sql('CASE WHEN n > 0 THEN sy / n::DOUBLE END', 6)} AS mean_target
FROM agg
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition
    (operators/timeseries.py:seasonal_decompose): hourly per-cohort
    value series → trend (centered 24-row MA, full-window-only) +
    daily-cycle seasonal (time-derived phase, zero-mean normalized) +
    residual. Bucket sums are qround'd BEFORE decomposition so both
    engines decompose identical inputs and every downstream sum is
    exact fixed-point arithmetic."""
    from etdtransform_spark.operators.timeseries import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.pmod(F.col("user_id"), F.lit(4)).alias("cohort"),
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .agg(qround(F.sum("value"), 6).alias("v"))
    )
    return seasonal_decompose(
        hourly, "bucket", "v", interval_seconds=3600, period=24,
        keys=["cohort"],
    )


_SQL_SEASONAL_DECOMPOSE = f"""
WITH hourly AS (
  SELECT user_id % 4 AS cohort,
         date_trunc('hour', ts)::TIMESTAMP AS bucket,
         {qround_sql('sum(value)', 6)} AS v
  FROM {_EV}
  GROUP BY 1, 2
), b AS (
  -- DuckDB // and % truncate toward zero while the operator uses
  -- F.floor/pmod (floor toward -inf): subtracting the positive mod
  -- before // makes truncation == floor, and the double-% makes the
  -- phase non-negative, so pre-1970 buckets agree across engines too
  SELECT cohort, bucket, v,
         ((((epoch_us(bucket)
             - ((epoch_us(bucket) % 3600000000) + 3600000000) % 3600000000)
            // 3600000000) % 24 + 24) % 24)::INT AS phase
  FROM hourly WHERE v IS NOT NULL AND cohort IS NOT NULL
), t AS (
  SELECT *, CASE WHEN count(*) OVER w = 24
                 THEN sum(v) OVER w / 24.0 END AS trend
  FROM b
  WINDOW w AS (PARTITION BY cohort ORDER BY bucket
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
), prof AS (
  SELECT cohort, phase, avg(v - trend) AS praw
  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2
), prof2 AS (
  SELECT cohort, phase,
         praw - avg(praw) OVER (PARTITION BY cohort) AS seasonal
  FROM prof
)
SELECT t.cohort, t.bucket, t.phase,
       {qround_sql('t.v', 6)} AS value,
       {qround_sql('t.trend', 6)} AS trend,
       {qround_sql('prof2.seasonal', 6)} AS seasonal,
       {qround_sql('t.v - t.trend - prof2.seasonal', 6)} AS residual
FROM t LEFT JOIN prof2
  ON t.cohort = prof2.cohort AND t.phase = prof2.phase
"""


def q_roc_curve_thinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-grid-thinned ROC curve (operators/evaluation.py:roc_curve
    max_points): the plotting-scale path — ≤ m+1 EXACT curve points with
    both endpoints kept; projection-only thinning on the cumulative, no
    extra shuffle. Oracle replicates the grid-crossing filter."""
    from etdtransform_spark.operators.evaluation import roc_curve

    return roc_curve(
        _scored_events(spark, sf_dir), "score", "label", max_points=16
    )


_SQL_ROC_CURVE_THINNED = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         (sum(ca) OVER w)::BIGINT AS cum_a, (sum(cb) OVER w)::BIGINT AS cum_b,
         (sum(ca) OVER ())::BIGINT AS na, (sum(cb) OVER ())::BIGINT AS nb
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), thin AS (
  SELECT * FROM cum
  WHERE (cum_a + cum_b - ca - cb) = 0
     OR floor((cum_a + cum_b - ca - cb) * 16 / (na + nb))
        <> floor((cum_a + cum_b) * 16 / (na + nb))
), t AS (
  SELECT v, (na - cum_a + ca)::BIGINT AS tp, (nb - cum_b + cb)::BIGINT AS fp,
         na, nb
  FROM thin
)
SELECT v AS threshold, tp, fp,
       {qround_sql('CASE WHEN na > 0 THEN tp::DOUBLE / na::DOUBLE END', 6)} AS tpr,
       {qround_sql('CASE WHEN nb > 0 THEN fp::DOUBLE / nb::DOUBLE END', 6)} AS fpr
FROM t
"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal
    (operators/corpus.py:remove_boilerplate_lines): documents re-lined
    on spaces so frequent WORDS act as template lines; lines in ≥
    max(2, ceil(1% of docs)) distinct documents are dropped everywhere,
    text reassembled in order. Two data-sized shuffles (line frequency,
    reassembly) — the honest cost of rewriting text."""
    from etdtransform_spark.operators.corpus import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    return remove_boilerplate_lines(
        docs, min_doc_frac=0.01, min_docs=2
    )


_SQL_BOILERPLATE_LINES = """
WITH d AS (
  SELECT doc_id, replace(text, ' ', chr(10)) AS text
  FROM documents WHERE text IS NOT NULL
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS raw
  FROM d
), l2 AS (
  SELECT doc_id, pos, raw, trim(raw) AS line FROM lines
), nb AS (SELECT * FROM l2 WHERE line <> ''),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS ndocs FROM nb),
freq AS (
  SELECT line FROM (
    SELECT line, count(*)::BIGINT AS df
    FROM (SELECT DISTINCT doc_id, line FROM nb) GROUP BY line
  ), nd
  WHERE df >= greatest(2, ceil(0.01 * ndocs))
), marked AS (
  SELECT l2.doc_id, l2.pos, l2.raw,
         (freq.line IS NOT NULL) AS dropped
  FROM l2 LEFT JOIN freq ON l2.line = freq.line
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT dropped THEN raw END, chr(10)
                           ORDER BY pos), '') AS text_clean,
       count(*)::BIGINT AS n_lines,
       count(CASE WHEN dropped THEN 1 END)::BIGINT AS n_removed,
       floor(count(CASE WHEN dropped THEN 1 END)::DOUBLE
             / count(*)::DOUBLE * 1000000.0 + 0.5) / 1000000.0
         AS removed_ratio
FROM marked GROUP BY doc_id
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregular readings
    (operators/temporal.py:time_weighted_avg): LOCF segments from one
    per-key lead window, bucket-clipped via a sequence generator, one
    hash aggregate. The 2^-5-grid value keeps every area sum exact, so
    both engines integrate bit-identically."""
    from etdtransform_spark.operators.temporal import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    frame = ev.select(
        F.pmod(F.col("user_id"), F.lit(8)).alias("cohort"),
        F.col("ts"),
        (F.pmod(F.col("event_id"), F.lit(97)).cast("double") / F.lit(32.0)).alias("v"),
    )
    return time_weighted_avg(frame, "ts", "v", 3600, keys=["cohort"])


_SQL_TIME_WEIGHTED_AVG = f"""
WITH s AS (
  SELECT user_id % 8 AS cohort, epoch_us(ts) AS t0,
         (event_id % 97)::DOUBLE / 32 AS v
  FROM {_EV} WHERE user_id IS NOT NULL
), seg AS (
  SELECT cohort, t0, v,
         lead(t0) OVER (PARTITION BY cohort ORDER BY t0, v) AS t1
  FROM s
), segf AS (
  -- floor-division bucket indices: DuckDB // truncates toward zero,
  -- the operator's F.floor floors toward -inf — subtracting the
  -- positive mod first makes the two identical for pre-epoch t too
  SELECT cohort, t0, t1, v,
         (t0 - ((t0 % 3600000000) + 3600000000) % 3600000000)
           // 3600000000 AS fb0,
         CASE WHEN t1 IS NOT NULL THEN
           ((t1 - 1) - (((t1 - 1) % 3600000000) + 3600000000) % 3600000000)
             // 3600000000
         END AS fb1
  FROM seg
), spans AS (
  SELECT cohort, t0, t1, v,
         unnest(generate_series(fb0, greatest(coalesce(fb1, fb0), fb0))) AS b
  FROM segf
), ov AS (
  SELECT cohort, b,
         CASE WHEN t1 IS NOT NULL
              THEN least(t1, (b + 1) * 3600000000)
                   - greatest(t0, b * 3600000000)
              ELSE 0 END AS o,
         v, (t0 >= b * 3600000000) AS own
  FROM spans
), agg AS (
  SELECT cohort, b, sum(o)::BIGINT AS cov,
         sum(o::DOUBLE * v) AS area,
         count(CASE WHEN own THEN 1 END)::BIGINT AS n_readings
  FROM ov GROUP BY 1, 2
)
SELECT cohort, make_timestamp(b * 3600000000)::TIMESTAMP AS bucket_ts,
       {qround_sql('CASE WHEN cov > 0 THEN area / cov::DOUBLE END', 6)} AS twa,
       cov::DOUBLE / 1000000.0 AS covered_seconds,
       n_readings
FROM agg
"""


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/skew.py:skew_profile):
    top-k heaviest event_type values with share, estimated
    one-reducer load multiple, and the salt fan-out that would level
    it — ONE map-side-combined aggregate + a top-k."""
    from etdtransform_spark.operators.skew import skew_profile

    ev = _t(spark, sf_dir, "events")
    return skew_profile(ev, ["event_type"], top_k=5, parallelism=200)


_SQL_SKEW_PROFILE = f"""
WITH c AS (
  SELECT event_type, count(*)::BIGINT AS n_rows FROM {_EV} GROUP BY 1
), tot AS (SELECT sum(n_rows)::BIGINT AS t FROM c),
top AS (
  SELECT event_type, n_rows FROM c
  ORDER BY n_rows DESC, event_type ASC NULLS FIRST LIMIT 5
)
SELECT row_number() OVER (ORDER BY n_rows DESC, event_type ASC NULLS FIRST)
         ::BIGINT AS rank,
       event_type, n_rows,
       {qround_sql('n_rows::DOUBLE / t::DOUBLE', 6)} AS share,
       {qround_sql('n_rows::DOUBLE / t::DOUBLE * 200.0', 6)}
         AS est_reducer_share,
       ceil(n_rows::DOUBLE / t::DOUBLE * 200.0)::BIGINT AS suggested_salt
FROM top, tot
"""


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision / PR-AUC by the step rule
    (operators/evaluation.py:average_precision): ΔR·P summed over
    descending distinct thresholds — ONE extra rollup on the shared
    cumulative substrate, no ordering pass."""
    from etdtransform_spark.operators.evaluation import average_precision

    return average_precision(_scored_events(spark, sf_dir), "score", "label")


_SQL_AVG_PRECISION = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
counts AS (
  SELECT score AS v,
         sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         (sum(ca) OVER w)::BIGINT AS cum_a, (sum(cb) OVER w)::BIGINT AS cum_b,
         (sum(ca) OVER ())::BIGINT AS na, (sum(cb) OVER ())::BIGINT AS nb
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT ca, na, nb,
         (na - cum_a + ca)::DOUBLE AS tp, (nb - cum_b + cb)::DOUBLE AS fp
  FROM cum
), agg AS (
  SELECT max(na)::BIGINT AS n_pos, max(nb)::BIGINT AS n_neg,
         sum(ca::DOUBLE * (tp / (tp + fp))) AS s
  FROM t
)
SELECT n_pos, n_neg,
       {qround_sql(
           'CASE WHEN n_pos > 0 THEN s / n_pos::DOUBLE END', 6)}
         AS average_precision
FROM agg
"""


# ---------------------------------------------------------------------------
# round 10: resampling inference + calibration + multiple testing
# (operators/bootstrap.py, evaluation.isotonic/conformal, stats.cramers/bh)
# ---------------------------------------------------------------------------

def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for the mean event value per
    event_type (operators/bootstrap.py:poisson_bootstrap_ci): the ×B
    replicate explode is map-side and partially aggregated, so the
    shuffle carries ≤ |keys|·B partial sums per task at any data size."""
    from etdtransform_spark.operators.bootstrap import poisson_bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap_ci(
        ev, "value", "event_id", keys=["event_type"], n_boot=50, alpha=0.05
    )


def _sql_bootstrap_ci() -> str:
    from etdtransform_spark.functions.hashing import _BASE_MOD, _MERSENNE_61
    from etdtransform_spark.operators.bootstrap import (
        bootstrap_family_values_sql,
        poisson1_weight_sql,
    )

    bh = f"(({portable_hash64_sql('id', seed='boot')}) % {_BASE_MOD})"
    u = f"(((a * bh + b) % {_MERSENNE_61}) % 1048576 + 0.5) / 1048576.0"
    return f"""
WITH base AS (
  SELECT event_type, value::DOUBLE AS x, event_id::VARCHAR AS id
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND event_id IS NOT NULL
), point AS (
  SELECT event_type, count(*)::BIGINT AS n_rows,
         {qround_sql('avg(x)', 6)} AS point_mean
  FROM base GROUP BY 1
), rep AS (
  SELECT event_type, x, r, {u} AS u
  FROM (SELECT event_type, x, {bh} AS bh FROM base)
  CROSS JOIN {bootstrap_family_values_sql(50)}
), wtd AS (
  SELECT event_type, r, x,
         {poisson1_weight_sql('u')}::DOUBLE AS w
  FROM rep
), reps AS (
  SELECT event_type, r, sum(w * x) AS swx, sum(w) AS sw
  FROM wtd GROUP BY 1, 2
), rm AS (
  SELECT event_type,
         CASE WHEN sw > 0 THEN {qround_sql('swx / sw', 6)} END AS rmean
  FROM reps
), ci AS (
  SELECT event_type,
         {qround_sql('quantile_cont(rmean, 0.025)', 6)} AS ci_lo,
         {qround_sql('quantile_cont(rmean, 0.975)', 6)} AS ci_hi,
         count(rmean)::BIGINT AS n_boot_effective
  FROM rm GROUP BY 1
)
SELECT p.event_type, n_rows, point_mean, ci_lo, ci_hi, n_boot_effective
FROM point p LEFT JOIN ci
  ON p.event_type IS NOT DISTINCT FROM ci.event_type
"""


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone (PAV) calibration curve via the closed minimax form
    (operators/evaluation.py:isotonic_calibration): data-sized work is
    ONE (bin) hash aggregate; the j≤i≤k enumeration runs on ≤ n_bins
    rows — exact weighted isotonic fit with no convergence loop."""
    from etdtransform_spark.operators.evaluation import isotonic_calibration

    return isotonic_calibration(
        _scored_events(spark, sf_dir), "score", "label", n_bins=16
    )


_SQL_ISOTONIC = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT greatest(least(floor(score * 16), 15), 0)::BIGINT AS bin,
         score, label::DOUBLE AS y
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
    AND NOT isnan(score) AND NOT isnan(label::DOUBLE)
), bins AS (
  SELECT bin, count(*)::BIGINT AS n, avg(score) AS avg_s, sum(y) AS pos
  FROM b GROUP BY 1
), cum AS (
  SELECT bin, n, avg_s, pos,
         sum(n) OVER w AS cw, sum(pos) OVER w AS cs
  FROM bins
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pairs AS (
  SELECT j.bin AS jb, k.bin AS kb,
         (k.cs - (j.cs - j.pos)) / (k.cw - (j.cw - j.n)) AS a
  FROM cum j JOIN cum k ON j.bin <= k.bin
), mji AS (
  SELECT jb, kb AS i,
         min(a) OVER (PARTITION BY jb ORDER BY kb DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM pairs
), fit AS (
  SELECT i, max(m) AS iso FROM mji GROUP BY 1
)
SELECT bin, n, {qround_sql('avg_s', 6)} AS avg_score,
       {qround_sql('pos / n', 6)} AS raw_rate,
       {qround_sql('iso', 6)} AS iso_rate
FROM bins JOIN fit ON bins.bin = fit.i
"""


def q_split_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval + held-out coverage
    (operators/evaluation.py:split_conformal): hash-split, exact
    order-statistic q̂ on the sample-sized calibration side, ONE
    broadcast + aggregate for coverage. Pseudo-model: pred =
    event_id % 97 against actual = value."""
    from etdtransform_spark.operators.evaluation import split_conformal

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("actual"),
        F.pmod(F.col("event_id"), F.lit(97)).cast("double").alias("pred"),
    )
    return split_conformal(
        ev, "pred", "actual", "event_id", alpha=0.1, cal_frac=0.5,
        seed="conformal",
    )


_SQL_CONFORMAL = f"""
WITH src AS (
  SELECT event_id, value::DOUBLE AS actual,
         (event_id % 97)::DOUBLE AS pred
  FROM {_EV}
), base AS (
  SELECT {qround_sql('abs(actual - pred)', 6)} AS r,
         ((({portable_hash64_sql("event_id::VARCHAR", seed="conformal")})
           % 1048576 + 0.5) / 1048576.0 < 0.5) AS is_cal,
         event_id::VARCHAR AS id
  FROM src
  WHERE pred IS NOT NULL AND NOT isnan(pred)
    AND actual IS NOT NULL AND NOT isnan(actual) AND event_id IS NOT NULL
), ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, id) AS rn,
         count(*) OVER () AS n_cal
  FROM base WHERE is_cal
), qrow AS (
  SELECT max(n_cal)::BIGINT AS n_cal,
         min(CASE WHEN rn >= ceil((n_cal + 1)::DOUBLE * 0.9) THEN r END)
           AS qhat
  FROM ranked
), ev AS (SELECT r FROM base WHERE NOT is_cal),
cov AS (
  SELECT max(q.n_cal) AS nc, max(q.qhat) AS qh, count(*)::BIGINT AS n_eval,
         {qround_sql('avg((ev.r <= q.qhat)::INT::DOUBLE)', 6)} AS coverage
  FROM ev, qrow q
)
SELECT coalesce(cov.nc, q.n_cal, 0)::BIGINT AS n_cal, cov.n_eval,
       coalesce(cov.qh, q.qhat) AS qhat,
       CASE WHEN cov.n_eval > 0 THEN cov.coverage END AS coverage,
       0.9::DOUBLE AS target_coverage,
       {qround_sql('2.0 * coalesce(cov.qh, q.qhat)', 6)} AS avg_width
FROM cov, qrow q
"""


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (+ Bergsma-Warrens corrected) for event_type × value
    quartile-bucket association (operators/stats.py:cramers_v): one
    data-sized contingency aggregate, everything after on the r×c grid."""
    from etdtransform_spark.operators.stats import cramers_v

    ev = _t(spark, sf_dir, "events").withColumn(
        "vbucket",
        F.floor(F.coalesce(F.col("value"), F.lit(-1.0)) / 25.0).cast("bigint"),
    )
    return cramers_v(ev, "event_type", "vbucket")


_SQL_CRAMERS_V = f"""
WITH src AS (
  SELECT event_type AS g,
         floor(coalesce(value, -1.0) / 25.0)::BIGINT AS o
  FROM {_EV} WHERE event_type IS NOT NULL
), cells AS (
  SELECT g, o, count(*)::BIGINT AS n FROM src GROUP BY 1, 2
), gm AS (SELECT g, sum(n)::BIGINT AS g_n FROM cells GROUP BY 1),
om AS (SELECT o, sum(n)::BIGINT AS o_n FROM cells GROUP BY 1),
tot AS (SELECT sum(n)::BIGINT AS all_n FROM cells),
grid AS (
  SELECT gm.g, om.o, g_n, o_n, cells.n
  FROM gm CROSS JOIN om
  LEFT JOIN cells ON cells.g = gm.g AND cells.o = om.o
), raw AS (
  SELECT max(all_n)::BIGINT AS n,
         count(DISTINCT g)::BIGINT AS r_levels,
         count(DISTINCT o)::BIGINT AS c_levels,
         sum((coalesce(grid.n, 0)::DOUBLE - g_n * o_n / all_n)
             * (coalesce(grid.n, 0)::DOUBLE - g_n * o_n / all_n)
             / (g_n * o_n / all_n)) AS chi2r
  FROM grid, tot
)
SELECT coalesce(n, 0)::BIGINT AS n, r_levels, c_levels,
       {qround_sql('chi2r', 6)} AS chi2,
       {qround_sql(
           'CASE WHEN least(r_levels::DOUBLE, c_levels::DOUBLE) - 1 > 0 THEN '
           'sqrt((chi2r / n::DOUBLE) '
           '/ (least(r_levels::DOUBLE, c_levels::DOUBLE) - 1)) END', 6)}
         AS cramers_v,
       {qround_sql(
           'CASE WHEN n > 1 AND least('
           'r_levels::DOUBLE - (r_levels::DOUBLE - 1) * (r_levels::DOUBLE - 1)'
           ' / (n::DOUBLE - 1), '
           'c_levels::DOUBLE - (c_levels::DOUBLE - 1) * (c_levels::DOUBLE - 1)'
           ' / (n::DOUBLE - 1)) - 1 > 0 THEN '
           'sqrt(greatest(chi2r / n::DOUBLE - (r_levels::DOUBLE - 1) * '
           '(c_levels::DOUBLE - 1) / (n::DOUBLE - 1), 0.0) / (least('
           'r_levels::DOUBLE - (r_levels::DOUBLE - 1) * (r_levels::DOUBLE - 1)'
           ' / (n::DOUBLE - 1), '
           'c_levels::DOUBLE - (c_levels::DOUBLE - 1) * (c_levels::DOUBLE - 1)'
           ' / (n::DOUBLE - 1)) - 1)) END', 6)}
         AS cramers_v_corrected
FROM raw
"""


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over the drift-test family
    (operators/stats.py:benjamini_hochberg): per-event_type KS tests
    (user_id parity split) → asymptotic one-term p → jointly corrected
    adjusted p + reject flags. The global window runs over the
    HYPOTHESIS table (one row per segment), never the data."""
    from etdtransform_spark.operators.stats import benjamini_hochberg, ks_2samp

    ev = _t(spark, sf_dir, "events").withColumn(
        "_half", F.pmod(F.col("user_id"), F.lit(2))
    )
    ks = ks_2samp(ev, "value", "_half", 0, 1, keys=["event_type"])
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    d = F.col("d_stat")
    p = F.least(
        F.lit(1.0),
        2.0 * F.exp(-2.0 * (na * nb / (na + nb)) * d * d),
    )
    tests = ks.select("event_type", p.alias("p"))
    return benjamini_hochberg(tests, "p", ["event_type"], alpha=0.05)


_SQL_BH_FDR = f"""
WITH base AS (
  SELECT event_type, value AS v, (user_id % 2) AS s
  FROM {_EV} WHERE (user_id % 2) IN (0, 1) AND value IS NOT NULL
), counts AS (
  SELECT event_type, v,
         sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY 1, 2
), cum AS (
  SELECT event_type,
         sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
         sum(ca) OVER (PARTITION BY event_type) AS na,
         sum(cb) OVER (PARTITION BY event_type) AS nb
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), ks AS (
  SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
         {qround_sql(
             'max(CASE WHEN na > 0 AND nb > 0 THEN'
             ' abs(cum_a / na::DOUBLE - cum_b / nb::DOUBLE) END)', 6)}
           AS d_stat
  FROM cum GROUP BY 1
), tests AS (
  SELECT event_type,
         least(1.0, 2.0 * exp(-2.0
           * ((n_a::DOUBLE * n_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE))
           * d_stat * d_stat)) AS p
  FROM ks
), ranked AS (
  SELECT event_type, p,
         row_number() OVER (ORDER BY p, event_type NULLS FIRST) AS rank,
         count(*) OVER () AS m_tests
  FROM tests WHERE p IS NOT NULL AND NOT isnan(p)
), adj AS (
  SELECT event_type, p, rank, m_tests,
         min(p * m_tests / rank) OVER (ORDER BY rank DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stepped
  FROM ranked
)
SELECT event_type, {qround_sql('p', 6)} AS p_value,
       rank::BIGINT AS rank, m_tests::BIGINT AS m_tests,
       {qround_sql('least(stepped, 1.0)', 6)} AS p_adj,
       (least(stepped, 1.0) <= 0.05) AS reject
FROM adj
"""


# ---------------------------------------------------------------------------
# round 10: embedding-space statistics (operators/embeddings.py)
# ---------------------------------------------------------------------------

def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the first 8 embedding dims
    (operators/embeddings.py:embedding_covariance): ONE map-side-
    combined (i, j) aggregate over the pair explode — the shuffle
    carries ≤ d(d+1)/2 partial sums per task at any corpus size."""
    from etdtransform_spark.operators.embeddings import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, n_dims=8)


_SQL_EMB_COVARIANCE = f"""
WITH base AS (
  -- rid must be a STABLE key (vec_id), not row_number() OVER (): the CTE
  -- is referenced twice by the self-join, and if DuckDB inlines rather
  -- than materializes it, bare row_number over an unordered scan could
  -- assign rids independently per instantiation and mispair rows
  -- (ADVICE r10 #1).
  SELECT vec_id AS rid, list_slice(embedding, 1, 8) AS v
  FROM {_EMB}
), e AS (
  SELECT rid, generate_subscripts(v, 1) - 1 AS i, unnest(v)::DOUBLE AS x
  FROM base
), pairs AS (
  SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
  FROM e a JOIN e b USING (rid)
  WHERE b.i >= a.i
), agg AS (
  SELECT i, j, count(*)::BIGINT AS n,
         sum(xi * xj) AS sxy, sum(xi) AS sx, sum(xj) AS sy
  FROM pairs GROUP BY 1, 2
)
SELECT i, j,
       {qround_sql(
           'CASE WHEN n > 1 THEN (sxy - sx * sy / n::DOUBLE)'
           ' / (n::DOUBLE - 1) END', 6)} AS cov,
       n
FROM agg
"""


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score projection, exploded to (vec_id, dim, z)
    for hashing (operators/embeddings.py:embedding_standardize): one
    d-row stats aggregate collected driver-side (model discipline) +
    a zero-shuffle zip_with projection."""
    from etdtransform_spark.operators.embeddings import embedding_standardize

    emb = _t(spark, sf_dir, "embeddings")
    std = embedding_standardize(emb, n_dims=16)
    return std.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "z")
    )


_SQL_EMB_STANDARDIZE = f"""
WITH base AS (
  SELECT vec_id, list_slice(embedding, 1, 16) AS v FROM {_EMB}
), e AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v)::DOUBLE AS x
  FROM base
), stats AS (
  SELECT dim, avg(x) AS m, stddev_samp(x) AS s FROM e GROUP BY 1
)
SELECT vec_id, dim,
       {qround_sql('CASE WHEN s > 0 THEN (x - m) / s END', 6)} AS z
FROM e JOIN stats USING (dim)
"""


def q_embedding_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking with cumulative share — the
    Matryoshka truncation planning table
    (operators/embeddings.py:embedding_energy_profile): one (dim)
    aggregate + windows over the d-row result."""
    from etdtransform_spark.operators.embeddings import (
        embedding_energy_profile,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_energy_profile(emb, n_dims=64).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


_SQL_EMB_ENERGY = f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM {_EMB}
), per_dim AS (
  SELECT dim, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
  FROM e GROUP BY 1
), dims AS (
  SELECT dim,
         {qround_sql(
             'CASE WHEN n > 1 THEN (sxx - sx * sx / n::DOUBLE)'
             ' / (n::DOUBLE - 1) END', 6)} AS variance
  FROM per_dim
), ranked AS (
  SELECT row_number() OVER
           (ORDER BY variance DESC NULLS LAST, dim ASC) AS rank,
         dim, variance,
         sum(variance) OVER () AS tot,
         sum(variance) OVER (ORDER BY variance DESC NULLS LAST, dim ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dims
)
SELECT rank::BIGINT AS rank, dim, variance,
       {qround_sql('CASE WHEN tot > 0 THEN variance / tot END', 6)} AS share,
       {qround_sql('CASE WHEN tot > 0 THEN cum / tot END', 6)} AS cum_share
FROM ranked
"""


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation fidelity: recall@5 of 16-dim cosine top-k vs
    the full 64-dim ranking over a 200-query probe set
    (operators/embeddings.py:matryoshka_recall): two exact brute-force
    rankings + a set intersection — a planning probe, not a per-row
    production operator. BOTH sides are pinned (queries: vec_id<200,
    candidate pool: vec_id<1000, = the whole corpus at the driver's
    correctness sf) so the contract's cost is CONSTANT in corpus size
    at any sf — the VERDICT r10 #5 sampling pin, same pattern as
    semantic_dedup_sampled."""
    from etdtransform_spark.operators.embeddings import matryoshka_recall

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return matryoshka_recall(
        emb, m_dims=16, k=5, queries=emb.filter(F.col("vec_id") < 200)
    )


_COS_SQL_TRUNC = (
    "list_dot_product(list_slice(a.embedding, 1, 16)::DOUBLE[],"
    " list_slice(b.embedding, 1, 16)::DOUBLE[])"
    " / (sqrt(list_dot_product(list_slice(a.embedding, 1, 16)::DOUBLE[],"
    " list_slice(a.embedding, 1, 16)::DOUBLE[]))"
    " * sqrt(list_dot_product(list_slice(b.embedding, 1, 16)::DOUBLE[],"
    " list_slice(b.embedding, 1, 16)::DOUBLE[])))"
)

_SQL_MATRYOSHKA = f"""
WITH full_ranked AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY a.vec_id
           ORDER BY floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                    b.vec_id) AS rank
  FROM {_EMB} a JOIN {_EMB} b
    ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
), full_k AS (
  SELECT query_id, neighbor_id FROM full_ranked WHERE rank <= 5
), trunc_ranked AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY a.vec_id
           ORDER BY floor(({_COS_SQL_TRUNC}) * 1000000.0 + 0.5) / 1000000.0
                      DESC,
                    b.vec_id) AS rank
  FROM {_EMB} a JOIN {_EMB} b
    ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
), trunc_k AS (
  SELECT query_id, neighbor_id FROM trunc_ranked WHERE rank <= 5
), hits AS (
  SELECT f.query_id, count(*)::BIGINT AS nh
  FROM full_k f JOIN trunc_k t USING (query_id, neighbor_id)
  GROUP BY 1
), perq AS (
  SELECT f.query_id, count(*)::BIGINT AS nf FROM full_k f GROUP BY 1
), r AS (
  SELECT coalesce(nh, 0)::DOUBLE / 5.0 AS rr
  FROM perq LEFT JOIN hits USING (query_id)
)
SELECT 16 AS m_dims, 5 AS k, count(*)::BIGINT AS n_queries,
       {qround_sql('avg(rr)', 6)} AS recall
FROM r
"""


# ---------------------------------------------------------------------------
# round 10: experiment readout + corpus spectrum + privacy distance
# ---------------------------------------------------------------------------

def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced readout per arm
    (operators/stats.py:cuped_summary): pooled θ from one global moment
    aggregate (1-row broadcast), adjusted means + variance-reduction
    factor from one per-arm aggregate. Pseudo-covariate: event_id%50
    + value/2 (correlated with the metric by construction)."""
    from etdtransform_spark.operators.stats import cuped_summary

    ev = _t(spark, sf_dir, "events").withColumn(
        "covariate",
        F.pmod(F.col("event_id"), F.lit(50)).cast("double")
        + F.col("value") * 0.5,
    )
    return cuped_summary(ev, "value", "covariate", "event_type")


_SQL_CUPED = f"""
WITH base AS (
  SELECT event_type AS arm, value::DOUBLE AS y,
         (event_id % 50)::DOUBLE + value * 0.5 AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND (event_id % 50)::DOUBLE + value * 0.5 IS NOT NULL
    AND NOT isnan((event_id % 50)::DOUBLE + value * 0.5)
    AND event_type IS NOT NULL
), g AS (
  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM base
), theta AS (
  SELECT CASE WHEN n > 1 AND (sxx - sx * sx / n::DOUBLE) > 0
              THEN (sxy - sx * sy / n::DOUBLE)
                   / (sxx - sx * sx / n::DOUBLE) END AS th,
         sx / n::DOUBLE AS xbar
  FROM g
), adj AS (
  SELECT arm, y, y - th * (x - xbar) AS ya FROM base, theta
), per_arm AS (
  SELECT arm, count(*)::BIGINT AS n,
         {qround_sql('avg(y)', 6)} AS mean_raw,
         {qround_sql('avg(ya)', 6)} AS mean_adj,
         sum(y) AS ay, sum(y * y) AS ayy,
         sum(ya) AS aa, sum(ya * ya) AS aaa
  FROM adj GROUP BY 1
)
SELECT arm, n, mean_raw, mean_adj,
       {qround_sql('th', 6)} AS theta,
       {qround_sql(
           'CASE WHEN n > 1 AND (ayy - ay * ay / n::DOUBLE) > 0 THEN '
           '(aaa - aa * aa / n::DOUBLE) / (ayy - ay * ay / n::DOUBLE) END',
           6)} AS var_reduction
FROM per_arm, theta
"""


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch chi-square against a declared equal
    5-arm allocation (operators/stats.py:srm_check): the critical
    value is a driver-side Wilson-Hilferty constant, the data-sized
    work is one arm-count aggregate."""
    from etdtransform_spark.operators.stats import srm_check

    ev = _t(spark, sf_dir, "events")
    out = srm_check(
        ev, "event_type",
        {"click": 0.2, "view": 0.2, "purchase": 0.2, "signup": 0.2,
         "error": 0.2},
        alpha=0.001,
    )
    # nullable BOOLEAN is banned from oracle-compared outputs
    # (pandas object None vs NaN) — carry the flag as nullable INT
    return out.withColumn(
        "srm_detected", F.col("srm_detected").cast("int")
    )


def _sql_srm_check() -> str:
    from etdtransform_spark.operators.stats import chi2_critical

    crit = chi2_critical(4, 0.001)
    arms = ["click", "error", "purchase", "signup", "view"]
    arm_list = ", ".join(f"'{a}'" for a in arms)
    terms = " + ".join(
        f"(c_{a}::DOUBLE - n::DOUBLE * 0.2) * (c_{a}::DOUBLE - n::DOUBLE"
        f" * 0.2) / (n::DOUBLE * 0.2)"
        for a in arms
    )
    counts = ",\n         ".join(
        f"sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS c_{a}"
        for a in arms
    )
    return f"""
WITH c AS (
  -- coalesce: SUM over the EMPTY corpus is NULL (pandas float64) while
  -- Spark's srm_check reports n=0 BIGINT — the n=0-with-NULL-stats
  -- fail-closed convention (caught by the r11 all-empty strict sweep)
  SELECT coalesce(sum(CASE WHEN event_type IN ({arm_list})
                           THEN 1 ELSE 0 END), 0)::BIGINT AS n,
         coalesce(sum(CASE WHEN event_type IS NULL
                  OR event_type NOT IN ({arm_list})
                  THEN 1 ELSE 0 END), 0)::BIGINT AS n_unexpected,
         {counts}
  FROM {_EV}
), s AS (
  SELECT n, n_unexpected,
         CASE WHEN n > 0 THEN {terms} END AS chi2r
  FROM c
)
SELECT n, n_unexpected, 4::BIGINT AS dof,
       {qround_sql('chi2r', 6)} AS chi2,
       {qround_sql(f'({crit!r})::DOUBLE', 6)} AS chi2_crit,
       (chi2r > ({crit!r})::DOUBLE)::INT AS srm_detected
FROM s
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf spectrum fit over the corpus vocabulary
    (operators/corpus.py:zipf_fit): one tokenize+count aggregate,
    top-n via TakeOrdered, OLS over ≤ n rank points."""
    from etdtransform_spark.operators.corpus import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, top_n=1000)


_SQL_ZIPF = f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
), freqs AS (
  SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY 1
), top AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk
  FROM freqs ORDER BY freq DESC, term ASC LIMIT 1000
), pts AS (
  SELECT ln(rnk::DOUBLE) AS lx, ln(freq::DOUBLE) AS ly FROM top
), g AS (
  SELECT count(*)::BIGINT AS n_terms, sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx, sum(ly * ly) AS syy
  FROM pts
), f AS (
  SELECT n_terms, sx, sy,
         CASE WHEN n_terms > 1
                   AND (sxx - sx * sx / n_terms::DOUBLE) > 0
              THEN (sxy - sx * sy / n_terms::DOUBLE)
                   / (sxx - sx * sx / n_terms::DOUBLE) END AS slope,
         sxx - sx * sx / n_terms::DOUBLE AS vxx,
         syy - sy * sy / n_terms::DOUBLE AS vyy,
         sxy - sx * sy / n_terms::DOUBLE AS vxy
  FROM g
)
SELECT n_terms,
       {qround_sql('slope', 6)} AS slope,
       {qround_sql(
           'CASE WHEN slope IS NOT NULL THEN'
           ' (sy - slope * sx) / n_terms::DOUBLE END', 6)} AS intercept,
       {qround_sql(
           'CASE WHEN slope IS NOT NULL AND vyy > 0 THEN'
           ' vxy * vxy / (vxx * vyy) END', 6)} AS r_squared
FROM f
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy / TTR / majority share
    (operators/text.py:token_entropy): tokenize-explode + one
    (doc, token) aggregate + one per-doc rollup, all map-side
    combined."""
    from etdtransform_spark.operators.text import token_entropy

    docs = _t(spark, sf_dir, "documents")
    return token_entropy(docs)


_SQL_TOKEN_ENTROPY = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), counts AS (
  SELECT id, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
), per_doc AS (
  SELECT id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         sum(c::DOUBLE * ln(c::DOUBLE)) AS sclc, max(c)::BIGINT AS cmax
  FROM counts GROUP BY 1
)
SELECT id, n_tokens, n_types,
       {qround_sql(
           'ln(n_tokens::DOUBLE) - sclc / n_tokens::DOUBLE', 6)} AS entropy,
       {qround_sql('n_types::DOUBLE / n_tokens::DOUBLE', 6)}
         AS type_token_ratio,
       {qround_sql('cmax::DOUBLE / n_tokens::DOUBLE', 6)} AS max_share
FROM per_doc
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit per user_id%5 quasi-group against the global
    event_type distribution (operators/privacy.py:t_closeness): one
    (quasi, value) aggregate + broadcast global distribution; absent
    values contribute via 1 − Σ_present p(v), never a grid."""
    from etdtransform_spark.operators.privacy import t_closeness

    ev = _t(spark, sf_dir, "events").withColumn(
        "quasi", F.col("user_id") % 5
    )
    return t_closeness(ev, ["quasi"], "event_type", threshold=0.05)


_SQL_T_CLOSENESS = f"""
WITH base AS (
  SELECT user_id % 5 AS quasi, event_type AS v
  FROM {_EV} WHERE event_type IS NOT NULL
), cells AS (
  SELECT quasi, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2
), wg AS (
  SELECT quasi, v, c, sum(c) OVER (PARTITION BY quasi) AS gn FROM cells
), gdist AS (
  SELECT v, sum(c)::BIGINT AS gv FROM cells GROUP BY 1
), tot AS (SELECT sum(c)::BIGINT AS gt FROM cells),
grp AS (
  SELECT quasi, sum(c)::BIGINT AS n,
         sum(abs(c::DOUBLE / gn::DOUBLE - gv::DOUBLE / gt::DOUBLE))
           AS present,
         sum(gv::DOUBLE / gt::DOUBLE) AS pmass
  FROM wg JOIN gdist USING (v), tot
  GROUP BY 1
)
SELECT quasi, n,
       {qround_sql('0.5 * (present + (1.0 - pmass))', 6)} AS t_distance,
       (0.5 * (present + (1.0 - pmass)) > 0.05) AS violates
FROM grp
"""


# ---------------------------------------------------------------------------
# round 10: layout co-location + experiment planning + fold assignment
# ---------------------------------------------------------------------------

def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment through hash-BUCKETED tables
    (sources/parquet.py:write_bucketed): orders and customer are
    bucketed by custkey into the same bucket count, so the sort-merge
    join runs with ZERO Exchange on either side (plan-asserted in
    tests/test_r10_properties.py) — the pay-the-shuffle-once layout
    lever for a fact table joined on the same key daily. Values are
    strategy-independent; the oracle is the plain SQL join."""
    import hashlib

    from etdtransform_spark.sources.parquet import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ords = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    to, tc = f"b_orders_{tag}", f"b_cust_{tag}"
    write_bucketed(ords, to, "o_custkey", 8, path=f"/tmp/etd_bucket/{to}")
    write_bucketed(cust, tc, "c_custkey", 8, path=f"/tmp/etd_bucket/{tc}")
    j = spark.table(to).join(
        spark.table(tc), F.col("o_custkey") == F.col("c_custkey")
    )
    return j.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        qround(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_SQL_BUCKETED_JOIN = """
SELECT c_mktsegment AS mktsegment, count(*)::BIGINT AS n_orders,
       floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_mde_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a two-arm test on the event value
    (operators/stats.py:mde_estimate): ONE moment aggregate; the z
    constants are driver-side Acklam literals."""
    from etdtransform_spark.operators.stats import mde_estimate

    ev = _t(spark, sf_dir, "events")
    return mde_estimate(ev, "value", alpha=0.05, power=0.8)


def _sql_mde_estimate() -> str:
    from etdtransform_spark.operators.stats import _inv_norm_cdf

    z = _inv_norm_cdf(1.0 - 0.05 / 2.0) + _inv_norm_cdf(0.8)
    return f"""
WITH g AS (
  SELECT count(*)::BIGINT AS n_rows, sum(value::DOUBLE) AS sx,
         sum(value::DOUBLE * value::DOUBLE) AS sxx
  FROM {_EV} WHERE value IS NOT NULL AND NOT isnan(value)
), f AS (
  SELECT n_rows,
         CASE WHEN n_rows > 1
                   AND (sxx - sx * sx / n_rows::DOUBLE)
                       / (n_rows::DOUBLE - 1) > 0
              THEN sqrt((sxx - sx * sx / n_rows::DOUBLE)
                        / (n_rows::DOUBLE - 1)) END AS sd,
         floor(n_rows::DOUBLE / 2) AS arm,
         sx / n_rows::DOUBLE AS mean
  FROM g
)
SELECT n_rows, arm::BIGINT AS n_per_arm,
       {qround_sql('CASE WHEN n_rows > 0 THEN mean END', 6)} AS mean,
       {qround_sql('sd', 6)} AS sd,
       {qround_sql(
           f'CASE WHEN arm > 0 THEN ({z!r})::DOUBLE * sd'
           ' * sqrt(2.0 / arm) END', 6)} AS mde_abs,
       {qround_sql(
           f'CASE WHEN mean <> 0 THEN (CASE WHEN arm > 0 THEN'
           f' ({z!r})::DOUBLE * sd * sqrt(2.0 / arm) END)'
           ' / abs(mean) END', 6)} AS mde_rel
FROM f
"""


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold assignment audit (operators/sessions.py:kfold_assign):
    fold sizes of the deterministic hash split — the projection itself
    is zero-shuffle; this aggregates it to k rows for the hash gate."""
    from etdtransform_spark.operators.sessions import kfold_assign

    ev = _t(spark, sf_dir, "events")
    return (
        kfold_assign(ev, "event_id", k=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_SQL_KFOLD = f"""
SELECT (({portable_hash64_sql('event_id::VARCHAR', seed='fold')}) % 5)::INT
         AS fold,
       count(*)::BIGINT AS n,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM {_EV}
GROUP BY 1
"""


def q_streaming_srm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SRM alarm per tumbling day
    (streaming/quality_stream.py:streaming_srm_monitor): |arms|+1
    counts per open window, χ² vs the declared equal allocation with a
    driver-constant critical value. Oracle = the equivalent batch SQL."""
    import uuid

    from etdtransform_spark.streaming.quality_stream import (
        streaming_srm_monitor,
    )

    stream = _stream_events(spark, sf_dir)
    mon = streaming_srm_monitor(
        stream, "event_type", "ts",
        {"click": 0.2, "view": 0.2, "purchase": 0.2, "signup": 0.2,
         "error": 0.2},
        alpha=0.001,
    )
    name = f"stream_srm_{uuid.uuid4().hex[:8]}"
    q = (
        mon.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "bucket_ts", "n", "n_unexpected", "chi2", "chi2_crit",
        "srm_detected",
    )


def _sql_streaming_srm() -> str:
    from etdtransform_spark.operators.stats import chi2_critical

    crit = chi2_critical(4, 0.001)
    arms = ["click", "error", "purchase", "signup", "view"]
    arm_list = ", ".join(f"'{a}'" for a in arms)
    counts = ",\n         ".join(
        f"sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS c_{a}"
        for a in arms
    )
    n_sum = " + ".join(f"c_{a}::DOUBLE" for a in arms)
    terms = " + ".join(
        f"(c_{a}::DOUBLE - ({n_sum}) * 0.2) * (c_{a}::DOUBLE - ({n_sum})"
        f" * 0.2) / (({n_sum}) * 0.2)"
        for a in arms
    )
    return f"""
WITH c AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
         {counts},
         sum(CASE WHEN event_type IS NULL
                  OR event_type NOT IN ({arm_list})
                  THEN 1 ELSE 0 END)::BIGINT AS n_unexpected
  FROM {_EV} GROUP BY 1
), s AS (
  SELECT bucket_ts, ({n_sum})::BIGINT AS n, n_unexpected,
         CASE WHEN ({n_sum}) > 0 THEN {terms} END AS chi2r
  FROM c
)
SELECT bucket_ts, n, n_unexpected,
       {qround_sql('chi2r', 6)} AS chi2,
       {qround_sql(f'({crit!r})::DOUBLE', 6)} AS chi2_crit,
       (chi2r > ({crit!r})::DOUBLE)::INT AS srm_detected
FROM s
"""


# ---------------------------------------------------------------------------
# round 10: ranking-quality evaluation (operators/ranking.py)
# ---------------------------------------------------------------------------

def _ranked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic retrieval fixture from events: query = user cohort,
    item = event, score = event_id pseudo-score, graded relevance from
    the event type (purchase=2, click=1, else 0)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 20).alias("q"),
        F.col("event_id").alias("item"),
        (F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 96)
        .alias("score"),
        F.when(F.col("event_type") == "purchase", 2.0)
        .when(F.col("event_type") == "click", 1.0)
        .otherwise(0.0)
        .alias("rel"),
    )


_SQL_RANKED_EVENTS = f"""
SELECT user_id % 20 AS q, event_id AS item,
       (event_id % 97)::DOUBLE / 96 AS score,
       (CASE WHEN event_type = 'purchase' THEN 2.0
             WHEN event_type = 'click' THEN 1.0
             ELSE 0.0 END)::DOUBLE AS rel
FROM {_EV}
"""


def q_ndcg_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query graded NDCG@10 / RR / precision/recall@10
    (operators/ranking.py:ranking_metrics): two per-query windows over
    retriever-output-sized lists + one aggregate."""
    from etdtransform_spark.operators.ranking import ranking_metrics

    return ranking_metrics(
        _ranked_events(spark, sf_dir), "q", "item", "score", "rel", k=10
    )


_SQL_NDCG = f"""
WITH base AS (
  SELECT q AS query, item, score, rel
  FROM ({_SQL_RANKED_EVENTS})
  WHERE score IS NOT NULL AND NOT isnan(score)
    AND rel IS NOT NULL AND NOT isnan(rel) AND q IS NOT NULL
), ranked AS (
  SELECT query, rel,
         row_number() OVER (PARTITION BY query
           ORDER BY score DESC NULLS LAST, item ASC) AS pos,
         row_number() OVER (PARTITION BY query
           ORDER BY rel DESC NULLS LAST, item ASC) AS ipos,
         power(2.0, rel) - 1.0 AS gain
  FROM base
), agg AS (
  SELECT query, count(*)::BIGINT AS n_items,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel,
         sum(CASE WHEN pos <= 10
                  THEN gain / log2(pos::DOUBLE + 1.0) END) AS dcgr,
         sum(CASE WHEN ipos <= 10
                  THEN gain / log2(ipos::DOUBLE + 1.0) END) AS idcgr,
         min(CASE WHEN rel > 0 THEN pos END)::BIGINT AS first_rel,
         sum(CASE WHEN pos <= 10 AND rel > 0 THEN 1 ELSE 0 END)::BIGINT
           AS rel_at_k
  FROM ranked GROUP BY 1
)
SELECT query, n_items, n_rel,
       {qround_sql('coalesce(dcgr, 0.0)', 6)} AS dcg,
       {qround_sql('coalesce(idcgr, 0.0)', 6)} AS idcg,
       {qround_sql(
           'CASE WHEN coalesce(idcgr, 0.0) > 0 THEN'
           ' coalesce(dcgr, 0.0) / coalesce(idcgr, 0.0) END', 6)} AS ndcg,
       {qround_sql(
           'CASE WHEN first_rel IS NOT NULL THEN'
           ' 1.0 / first_rel::DOUBLE END', 6)} AS rr,
       {qround_sql('rel_at_k::DOUBLE / 10.0', 6)} AS precision_at_k,
       {qround_sql(
           'CASE WHEN n_rel > 0 THEN rel_at_k::DOUBLE / n_rel::DOUBLE END',
           6)} AS recall_at_k
FROM agg
"""


def q_ranking_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level mean NDCG@10 / MRR / P@10 / R@10
    (operators/ranking.py:ranking_summary): ONE rollup over the
    per-query metric table; undefined per-query metrics stay NULL and
    drop out of the means."""
    from etdtransform_spark.operators.ranking import ranking_summary

    return ranking_summary(
        _ranked_events(spark, sf_dir), "q", "item", "score", "rel", k=10
    )


_SQL_RANKING_SUMMARY = f"""
WITH perq AS (
  WITH base AS (
    SELECT q AS query, item, score, rel
    FROM ({_SQL_RANKED_EVENTS})
    WHERE score IS NOT NULL AND NOT isnan(score)
      AND rel IS NOT NULL AND NOT isnan(rel) AND q IS NOT NULL
  ), ranked AS (
    SELECT query, rel,
           row_number() OVER (PARTITION BY query
             ORDER BY score DESC NULLS LAST, item ASC) AS pos,
           row_number() OVER (PARTITION BY query
             ORDER BY rel DESC NULLS LAST, item ASC) AS ipos,
           power(2.0, rel) - 1.0 AS gain
    FROM base
  )
  SELECT query, count(*)::BIGINT AS n_items,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel,
         coalesce(sum(CASE WHEN pos <= 10
                  THEN gain / log2(pos::DOUBLE + 1.0) END), 0.0) AS dcg,
         coalesce(sum(CASE WHEN ipos <= 10
                  THEN gain / log2(ipos::DOUBLE + 1.0) END), 0.0) AS idcg,
         min(CASE WHEN rel > 0 THEN pos END)::BIGINT AS first_rel,
         sum(CASE WHEN pos <= 10 AND rel > 0 THEN 1 ELSE 0 END)::BIGINT
           AS rel_at_k
  FROM ranked GROUP BY 1
)
SELECT count(*)::BIGINT AS n_queries,
       {qround_sql('avg(CASE WHEN idcg > 0 THEN dcg / idcg END)', 6)}
         AS mean_ndcg,
       {qround_sql(
           'avg(CASE WHEN first_rel IS NOT NULL THEN'
           ' 1.0 / first_rel::DOUBLE END)', 6)} AS mrr,
       {qround_sql('avg(rel_at_k::DOUBLE / 10.0)', 6)}
         AS mean_precision_at_k,
       {qround_sql(
           'avg(CASE WHEN n_rel > 0 THEN rel_at_k::DOUBLE / n_rel::DOUBLE'
           ' END)', 6)} AS mean_recall_at_k
FROM perq
"""


def q_rbo_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the full 64-dim and truncated 16-dim
    cosine top-5 rankings (operators/ranking.py:rbo_overlap): the
    top-weighted agreement number an ANN/truncation rollout gates on —
    finer than set recall, no labels needed. Probe set (vec_id<200) AND
    candidate pool (vec_id<1000, = whole corpus at the driver's
    correctness sf) are pinned, so the contract is a constant-cost
    sampled probe at any sf (VERDICT r10 #5)."""
    from etdtransform_spark.operators.embeddings import _valid_vectors
    from etdtransform_spark.operators.ranking import rbo_overlap
    from etdtransform_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    qset = emb.filter(F.col("vec_id") < 200)
    full = cosine_topk(qset, emb, k=5)
    trunc = cosine_topk(
        qset.withColumn("embedding", F.slice("embedding", 1, 16)),
        emb.withColumn("embedding", F.slice("embedding", 1, 16)),
        k=5,
    )
    _ = _valid_vectors  # gate applied inside _t already
    return rbo_overlap(full, trunc, p=0.9, k=5)


def _sql_rbo_topk() -> str:
    p = 0.9
    return f"""
WITH full_k AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0
                        DESC,
                      b.vec_id) AS rank
    FROM {_EMB} a JOIN {_EMB} b
      ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
  ) WHERE rank <= 5
), trunc_k AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor(({_COS_SQL_TRUNC}) * 1000000.0 + 0.5)
                        / 1000000.0 DESC,
                      b.vec_id) AS rank
    FROM {_EMB} a JOIN {_EMB} b
      ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
  ) WHERE rank <= 5
), matched AS (
  SELECT f.query_id AS query, greatest(f.rank, t.rank)::BIGINT AS entry
  FROM full_k f JOIN trunc_k t USING (query_id, neighbor_id)
), qs AS (
  SELECT query_id AS query FROM full_k
  UNION
  SELECT query_id AS query FROM trunc_k
), spine AS (
  SELECT query, d FROM qs, unnest(generate_series(1, 5)) AS u(d)
), pd AS (
  SELECT spine.query, d,
         sum(CASE WHEN entry <= d THEN 1 ELSE 0 END)::BIGINT AS xd
  FROM spine LEFT JOIN matched ON matched.query = spine.query
  GROUP BY 1, 2
)
SELECT query, max(xd)::BIGINT AS n_matched,
       {qround_sql(
           f'sum(({1.0 - p!r})::DOUBLE * power(({p!r})::DOUBLE,'
           f' d::DOUBLE - 1.0) * xd::DOUBLE / d::DOUBLE)', 6)} AS rbo,
       {qround_sql(f'({p ** 5!r})::DOUBLE', 6)} AS p_residual
FROM pd GROUP BY 1
"""


# ---------------------------------------------------------------------------
# round 10: drift localization + concentration curve + join pre-flight
# ---------------------------------------------------------------------------

_QQ_LEVELS = [(i - 0.5) / 10 for i in range(1, 11)]


def q_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift table, click vs view values
    (operators/stats.py:qq_table): ONE filtered-percentile aggregate
    produces both quantile arrays; the grid explode is model-sized."""
    from etdtransform_spark.operators.stats import qq_table

    ev = _t(spark, sf_dir, "events")
    return qq_table(ev, "value", "event_type", "click", "view", n_q=10)


_SQL_QQ_DRIFT = f"""
WITH base AS (
  SELECT value::DOUBLE AS x, event_type AS s
  FROM {_EV}
  WHERE event_type IN ('click', 'view')
    AND value IS NOT NULL AND NOT isnan(value)
), arr AS (
  SELECT quantile_cont(CASE WHEN s = 'click' THEN x END,
                       [{", ".join(repr(p) for p in _QQ_LEVELS)}]) AS qa,
         quantile_cont(CASE WHEN s = 'view' THEN x END,
                       [{", ".join(repr(p) for p in _QQ_LEVELS)}]) AS qb
  FROM base
)
SELECT i::BIGINT AS i, {qround_sql('lv', 6)} AS level,
       {qround_sql('qa[i]', 6)} AS q_a,
       {qround_sql('qb[i]', 6)} AS q_b,
       {qround_sql('qb[i] - qa[i]', 6)} AS gap
FROM arr, (VALUES {", ".join(
    f"({i + 1}, {p!r})" for i, p in enumerate(_QQ_LEVELS)
)}) AS t(i, lv)
"""


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of event values, thinned to a 10-cell
    population-share grid (operators/stats.py:lorenz_curve): one count
    aggregate + one distinct-value window + the exact BIGINT-div
    grid-crossing filter."""
    from etdtransform_spark.operators.stats import lorenz_curve

    ev = _t(spark, sf_dir, "events")
    return lorenz_curve(ev, "value", n_points=10)


_SQL_LORENZ = f"""
WITH counts AS (
  SELECT value::DOUBLE AS v, count(*)::BIGINT AS c
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
  GROUP BY 1
), cum AS (
  SELECT v, c,
         sum(c) OVER w AS cn, sum(v * c) OVER w AS cs,
         sum(c) OVER () AS n, sum(v * c) OVER () AS s
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT {qround_sql('cn::DOUBLE / n::DOUBLE', 6)} AS pop_share,
       {qround_sql('cs / s', 6)} AS value_share,
       {qround_sql('v', 6)} AS value
FROM cum
WHERE s > 0 AND ((cn * 10) // n > ((cn - c) * 10) // n OR cn = n)
"""


def q_join_key_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pre-flight profile of orders ⋈ customer on custkey
    (operators/skew.py:join_key_health): per-side key aggregates + a
    COUNT-table equijoin — exact output cardinality and hotspot share
    before any data-sized join runs."""
    from etdtransform_spark.operators.skew import join_key_health

    return join_key_health(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


_SQL_JOIN_KEY_HEALTH = """
WITH lc AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS cl
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
), rc AS (
  SELECT c_custkey AS k, count(*)::BIGINT AS cr
  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1
), lt AS (
  SELECT count(*)::BIGINT AS n_l,
         coalesce(sum((o_custkey IS NULL)::BIGINT), 0)::BIGINT AS null_l
  FROM orders
), rt AS (
  SELECT count(*)::BIGINT AS n_r,
         coalesce(sum((c_custkey IS NULL)::BIGINT), 0)::BIGINT AS null_r
  FROM customer
), lagg AS (
  SELECT count(*)::BIGINT AS distinct_l,
         coalesce(max(cl), 0)::BIGINT AS max_mult_l FROM lc
), ragg AS (
  SELECT count(*)::BIGINT AS distinct_r,
         coalesce(max(cr), 0)::BIGINT AS max_mult_r FROM rc
), jagg AS (
  SELECT coalesce(sum(cl * cr), 0)::BIGINT AS est_output_rows,
         max(cl * cr) AS top
  FROM lc JOIN rc USING (k)
)
SELECT n_l AS n_left, n_r AS n_right, null_l AS null_left,
       null_r AS null_right, distinct_l AS distinct_left,
       distinct_r AS distinct_right, max_mult_l AS max_mult_left,
       max_mult_r AS max_mult_right, est_output_rows,
       floor(CASE WHEN est_output_rows > 0
             THEN top::DOUBLE / est_output_rows::DOUBLE END
             * 1000000.0 + 0.5) / 1000000.0 AS top_key_share,
       floor(CASE WHEN greatest(n_l, n_r) > 0
             THEN est_output_rows::DOUBLE / greatest(n_l, n_r)::DOUBLE END
             * 1000000.0 + 0.5) / 1000000.0 AS amplification
FROM lt, rt, lagg, ragg, jagg
"""


# ---------------------------------------------------------------------------
# round 10: layout maintenance + per-group weighted sampling
# ---------------------------------------------------------------------------

def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip
    (sources/parquet.py:compact_parquet): fragment events into ~40
    small files, compact back to the target size, and aggregate the
    COMPACTED dataset — the oracle aggregates the original table, so
    any row lost/duplicated/mutated by the rewrite fails the hash.
    File-count/size assertions live in the unit test."""
    import hashlib

    from etdtransform_spark.sources.parquet import compact_parquet

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    frag = f"/tmp/etd_compact/frag_{tag}"
    dst = f"/tmp/etd_compact/out_{tag}"
    ev = _t(spark, sf_dir, "events")
    ev.repartition(40).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, dst, target_mb=64)
    out = spark.read.parquet(dst)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        qround(F.sum("value"), 4).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


_SQL_COMPACTION = f"""
SELECT event_type, count(*)::BIGINT AS n,
       {qround_sql('sum(value)', 4)} AS sum_value,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM {_EV} GROUP BY 1
"""


def q_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Efraimidis-Spirakis weighted sample
    (operators/sessions.py:weighted_stratified_sample): 5 events per
    event_type, weight |value|+1, hash-derived uniforms — each group
    ranks independently inside its shuffle partition."""
    from etdtransform_spark.operators.sessions import (
        weighted_stratified_sample,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = weighted_stratified_sample(
        ev, "event_id", F.abs(F.col("value")) + 1.0, ["event_type"], k=5
    )
    return out.select("event_type", "event_id", "value", "es_key")


_WSS_HASH = portable_hash64_sql("event_id::VARCHAR", seed="wssample")
_SQL_WEIGHTED_STRATIFIED = f"""
SELECT event_type, event_id, value, es_key FROM (
  SELECT event_type, event_id, value,
         {qround_sql(
             f'ln((({_WSS_HASH}) % 1048576 + 0.5) / 1048576.0)'
             ' / (abs(value) + 1.0)', 9)} AS es_key,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {qround_sql(
               f'ln((({_WSS_HASH}) % 1048576 + 0.5) / 1048576.0)'
               ' / (abs(value) + 1.0)', 9)} DESC, event_id ASC
         ) AS wr
  FROM {_EV} WHERE value IS NOT NULL AND event_id IS NOT NULL
) WHERE wr <= 5
"""


def q_rouge_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2-style clipped n-gram overlap
    (operators/evaluation.py:ngram_overlap_scores): each document
    scored against its doc_id-successor as a deterministic (ref, cand)
    pair fixture — two (id, gram) count aggregates + one equijoin,
    shuffles carry counts, never text."""
    from etdtransform_spark.operators.evaluation import ngram_overlap_scores

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    w = Window.orderBy(F.col("doc_id").asc())
    pairs = docs.select(
        F.col("doc_id").alias("pid"),
        F.col("text").alias("ref"),
        F.lead("text").over(w).alias("cand"),
    )
    return ngram_overlap_scores(pairs, "ref", "cand", "pid", n=2)


_SQL_ROUGE = """
WITH pairs AS (
  SELECT doc_id AS id, text AS ref,
         lead(text) OVER (ORDER BY doc_id NULLS FIRST) AS cand
  FROM documents WHERE doc_id IS NOT NULL
), base AS (
  SELECT id, ref, cand FROM pairs
  WHERE ref IS NOT NULL AND cand IS NOT NULL
), rg AS (
  SELECT id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
  FROM (SELECT id,
               list_filter(regexp_split_to_array(ref, '\\s+'),
                           x -> x <> '') AS t
        FROM base),
       unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), cg AS (
  SELECT id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
  FROM (SELECT id,
               list_filter(regexp_split_to_array(cand, '\\s+'),
                           x -> x <> '') AS t
        FROM base),
       unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), refc AS (SELECT id, g, count(*)::BIGINT AS cr FROM rg GROUP BY 1, 2),
candc AS (SELECT id, g, count(*)::BIGINT AS ccn FROM cg GROUP BY 1, 2),
merged AS (
  SELECT coalesce(refc.id, candc.id) AS id,
         coalesce(cr, 0) AS cr, coalesce(ccn, 0) AS ccn
  FROM refc FULL JOIN candc
    ON refc.id = candc.id AND refc.g = candc.g
), per_id AS (
  SELECT id, sum(cr)::BIGINT AS ref_grams, sum(ccn)::BIGINT AS cand_grams,
         sum(least(cr, ccn))::BIGINT AS overlap
  FROM merged GROUP BY 1
), filled AS (
  SELECT base.id,
         coalesce(ref_grams, 0)::BIGINT AS ref_grams,
         coalesce(cand_grams, 0)::BIGINT AS cand_grams,
         coalesce(overlap, 0)::BIGINT AS overlap
  FROM (SELECT DISTINCT id FROM base) base
  LEFT JOIN per_id ON base.id = per_id.id
)
SELECT id, ref_grams, cand_grams, overlap,
       floor(CASE WHEN cand_grams > 0
             THEN overlap::DOUBLE / cand_grams::DOUBLE END
             * 1000000.0 + 0.5) / 1000000.0 AS precision,
       floor(CASE WHEN ref_grams > 0
             THEN overlap::DOUBLE / ref_grams::DOUBLE END
             * 1000000.0 + 0.5) / 1000000.0 AS recall,
       floor(CASE WHEN cand_grams > 0 AND ref_grams > 0 THEN
               CASE WHEN (overlap::DOUBLE / cand_grams::DOUBLE
                          + overlap::DOUBLE / ref_grams::DOUBLE) > 0
                    THEN 2.0 * (overlap::DOUBLE / cand_grams::DOUBLE)
                         * (overlap::DOUBLE / ref_grams::DOUBLE)
                         / (overlap::DOUBLE / cand_grams::DOUBLE
                            + overlap::DOUBLE / ref_grams::DOUBLE)
                    ELSE 0.0 END
             END * 1000000.0 + 0.5) / 1000000.0 AS f1
FROM filled
"""


def q_eval_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite model-EVAL pipeline (the eval-side twin of
    llm_pipeline_e2e): score → isotonic calibration fit → re-score
    through the fitted monotone map → ECE/AUC before vs after, ONE
    summary row. Chains isotonic_calibration,
    expected_calibration_error, and auc_roc through real interface
    boundaries; the meaningful pipeline outcome is ece_calibrated ≤
    ece_raw (isotonic is the ECE-minimizing monotone map on the binned
    substrate) while AUC moves only by plateau tie-breaking."""
    from etdtransform_spark.operators.evaluation import (
        auc_roc,
        expected_calibration_error,
        isotonic_calibration,
    )

    # stage boundaries (the llm_pipeline_e2e lesson, caught again here
    # by the plan sweep's FileScan bound): the scored frame feeds FOUR
    # consumers and the calibrated frame two — lazily composed, the
    # chain re-derived the scan 15×; each boundary stands in for the
    # stage-output parquet a production eval pipeline writes
    s = _scored_events(spark, sf_dir).localCheckpoint(eager=True)
    iso = isotonic_calibration(s, "score", "label", n_bins=16)
    sc = F.col("score").cast("double")
    y = F.col("label").cast("double")
    binned = s.filter(
        sc.isNotNull() & y.isNotNull() & ~F.isnan(sc) & ~F.isnan(y)
    ).select(
        F.greatest(F.least(F.floor(sc * 16), F.lit(15)), F.lit(0))
        .cast("bigint")
        .alias("bin"),
        y.alias("label"),
    )
    cal = binned.join(
        F.broadcast(iso.select("bin", "iso_rate")), "bin"
    ).select(
        F.col("iso_rate").alias("score"), "label"
    ).localCheckpoint(eager=True)

    ece_raw = expected_calibration_error(s, "score", "label", n_bins=16)
    ece_cal = expected_calibration_error(cal, "score", "label", n_bins=16)
    auc_raw = auc_roc(s, "score", "label")
    auc_cal = auc_roc(cal, "score", "label")
    return (
        ece_raw.select(
            F.col("n").alias("n"), F.col("ece").alias("ece_raw")
        )
        .crossJoin(F.broadcast(
            ece_cal.select(F.col("ece").alias("ece_calibrated"))
        ))
        .crossJoin(F.broadcast(
            auc_raw.select(F.col("auc").alias("auc_raw"))
        ))
        .crossJoin(F.broadcast(
            auc_cal.select(F.col("auc").alias("auc_calibrated"))
        ))
        .select(
            "n",
            "ece_raw",
            "ece_calibrated",
            F.when(
                F.col("ece_raw").isNotNull()
                & F.col("ece_calibrated").isNotNull(),
                (F.col("ece_calibrated") <= F.col("ece_raw")).cast("int"),
            ).alias("ece_improved"),
            "auc_raw",
            "auc_calibrated",
        )
    )


_SQL_EVAL_E2E = f"""
WITH s AS ({_SQL_SCORED_EVENTS}),
b AS (
  SELECT greatest(least(floor(score * 16), 15), 0)::BIGINT AS bin,
         score, label::DOUBLE AS y
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
    AND NOT isnan(score) AND NOT isnan(label::DOUBLE)
), bins AS (
  SELECT bin, count(*)::BIGINT AS n, avg(score) AS avg_s, sum(y) AS pos
  FROM b GROUP BY 1
), cum AS (
  SELECT bin, n, pos, sum(n) OVER w AS cw, sum(pos) OVER w AS cs
  FROM bins
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pairs AS (
  SELECT j.bin AS jb, k.bin AS kb,
         (k.cs - (j.cs - j.pos)) / (k.cw - (j.cw - j.n)) AS a
  FROM cum j JOIN cum k ON j.bin <= k.bin
), mji AS (
  SELECT jb, kb AS i,
         min(a) OVER (PARTITION BY jb ORDER BY kb DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM pairs
), fit AS (
  SELECT i AS bin, {qround_sql('max(m)', 6)} AS iso_rate
  FROM mji GROUP BY 1
), cal AS (
  SELECT iso_rate AS score, y AS label FROM b JOIN fit USING (bin)
),
ece_raw_bins AS (
  SELECT greatest(least(floor(score * 16), 15), 0)::BIGINT AS bin,
         count(*)::BIGINT AS n, avg(score) AS avg_score,
         avg(label::DOUBLE) AS pos_rate
  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
    AND NOT isnan(score) AND NOT isnan(label::DOUBLE)
  GROUP BY 1
), ece_raw AS (
  SELECT coalesce(sum(n), 0)::BIGINT AS n,
         {qround_sql(
             'CASE WHEN coalesce(sum(n), 0) > 0 THEN '
             'sum(n * abs(avg_score - pos_rate)) / sum(n) END', 6)} AS ece
  FROM ece_raw_bins
), ece_cal_bins AS (
  SELECT greatest(least(floor(score * 16), 15), 0)::BIGINT AS bin,
         count(*)::BIGINT AS n, avg(score) AS avg_score,
         avg(label) AS pos_rate
  FROM cal GROUP BY 1
), ece_cal AS (
  SELECT {qround_sql(
             'CASE WHEN coalesce(sum(n), 0) > 0 THEN '
             'sum(n * abs(avg_score - pos_rate)) / sum(n) END', 6)} AS ece
  FROM ece_cal_bins
), auc_raw AS (
  SELECT {qround_sql(
      'CASE WHEN np > 0 AND nn > 0'
      ' THEN (rsum - np * (np + 1.0) / 2.0) / (np * nn) END', 6)} AS auc
  FROM (
    SELECT sum(ca::DOUBLE) AS np, sum(cb::DOUBLE) AS nn,
           sum(ca::DOUBLE * ((ct - c) + (c + 1.0) / 2.0)) AS rsum
    FROM (
      SELECT ca, cb, (ca + cb)::DOUBLE AS c,
             (sum(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
               AS ct
      FROM (
        SELECT score AS v,
               sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1
      )
    )
  )
), auc_cal AS (
  SELECT {qround_sql(
      'CASE WHEN np > 0 AND nn > 0'
      ' THEN (rsum - np * (np + 1.0) / 2.0) / (np * nn) END', 6)} AS auc
  FROM (
    SELECT sum(ca::DOUBLE) AS np, sum(cb::DOUBLE) AS nn,
           sum(ca::DOUBLE * ((ct - c) + (c + 1.0) / 2.0)) AS rsum
    FROM (
      SELECT ca, cb, (ca + cb)::DOUBLE AS c,
             (sum(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
               AS ct
      FROM (
        SELECT score AS v,
               sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM cal GROUP BY 1
      )
    )
  )
)
SELECT ece_raw.n, ece_raw.ece AS ece_raw,
       ece_cal.ece AS ece_calibrated,
       CASE WHEN ece_raw.ece IS NOT NULL AND ece_cal.ece IS NOT NULL
            THEN (ece_cal.ece <= ece_raw.ece)::INT END AS ece_improved,
       auc_raw.auc AS auc_raw, auc_cal.auc AS auc_calibrated
FROM ece_raw, ece_cal, auc_raw, auc_cal
"""


def q_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential p-value (mSPRT, Johari et al.) for the
    user-parity A/B split of event values
    (operators/stats.py:msprt_always_valid_p): ONE conditional-moment
    aggregate — the peeking-safe reading a live experiment re-runs
    every monitoring tick."""
    from etdtransform_spark.operators.stats import msprt_always_valid_p

    ev = _t(spark, sf_dir, "events").withColumn(
        "_half", F.pmod(F.col("user_id"), F.lit(2))
    )
    return msprt_always_valid_p(
        ev, "value", "_half", 0, 1, tau=5.0, alpha=0.05
    )


def _sql_msprt() -> str:
    t2 = 5.0 * 5.0
    return f"""
WITH base AS (
  SELECT (user_id % 2) AS arm, value::DOUBLE AS x
  FROM {_EV}
  WHERE (user_id % 2) IN (0, 1) AND value IS NOT NULL AND NOT isnan(value)
), g AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN arm = 0 THEN x ELSE 0.0 END) AS sa,
         sum(CASE WHEN arm = 1 THEN x ELSE 0.0 END) AS sb,
         sum(CASE WHEN arm = 0 THEN x * x ELSE 0.0 END) AS qa,
         sum(CASE WHEN arm = 1 THEN x * x ELSE 0.0 END) AS qb
  FROM base
), f AS (
  SELECT na, nb, sa / na::DOUBLE AS ma, sb / nb::DOUBLE AS mb,
         ((qa - sa * sa / na::DOUBLE) + (qb - sb * sb / nb::DOUBLE))
           / (na::DOUBLE + nb::DOUBLE - 2.0) AS pooled,
         2.0 / (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE) AS neff,
         sa / na::DOUBLE - sb / nb::DOUBLE AS d
  FROM g
), l AS (
  SELECT na, nb, ma, mb, d, pooled,
         (na > 1 AND nb > 1 AND pooled > 0) AS ok,
         0.5 * ln(2.0 * pooled / (2.0 * pooled + neff * {t2!r}))
           + (neff * neff * {t2!r} * d * d)
             / (4.0 * pooled * (2.0 * pooled + neff * {t2!r})) AS ll
  FROM f
)
SELECT na AS n_a, nb AS n_b,
       {qround_sql('CASE WHEN na > 0 THEN ma END', 6)} AS mean_a,
       {qround_sql('CASE WHEN nb > 0 THEN mb END', 6)} AS mean_b,
       {qround_sql('CASE WHEN na > 0 AND nb > 0 THEN d END', 6)} AS diff,
       {qround_sql('CASE WHEN ok THEN pooled END', 6)} AS pooled_var,
       {qround_sql('CASE WHEN ok THEN ll END', 6)} AS log_lambda,
       {qround_sql('CASE WHEN ok THEN least(1.0, exp(-ll)) END', 6)}
         AS p_always_valid,
       CASE WHEN ok THEN (least(1.0, exp(-ll)) < 0.05)::INT END AS reject
FROM l
"""


# ---------------------------------------------------------------------------
# round 11: user-journey / lifecycle analytics (operators/journey.py)
# ---------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-order 3-step funnel rate summary view→click→purchase
    (operators/funnel.py:funnel_step_rates over funnel_steps
    strict=True): first-touch conversion times via k−1 user-domain
    joins, never a per-user log window; output is step-count-sized.
    Complements the existing `funnel` contract (per-cohort-day counts,
    at-or-after semantics) with the strict global-rate rollup.
    NULL users are excluded up front — funnel_steps would otherwise
    count a NULL-user group at step 1 but never join it at step 2."""
    from etdtransform_spark.operators.funnel import funnel_step_rates

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return funnel_step_rates(
        ev, ["view", "click", "purchase"], strict=True
    )


_SQL_FUNNEL_CONV = f"""
WITH base AS (
  SELECT user_id AS u, event_type AS ty, ts
  FROM {_EV}
  WHERE user_id IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')
), f1 AS (
  SELECT u, min(ts) AS ft FROM base WHERE ty = 'view' GROUP BY 1
), f2 AS (
  SELECT b.u, min(b.ts) AS ft
  FROM base b JOIN f1 ON f1.u = b.u
  WHERE b.ty = 'click' AND b.ts > f1.ft GROUP BY 1
), f3 AS (
  SELECT b.u, min(b.ts) AS ft
  FROM base b JOIN f2 ON f2.u = b.u
  WHERE b.ty = 'purchase' AND b.ts > f2.ft GROUP BY 1
), c AS (
  SELECT 1::BIGINT AS step_idx, 'view' AS step_name,
         (SELECT count(*) FROM f1)::BIGINT AS n_users
  UNION ALL
  SELECT 2::BIGINT, 'click', (SELECT count(*) FROM f2)::BIGINT
  UNION ALL
  SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM f3)::BIGINT
)
SELECT step_idx, step_name, n_users,
       {qround_sql(
           'CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0 THEN '
           'n_users::DOUBLE / lag(n_users) OVER (ORDER BY step_idx) END',
           6)} AS conv_from_prev,
       {qround_sql(
           'CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0 '
           'THEN n_users::DOUBLE '
           '/ first_value(n_users) OVER (ORDER BY step_idx) END',
           6)} AS conv_from_first
FROM c
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle WITH cohort sizes and rates
    (operators/funnel.py:retention_cohorts max_offset/with_rates — the
    rate rollup the bare `retention` contract's counts feed): first-
    activity rollup + user-keyed join-back + one distinct + a broadcast
    of the offset-0 sizes — output weeks×offsets."""
    from etdtransform_spark.operators.funnel import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", max_offset=8,
                             with_rates=True)


_SQL_RETENTION_COHORTS = f"""
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts))::TIMESTAMP AS cohort_week
  FROM {_EV} GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS w
  FROM {_EV}
), j AS (
  SELECT a.user_id, f.cohort_week,
         ((epoch_us(a.w) - epoch_us(f.cohort_week)) / 604800000000.0)::BIGINT
           AS week_offset
  FROM a JOIN f USING (user_id)
), counts AS (
  SELECT cohort_week, week_offset,
         count(DISTINCT user_id)::BIGINT AS n_active
  FROM j WHERE week_offset <= 8 GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, n_active AS cohort_size
  FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, s.cohort_size, c.n_active,
       {qround_sql(
           'CASE WHEN s.cohort_size > 0 THEN '
           'c.n_active::DOUBLE / s.cohort_size::DOUBLE END', 6)}
         AS retention_rate
FROM counts c JOIN sizes s USING (cohort_week)
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve
    (operators/funnel.py:kaplan_meier): duration = value, event =
    purchase (other types right-censored). ONE duration-keyed count
    aggregate + windows over the distinct-duration table; the product
    is exp(Σ ln factor) with an exact running-min 0-factor guard."""
    from etdtransform_spark.operators.funnel import kaplan_meier

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    km = ev.select(
        F.col("value").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
    )
    return kaplan_meier(km, "duration", "event")


_SQL_KAPLAN_MEIER = f"""
WITH base AS (
  SELECT value::DOUBLE AS t, (event_type = 'purchase')::INT AS e
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
    AND event_type IS NOT NULL
), per_t AS (
  SELECT t, sum(e)::BIGINT AS d, count(*)::BIGINT AS c
  FROM base GROUP BY 1
), risked AS (
  SELECT t, d, c,
         (sum(c) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS n
  FROM per_t
), curve AS (
  SELECT t, d, c, n, 1.0 - d::DOUBLE / n::DOUBLE AS f FROM risked
), cum AS (
  SELECT t, d, c, n,
         min(f) OVER w AS minf,
         sum(ln(CASE WHEN f > 0 THEN f END)) OVER w AS lsum
  FROM curve
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT t, n AS n_risk, d AS n_events, (c - d)::BIGINT AS n_censored,
       {qround_sql(
           'CASE WHEN minf <= 0 THEN 0.0 ELSE exp(lsum) END', 6)}
         AS survival
FROM cum WHERE d > 0
"""


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 8-step user paths (operators/funnel.py:top_paths):
    row_number-bounded per-user prefix, path-string aggregate,
    TakeOrdered top-k — no unbounded array crosses a shuffle."""
    from etdtransform_spark.operators.funnel import top_paths

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    return top_paths(
        ev, "user_id", "event_type", "ts", order_col="event_id",
        max_steps=8, k=10,
    )


_SQL_TOP_PATHS = f"""
WITH base AS (
  SELECT user_id AS u, event_type AS ty, ts, event_id
  FROM {_EV}
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND event_id IS NOT NULL
), stepped AS (
  SELECT u, ty,
         row_number() OVER (PARTITION BY u ORDER BY ts, event_id) AS rn
  FROM base
), lim AS (
  SELECT * FROM stepped WHERE rn <= 8
), paths AS (
  SELECT u, string_agg(ty, '>' ORDER BY rn) AS path,
         max(rn)::BIGINT AS path_len
  FROM lim GROUP BY 1
), counted AS (
  SELECT path, path_len, count(*)::BIGINT AS n_users
  FROM paths GROUP BY 1, 2
)
SELECT path, n_users, path_len
FROM counted ORDER BY n_users DESC, path LIMIT 10
"""


# ---------------------------------------------------------------------------
# round 11: delta-method ratio inference + table-profile drift +
# embedding centroid shift
# ---------------------------------------------------------------------------

def q_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric readout, click vs view arms
    (operators/stats.py:delta_method_ratio): ratio = value per
    (1 + event_id%3) pseudo-denominator; ONE conditional-moment
    aggregate, fixed-size output."""
    from etdtransform_spark.operators.stats import delta_method_ratio

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    df = ev.select(
        F.col("value").alias("num"),
        (F.lit(1) + F.pmod(F.col("event_id"), F.lit(3)))
        .cast("double")
        .alias("den"),
        F.col("event_type").alias("arm"),
    )
    return delta_method_ratio(df, "num", "den", "arm", "click", "view")


_SQL_DELTA_RATIO = f"""
WITH base AS (
  SELECT value::DOUBLE AS x, (1 + event_id % 3)::DOUBLE AS y,
         event_type AS arm
  FROM {_EV}
  WHERE event_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
    AND event_type IN ('click', 'view')
), g AS (
  SELECT
    coalesce(sum(CASE WHEN arm = 'click' THEN 1 ELSE 0 END),
             0)::BIGINT AS na,
    sum(CASE WHEN arm = 'click' THEN x ELSE 0.0 END) AS sxa,
    sum(CASE WHEN arm = 'click' THEN y ELSE 0.0 END) AS sya,
    sum(CASE WHEN arm = 'click' THEN x * x ELSE 0.0 END) AS xxa,
    sum(CASE WHEN arm = 'click' THEN y * y ELSE 0.0 END) AS yya,
    sum(CASE WHEN arm = 'click' THEN x * y ELSE 0.0 END) AS xya,
    coalesce(sum(CASE WHEN arm = 'view' THEN 1 ELSE 0 END),
             0)::BIGINT AS nb,
    sum(CASE WHEN arm = 'view' THEN x ELSE 0.0 END) AS sxb,
    sum(CASE WHEN arm = 'view' THEN y ELSE 0.0 END) AS syb,
    sum(CASE WHEN arm = 'view' THEN x * x ELSE 0.0 END) AS xxb,
    sum(CASE WHEN arm = 'view' THEN y * y ELSE 0.0 END) AS yyb,
    sum(CASE WHEN arm = 'view' THEN x * y ELSE 0.0 END) AS xyb
  FROM base
), m AS (
  SELECT na, nb,
         sxa / na::DOUBLE AS mxa, sya / na::DOUBLE AS mya,
         (xxa - sxa * (sxa / na::DOUBLE)) / (na::DOUBLE - 1) AS sxxa,
         (yya - sya * (sya / na::DOUBLE)) / (na::DOUBLE - 1) AS syya,
         (xya - sxa * (sya / na::DOUBLE)) / (na::DOUBLE - 1) AS sxya,
         sxb / nb::DOUBLE AS mxb, syb / nb::DOUBLE AS myb,
         (xxb - sxb * (sxb / nb::DOUBLE)) / (nb::DOUBLE - 1) AS sxxb,
         (yyb - syb * (syb / nb::DOUBLE)) / (nb::DOUBLE - 1) AS syyb,
         (xyb - sxb * (syb / nb::DOUBLE)) / (nb::DOUBLE - 1) AS sxyb
  FROM g
), r AS (
  SELECT na, nb,
         (na > 1 AND mya <> 0) AS oka, (nb > 1 AND myb <> 0) AS okb,
         mxa / mya AS ra, mxb / myb AS rb,
         (sxxa + (mxa / mya) * (mxa / mya) * syya
          - 2.0 * (mxa / mya) * sxya) / (na::DOUBLE * mya * mya) AS va,
         (sxxb + (mxb / myb) * (mxb / myb) * syyb
          - 2.0 * (mxb / myb) * sxyb) / (nb::DOUBLE * myb * myb) AS vb
  FROM m
), fin AS (
  -- NB "both" is a reserved word in DuckDB; "bok" = both arms valid
  SELECT na, nb, oka, okb, ra, rb, (oka AND okb) AS bok,
         CASE WHEN oka AND okb
              THEN sqrt(greatest(va + vb, 0.0)) END AS se,
         ra - rb AS d
  FROM r
)
SELECT na AS n_a, nb AS n_b,
       {qround_sql('CASE WHEN oka THEN ra END', 6)} AS ratio_a,
       {qround_sql('CASE WHEN okb THEN rb END', 6)} AS ratio_b,
       {qround_sql('CASE WHEN bok THEN d END', 6)} AS diff,
       {qround_sql('se', 6)} AS se,
       {qround_sql('CASE WHEN bok AND se > 0 THEN d / se END', 6)} AS z,
       {qround_sql(
           'CASE WHEN bok THEN d - 1.959963984540054 * se END', 6)}
         AS ci_lo,
       {qround_sql(
           'CASE WHEN bok THEN d + 1.959963984540054 * se END', 6)}
         AS ci_hi
FROM fin
"""


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-profile drift between two snapshot halves (event_id
    parity) of events (operators/profile.py:profile_drift): per-column
    null rate / distinct / mean diffs, ONE aggregate pass per side."""
    from etdtransform_spark.operators.profile import profile_drift

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    return profile_drift(
        a, b, numeric_cols=["value", "user_id"],
        categorical_cols=["event_type"],
    )


def _sql_profile_side(parity: int, tag: str) -> str:
    cols = [
        ("value", "value::DOUBLE IS NOT NULL AND NOT isnan(value)",
         "avg(CASE WHEN value IS NOT NULL AND NOT isnan(value) "
         "THEN value::DOUBLE END)"),
        ("user_id", "user_id IS NOT NULL", "avg(user_id::DOUBLE)"),
        ("event_type", "event_type IS NOT NULL", "NULL::DOUBLE"),
    ]
    selects = []
    for name, valid, mean in cols:
        dist = (
            f"count(DISTINCT CASE WHEN {valid} THEN {name} END)::BIGINT"
        )
        selects.append(f"""
  SELECT '{name}' AS column, count(*)::BIGINT AS n_{tag},
         {qround_sql(
             f'CASE WHEN count(*) > 0 THEN '
             f'sum(CASE WHEN {valid} THEN 0 ELSE 1 END)::DOUBLE '
             f'/ count(*)::DOUBLE END', 6)} AS null_rate_{tag},
         {dist} AS distinct_{tag},
         {qround_sql(mean, 6)} AS mean_{tag}
  FROM {_EV} WHERE event_id % 2 = {parity}""")
    return " UNION ALL ".join(selects)


_SQL_PROFILE_DRIFT = f"""
WITH pa AS ({_sql_profile_side(0, 'a')}),
pb AS ({_sql_profile_side(1, 'b')})
SELECT pa.column, n_a, n_b, null_rate_a, null_rate_b,
       {qround_sql('null_rate_b - null_rate_a', 6)} AS null_rate_delta,
       distinct_a, distinct_b,
       {qround_sql(
           'CASE WHEN distinct_a > 0 THEN '
           'distinct_b::DOUBLE / distinct_a::DOUBLE END', 6)}
         AS distinct_ratio,
       mean_a, mean_b,
       {qround_sql('mean_b - mean_a', 6)} AS mean_delta
FROM pa JOIN pb ON pa.column = pb.column
"""


def q_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding centroid drift between the two vec_id-parity halves
    (operators/embeddings.py:centroid_shift): one d-sized mean
    aggregate per side, comparison on two d-row tables, ONE row out."""
    from etdtransform_spark.operators.embeddings import centroid_shift

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    b = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    return centroid_shift(a, b, n_dims=16)


_SQL_CENTROID_SHIFT = f"""
WITH va AS (
  SELECT list_slice(embedding, 1, 16) AS v FROM {_EMB}
  WHERE vec_id % 2 = 0 AND len(embedding) >= 16
), vb AS (
  SELECT list_slice(embedding, 1, 16) AS v FROM {_EMB}
  WHERE vec_id % 2 = 1 AND len(embedding) >= 16
), da AS (
  SELECT i, avg(x) AS ma FROM (
    SELECT generate_subscripts(v, 1) - 1 AS i, unnest(v)::DOUBLE AS x
    FROM va
  ) GROUP BY 1
), db AS (
  SELECT i, avg(x) AS mb FROM (
    SELECT generate_subscripts(v, 1) - 1 AS i, unnest(v)::DOUBLE AS x
    FROM vb
  ) GROUP BY 1
), j AS (
  SELECT coalesce(ma, 0.0) AS ma, coalesce(mb, 0.0) AS mb
  FROM da FULL JOIN db USING (i)
), st AS (
  SELECT sum((ma - mb) * (ma - mb)) AS d2, sum(ma * mb) AS dot,
         sum(ma * ma) AS na2, sum(mb * mb) AS nb2
  FROM j
), ca AS (SELECT count(*)::BIGINT AS n_a FROM va),
cb AS (SELECT count(*)::BIGINT AS n_b FROM vb)
SELECT n_a, n_b,
       {qround_sql(
           'CASE WHEN n_a > 0 AND n_b > 0 THEN sqrt(d2) END', 6)}
         AS l2_shift,
       {qround_sql(
           'CASE WHEN na2 > 0 AND nb2 > 0 '
           'THEN dot / (sqrt(na2) * sqrt(nb2)) END', 6)} AS cosine,
       {qround_sql('CASE WHEN n_a > 0 THEN sqrt(na2) END', 6)} AS norm_a,
       {qround_sql('CASE WHEN n_b > 0 THEN sqrt(nb2) END', 6)} AS norm_b
FROM ca, cb, st
"""


# ---------------------------------------------------------------------------
# round 11: survival hazard + post-stratification
# ---------------------------------------------------------------------------

def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard, duration = value, event =
    purchase (operators/funnel.py:nelson_aalen): same risk-set plan
    shape as kaplan_meier — one duration-keyed count aggregate +
    ordered cumulative windows; variance Σ d/n² alongside."""
    from etdtransform_spark.operators.funnel import nelson_aalen

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    km = ev.select(
        F.col("value").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
    )
    return nelson_aalen(km, "duration", "event")


_SQL_NELSON_AALEN = f"""
WITH base AS (
  SELECT value::DOUBLE AS t, (event_type = 'purchase')::INT AS e
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
    AND event_type IS NOT NULL
), per_t AS (
  SELECT t, sum(e)::BIGINT AS d, count(*)::BIGINT AS c
  FROM base GROUP BY 1
), risked AS (
  SELECT t, d, c,
         (sum(c) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS n
  FROM per_t
), cum AS (
  SELECT t, d, n,
         sum(d::DOUBLE / n::DOUBLE) OVER w AS h,
         sum(d::DOUBLE / (n::DOUBLE * n::DOUBLE)) OVER w AS v
  FROM risked
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT t, n AS n_risk, d AS n_events,
       {qround_sql('h', 6)} AS cum_hazard,
       {qround_sql('v', 6)} AS cum_hazard_var
FROM cum WHERE d > 0
"""


def q_post_stratified_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratification readout of the value metric against a
    DECLARED event-type mix (operators/stats.py:post_stratified_mean):
    one stratum-keyed moment aggregate + a broadcast declared-share
    join + one rollup; empty declared strata fail the estimate closed."""
    from etdtransform_spark.operators.stats import post_stratified_mean

    ev = _t(spark, sf_dir, "events")
    return post_stratified_mean(
        ev, "value", "event_type",
        {"click": 0.3, "view": 0.3, "purchase": 0.2, "signup": 0.1,
         "error": 0.1},
    )


_SQL_POST_STRATIFIED = f"""
WITH base AS (
  SELECT event_type AS s, value::DOUBLE AS x
  FROM {_EV}
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), per_s AS (
  SELECT s, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
  FROM base GROUP BY 1
), shares AS (
  SELECT * FROM (VALUES
    ('click', 0.3::DOUBLE), ('error', 0.1::DOUBLE),
    ('purchase', 0.2::DOUBLE), ('signup', 0.1::DOUBLE),
    ('view', 0.3::DOUBLE)) AS sh(s, w)
), j AS (
  SELECT n, sx, sxx, w
  FROM per_s p FULL JOIN shares sh ON p.s = sh.s
), agg AS (
  SELECT coalesce(sum(n), 0)::BIGINT AS n,
         count(CASE WHEN w IS NOT NULL AND n IS NOT NULL
                    THEN 1 END)::BIGINT AS n_strata,
         count(CASE WHEN w IS NOT NULL AND n IS NULL
                    THEN 1 END)::BIGINT AS n_empty_strata,
         count(CASE WHEN w IS NULL THEN 1 END)::BIGINT AS n_unknown_strata,
         sum(CASE WHEN w IS NOT NULL THEN sx END) AS wsx,
         sum(CASE WHEN w IS NOT NULL THEN n END) AS wn,
         sum(w * (sx / n::DOUBLE)) AS ps,
         sum(w * w * (CASE WHEN n > 1 THEN
               (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
             / n::DOUBLE) AS psv,
         max((w IS NOT NULL AND n IS NULL)::INT) AS anyempty,
         -- a declared stratum with n=1 has no sample variance: its
         -- W^2*s^2/n term is silently skipped by sum() and the se would
         -- UNDERESTIMATE — fail the se closed (mirrors stats.py)
         max((w IS NOT NULL AND n = 1)::INT) AS anysingleton
  FROM j
)
SELECT n, n_strata, n_empty_strata, n_unknown_strata,
       {qround_sql('CASE WHEN wn > 0 THEN wsx / wn::DOUBLE END', 6)}
         AS mean_raw,
       {qround_sql(
           'CASE WHEN coalesce(anyempty, 1) = 0 THEN ps END', 6)}
         AS mean_post_stratified,
       {qround_sql(
           'CASE WHEN coalesce(anyempty, 1) = 0 '
           'AND coalesce(anysingleton, 1) = 0 AND psv >= 0 '
           'THEN sqrt(psv) END', 6)} AS se_post_stratified
FROM agg
"""


# ---------------------------------------------------------------------------
# round 11: lexical retrieval (BM25) + hybrid rank fusion (RRF)
# ---------------------------------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {hash, spark, vector}
    (operators/text.py:bm25_topk): Lucene-style non-negative idf,
    k1=1.2 b=0.75; the tf shuffle is filtered to the 3 query terms
    BEFORE the exchange; df/avgdl/N broadcast."""
    from etdtransform_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "spark", "vector"], k=10)


_SQL_BM25 = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array({_FOLD_TEXT}, '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
), dl AS MATERIALIZED (
  SELECT doc_id, count(*)::BIGINT AS dlen FROM toks GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dlen::DOUBLE) AS avgdl FROM dl
), tf AS MATERIALIZED (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM toks WHERE term IN ('hash', 'spark', 'vector') GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), idf AS (
  SELECT term,
         ln(1.0 + (n_docs::DOUBLE - df + 0.5) / (df + 0.5)) AS idf,
         avgdl
  FROM dfreq CROSS JOIN stats
), scored AS (
  SELECT tf.doc_id,
         idf.idf * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75
                             + 0.75 * dl.dlen::DOUBLE / idf.avgdl)) AS s
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
), per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_terms_matched, sum(s) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, n_terms_matched, {qround_sql('score', 6)} AS score
FROM per_doc ORDER BY score DESC, doc_id LIMIT 10
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the full-64-dim and truncated-16-dim
    cosine top-5 rankings (operators/ranking.py:reciprocal_rank_fusion)
    — the hybrid-retrieval merge, on the same pinned probe/candidate
    pools as rbo_topk (constant cost at any sf). Fused top-3 per
    query."""
    from etdtransform_spark.operators.ranking import (
        reciprocal_rank_fusion,
    )
    from etdtransform_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    qset = emb.filter(F.col("vec_id") < 200)
    full = cosine_topk(qset, emb, k=5)
    trunc = cosine_topk(
        qset.withColumn("embedding", F.slice("embedding", 1, 16)),
        emb.withColumn("embedding", F.slice("embedding", 1, 16)),
        k=5,
    )
    return reciprocal_rank_fusion(full, trunc, k_const=60, topk=3)


def _sql_rrf_fusion() -> str:
    return f"""
WITH full_k AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor(({_COS_SQL}) * 1000000.0 + 0.5) / 1000000.0
                        DESC,
                      b.vec_id) AS rank
    FROM {_EMB} a JOIN {_EMB} b
      ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
  ) WHERE rank <= 5
), trunc_k AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor(({_COS_SQL_TRUNC}) * 1000000.0 + 0.5)
                        / 1000000.0 DESC,
                      b.vec_id) AS rank
    FROM {_EMB} a JOIN {_EMB} b
      ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
  ) WHERE rank <= 5
), merged AS (
  SELECT coalesce(f.query_id, t.query_id) AS query,
         coalesce(f.neighbor_id, t.neighbor_id) AS item,
         f.rank AS ra, t.rank AS rb
  FROM full_k f FULL JOIN trunc_k t
    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
), scored AS (
  SELECT query, item,
         (ra IS NOT NULL)::INT AS in_a, (rb IS NOT NULL)::INT AS in_b,
         {qround_sql(
             'CASE WHEN ra IS NOT NULL THEN 1.0 / (60.0 + ra::DOUBLE)'
             ' ELSE 0.0 END'
             ' + CASE WHEN rb IS NOT NULL THEN 1.0 / (60.0 + rb::DOUBLE)'
             ' ELSE 0.0 END', 6)} AS rrf
  FROM merged
), ranked AS (
  SELECT query, item, in_a, in_b, rrf,
         row_number() OVER (PARTITION BY query
                            ORDER BY rrf DESC, item) AS fused_rank
  FROM scored
)
SELECT query, item, in_a, in_b, rrf, fused_rank::BIGINT AS fused_rank
FROM ranked WHERE fused_rank <= 3
"""


# ---------------------------------------------------------------------------
# round 11: composite retrieval-rollout pipeline (fourth e2e chain:
# two approximate retrievers → RRF fusion → NDCG against exact truth)
# ---------------------------------------------------------------------------

_COS_SQL_TRUNC32 = (
    "list_dot_product(list_slice(a.embedding, 1, 32)::DOUBLE[],"
    " list_slice(b.embedding, 1, 32)::DOUBLE[])"
    " / (sqrt(list_dot_product(list_slice(a.embedding, 1, 32)::DOUBLE[],"
    " list_slice(a.embedding, 1, 32)::DOUBLE[]))"
    " * sqrt(list_dot_product(list_slice(b.embedding, 1, 32)::DOUBLE[],"
    " list_slice(b.embedding, 1, 32)::DOUBLE[])))"
)


def q_retrieval_rollout_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite ANN-rollout evaluation chain (fourth e2e: data-side =
    llm_pipeline_e2e, eval-side = eval_pipeline_e2e, preference-side =
    preference_pipeline_e2e, this is the retrieval-side): two
    approximate retrievers (16- and 32-dim prefix truncations — the
    Matryoshka deployment candidates) are each scored with NDCG@5 /
    precision@5 against the exact 64-dim top-5 as graded truth, then
    fused with reciprocal-rank fusion and the FUSED list scored the
    same way — ONE summary row answering the rollout question "ship
    16, ship 32, or fuse both?".

    Chains cosine_topk ×3 → reciprocal_rank_fusion → ranking_summary
    ×3 through real interface boundaries on the pinned constant-cost
    probe pools (vec_id<200 queries / <1000 candidates). The truth
    list is localCheckpointed once: it feeds FOUR consumers (three
    relevance joins + its own construction). fusion_helps pins the
    deterministic outcome ndcg_fused ≥ max(ndcg_16, ndcg_32) on this
    corpus.
    """
    from etdtransform_spark.operators.ranking import (
        ranking_summary,
        reciprocal_rank_fusion,
    )
    from etdtransform_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    qset = emb.filter(F.col("vec_id") < 200)

    def trunc(df: DataFrame, d: int) -> DataFrame:
        return df.withColumn("embedding", F.slice("embedding", 1, d))

    # r14 negative results, measured and rejected (alternating worktree
    # A/B, 6 rounds each): (a) lazy-checkpoint + dot_expr_fixed unroll on
    # r16/r32 — CPU -45% but wall +1 s (two extra barrier jobs); (b)
    # dot_expr_fixed on full alone (no new barriers) — CPU -15% but wall
    # worse in 5/6 rounds (the guarded unroll keeps the HOF fallback in
    # the same projection, so the stage stays interpreted AND pays the
    # bigger tree). The two-call HOF form stands: runtime exchange reuse
    # already computes each retriever once.
    full = cosine_topk(qset, emb, k=5).localCheckpoint(eager=True)
    r16 = cosine_topk(trunc(qset, 16), trunc(emb, 16), k=5)
    r32 = cosine_topk(trunc(qset, 32), trunc(emb, 32), k=5)
    fused = reciprocal_rank_fusion(r16, r32, k_const=60, topk=5).select(
        F.col("query").alias("query_id"),
        F.col("item").alias("neighbor_id"),
        F.col("rrf").alias("score"),
    )
    rel = full.select("query_id", "neighbor_id", F.lit(1).alias("_rel"))

    def evaluate(lst: DataFrame, tag: str) -> DataFrame:
        labeled = lst.join(
            F.broadcast(rel), ["query_id", "neighbor_id"], "left"
        ).select(
            "query_id",
            "neighbor_id",
            F.col("score"),
            F.coalesce(F.col("_rel"), F.lit(0)).alias("rel"),
        )
        return ranking_summary(
            labeled, "query_id", "neighbor_id", "score", "rel", k=5
        ).select(
            F.col("n_queries").alias(f"n_{tag}"),
            F.col("mean_ndcg").alias(f"ndcg_{tag}"),
            F.col("mean_precision_at_k").alias(f"prec_{tag}"),
        )

    e16 = evaluate(
        r16.select(
            "query_id", "neighbor_id",
            (-F.col("rank").cast("double")).alias("score"),
        ),
        "16",
    )
    e32 = evaluate(
        r32.select(
            "query_id", "neighbor_id",
            (-F.col("rank").cast("double")).alias("score"),
        ),
        "32",
    )
    ef = evaluate(fused, "fused")
    return (
        ef.crossJoin(F.broadcast(e16))
        .crossJoin(F.broadcast(e32))
        .select(
            F.col("n_fused").alias("n_queries"),
            "ndcg_16",
            "prec_16",
            "ndcg_32",
            "prec_32",
            "ndcg_fused",
            "prec_fused",
            F.when(
                F.col("ndcg_fused").isNotNull()
                & F.col("ndcg_16").isNotNull()
                & F.col("ndcg_32").isNotNull(),
                (
                    F.col("ndcg_fused")
                    >= F.greatest(F.col("ndcg_16"), F.col("ndcg_32"))
                ).cast("int"),
            ).alias("fusion_helps"),
        )
    )


def _sql_retrieval_rollout() -> str:
    def ranked_list(cos: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                      b.vec_id) AS rank
    FROM {_EMB} a JOIN {_EMB} b
      ON a.vec_id < 200 AND a.vec_id <> b.vec_id AND b.vec_id < 1000
  ) WHERE rank <= 5
)"""

    def eval_list(src: str, tag: str) -> str:
        # mirrors ranking_metrics: gain 2^rel-1 (=rel for 0/1), disc
        # log2(pos+1), ideal = same items by (rel desc, item asc),
        # ndcg NULL when idcg=0, precision = rel_at_k/5; means skip NULLs
        return f"""lab_{tag} AS (
  SELECT s.query_id, s.neighbor_id, s.score,
         (f.neighbor_id IS NOT NULL)::INT AS rel
  FROM {src} s LEFT JOIN full_k f
    ON f.query_id = s.query_id AND f.neighbor_id = s.neighbor_id
), pos_{tag} AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS pos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, neighbor_id) AS ipos
  FROM lab_{tag}
), perq_{tag} AS (
  SELECT query_id,
         coalesce(sum(CASE WHEN pos <= 5 AND rel = 1
                           THEN 1.0 / log2(pos::DOUBLE + 1.0) END),
                  0.0) AS dcg,
         coalesce(sum(CASE WHEN ipos <= 5 AND rel = 1
                           THEN 1.0 / log2(ipos::DOUBLE + 1.0) END),
                  0.0) AS idcg,
         sum(CASE WHEN pos <= 5 AND rel = 1 THEN 1 ELSE 0 END)::DOUBLE
           / 5.0 AS prec
  FROM pos_{tag} GROUP BY 1
), ev_{tag} AS (
  SELECT count(*)::BIGINT AS n_{tag},
         {qround_sql('avg(CASE WHEN idcg > 0 THEN dcg / idcg END)', 6)}
           AS ndcg_{tag},
         {qround_sql('avg(prec)', 6)} AS prec_{tag}
  FROM perq_{tag}
)"""

    return f"""
WITH {ranked_list(_COS_SQL, 'full_k')},
{ranked_list(_COS_SQL_TRUNC, 'r16')},
{ranked_list(_COS_SQL_TRUNC32, 'r32')},
merged AS (
  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         a.rank AS ra, b.rank AS rb
  FROM r16 a FULL JOIN r32 b
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
), fscored AS (
  SELECT query_id, neighbor_id,
         {qround_sql(
             'CASE WHEN ra IS NOT NULL THEN 1.0 / (60.0 + ra::DOUBLE)'
             ' ELSE 0.0 END'
             ' + CASE WHEN rb IS NOT NULL THEN 1.0 / (60.0 + rb::DOUBLE)'
             ' ELSE 0.0 END', 6)} AS score
  FROM merged
), fused AS MATERIALIZED (
  SELECT query_id, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS fr
    FROM fscored
  ) WHERE fr <= 5
), s16 AS (
  SELECT query_id, neighbor_id, -(rank::DOUBLE) AS score FROM r16
), s32 AS (
  SELECT query_id, neighbor_id, -(rank::DOUBLE) AS score FROM r32
),
{eval_list('s16', '16')},
{eval_list('s32', '32')},
{eval_list('fused', 'fused')}
SELECT n_fused AS n_queries, ndcg_16, prec_16, ndcg_32, prec_32,
       ndcg_fused, prec_fused,
       CASE WHEN ndcg_fused IS NOT NULL AND ndcg_16 IS NOT NULL
             AND ndcg_32 IS NOT NULL
            THEN (ndcg_fused >= greatest(ndcg_16, ndcg_32))::INT END
         AS fusion_helps
FROM ev_fused, ev_16, ev_32
"""


# ---------------------------------------------------------------------------
# round 11: composite preference-data QA pipeline (the third e2e chain:
# data-side = llm_pipeline_e2e, eval-side = eval_pipeline_e2e, this is the
# preference-side — VERDICT r10 #6)
# ---------------------------------------------------------------------------

def q_preference_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite preference-data QA chain on ONE pairwise-judgment
    table: Bradley-Terry fit (3 MM rounds) → position-bias audit
    against the fitted strengths → transitivity-cycle audit →
    per-annotator leniency audit, summarized in ONE row.

    Judgments synthesized from events: annotator = user_id%5, items
    event_id%7 vs (event_id div 9)%7 shown first/second; honest judges
    prefer the SMALLER item 2 of 3, while annotator 0 is PLANTED biased
    — it always picks whatever was shown first. The provable pipeline
    outcomes: top_item = 0 (the honest preference order survives one
    biased rater), pos1_z > 0 (the planted position preference is
    invisible to the item-strength model, so it surfaces as excess
    observed-vs-expected position-1 wins), and flagged_annotator = 0
    (the leave-one-out leniency audit localizes WHICH rater, which the
    corpus-level position audit cannot).

    Stage boundary (the llm_pipeline_e2e lesson): the judgment frame
    feeds FOUR consumers (BT pair aggregate, position audit,
    transitivity pairs, annotator ratings) — one localCheckpoint stands
    in for the stage-output parquet a production pipeline writes, so
    the scan + synthesis run once, not 4×. Everything downstream is
    item-domain / annotator-domain sized (7 items, 5 annotators);
    the only data-sized passes are the pair aggregate, the audit fold,
    and the item-rollup join inside annotator_bias.
    """
    from etdtransform_spark.operators.evaluation import annotator_bias
    from etdtransform_spark.operators.preference import (
        bradley_terry_strengths,
        position_bias_audit,
        transitivity_violations,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    an = F.pmod(F.col("user_id"), F.lit(5))
    f = F.pmod(F.col("event_id"), F.lit(7))
    s = F.pmod(F.expr("event_id div 9"), F.lit(7))
    honest = F.when(
        F.pmod(F.col("event_id"), F.lit(3)) < 2, F.least(f, s)
    ).otherwise(F.greatest(f, s))
    win = F.when(an == 0, f).otherwise(honest)
    j = (
        ev.select(
            an.alias("annotator_id"),
            f.alias("shown_first"),
            s.alias("shown_second"),
            win.alias("win_item"),
        )
        .filter(F.col("shown_first") != F.col("shown_second"))
        .localCheckpoint(eager=True)
    )

    comp = j.select(
        F.col("win_item").alias("winner"),
        (
            F.col("shown_first") + F.col("shown_second") - F.col("win_item")
        ).alias("loser"),
    )
    strengths = bradley_terry_strengths(comp, iterations=3).select(
        "item", "strength"
    )

    # stage 2: position audit against the FITTED strengths (interface
    # boundary: the audit consumes the fit's rounded output column)
    pos1 = position_bias_audit(
        j, "shown_first", "shown_second", "win_item", strengths=strengths
    ).filter(F.col("position") == 1)

    # stage 3: cycle audit on the same comparisons
    trans = transitivity_violations(comp).select(
        "n_triples", "n_cyclic", "violation_rate"
    )

    # stage 4: which rater — leave-one-out leniency on "picked the
    # first-shown" per ordered pair
    rated = j.select(
        F.col("annotator_id"),
        (F.col("shown_first") * 7 + F.col("shown_second")).alias("item_id"),
        (F.col("win_item") == F.col("shown_first"))
        .cast("int")
        .alias("label"),
    )
    # annotator-domain-sized (5 rows) but referenced by THREE consumers
    # below (max-z, flag join, flagged-stats join) — checkpoint once so
    # the data-sized item rollup inside runs once, not 3×
    ab = annotator_bias(
        rated, "annotator_id", "item_id", "label"
    ).localCheckpoint(eager=True)

    cnt = j.agg(F.count(F.lit(1)).cast("bigint").alias("n_judgments"))
    top1 = strengths.agg(F.max("strength").alias("top_strength"))
    top2 = (
        strengths.join(
            F.broadcast(top1), F.col("strength") == F.col("top_strength")
        )
        .agg(F.min("item").cast("bigint").alias("top_item"))
    )
    amax = ab.agg(F.max("z").alias("_maxz"))
    aflag = (
        ab.join(F.broadcast(amax), F.col("z") == F.col("_maxz"))
        .agg(F.min("annotator").cast("bigint").alias("flagged_annotator"))
    )
    afl2 = (
        ab.join(
            F.broadcast(aflag),
            F.col("annotator") == F.col("flagged_annotator"),
        )
        .agg(
            F.max("bias").alias("flagged_bias"),
            F.max("z").alias("flagged_z"),
        )
    )
    psel = pos1.select(
        F.col("n").alias("pos_n"),
        F.col("win_rate").alias("pos1_win_rate"),
        F.col("expected_rate").alias("pos1_expected_rate"),
        F.col("z").alias("pos1_z"),
    )
    return (
        cnt.crossJoin(F.broadcast(top1))
        .crossJoin(F.broadcast(top2))
        .crossJoin(F.broadcast(psel))
        .crossJoin(F.broadcast(trans))
        .crossJoin(F.broadcast(aflag))
        .crossJoin(F.broadcast(afl2))
        .select(
            "n_judgments",
            "top_item",
            "top_strength",
            "pos_n",
            "pos1_win_rate",
            "pos1_expected_rate",
            "pos1_z",
            "n_triples",
            "n_cyclic",
            "violation_rate",
            "flagged_annotator",
            "flagged_bias",
            "flagged_z",
            F.when(
                F.col("pos1_z").isNotNull()
                & F.col("flagged_annotator").isNotNull(),
                (
                    (F.col("flagged_annotator") == 0)
                    & (F.col("pos1_z") > 0)
                    & (F.col("top_item") == 0)
                ).cast("int"),
            ).alias("bias_detected"),
        )
    )


_SQL_PREF_E2E = f"""
WITH j AS MATERIALIZED (
  SELECT user_id % 5 AS an, event_id % 7 AS f, (event_id // 9) % 7 AS s,
         CASE WHEN user_id % 5 = 0 THEN event_id % 7
              WHEN event_id % 3 < 2
                THEN least(event_id % 7, (event_id // 9) % 7)
              ELSE greatest(event_id % 7, (event_id // 9) % 7) END AS w
  FROM {_EV}
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
    AND event_id % 7 <> (event_id // 9) % 7
), comp AS MATERIALIZED (
  SELECT an, f, s, w, f + s - w AS l FROM j
), pairs AS MATERIALIZED (
  SELECT least(w, l) AS ia, greatest(w, l) AS ib,
         count(*)::BIGINT AS n_total,
         count(CASE WHEN w = least(w, l) THEN 1 END)::BIGINT AS wins_a
  FROM comp GROUP BY 1, 2
), items AS MATERIALIZED (
  SELECT item, sum(n)::BIGINT AS n_comparisons, sum(wn)::BIGINT AS wins
  FROM (
    SELECT ia AS item, n_total AS n, wins_a AS wn FROM pairs
    UNION ALL
    SELECT ib AS item, n_total AS n, n_total - wins_a AS wn FROM pairs
  ) GROUP BY item
), s0 AS (SELECT item, 1.0::DOUBLE AS strength FROM items),
{_bt_round_sql('s0', 's1')},
{_bt_round_sql('s1', 's2')},
{_bt_round_sql('s2', 's3')},
fitted AS MATERIALIZED (
  SELECT item, {qround_sql('strength', 6)} AS strength FROM s3
), cnt AS (SELECT count(*)::BIGINT AS n_judgments FROM comp),
top1 AS (SELECT max(strength) AS top_strength FROM fitted),
top2 AS (
  SELECT min(item)::BIGINT AS top_item
  FROM fitted, top1 WHERE strength = top_strength
), pj AS (
  SELECT c.w, c.f, sa.strength AS sf, sb.strength AS ss
  FROM comp c JOIN fitted sa ON sa.item = c.f
              JOIN fitted sb ON sb.item = c.s
), pagg AS (
  SELECT count(*)::BIGINT AS pos_n,
         count(CASE WHEN w = f THEN 1 END)::BIGINT AS pw1,
         sum(CASE WHEN sf + ss > 0 THEN sf / (sf + ss) ELSE 0.5 END) AS pe1,
         sum(CASE WHEN sf + ss > 0
                  THEN (sf / (sf + ss)) * (1.0 - sf / (sf + ss))
                  ELSE 0.25 END) AS pv
  FROM pj
), edges AS (
  SELECT ia, ib, CASE WHEN wins_a * 2 > n_total THEN 1
                      WHEN wins_a * 2 < n_total THEN 0 END AS d
  FROM pairs
), e AS (SELECT * FROM edges WHERE d IS NOT NULL),
tri AS (
  SELECT e1.d AS d1, e2.d AS d2, e3.d AS d3
  FROM e e1
  JOIN e e2 ON e2.ia = e1.ib
  JOIN e e3 ON e3.ia = e1.ia AND e3.ib = e2.ib
), tagg AS (
  SELECT count(*)::BIGINT AS n_triples,
         count(CASE WHEN (d1 = 1 AND d2 = 1 AND d3 = 0)
                      OR (d1 = 0 AND d2 = 0 AND d3 = 1)
                    THEN 1 END)::BIGINT AS n_cyclic
  FROM tri
), rated0 AS MATERIALIZED (
  SELECT an, f * 7 + s AS it, (w = f)::INT::DOUBLE AS y FROM comp
), istats AS MATERIALIZED (
  SELECT it, sum(y) AS sy, count(*) AS cy FROM rated0 GROUP BY 1
), rj AS (
  SELECT an, y, (sy - y) / (cy - 1)::DOUBLE AS p
  FROM rated0 JOIN istats USING (it) WHERE cy >= 2
), aper AS (
  SELECT an, count(*)::BIGINT AS n, avg(y) AS own, avg(p) AS cons,
         sum(y - p) AS bsum, sum(p * (1.0 - p)) AS v
  FROM rj GROUP BY 1
), afin AS MATERIALIZED (
  SELECT an, {qround_sql('own - cons', 6)} AS bias,
         {qround_sql('CASE WHEN v > 0 THEN bsum / sqrt(v) END', 6)} AS z
  FROM aper
), amax AS (SELECT max(z) AS max_z FROM afin),
aflag AS (
  SELECT min(an)::BIGINT AS flagged_annotator
  FROM afin, amax WHERE z = max_z
), afl2 AS (
  SELECT max(bias) AS flagged_bias, max(z) AS flagged_z
  FROM afin, aflag WHERE an = flagged_annotator
)
SELECT n_judgments, top_item, top_strength, pos_n,
       {qround_sql('CASE WHEN pos_n > 0 THEN pw1::DOUBLE / pos_n END', 6)}
         AS pos1_win_rate,
       {qround_sql('CASE WHEN pos_n > 0 THEN pe1 / pos_n END', 6)}
         AS pos1_expected_rate,
       {qround_sql(
           'CASE WHEN pv > 0 THEN (pw1::DOUBLE - pe1) / sqrt(pv) END', 6)}
         AS pos1_z,
       n_triples, n_cyclic,
       {qround_sql(
           'CASE WHEN n_triples > 0 THEN n_cyclic::DOUBLE / n_triples END',
           6)} AS violation_rate,
       flagged_annotator, flagged_bias, flagged_z,
       CASE WHEN {qround_sql(
           'CASE WHEN pv > 0 THEN (pw1::DOUBLE - pe1) / sqrt(pv) END', 6)}
              IS NOT NULL
             AND flagged_annotator IS NOT NULL
            THEN (flagged_annotator = 0
                  AND {qround_sql(
                      'CASE WHEN pv > 0 THEN (pw1::DOUBLE - pe1)'
                      ' / sqrt(pv) END', 6)} > 0
                  AND top_item = 0)::INT END AS bias_detected
FROM cnt, top1, top2, pagg, tagg, aflag, afl2
"""


# ---------------------------------------------------------------------------
# round 12: the ETD pipeline spine as ONE driver contract — the engine's
# namesake workload (reference README.md:157-297 "from 5-minute household
# data to project aggregates", tests/test_total_imputation_workflow.py:24-152):
# combine -> impute (all rule masks + clamp) -> calculated columns ->
# resample 5min->60min (min-count gate) -> project agg (60% gate) -> rollup
# ---------------------------------------------------------------------------

def q_etd_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own end-to-end spine as the fifth composite
    contract: household series (the q_impute_rule_chain synthesis, but
    with 4 projects) → impute_columns (rules 1-7 + threshold clamp,
    impute.py) → add_calculated_columns (the real coalesce-0
    energy-balance operator, calculated.py:15, via registry renames:
    VDiff→NetgebruikHoog, VOldDiff→TerugleveringHoog, VDiff_avg→Zonopwek)
    → resample 60min with an explicit min-count gate (resample.py:27;
    the synthetic cadence is ~1-2 events/house/hour, so min_count=2
    exercises both gate branches) → 60%-gated project aggregation
    (aggregate.py:55) → one hashable rollup row per project carrying
    impute telemetry (n_imputed, bit_or of ImputeType) and the gated
    aggregate fingerprints. Any drift in any stage moves a column.
    Plan audit: PLANS.md "etd_pipeline_e2e"."""
    from etdtransform_spark.operators.aggregate import min_count_aggregate
    from etdtransform_spark.operators.calculated import add_calculated_columns
    from etdtransform_spark.operators.impute import impute_columns
    from etdtransform_spark.operators.resample import resample

    base = _etd_household_series(_t(spark, sf_dir, "events"), project_mod=4)
    imp = impute_columns(base, ["V"], {"VDiff": {"Min": 0.0, "Max": 300.0}})
    # STAGE BOUNDARY: the imputed frame feeds TWO consumers (telemetry
    # rollup + the calculated/resample/aggregate chain) — without a
    # materialization each would re-run the full gap-stats window stack
    # from the scan. Same discipline as llm_pipeline_e2e. qround pins the
    # stage outputs bit-identical across engines before they re-aggregate.
    imp = imp.select(
        "ProjectIdBSV",
        "HuisIdBSV",
        "ReadingDate",
        qround(F.col("VDiff"), 6).alias("VDiff"),
        qround(F.col("VOldDiff"), 6).alias("VOldDiff"),
        "VDiff_avg",
        F.col("VDiff_is_imputed").alias("_imp"),
        F.col("VDiff_impute_type").cast("bigint").alias("_itype"),
    ).localCheckpoint(eager=False)
    tel = imp.groupBy("ProjectIdBSV").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("_imp").cast("bigint")).cast("bigint").alias("n_imputed"),
        F.bit_or(F.coalesce(F.col("_itype"), F.lit(0)))
        .cast("bigint")
        .alias("impute_types"),
    )
    wide = imp.select(
        "ProjectIdBSV",
        "HuisIdBSV",
        "ReadingDate",
        F.col("VDiff").alias("ElektriciteitNetgebruikHoogDiff"),
        F.col("VOldDiff").alias("ElektriciteitTerugleveringHoogDiff"),
        F.col("VDiff_avg").alias("Zon-opwekTotaalDiff"),
    )
    calc = add_calculated_columns(wide).select(
        "ProjectIdBSV",
        "HuisIdBSV",
        "ReadingDate",
        F.col("ElektriciteitNetgebruikHoogDiff").alias("VDiff"),
        "Netuitwisseling",
        "ElektriciteitsgebruikTotaalBruto",
    )
    res = resample(
        calc,
        "60min",
        group_cols=["ProjectIdBSV", "HuisIdBSV"],
        variables={
            "VDiff": "sum",
            "Netuitwisseling": "sum",
            "ElektriciteitsgebruikTotaalBruto": "sum",
        },
        min_count=2,
    ).select(
        "ProjectIdBSV",
        "ReadingDate",
        qround(F.col("VDiff"), 6).alias("VDiff"),
        qround(F.col("Netuitwisseling"), 6).alias("Netuitwisseling"),
        qround(F.col("ElektriciteitsgebruikTotaalBruto"), 6).alias(
            "ElektriciteitsgebruikTotaalBruto"
        ),
    )
    proj = min_count_aggregate(
        res,
        ["ProjectIdBSV", "ReadingDate"],
        {
            "VDiff": "avg",
            "Netuitwisseling": "avg",
            "ElektriciteitsgebruikTotaalBruto": "avg",
        },
    ).select(
        "ProjectIdBSV",
        qround(F.col("VDiff"), 6).alias("pv"),
        qround(F.col("Netuitwisseling"), 6).alias("pn"),
        qround(F.col("ElektriciteitsgebruikTotaalBruto"), 6).alias("pb"),
        "n",
    )
    roll = proj.groupBy("ProjectIdBSV").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.count("pv").cast("bigint").alias("n_gated"),
        F.sum("n").cast("bigint").alias("house_buckets"),
        qround(F.sum("pv"), 4).alias("sum_avg_vdiff"),
        qround(F.sum("pn"), 4).alias("sum_avg_netuit"),
        qround(F.sum("pb"), 4).alias("sum_avg_bruto"),
    )
    return roll.join(tel, "ProjectIdBSV").select(
        F.col("ProjectIdBSV").cast("bigint").alias("project_id"),
        "n_rows",
        "n_imputed",
        "impute_types",
        "n_buckets",
        "n_gated",
        "house_buckets",
        "sum_avg_vdiff",
        "sum_avg_netuit",
        "sum_avg_bruto",
    )


_SQL_ETD_E2E = f"""
WITH {_IMPUTE_CHAIN_CTES}, imputed AS MATERIALIZED (
  SELECT pid, user_id, ts,
         {qround_sql('CASE WHEN oob THEN a ELSE nd0 END', 6)} AS vdiff,
         {qround_sql('d', 6)} AS olddiff,
         a,
         CASE WHEN oob THEN true ELSE imputed_value IS NOT NULL END AS is_imp,
         CASE WHEN oob THEN coalesce(rule_type, 0) | 128
              ELSE rule_type END AS itype
  FROM clamped
), tel AS (
  SELECT pid, count(*)::BIGINT AS n_rows,
         sum(is_imp::INT)::BIGINT AS n_imputed,
         bit_or(coalesce(itype, 0))::BIGINT AS impute_types
  FROM imputed GROUP BY 1
), calcd AS (
  -- add_calculated_columns with NetgebruikHoog=vdiff,
  -- TerugleveringHoog=olddiff, ZonopwekBruto=a, all other sensors 0:
  -- Netuitwisseling = c0(vdiff) - c0(olddiff);
  -- TotaalBruto = c0(vdiff) + (c0(a) - c0(olddiff))
  SELECT pid, user_id, ts, vdiff,
         coalesce(vdiff, 0.0) - coalesce(olddiff, 0.0) AS netuit,
         coalesce(vdiff, 0.0) + coalesce(a, 0.0) - coalesce(olddiff, 0.0)
           AS bruto
  FROM imputed
), res AS (
  SELECT pid, user_id, time_bucket(INTERVAL '60 minutes', ts) AS bstart,
         {qround_sql('CASE WHEN count(vdiff) >= 2 THEN sum(vdiff) END', 6)}
           AS rv,
         {qround_sql('CASE WHEN count(netuit) >= 2 THEN sum(netuit) END', 6)}
           AS rn,
         {qround_sql('CASE WHEN count(bruto) >= 2 THEN sum(bruto) END', 6)}
           AS rb
  FROM calcd GROUP BY 1, 2, 3
), proj AS (
  SELECT pid, bstart,
         {qround_sql(
             'CASE WHEN count(rv) >= count(*) * 0.6 '
             'THEN sum(rv) / count(rv) END', 6)} AS pv,
         {qround_sql(
             'CASE WHEN count(rn) >= count(*) * 0.6 '
             'THEN sum(rn) / count(rn) END', 6)} AS pn,
         {qround_sql(
             'CASE WHEN count(rb) >= count(*) * 0.6 '
             'THEN sum(rb) / count(rb) END', 6)} AS pb,
         count(*)::BIGINT AS n
  FROM res GROUP BY 1, 2
), roll AS (
  SELECT pid, count(*)::BIGINT AS n_buckets, count(pv)::BIGINT AS n_gated,
         sum(n)::BIGINT AS house_buckets,
         {qround_sql('sum(pv)', 4)} AS sum_avg_vdiff,
         {qround_sql('sum(pn)', 4)} AS sum_avg_netuit,
         {qround_sql('sum(pb)', 4)} AS sum_avg_bruto
  FROM proj GROUP BY 1
)
SELECT r.pid::BIGINT AS project_id, t.n_rows, t.n_imputed, t.impute_types,
       r.n_buckets, r.n_gated, r.house_buckets,
       r.sum_avg_vdiff, r.sum_avg_netuit, r.sum_avg_bruto
FROM roll r JOIN tel t ON r.pid = t.pid
"""


# ---------------------------------------------------------------------------
# round 12: survival inference, data-quality audit, agreement, diversity,
# and diversity-aware re-ranking
# ---------------------------------------------------------------------------

def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank survival test (operators/funnel.py:
    log_rank_test): duration = value, event = purchase (others
    right-censored, the kaplan_meier synthesis), groups = user_id
    parity. ONE pooled duration-keyed aggregate + the distinct-duration
    prefix windows; one row out."""
    from etdtransform_spark.operators.funnel import log_rank_test

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    lr = ev.select(
        F.col("value").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
        (F.col("user_id") % 2).alias("grp"),
    )
    return log_rank_test(lr, "duration", "event", "grp", 0, 1)


_SQL_LOG_RANK = f"""
WITH base AS (
  SELECT value::DOUBLE AS t, (event_type = 'purchase')::INT AS e,
         (user_id % 2 = 0)::INT AS a
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
    AND event_type IS NOT NULL AND user_id IS NOT NULL
    -- mirror the engine's isin([0, 1]) group membership: a NEGATIVE odd
    -- user_id has user_id % 2 = -1 and is excluded, not classed as b
    AND user_id % 2 IN (0, 1)
), per_t AS (
  SELECT t, count(*)::BIGINT AS c, sum(e)::BIGINT AS d,
         sum(a)::BIGINT AS ca, sum(a * e)::BIGINT AS da
  FROM base GROUP BY 1
), risked AS (
  SELECT *, (sum(c) OVER wd)::BIGINT AS n, (sum(ca) OVER wd)::BIGINT AS na
  FROM per_t
  WINDOW wd AS (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
), agg AS (
  SELECT sum(ca)::BIGINT AS n_a, (sum(c) - sum(ca))::BIGINT AS n_b,
         sum(da)::BIGINT AS events_a, (sum(d) - sum(da))::BIGINT AS events_b,
         sum(CASE WHEN d > 0 THEN
               da::DOUBLE - d::DOUBLE * (na::DOUBLE / n::DOUBLE) END) AS ome,
         sum(CASE WHEN d > 0 THEN
               CASE WHEN n > 1 THEN
                 d::DOUBLE * (na::DOUBLE / n::DOUBLE)
                   * (1.0 - (na::DOUBLE / n::DOUBLE))
                   * (n::DOUBLE - d::DOUBLE) / (n::DOUBLE - 1.0)
               ELSE 0.0 END END) AS v
  FROM risked
)
SELECT coalesce(n_a, 0)::BIGINT AS n_a, coalesce(n_b, 0)::BIGINT AS n_b,
       coalesce(events_a, 0)::BIGINT AS events_a,
       coalesce(events_b, 0)::BIGINT AS events_b,
       {qround_sql('ome', 6)} AS observed_minus_expected,
       {qround_sql('v', 6)} AS variance,
       {qround_sql('CASE WHEN v > 0 THEN ome * ome / v END', 6)} AS chi2
FROM agg
"""


def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate Cox proportional-hazards fit (operators/funnel.py:
    cox_ph): duration = value, event = purchase (the kaplan_meier
    synthesis), covariate x = ((user_id % 10) − 4.5)/3. Three unrolled
    Breslow-partial-likelihood Newton steps; model state a broadcast
    1-row β frame; one row out."""
    from etdtransform_spark.operators.funnel import cox_ph

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    d = ev.select(
        F.col("value").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
        (((F.col("user_id") % 10) - 4.5) / 3.0).alias("x"),
    )
    return cox_ph(d, "duration", "event", "x", steps=3)


def _sql_cox_step(i: int, prev: str) -> str:
    """One Newton step of the Breslow partial likelihood as DuckDB CTEs:
    per-duration sufficient statistics at the previous step's β, suffix
    risk-set sums, and the updated β (fail-closed when I ≤ 0)."""
    return f"""
, pt{i} AS (
  SELECT t, max(b) AS ob, sum(e)::BIGINT AS d, sum(e * x) AS sxe,
         sum(exp(b * x)) AS w0, sum(exp(b * x) * x) AS w1,
         sum(exp(b * x) * x * x) AS w2
  FROM cbase, {prev} GROUP BY t
), rk{i} AS (
  SELECT *, sum(w0) OVER wd AS s0, sum(w1) OVER wd AS s1,
         sum(w2) OVER wd AS s2
  FROM pt{i}
  WINDOW wd AS (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
), b{i} AS MATERIALIZED (
  SELECT CASE WHEN i_ > 0 THEN ob + u_ / i_ END AS b FROM (
    SELECT max(ob) AS ob,
           sum(CASE WHEN d > 0 THEN sxe - d * (s1 / s0) END) AS u_,
           sum(CASE WHEN d > 0
                    THEN d * (s2 / s0 - (s1 / s0) * (s1 / s0)) END) AS i_
    FROM rk{i})
)"""


def _sql_cox_ph(steps: int = 3) -> str:
    head = f"""
WITH cbase AS MATERIALIZED (
  SELECT value::DOUBLE AS t, (event_type = 'purchase')::INT AS e,
         ((user_id % 10) - 4.5) / 3.0 AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
    AND event_type IS NOT NULL AND user_id IS NOT NULL
), b0 AS (SELECT 0.0::DOUBLE AS b)"""
    body = "".join(
        _sql_cox_step(i, f"b{i - 1}") for i in range(1, steps + 1)
    )
    tail = f"""
, ptf AS (
  SELECT t, max(b) AS ob, sum(e)::BIGINT AS d,
         sum(exp(b * x)) AS w0, sum(exp(b * x) * x) AS w1,
         sum(exp(b * x) * x * x) AS w2
  FROM cbase, b{steps} GROUP BY t
), rkf AS (
  SELECT *, sum(w0) OVER wd AS s0, sum(w1) OVER wd AS s1,
         sum(w2) OVER wd AS s2
  FROM ptf
  WINDOW wd AS (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
), fin AS (
  SELECT max(ob) AS b,
         sum(CASE WHEN d > 0
                  THEN d * (s2 / s0 - (s1 / s0) * (s1 / s0)) END) AS i_
  FROM rkf
), cnt AS (
  SELECT count(*)::BIGINT AS n, coalesce(sum(e), 0)::BIGINT AS n_events
  FROM cbase
)
SELECT n, n_events,
       {qround_sql('b', 6)} AS beta,
       {qround_sql('exp(b)', 6)} AS hazard_ratio,
       {qround_sql('CASE WHEN i_ > 0 THEN 1.0 / sqrt(i_) END', 6)}
         AS se_beta,
       {qround_sql('b * sqrt(CASE WHEN i_ > 0 THEN i_ END)', 6)} AS z
FROM cnt, fin
"""
    return head + body + tail


_SQL_COX_PH = _sql_cox_ph(3)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice
    (operators/profile.py:benford_deviation): 1-ulp-robust digit
    extraction, 9-row scaffolded output with per-digit chi2 terms."""
    from etdtransform_spark.operators.profile import benford_deviation

    return benford_deviation(_t(spark, sf_dir, "orders"), "o_totalprice")


_SQL_BENFORD = f"""
WITH base AS (
  SELECT abs(o_totalprice::DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice::DOUBLE)
    AND abs(o_totalprice::DOUBLE) > 0
    AND abs(o_totalprice::DOUBLE) < 'infinity'::DOUBLE
), dig AS (
  SELECT least(greatest(
           floor(CASE WHEN m < 1.0 THEN m * 10.0
                      WHEN m >= 10.0 THEN m / 10.0
                      ELSE m END)::INT, 1), 9) AS digit
  FROM (SELECT x, x / pow(10.0, floor(log10(x))) AS m FROM base)
), counts AS (SELECT digit, count(*)::BIGINT AS n FROM dig GROUP BY 1),
grid AS (SELECT unnest(generate_series(1, 9)) AS digit),
tot AS (SELECT sum(n) AS nt FROM counts)
SELECT g.digit::BIGINT AS digit, coalesce(c.n, 0)::BIGINT AS n,
       {qround_sql(
           'CASE WHEN nt > 0 THEN coalesce(c.n, 0)::DOUBLE / nt::DOUBLE '
           'END', 6)} AS share,
       {qround_sql('log10(1.0 + 1.0 / g.digit::DOUBLE)', 6)}
         AS expected_share,
       {qround_sql(
           'CASE WHEN nt > 0 THEN nt::DOUBLE'
           ' * (coalesce(c.n, 0)::DOUBLE / nt::DOUBLE'
           '    - log10(1.0 + 1.0 / g.digit::DOUBLE))'
           ' * (coalesce(c.n, 0)::DOUBLE / nt::DOUBLE'
           '    - log10(1.0 + 1.0 / g.digit::DOUBLE))'
           ' / log10(1.0 + 1.0 / g.digit::DOUBLE) END', 6)} AS chi2_term
FROM grid g LEFT JOIN counts c USING (digit) CROSS JOIN tot
"""


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinct-1/distinct-2 generation-diversity ratios
    (operators/text.py:distinct_ngrams) — all in-row, zero shuffles."""
    from etdtransform_spark.operators.text import distinct_ngrams

    return distinct_ngrams(_t(spark, sf_dir, "documents"))


_SQL_DISTINCT_NGRAMS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, len(t)::BIGINT AS n_tokens,
       len(list_distinct(t))::BIGINT AS distinct_1,
       greatest(len(t) - 1, 0)::BIGINT AS n_bigrams,
       len(list_distinct([t[i] || chr(31) || t[i + 1]
                          FOR i IN generate_series(1, len(t) - 1)]))::BIGINT
         AS distinct_2,
       floor((CASE WHEN len(t) > 0 THEN len(list_distinct(t))::DOUBLE
                   / len(t)::DOUBLE END) * 1000000.0 + 0.5) / 1000000.0
         AS distinct1_ratio,
       floor((CASE WHEN len(t) - 1 > 0 THEN
                len(list_distinct([t[i] || chr(31) || t[i + 1]
                     FOR i IN generate_series(1, len(t) - 1)]))::DOUBLE
                / (len(t) - 1)::DOUBLE END) * 1000000.0 + 0.5) / 1000000.0
         AS distinct2_ratio
FROM toks
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over a synthetic fixed-3-rater panel
    (operators/evaluation.py:fleiss_kappa): item = event_id % 200 for
    event_id < 600 (dense ids → exactly 3 judgments/item on clean
    corpora; NULL-degraded corpora exercise the ragged-item drop),
    label = event_type."""
    from etdtransform_spark.operators.evaluation import fleiss_kappa

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    j = ev.select(
        (F.col("event_id") % 200).alias("item"),
        F.col("event_type").alias("label"),
    )
    return fleiss_kappa(j, "item", "label", n_raters=3)


_SQL_FLEISS = f"""
WITH j AS (
  SELECT event_id % 200 AS i, event_type AS c
  FROM {_EV}
  WHERE event_id IS NOT NULL AND event_id < 600 AND event_type IS NOT NULL
), cells AS (
  SELECT i, c, count(*)::BIGINT AS n FROM j GROUP BY 1, 2
), per_item AS (
  SELECT i, sum(n)::BIGINT AS ki, sum(n * n)::BIGINT AS sq
  FROM cells GROUP BY 1
), kept AS (SELECT * FROM per_item WHERE ki = 3),
istats AS (
  SELECT count(*)::BIGINT AS n_items,
         avg((sq::DOUBLE - 3.0) / 6.0) AS pbar
  FROM kept
), dropped AS (
  SELECT count(*)::BIGINT AS n_items_dropped FROM per_item WHERE ki <> 3
), ct AS (
  SELECT c, sum(n)::BIGINT AS nc FROM cells JOIN kept USING (i) GROUP BY 1
), pe_t AS (
  SELECT sum(pow(nc::DOUBLE / (n_items::DOUBLE * 3.0), 2)) AS pe
  FROM ct CROSS JOIN istats
)
SELECT n_items, n_items_dropped, 3::BIGINT AS n_raters,
       {qround_sql('CASE WHEN n_items > 0 THEN pbar END', 6)} AS p_bar,
       {qround_sql('CASE WHEN n_items > 0 THEN pe END', 6)} AS p_e,
       {qround_sql(
           'CASE WHEN n_items > 0 AND pe < 1.0 '
           'THEN (pbar - pe) / (1.0 - pe) END', 6)} AS kappa
FROM istats CROSS JOIN dropped CROSS JOIN pe_t
"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/ranking.py:mmr_rerank) of the
    cosine top-8 pool for the first 10 query vectors (pinned pools —
    constant cost at any sf), k=3, λ=0.7. Round-before-rank MMR scores,
    id tiebreaks."""
    from etdtransform_spark.operators.ranking import mmr_rerank
    from etdtransform_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    queries = emb.filter(F.col("vec_id") < 10)
    cands = cosine_topk(queries, emb, k=8)
    return mmr_rerank(cands, emb, k=3, lambda_=0.7)


_MMR_LAM = 0.7
_MMR_OM = 1.0 - _MMR_LAM  # 0.30000000000000004 — repr round-trips the bits

_SQL_MMR = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_r6(_COS_SQL)} AS rel
  FROM {_EMB} a JOIN {_EMB} b
    ON a.vec_id < 10 AND b.vec_id < 1000 AND a.vec_id <> b.vec_id
), cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= 8
), candv AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id, e.embedding AS v
  FROM cand c JOIN (SELECT * FROM {_EMB} WHERE vec_id < 1000) e
    ON e.vec_id = c.neighbor_id
), sim AS MATERIALIZED (
  SELECT x.query_id, x.neighbor_id AS ca, y.neighbor_id AS cb,
         {_r6(_cos_sql_of("x.v", "y.v"))} AS s
  FROM candv x JOIN candv y
    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
), sc1 AS (
  SELECT query_id, neighbor_id, rel,
         {qround_sql(f'{_MMR_LAM!r}::DOUBLE * rel'
                     f' - {_MMR_OM!r}::DOUBLE * 0.0', 6)} AS mmr
  FROM cand
), sel1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, neighbor_id) AS rn
    FROM sc1) WHERE rn = 1
), rem2 AS (
  SELECT c.* FROM cand c LEFT JOIN sel1 s
    ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
  WHERE s.neighbor_id IS NULL
), ms2 AS (
  SELECT m.query_id, m.ca AS neighbor_id, max(m.s) AS ms
  FROM sim m JOIN sel1 s
    ON m.query_id = s.query_id AND m.cb = s.neighbor_id
  GROUP BY 1, 2
), sc2 AS (
  SELECT r.query_id, r.neighbor_id, r.rel,
         {qround_sql(f'{_MMR_LAM!r}::DOUBLE * r.rel'
                     f' - {_MMR_OM!r}::DOUBLE * coalesce(m.ms, 0.0)', 6)}
           AS mmr
  FROM rem2 r LEFT JOIN ms2 m
    ON r.query_id = m.query_id AND r.neighbor_id = m.neighbor_id
), sel2 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, neighbor_id) AS rn
    FROM sc2) WHERE rn = 1
), sel12 AS MATERIALIZED (
  SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
), rem3 AS (
  SELECT c.* FROM cand c LEFT JOIN sel12 s
    ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
  WHERE s.neighbor_id IS NULL
), ms3 AS (
  SELECT m.query_id, m.ca AS neighbor_id, max(m.s) AS ms
  FROM sim m JOIN sel12 s
    ON m.query_id = s.query_id AND m.cb = s.neighbor_id
  GROUP BY 1, 2
), sc3 AS (
  SELECT r.query_id, r.neighbor_id, r.rel,
         {qround_sql(f'{_MMR_LAM!r}::DOUBLE * r.rel'
                     f' - {_MMR_OM!r}::DOUBLE * coalesce(m.ms, 0.0)', 6)}
           AS mmr
  FROM rem3 r LEFT JOIN ms3 m
    ON r.query_id = m.query_id AND r.neighbor_id = m.neighbor_id
), sel3 AS (
  SELECT query_id, neighbor_id, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, neighbor_id) AS rn
    FROM sc3) WHERE rn = 1
)
SELECT query_id, neighbor_id, 1::BIGINT AS mmr_rank,
       {qround_sql('rel', 6)} AS relevance, mmr AS mmr_score FROM sel1
UNION ALL
SELECT query_id, neighbor_id, 2::BIGINT, {qround_sql('rel', 6)}, mmr
FROM sel2
UNION ALL
SELECT query_id, neighbor_id, 3::BIGINT, {qround_sql('rel', 6)}, mmr
FROM sel3
"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 difference-in-differences (operators/stats.py:diff_in_diff):
    treated = user_id parity, post = day-of-month > 15. ONE cell
    sufficient-statistics aggregate; singleton/absent cells fail the
    se/estimate closed."""
    from etdtransform_spark.operators.stats import diff_in_diff

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.col("value").alias("y"),
        (F.col("user_id") % 2).cast("int").alias("t"),
        (F.dayofmonth("ts") > 15).cast("int").alias("p"),
    )
    return diff_in_diff(d, "y", "t", "p")


_SQL_DID = f"""
WITH base AS (
  SELECT (user_id % 2)::INT AS t, (day(ts) > 15)::INT AS p,
         value::DOUBLE AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND user_id IS NOT NULL
), cells AS (
  SELECT t, p, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
  FROM base GROUP BY 1, 2
), agg AS (
  SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS n_cells,
         max(CASE WHEN t = 1 AND p = 1 THEN sx / n::DOUBLE END) AS m11,
         max(CASE WHEN t = 1 AND p = 0 THEN sx / n::DOUBLE END) AS m10,
         max(CASE WHEN t = 0 AND p = 1 THEN sx / n::DOUBLE END) AS m01,
         max(CASE WHEN t = 0 AND p = 0 THEN sx / n::DOUBLE END) AS m00,
         max(CASE WHEN t = 1 AND p = 1 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v11,
         max(CASE WHEN t = 1 AND p = 0 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v10,
         max(CASE WHEN t = 0 AND p = 1 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v01,
         max(CASE WHEN t = 0 AND p = 0 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v00
  FROM cells
)
SELECT coalesce(n, 0)::BIGINT AS n, n_cells,
       {qround_sql('m11', 6)} AS mean_t_post,
       {qround_sql('m10', 6)} AS mean_t_pre,
       {qround_sql('m01', 6)} AS mean_c_post,
       {qround_sql('m00', 6)} AS mean_c_pre,
       {qround_sql(
           'CASE WHEN n_cells = 4 THEN (m11 - m10) - (m01 - m00) END',
           6)} AS did,
       {qround_sql(
           'CASE WHEN n_cells = 4 AND v11 + v10 + v01 + v00 >= 0 '
           'THEN sqrt(v11 + v10 + v01 + v00) END', 6)} AS se_did
FROM agg
"""


def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study DID (operators/stats.py:event_study): treated =
    user_id parity, period = day-of-month, adoption at day 16, base
    period day 15 (rel −1). One β per relative day; pre-period βs are
    the pre-trend check. ONE (rel, treated) sufficient-statistics
    aggregate + a broadcast base-cell row."""
    from etdtransform_spark.operators.stats import event_study

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.col("value").alias("y"),
        (F.col("user_id") % 2).cast("int").alias("t"),
        F.dayofmonth("ts").alias("p"),
    )
    return event_study(d, "y", "t", "p", event_period=16)


_SQL_EVENT_STUDY = f"""
WITH base AS (
  SELECT (day(ts) - 16)::BIGINT AS rel, (user_id % 2)::INT AS t,
         value::DOUBLE AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND user_id IS NOT NULL
), cells AS (
  SELECT rel, t, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
  FROM base GROUP BY 1, 2
), pr AS (
  SELECT rel,
         max(CASE WHEN t = 1 THEN n END)::BIGINT AS n1,
         max(CASE WHEN t = 0 THEN n END)::BIGINT AS n0,
         max(CASE WHEN t = 1 THEN sx / n::DOUBLE END) AS m1,
         max(CASE WHEN t = 0 THEN sx / n::DOUBLE END) AS m0,
         max(CASE WHEN t = 1 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v1,
         max(CASE WHEN t = 0 THEN (CASE WHEN n > 1 THEN
           (sxx - sx * (sx / n::DOUBLE)) / (n::DOUBLE - 1.0) END)
           / n::DOUBLE END) AS v0
  FROM cells GROUP BY 1
), br AS (
  SELECT max(m1) AS mb1, max(m0) AS mb0, max(v1) AS vb1, max(v0) AS vb0
  FROM pr WHERE rel = -1
)
SELECT rel AS rel_period, (rel < 0)::INT AS is_pre,
       coalesce(n1, 0)::BIGINT AS n_treated,
       coalesce(n0, 0)::BIGINT AS n_control,
       {qround_sql('m1', 6)} AS mean_treated,
       {qround_sql('m0', 6)} AS mean_control,
       {qround_sql(
           'CASE WHEN rel = -1 THEN 0.0::DOUBLE '
           'ELSE (m1 - m0) - (mb1 - mb0) END', 6)} AS beta,
       {qround_sql(
           'CASE WHEN rel <> -1 AND v1 + v0 + vb1 + vb0 >= 0 '
           'THEN sqrt(v1 + v0 + vb1 + vb0) END', 6)} AS se_beta
FROM pr, br
"""


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page CUSUM per event_type series (operators/stats.py:cusum_drift,
    target 50, slack 5, threshold 300): the recursion is computed with
    the exact prefix identity C+ = S − min(0, running-min S) — two
    cumulative windows per key, no iteration."""
    from etdtransform_spark.operators.stats import cusum_drift

    ev = _t(spark, sf_dir, "events")
    return cusum_drift(
        ev.select("event_type", "ts", "event_id", "value"),
        "value",
        target=50.0,
        slack=5.0,
        threshold=300.0,
        keys=("event_type",),
        order_cols=("ts", "event_id"),
    )


_SQL_CUSUM_DRIFT = f"""
WITH base AS (
  SELECT event_type, ts, event_id, value::DOUBLE AS x
  FROM {_EV} WHERE value IS NOT NULL AND NOT isnan(value)
), pre AS (
  SELECT event_type,
         sum(x - 50.0 - 5.0) OVER wk AS sp,
         sum(x - 50.0 + 5.0) OVER wk AS sn,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS idx
  FROM base
  WINDOW wk AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
), cs AS (
  SELECT event_type, idx,
         sp - least(min(sp) OVER wk, 0.0) AS cp,
         greatest(max(sn) OVER wk, 0.0) - sn AS cn
  FROM pre
  WINDOW wk AS (PARTITION BY event_type ORDER BY idx
                ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, count(*)::BIGINT AS n,
       {qround_sql('max(cp)', 6)} AS max_cusum_pos,
       {qround_sql('max(cn)', 6)} AS max_cusum_neg,
       max((cp > 300.0 OR cn > 300.0)::INT) AS alarm,
       min(CASE WHEN cp > 300.0 OR cn > 300.0 THEN idx END)::BIGINT
         AS first_alarm_idx
FROM cs GROUP BY 1
"""


def q_hazard_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-model hazard ratio between the user-parity groups
    (operators/funnel.py:hazard_ratio) on the log_rank synthesis —
    ONE sufficient-statistics aggregate, no per-time bookkeeping."""
    from etdtransform_spark.operators.funnel import hazard_ratio

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    lr = ev.select(
        F.col("value").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
        (F.col("user_id") % 2).alias("grp"),
    )
    return hazard_ratio(lr, "duration", "event", "grp", 0, 1)


_SQL_HAZARD_RATIO = f"""
WITH base AS (
  SELECT value::DOUBLE AS t, (event_type = 'purchase')::INT AS e,
         (user_id % 2 = 0)::INT AS a
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
    AND event_type IS NOT NULL AND user_id IS NOT NULL
    AND user_id % 2 IN (0, 1)
), agg AS (
  SELECT sum(a)::BIGINT AS n_a, (count(*) - sum(a))::BIGINT AS n_b,
         sum(a * e)::BIGINT AS events_a,
         (sum(e) - sum(a * e))::BIGINT AS events_b,
         sum(a * t) AS ta, (sum(t) - sum(a * t)) AS tb
  FROM base
)
SELECT coalesce(n_a, 0)::BIGINT AS n_a, coalesce(n_b, 0)::BIGINT AS n_b,
       coalesce(events_a, 0)::BIGINT AS events_a,
       coalesce(events_b, 0)::BIGINT AS events_b,
       {qround_sql('ta', 6)} AS time_a,
       {qround_sql('tb', 6)} AS time_b,
       {qround_sql(
           'CASE WHEN events_a > 0 AND events_b > 0 AND ta > 0 '
           'AND tb > 0 THEN (events_a::DOUBLE / ta)'
           ' / (events_b::DOUBLE / tb) END', 6)} AS hazard_ratio,
       {qround_sql(
           'CASE WHEN events_a > 0 AND events_b > 0 AND ta > 0 '
           'AND tb > 0 THEN sqrt(1.0 / events_a::DOUBLE'
           ' + 1.0 / events_b::DOUBLE) END', 6)} AS ln_hr_se,
       {qround_sql(
           'CASE WHEN events_a > 0 AND events_b > 0 AND ta > 0 '
           'AND tb > 0 THEN exp(ln((events_a::DOUBLE / ta)'
           ' / (events_b::DOUBLE / tb)) - 1.96 * sqrt(1.0'
           ' / events_a::DOUBLE + 1.0 / events_b::DOUBLE)) END', 6)}
         AS hr_ci_low,
       {qround_sql(
           'CASE WHEN events_a > 0 AND events_b > 0 AND ta > 0 '
           'AND tb > 0 THEN exp(ln((events_a::DOUBLE / ta)'
           ' / (events_b::DOUBLE / tb)) + 1.96 * sqrt(1.0'
           ' / events_a::DOUBLE + 1.0 / events_b::DOUBLE)) END', 6)}
         AS hr_ci_high
FROM agg
"""


def q_theil_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T + Atkinson(ε=1) inequality indices of o_totalprice
    (operators/stats.py:theil_atkinson) — ONE sufficient-statistics
    aggregate, no sort/window (cheaper than gini at scale)."""
    from etdtransform_spark.operators.stats import theil_atkinson

    return theil_atkinson(_t(spark, sf_dir, "orders"), "o_totalprice")


_SQL_THEIL = f"""
WITH base AS (
  SELECT o_totalprice::DOUBLE AS x,
         (o_totalprice::DOUBLE <= 0)::BIGINT AS np
  FROM orders
  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice::DOUBLE)
), agg AS (
  SELECT count(*)::BIGINT AS n, sum(np)::BIGINT AS n_nonpositive,
         count(CASE WHEN np = 0 THEN 1 END)::BIGINT AS npn,
         sum(CASE WHEN np = 0 THEN x END) AS sx,
         sum(CASE WHEN np = 0 THEN x * ln(x) END) AS sxlx,
         sum(CASE WHEN np = 0 THEN ln(x) END) AS slx
  FROM base
)
SELECT coalesce(n, 0)::BIGINT AS n,
       coalesce(n_nonpositive, 0)::BIGINT AS n_nonpositive,
       {qround_sql('CASE WHEN npn > 0 THEN sx / npn::DOUBLE END', 6)}
         AS mean,
       {qround_sql(
           'CASE WHEN npn > 0 THEN sxlx'
           ' / (npn::DOUBLE * (sx / npn::DOUBLE))'
           ' - ln(sx / npn::DOUBLE) END', 6)} AS theil_t,
       {qround_sql(
           'CASE WHEN npn > 0 THEN 1.0 - exp(slx / npn::DOUBLE'
           ' - ln(sx / npn::DOUBLE)) END', 6)} AS atkinson
FROM agg
"""


def q_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate logistic regression, 3 unrolled Newton-IRLS steps
    (operators/stats.py:logistic_irls): P(purchase) ~ σ(b0 + b1·value/100).
    Model state is a broadcast 1-row frame — a lazy chain of 3
    aggregates, nothing collected (the kmeans/bradley_terry
    discipline)."""
    from etdtransform_spark.operators.stats import logistic_irls

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    d = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("value") / 100.0).alias("x"),
    )
    return logistic_irls(d, "y", "x", steps=3)


def _sql_logistic_step(prev: str, out: str) -> str:
    """One unrolled IRLS step: sufficient statistics at the previous β,
    then the closed-form 2×2 Newton update (fail-closed on det ≤ 0)."""
    return f"""a_{out} AS MATERIALIZED (
  SELECT max(q.b0) AS ob0, max(q.b1) AS ob1,
         sum(q.p * (1.0 - q.p)) AS s0,
         sum(q.p * (1.0 - q.p) * q.x) AS s1,
         sum(q.p * (1.0 - q.p) * q.x * q.x) AS s2,
         sum(q.y::DOUBLE - q.p) AS g0,
         sum((q.y::DOUBLE - q.p) * q.x) AS g1
  FROM (SELECT d.x, d.y, b.b0, b.b1,
               1.0 / (1.0 + exp(-(b.b0 + b.b1 * d.x))) AS p
        FROM base d CROSS JOIN {prev} b) q
), {out} AS MATERIALIZED (
  SELECT CASE WHEN s0 * s2 - s1 * s1 > 0 THEN
           ob0 + (s2 * g0 - s1 * g1) / (s0 * s2 - s1 * s1) END AS b0,
         CASE WHEN s0 * s2 - s1 * s1 > 0 THEN
           ob1 + (s0 * g1 - s1 * g0) / (s0 * s2 - s1 * s1) END AS b1
  FROM a_{out}
)"""


_SQL_LOGISTIC = f"""
WITH base AS MATERIALIZED (
  SELECT (event_type = 'purchase')::INT AS y, value::DOUBLE / 100.0 AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE / 100.0)
    AND event_type IS NOT NULL
), b0c AS (SELECT 0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1),
{_sql_logistic_step('b0c', 'b1c')},
{_sql_logistic_step('b1c', 'b2c')},
{_sql_logistic_step('b2c', 'b3c')}
SELECT count(q.x)::BIGINT AS n, coalesce(sum(q.y), 0)::BIGINT AS n_pos,
       {qround_sql('max(q.b0)', 6)} AS b0,
       {qround_sql('max(q.b1)', 6)} AS b1,
       {qround_sql(
           '-avg(q.y::DOUBLE * ln(q.p)'
           ' + (1.0 - q.y::DOUBLE) * ln(1.0 - q.p))', 6)} AS log_loss
FROM (SELECT d.x, d.y, b.b0, b.b1,
             1.0 / (1.0 + exp(-(b.b0 + b.b1 * d.x))) AS p
      FROM base d CROSS JOIN b3c b) q
"""


def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM alarm (streaming/cusum_stream.py): the Page
    detector as a stateful stream — eight scalars of state per key,
    vectorized numpy per micro-batch, update-mode summaries; the latest
    row per key must equal the batch cusum_drift answer (streaming is a
    deployment mode, not a different answer — same oracle)."""
    import uuid

    from etdtransform_spark.streaming.cusum_stream import streaming_cusum

    stream = (
        _stream_events(spark, sf_dir)
        .filter(F.col("value").isNotNull() & ~F.isnan(F.col("value")))
        .select("event_type", "ts", "event_id", "value")
    )
    out = streaming_cusum(
        stream, "value", target=50.0, slack=5.0, threshold=300.0
    )
    name = f"stream_cusum_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    sink = spark.table(name)
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "n",
            qround(F.col("max_cusum_pos"), 6).alias("max_cusum_pos"),
            qround(F.col("max_cusum_neg"), 6).alias("max_cusum_neg"),
            "alarm",
            "first_alarm_idx",
        )
    )


def q_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 + Good-Turing unseen-vocabulary estimators over documents
    (operators/corpus.py:vocabulary_richness): ONE term-count aggregate
    then ONE histogram aggregate — the 'how much vocabulary is left'
    companion of vocab_growth."""
    from etdtransform_spark.operators.corpus import vocabulary_richness

    return vocabulary_richness(_t(spark, sf_dir, "documents"))


_SQL_VOCAB_RICHNESS = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), counts AS (
  SELECT term, count(*)::BIGINT AS c FROM toks GROUP BY 1
), agg AS (
  SELECT coalesce(sum(c), 0)::BIGINT AS n_tokens,
         count(*)::BIGINT AS n_types,
         coalesce(sum((c = 1)::BIGINT), 0)::BIGINT AS f1,
         coalesce(sum((c = 2)::BIGINT), 0)::BIGINT AS f2
  FROM counts
)
SELECT n_tokens, n_types, f1, f2,
       floor((CASE WHEN n_types > 0 THEN
           CASE WHEN f2 > 0 THEN n_types::DOUBLE
                  + f1::DOUBLE * f1::DOUBLE / (2.0 * f2::DOUBLE)
                ELSE n_types::DOUBLE
                  + f1::DOUBLE * (f1::DOUBLE - 1.0) / 2.0 END
         END) * 1000000.0 + 0.5) / 1000000.0 AS chao1,
       floor((CASE WHEN n_tokens > 0 THEN f1::DOUBLE / n_tokens::DOUBLE
         END) * 1000000.0 + 0.5) / 1000000.0 AS good_turing_unseen
FROM agg
"""


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE (operators/stats.py:ipw_ate):
    outcome = value, treatment = purchase/signup events, covariate =
    user_id decile. Propensity fit = the 3-step unrolled Newton-IRLS
    (shared _logistic_beta), Hajek self-normalized effect, [0.01, 0.99]
    overlap clipping; naive difference reported alongside."""
    from etdtransform_spark.operators.stats import ipw_ate

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    d = ev.select(
        F.col("value").alias("y"),
        F.col("event_type").isin("purchase", "signup").cast("int").alias("t"),
        ((F.col("user_id") % 10).cast("double") / 10.0).alias("x"),
    )
    return ipw_ate(d, "y", "t", "x", steps=3)


_SQL_IPW_ATE = f"""
WITH raw AS MATERIALIZED (
  SELECT value::DOUBLE AS yv,
         (event_type IN ('purchase', 'signup'))::INT AS t,
         (user_id % 10)::DOUBLE / 10.0 AS x
  FROM {_EV}
  WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
    AND event_type IS NOT NULL
    AND user_id IS NOT NULL
    AND NOT isnan((user_id % 10)::DOUBLE / 10.0)
), base AS MATERIALIZED (
  SELECT t AS y, x FROM raw
), b0c AS (SELECT 0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1),
{_sql_logistic_step('b0c', 'b1c')},
{_sql_logistic_step('b1c', 'b2c')},
{_sql_logistic_step('b2c', 'b3c')},
scored AS (
  SELECT q.yv, q.t::DOUBLE AS tt, q.b0, q.b1,
         CASE WHEN q.eraw IS NOT NULL
              THEN least(greatest(q.eraw, 0.01), 0.99) END AS e
  FROM (SELECT r.yv, r.t, b.b0, b.b1,
               1.0 / (1.0 + exp(-(b.b0 + b.b1 * r.x))) AS eraw
        FROM raw r CROSS JOIN b3c b) q
), agg AS (
  SELECT count(*)::BIGINT AS n,
         coalesce(sum(tt), 0.0)::BIGINT AS n_treated,
         max(b0) AS fb0, max(b1) AS fb1,
         sum(tt / e) AS w1, sum(tt * yv / e) AS wy1,
         sum((1.0 - tt) / (1.0 - e)) AS w0,
         sum((1.0 - tt) * yv / (1.0 - e)) AS wy0,
         sum(tt * yv) AS ty, sum((1.0 - tt) * yv) AS cy,
         sum(1.0 - tt) AS nc
  FROM scored
)
SELECT n, n_treated,
       {qround_sql('fb0', 6)} AS b0, {qround_sql('fb1', 6)} AS b1,
       {qround_sql('CASE WHEN w1 > 0 THEN wy1 / w1 END', 6)}
         AS mean_treated_ipw,
       {qround_sql('CASE WHEN w0 > 0 THEN wy0 / w0 END', 6)}
         AS mean_control_ipw,
       {qround_sql(
           '(CASE WHEN w1 > 0 THEN wy1 / w1 END)'
           ' - (CASE WHEN w0 > 0 THEN wy0 / w0 END)', 6)} AS ate_ipw,
       {qround_sql(
           'CASE WHEN n_treated > 0 AND nc > 0 THEN'
           ' ty / n_treated::DOUBLE - cy / nc END', 6)} AS ate_naive
FROM agg
"""


# ---------------------------------------------------------------------------
# round 13: the weather entry point as ONE driver contract — the last
# reference entry point not yet hash-checked as a chain (load_data.py:103-317
# get_weather_data_table + join_weather_data): KNMI-style hourly ingest →
# Gevoelstemperatuur (knmi.py:77-98) → per-station trailing rolling average
# with a min_periods gate → coldest-trailing-window marking
# (calculated_columns.py:429-482 via load_data.py:129-141) → ISO-week
# aggregates (load_data.py:176-199) → rank/top-2 coldest ISO weeks
# (load_data.py:204-243) → 3-key (STN, YYYYMMDD, HH) fact join
# (load_data.py:281-317) → per-week rollup.
# ---------------------------------------------------------------------------

def q_weather_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weather entry point end-to-end as the sixth composite
    contract. Events stand in for the KNMI hourly file: STN = user_id % 3,
    hourly Temperatuur = avg(value)/10 per (STN, YYYYMMDD, HH) — KNMI raw
    temperature is in 0.1 °C and hourly, load_data.py:34-96 — with wind and
    humidity derived deterministically from the keys (same synthesis as the
    green q_gevoelstemperatuur contract). The rolling window is the scaled
    analogue of the reference's 14*24-row / 7*24-min_periods trailing mean
    (load_data.py:122-128): 48 rows, min_periods 24, so the 30-day corpus
    exercises both the gated-NULL head and the marked coldest period.
    Deviations from the reference, by design: floor() instead of a
    float→int cast for days_in_week (Spark truncates, DuckDB rounds — floor
    is the cross-engine-deterministic choice) and the (iso-week, chronology)
    tiebreak in the rank windows (the repo-wide total-order discipline; the
    reference's stable pandas sort has the same chronology-decides behavior).
    The reference's commented-out 7-day-week filter (load_data.py:201) is
    likewise omitted. Every stage pins its floats with qround before
    re-aggregation. Plan audit: PLANS.md "weather_pipeline_e2e"."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    keyed = ev.select(
        (F.col("user_id") % 3).cast("bigint").alias("stn"),
        yyyymmdd_key(F.col("ts")).cast("bigint").alias("yyyymmdd"),
        hh_key(F.col("ts")).cast("bigint").alias("hh"),
        "value",
    )
    hourly = keyed.groupBy("stn", "yyyymmdd", "hh").agg(
        qround(F.avg("value"), 1).alias("t_raw")
    )
    t = F.col("t_raw") / F.lit(10.0)
    wind = (F.col("hh") % 10).cast("double") / F.lit(2.0)
    hum = ((F.col("yyyymmdd") % 50) + 30).cast("double")
    derived = hourly.withColumns(
        {
            "temperatuur": qround(t, 6),
            "gevoel": qround(gevoelstemperatuur(t, wind, hum), 6),
        }
    )
    # trailing rolling mean with min_periods gate (windows.py:52 semantics,
    # inlined with qround so the avg is pinned before the argmin equality)
    w = Window.partitionBy("stn").orderBy("yyyymmdd", "hh")
    wr = w.rowsBetween(-47, Window.currentRow)
    ra = derived.withColumns(
        {
            "t_ra": qround(
                F.when(
                    F.count("temperatuur").over(wr) >= 24,
                    F.avg("temperatuur").over(wr),
                ),
                6,
            ),
            "g_ra": qround(
                F.when(
                    F.count("gevoel").over(wr) >= 24, F.avg("gevoel").over(wr)
                ),
                6,
            ),
        }
    )
    # coldest trailing window per station (mark_extreme_period, periods.py:84:
    # a row is in the period iff a rolling-average argmin anchor exists
    # within the 48 rows starting at it) — on the qrounded RA, so the
    # equality is exact on both engines
    wstn = Window.partitionBy("stn")
    reach = w.rowsBetween(Window.currentRow, 47)
    d_col = F.to_date(F.col("yyyymmdd").cast("string"), "yyyyMMdd")
    marked = (
        ra.withColumns(
            {
                "_min_t": F.min("t_ra").over(wstn),
                "_min_g": F.min("g_ra").over(wstn),
            }
        )
        .withColumns(
            {
                "_is_min_t": (F.col("t_ra") == F.col("_min_t")).cast("int"),
                "_is_min_g": (F.col("g_ra") == F.col("_min_g")).cast("int"),
            }
        )
        .withColumns(
            {
                "cold2wk_t": F.coalesce(
                    F.max("_is_min_t").over(reach) == 1, F.lit(False)
                ).cast("int"),
                "cold2wk_g": F.coalesce(
                    F.max("_is_min_g").over(reach) == 1, F.lit(False)
                ).cast("int"),
                # the reference keys weekly summaries by CALENDAR year +
                # ISO week (load_data.py:170-178) — kept verbatim
                "year": F.year(d_col).cast("bigint"),
                "week_of_year": F.weekofyear(d_col).cast("bigint"),
            }
        )
        .drop("_min_t", "_min_g", "_is_min_t", "_is_min_g")
    )
    # STAGE BOUNDARY: the marked hourly weather table feeds TWO consumers
    # (the weekly summary/rank chain and the fact join) — without a
    # materialization each re-runs the full window stack from the scan.
    marked = marked.localCheckpoint(eager=False)
    weekly = marked.groupBy("stn", "year", "week_of_year").agg(
        qround(F.avg("temperatuur"), 6).alias("weekly_avg_temp"),
        qround(F.avg("gevoel"), 6).alias("weekly_avg_gevoel"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.floor(F.count(F.lit(1)) / 24.0).cast("bigint").alias("days_in_week"),
        F.count("t_ra").cast("bigint").alias("n_ra_hours"),
        F.sum("cold2wk_t").cast("bigint").alias("n_cold2wk_hours"),
    )
    wt = Window.partitionBy("stn", "year").orderBy(
        F.col("weekly_avg_temp").asc_nulls_last(), "week_of_year"
    )
    wg = Window.partitionBy("stn", "year").orderBy(
        F.col("weekly_avg_gevoel").asc_nulls_last(), "week_of_year"
    )
    flags = weekly.withColumns(
        {
            "is_coldest_temp": (
                (F.row_number().over(wt) <= 2)
                & F.col("weekly_avg_temp").isNotNull()
            ).cast("int"),
            "is_coldest_gevoel": (
                (F.row_number().over(wg) <= 2)
                & F.col("weekly_avg_gevoel").isNotNull()
            ).cast("int"),
        }
    )
    # 3-key fact join (load_data.py:300-317): the weather table is small by
    # construction (stations × hours), so the fact side never shuffles
    fact = keyed.join(
        F.broadcast(
            marked.select(
                "stn", "yyyymmdd", "hh", "gevoel", "cold2wk_t", "year",
                "week_of_year",
            )
        ),
        ["stn", "yyyymmdd", "hh"],
        "left",
    )
    fact_wk = fact.groupBy("stn", "year", "week_of_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        qround(F.avg("value"), 6).alias("avg_event_value"),
        qround(F.avg("gevoel"), 6).alias("avg_gevoel_at_event"),
        F.sum("cold2wk_t").cast("bigint").alias("n_cold_events"),
    )
    # week-grain ⟕ week-grain: both sides are bounded by stations × weeks —
    # broadcast the fact rollup so the tail of the plan stays shuffle-free
    return flags.join(
        F.broadcast(fact_wk), ["stn", "year", "week_of_year"], "left"
    ).select(
        "stn",
        "year",
        "week_of_year",
        "weekly_avg_temp",
        "weekly_avg_gevoel",
        "n_hours",
        "days_in_week",
        "n_ra_hours",
        "n_cold2wk_hours",
        "is_coldest_temp",
        "is_coldest_gevoel",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        "avg_event_value",
        "avg_gevoel_at_event",
        F.coalesce("n_cold_events", F.lit(0))
        .cast("bigint")
        .alias("n_cold_events"),
    )


_GEVOEL_EXPR = (
    "t_raw/10.0 + 0.33 * ((((yyyymmdd % 50) + 30)::DOUBLE) * 6.105"
    " * exp(17.27 * (t_raw/10.0) / ((t_raw/10.0) + 237.7)) / 100)"
    " - 0.7 * (((hh % 10)::DOUBLE) / 2.0) - 4.0"
)

_SQL_WEATHER_E2E = f"""
WITH ev AS MATERIALIZED (
  SELECT (user_id % 3)::BIGINT AS stn,
         strftime(ts, '%Y%m%d')::BIGINT AS yyyymmdd,
         (hour(ts) + 1)::BIGINT AS hh, value
  FROM {_EV}
), hourly AS (
  SELECT stn, yyyymmdd, hh, {qround_sql('avg(value)', 1)} AS t_raw
  FROM ev GROUP BY 1, 2, 3
), derived AS (
  SELECT stn, yyyymmdd, hh,
         {qround_sql('t_raw/10.0', 6)} AS temperatuur,
         {qround_sql(_GEVOEL_EXPR, 6)} AS gevoel
  FROM hourly
), ra AS (
  SELECT *,
    {qround_sql(
        'CASE WHEN count(temperatuur) OVER wr >= 24'
        ' THEN avg(temperatuur) OVER wr END', 6)} AS t_ra,
    {qround_sql(
        'CASE WHEN count(gevoel) OVER wr >= 24'
        ' THEN avg(gevoel) OVER wr END', 6)} AS g_ra
  FROM derived
  WINDOW wr AS (PARTITION BY stn ORDER BY yyyymmdd, hh
                ROWS BETWEEN 47 PRECEDING AND CURRENT ROW)
), marked AS MATERIALIZED (
  SELECT stn, yyyymmdd, hh, temperatuur, gevoel, t_ra, g_ra,
    coalesce((max(CASE WHEN t_ra = min_t THEN 1 END) OVER reach) = 1,
             false)::INT AS cold2wk_t,
    coalesce((max(CASE WHEN g_ra = min_g THEN 1 END) OVER reach) = 1,
             false)::INT AS cold2wk_g,
    year(d)::BIGINT AS year, weekofyear(d)::BIGINT AS week_of_year
  FROM (SELECT *, min(t_ra) OVER (PARTITION BY stn) AS min_t,
               min(g_ra) OVER (PARTITION BY stn) AS min_g,
               strptime(yyyymmdd::VARCHAR, '%Y%m%d')::DATE AS d
        FROM ra)
  WINDOW reach AS (PARTITION BY stn ORDER BY yyyymmdd, hh
                   ROWS BETWEEN CURRENT ROW AND 47 FOLLOWING)
), weekly AS (
  SELECT stn, year, week_of_year,
         {qround_sql('avg(temperatuur)', 6)} AS weekly_avg_temp,
         {qround_sql('avg(gevoel)', 6)} AS weekly_avg_gevoel,
         count(*)::BIGINT AS n_hours,
         floor(count(*) / 24.0)::BIGINT AS days_in_week,
         count(t_ra)::BIGINT AS n_ra_hours,
         sum(cold2wk_t)::BIGINT AS n_cold2wk_hours
  FROM marked GROUP BY 1, 2, 3
), flags AS (
  SELECT *,
    (row_number() OVER wt <= 2 AND weekly_avg_temp IS NOT NULL)::INT
      AS is_coldest_temp,
    (row_number() OVER wg <= 2 AND weekly_avg_gevoel IS NOT NULL)::INT
      AS is_coldest_gevoel
  FROM weekly
  WINDOW wt AS (PARTITION BY stn, year
                ORDER BY weekly_avg_temp ASC NULLS LAST, week_of_year),
         wg AS (PARTITION BY stn, year
                ORDER BY weekly_avg_gevoel ASC NULLS LAST, week_of_year)
), factj AS (
  SELECT e.stn, m.year, m.week_of_year, e.value, m.gevoel, m.cold2wk_t
  FROM ev e LEFT JOIN marked m
    ON e.stn = m.stn AND e.yyyymmdd = m.yyyymmdd AND e.hh = m.hh
), fact_wk AS (
  SELECT stn, year, week_of_year,
         count(*)::BIGINT AS n_events,
         {qround_sql('avg(value)', 6)} AS avg_event_value,
         {qround_sql('avg(gevoel)', 6)} AS avg_gevoel_at_event,
         sum(cold2wk_t)::BIGINT AS n_cold_events
  FROM factj GROUP BY 1, 2, 3
)
SELECT f.stn, f.year, f.week_of_year, weekly_avg_temp, weekly_avg_gevoel,
       n_hours, days_in_week, n_ra_hours, n_cold2wk_hours,
       is_coldest_temp, is_coldest_gevoel,
       coalesce(n_events, 0)::BIGINT AS n_events,
       avg_event_value, avg_gevoel_at_event,
       coalesce(n_cold_events, 0)::BIGINT AS n_cold_events
FROM flags f LEFT JOIN fact_wk w
  ON f.stn = w.stn AND f.year = w.year AND f.week_of_year = w.week_of_year
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_multi_join_revenue(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver check window (first 50 keys): rotated by
        # scripts/rotate_window.py — reds first, then never-checked ---
        "dsir_weights": q_dsir_weights,
        "dsir_weights_sampled": q_dsir_weights_sampled,
        "pmi_collocations": q_pmi_collocations,
        "duplicate_spans": q_duplicate_spans,
        "remove_duplicate_spans": q_remove_duplicate_spans,
        "minhash_lsh": q_minhash_lsh,
        "dedup_resolve": q_dedup_resolve,
        "dedup_resolve_best": q_dedup_resolve_best,
        "boilerplate_lines": q_boilerplate_lines,
        "exclusive_problem_supplier": q_exclusive_problem_supplier,
        "customer_hierarchy": q_customer_hierarchy,
        "pagerank": q_pagerank,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "position_bias": q_position_bias,
        "preference_pipeline_e2e": q_preference_pipeline_e2e,
        "llm_pipeline_e2e": q_llm_pipeline_e2e,
        "semantic_dedup_sampled": q_semantic_dedup_sampled,
        "semantic_dedup_pruned": q_semantic_dedup_pruned,
        "dedup_exact": q_dedup_exact,
        "contamination": q_contamination,
        "ngram_jaccard": q_ngram_jaccard,
        "semantic_dedup": q_semantic_dedup,
        "kmeans_centroids": q_kmeans_centroids,
        "kmeans_assign_recall": q_kmeans_assign_recall,
        "containment_pairs": q_containment_pairs,
        "frame_sample": q_frame_sample,
        "quantize_embeddings": q_quantize_embeddings,
        "streaming_sliding": q_streaming_sliding,
        "window_rank_family": q_window_rank_family,
        "funnel": q_funnel,
        "retention": q_retention,
        "validate_columns": q_validate_columns,
        "ols_regression": q_ols_regression,
        "histogram": q_histogram,
        "unpivot_events": q_unpivot_events,
        "zscore_outliers": q_zscore_outliers,
        "weighted_sample": q_weighted_sample,
        "classification_report_multi": q_classification_report_multi,
        "classification_summary_multi": q_classification_summary_multi,
        "streaming_elo": q_streaming_elo,
        "streaming_position_bias_daily": q_streaming_position_bias_daily,
        "streaming_cls_monitor_daily": q_streaming_cls_monitor_daily,
        "transitivity_violations": q_transitivity_violations,
        "annotator_bias": q_annotator_bias,
        "fairness_audit": q_fairness_audit,
        "fairness_gaps": q_fairness_gaps,
        "label_noise": q_label_noise,
        "top_label_calibration": q_top_label_calibration,
        # --- beyond the window: previously green or queued;
        # all guarded by tests/oracle_harness.py --strict ---
        "time_grid": q_time_grid,
        "interpolate_gaps": q_interpolate_gaps,
        "ewma": q_ewma,
        "quantile_iqr": q_quantile_iqr,
        "cube_events": q_cube_events,
        "latest_snapshot": q_latest_snapshot,
        "set_ops": q_set_ops,
        "full_outer_activity": q_full_outer_activity,
        "mad_outliers": q_mad_outliers,
        "unigram_logprob": q_unigram_logprob,
        "repetition_ratio": q_repetition_ratio,
        "edit_distance_pairs": q_edit_distance_pairs,
        "argmin_join": q_argmin_join,
        "revenue_share": q_revenue_share,
        "above_avg_customers": q_above_avg_customers,
        "sessionize": q_sessionize,
        "impute_linear_fill": q_impute_linear_fill,
        "range_join": q_range_join,
        "salted_agg": q_salted_agg,
        "salted_join": q_salted_join,
        "hll_intersection": q_hll_intersection,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "zorder_roundtrip": q_zorder_roundtrip,
        "dim_grid": q_dim_grid,
        "union_evolved": q_union_evolved,
        "rolling_time_window": q_rolling_time_window,
        "impute_date_stats": q_impute_date_stats,
        "leakage_split": q_leakage_split,
        "priority_shipping": q_priority_shipping,
        "profile_table": q_profile_table,
        "grouping_sets": q_grouping_sets,
        "streaming_enrich": q_streaming_enrich,
        "streaming_interval_join": q_streaming_interval_join,
        "merge_intervals": q_merge_intervals,
        "scd2_history": q_scd2_history,
        "snapshot_diff": q_snapshot_diff,
        "overlap_join": q_overlap_join,
        "roc_curve": q_roc_curve,
        "pr_curve": q_pr_curve,
        "fairness_auc": q_fairness_auc,
        "fairness_auc_gap": q_fairness_auc_gap,
        "regression_report": q_regression_report,
        "regression_deciles": q_regression_deciles,
        "transitivity_sampled": q_transitivity_sampled,
        "best_threshold": q_best_threshold,
        "spearman_corr": q_spearman_corr,
        "streaming_reg_monitor_daily": q_streaming_reg_monitor_daily,
        "prob_scores": q_prob_scores,
        "mcnemar": q_mcnemar,
        "regression_by_cohort": q_regression_by_cohort,
        "seasonal_decompose": q_seasonal_decompose,
        "roc_curve_thinned": q_roc_curve_thinned,
        "time_weighted_avg": q_time_weighted_avg,
        "skew_profile": q_skew_profile,
        "average_precision": q_average_precision,
        "cumulative_distinct": q_cumulative_distinct,
        "group_mode": q_group_mode,
        "transition_matrix": q_transition_matrix,
        "expectations_report": q_expectations_report,
        "time_to_conversion": q_time_to_conversion,
        "vocab_growth": q_vocab_growth,
        "streaming_stateful_agg": q_streaming_stateful_agg,
        "gopher_gate": q_gopher_gate,
        "incremental_dedup": q_incremental_dedup,
        "rolling_median": q_rolling_median,
        "seasonal_residuals": q_seasonal_residuals,
        "load_duration_curve": q_load_duration_curve,
        "topk_per_group": q_topk_per_group,
        "corr_matrix": q_corr_matrix,
        "quantile_bins": q_quantile_bins,
        "embedding_centroids": q_embedding_centroids,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "returned_item_customers": q_returned_item_customers,
        "large_volume_customers": q_large_volume_customers,
        "forecasted_revenue": q_forecasted_revenue,
        "order_priority_check": q_order_priority_check,
        "nation_volume_shipping": q_nation_volume_shipping,
        "market_share": q_market_share,
        "product_type_profit": q_product_type_profit,
        "important_part_value": q_important_part_value,
        "script_profile": q_script_profile,
        "bootstrap_ci": q_bootstrap_ci,
        "isotonic_calibration": q_isotonic_calibration,
        "split_conformal": q_split_conformal,
        "cramers_v": q_cramers_v,
        "bh_fdr": q_bh_fdr,
        "embedding_covariance": q_embedding_covariance,
        "embedding_standardize": q_embedding_standardize,
        "embedding_energy": q_embedding_energy,
        "matryoshka_recall": q_matryoshka_recall,
        "cuped": q_cuped,
        "srm_check": q_srm_check,
        "zipf_fit": q_zipf_fit,
        "token_entropy": q_token_entropy,
        "t_closeness": q_t_closeness,
        "bucketed_join": q_bucketed_join,
        "mde_estimate": q_mde_estimate,
        "kfold_assign": q_kfold_assign,
        "streaming_srm_daily": q_streaming_srm_daily,
        "ndcg_per_query": q_ndcg_per_query,
        "ranking_summary": q_ranking_summary,
        "rbo_topk": q_rbo_topk,
        "qq_drift": q_qq_drift,
        "lorenz_curve": q_lorenz_curve,
        "join_key_health": q_join_key_health,
        "compaction_roundtrip": q_compaction_roundtrip,
        "weighted_stratified": q_weighted_stratified,
        "rouge_bigram": q_rouge_bigram,
        "eval_pipeline_e2e": q_eval_pipeline_e2e,
        "msprt": q_msprt,
        "adc_topk": q_adc_topk,
        "mg_frequent_items": q_mg_frequent_items,
        "embedding_decontaminate": q_embedding_decontaminate,
        "zorder_roundtrip_sampled": q_zorder_roundtrip_sampled,
        "customer_order_distribution": q_customer_order_distribution,
        "promo_revenue_share": q_promo_revenue_share,
        "top_supplier": q_top_supplier,
        "parts_supplier_count": q_parts_supplier_count,
        "small_quantity_revenue": q_small_quantity_revenue,
        "disjunctive_revenue": q_disjunctive_revenue,
        "excess_supply_suppliers": q_excess_supply_suppliers,
        "rebalance_mixture": q_rebalance_mixture,
        "weighted_median": q_weighted_median,
        "heavy_hitters": q_heavy_hitters,
        "entropy_divergence": q_entropy_divergence,
        "pareto_frontier": q_pareto_frontier,
        "period_over_period": q_period_over_period,
        "bm25_topk": q_bm25_topk,
        "rrf_fusion": q_rrf_fusion,
        "retrieval_rollout_e2e": q_retrieval_rollout_e2e,
        "nelson_aalen": q_nelson_aalen,
        "post_stratified_mean": q_post_stratified_mean,
        "funnel_conversion": q_funnel_conversion,
        "retention_cohorts": q_retention_cohorts,
        "kaplan_meier": q_kaplan_meier,
        "top_paths": q_top_paths,
        "delta_method_ratio": q_delta_method_ratio,
        "profile_drift": q_profile_drift,
        "centroid_shift": q_centroid_shift,
        "cooccurrence": q_cooccurrence,
        "touch_attribution": q_touch_attribution,
        "inverted_index": q_inverted_index,
        "incremental_agg": q_incremental_agg,
        "welch_ttest": q_welch_ttest,
        "chi_square": q_chi_square,
        "hist_quantile": q_hist_quantile,
        "triangle_count": q_triangle_count,
        "longest_streak": q_longest_streak,
        "streaming_hll_distinct": q_streaming_hll_distinct,
        "winsorize": q_winsorize,
        "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
        "session_paths": q_session_paths,
        "autocorrelation": q_autocorrelation,
        "cusum_changepoint": q_cusum_changepoint,
        "streaming_leaderboard": q_streaming_leaderboard,
        "quantile_normalize": q_quantile_normalize,
        "degree_days": q_degree_days,
        "weather_normalize": q_weather_normalize,
        "rolling_active_users": q_rolling_active_users,
        "gini_sources": q_gini_sources,
        "bigram_logprob": q_bigram_logprob,
        "ngram_novelty": q_ngram_novelty,
        "cross_source_dup": q_cross_source_dup,
        "per_source_cap": q_per_source_cap,
        "ks_drift_cohort": q_ks_drift_cohort,
        "mwu_drift": q_mwu_drift,
        "psi_drift_lang": q_psi_drift_lang,
        "psi_time_drift_daily": q_psi_time_drift_daily,
        "etd_pipeline_e2e": q_etd_pipeline_e2e,
        "log_rank": q_log_rank,
        "benford_deviation": q_benford,
        "distinct_ngrams": q_distinct_ngrams,
        "fleiss_kappa": q_fleiss_kappa,
        "mmr_rerank": q_mmr_rerank,
        "diff_in_diff": q_diff_in_diff,
        "cusum_drift": q_cusum_drift,
        "hazard_ratio": q_hazard_ratio,
        "theil_atkinson": q_theil_atkinson,
        "logistic_irls": q_logistic_irls,
        "streaming_cusum": q_streaming_cusum,
        "vocabulary_richness": q_vocabulary_richness,
        "ipw_ate": q_ipw_ate,
        "embedding_drift_labels": q_embedding_drift_labels,
        "expectations_thresholds": q_expectations_thresholds,
        "streaming_psi_daily": q_streaming_psi_daily,
        "k_anonymity_audit": q_k_anonymity_audit,
        "reid_risk_summary": q_reid_risk_summary,
        "bloom_semi_join": q_bloom_semi_join,
        "url_dedup_canonical": q_url_dedup,
        "scan_filter_project": q_scan_filter_project,
        "multi_join_revenue": q_multi_join_revenue,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "union_all": q_union_all,
        "pricing_summary": q_pricing_summary,
        "mincount_gated_agg": q_mincount_gated_agg,
        "distinct": q_distinct,
        "percentile_bounds": q_percentile_bounds,
        "window_lag_diff": q_window_lag_diff,
        "window_cumsum": q_window_cumsum,
        "window_ffill": q_window_ffill,
        "rolling_avg_gated": q_rolling_avg_gated,
        "iso_week_stats": q_iso_week_stats,
        "rank_topk_weeks": q_rank_topk_weeks,
        "resample_15min": q_resample_15min,
        "resample_hourly_multi": q_resample_hourly_multi,
        "gap_groups": q_gap_groups,
        "calculated_columns": q_calculated_columns,
        "weather_keys": q_weather_keys,
        "gevoelstemperatuur": q_gevoelstemperatuur,
        "json_extract": q_json_extract,
        "fingerprint": q_fingerprint,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "weather_pipeline_e2e": q_weather_pipeline_e2e,
        "event_study": q_event_study,
        "cox_ph": q_cox_ph,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "embedding_norms": q_embedding_norms,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "extreme_avg_period": q_extreme_avg_period,
        "mark_coldest_period": q_mark_coldest_period,
        "gelijktijdigheid": q_gelijktijdigheid,
        "normalized_datetime": q_normalized_datetime,
        "fasttext_quality_score": q_fasttext_quality_score,
        "calibration_bins": q_calibration_bins,
        "calibration_ece": q_calibration_ece,
        "annotator_kappa": q_annotator_kappa,
        "auc_roc": q_auc_roc,
        "classification_report": q_classification_report,
        "streaming_quality_daily": q_streaming_quality_daily,
        "bradley_terry": q_bradley_terry,
        "krippendorff_alpha": q_krippendorff_alpha,
        "multimodal_features": q_multimodal_features,
        "streaming_resample_15min": q_streaming_resample_15min,
        "ivf_topk": q_ivf_topk,
        "mark_peak_period": q_mark_peak_period,
        "coldest_weeks_join": q_coldest_weeks_join,
        "streaming_gap_detect": q_streaming_gap_detect,
        "impute_rule_chain": q_impute_rule_chain,
        "brand_supplier_revenue": q_brand_supplier_revenue,
        "hash_sample": q_hash_sample,
        "impute_summary": q_impute_summary,
        "bpe_token_counts": q_bpe_token_counts,
        "stratified_sample": q_stratified_sample,
        "streaming_dedup": q_streaming_dedup,
        "dedup_clusters": q_dedup_clusters,
        "asof_join": q_asof_join,
        "simhash_near_dup": q_simhash_near_dup,
        "topk_revenue": q_topk_revenue,
        "rollup_orders": q_rollup_orders,
        "pivot_events": q_pivot_events,
        "count_distinct": q_count_distinct,
        "sliding_window": q_sliding_window,
        "tfidf_top_terms": q_tfidf_top_terms,
        "streaming_sessionize": q_streaming_sessionize,
        "chunk_documents": q_chunk_documents,
        "pack_documents": q_pack_documents,
        "scrub_pii": q_scrub_pii,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kmeans_assign_recall": _sql_kmeans_recall(9, 3, 1, 5, 0.5),
        "llm_pipeline_e2e": _sql_llm_pipeline_e2e(),
        "scan_filter_project": _SQL_SCAN,
        "multi_join_revenue": _SQL_MULTI_JOIN,
        "semi_join": _SQL_SEMI_JOIN,
        "anti_join": _SQL_ANTI_JOIN,
        "union_all": _SQL_UNION_ALL,
        "pricing_summary": _SQL_PRICING,
        "mincount_gated_agg": _SQL_MINCOUNT,
        "distinct": _SQL_DISTINCT,
        "percentile_bounds": _SQL_PERCENTILE,
        "window_lag_diff": _SQL_LAG_DIFF,
        "window_cumsum": _SQL_CUMSUM,
        "window_ffill": _SQL_FFILL,
        "rolling_avg_gated": _SQL_ROLLING,
        "iso_week_stats": _SQL_ISO_WEEK,
        "rank_topk_weeks": _SQL_RANK_TOPK,
        "resample_15min": _SQL_RESAMPLE_15,
        "resample_hourly_multi": _SQL_RESAMPLE_HOURLY,
        "gap_groups": _SQL_GAP_GROUPS,
        "impute_linear_fill": _SQL_IMPUTE_LINEAR,
        "calculated_columns": _SQL_CALCULATED,
        "weather_keys": _SQL_WEATHER_KEYS,
        "gevoelstemperatuur": _SQL_GEVOEL,
        "json_extract": _SQL_JSON,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "fingerprint": _SQL_FINGERPRINT,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "minhash_signatures": _sql_minhash_sigs(),
        "minhash_lsh": _sql_minhash_lsh(),
        "simhash": _sql_simhash(),
        "lang_id": _sql_lang_id(),
        "text_quality": _SQL_QUALITY,
        "token_counts": _SQL_TOKEN_COUNTS,
        "fasttext_quality_score": _SQL_FASTTEXT_QUALITY,
        "calibration_bins": _SQL_CALIBRATION_BINS,
        "calibration_ece": _SQL_CALIBRATION_ECE,
        "annotator_kappa": _SQL_ANNOTATOR_KAPPA,
        "auc_roc": _SQL_AUC_ROC,
        "classification_report": _SQL_CLASSIFICATION_REPORT,
        "classification_report_multi": _SQL_CLASSIFICATION_REPORT_MULTI,
        "classification_summary_multi": _SQL_CLASSIFICATION_SUMMARY_MULTI,
        "streaming_quality_daily": _SQL_STREAMING_QUALITY,
        "streaming_elo": _SQL_STREAMING_ELO,
        "streaming_position_bias_daily": _SQL_STREAMING_POSITION_BIAS,
        "streaming_cls_monitor_daily": _SQL_STREAMING_CLS_MONITOR,
        "bradley_terry": _SQL_BRADLEY_TERRY,
        "position_bias": _SQL_POSITION_BIAS,
        "transitivity_violations": _SQL_TRANSITIVITY,
        "annotator_bias": _SQL_ANNOTATOR_BIAS,
        "fairness_audit": _SQL_FAIRNESS_AUDIT,
        "fairness_gaps": _SQL_FAIRNESS_GAPS,
        "label_noise": _SQL_LABEL_NOISE,
        "top_label_calibration": _SQL_TOP_LABEL_CALIBRATION,
        "roc_curve": _SQL_ROC_CURVE,
        "pr_curve": _SQL_PR_CURVE,
        "fairness_auc": _SQL_FAIRNESS_AUC,
        "fairness_auc_gap": _SQL_FAIRNESS_AUC_GAP,
        "regression_report": _SQL_REGRESSION_REPORT,
        "regression_deciles": _SQL_REGRESSION_DECILES,
        "semantic_dedup_pruned": _sql_semantic_dedup(16, 5, 10),
        "transitivity_sampled": _SQL_TRANSITIVITY_SAMPLED,
        "best_threshold": _SQL_BEST_THRESHOLD,
        "spearman_corr": _SQL_SPEARMAN,
        "streaming_reg_monitor_daily": _SQL_STREAMING_REG_MONITOR,
        "prob_scores": _SQL_PROB_SCORES,
        "mcnemar": _SQL_MCNEMAR,
        "regression_by_cohort": _SQL_REGRESSION_BY_COHORT,
        "seasonal_decompose": _SQL_SEASONAL_DECOMPOSE,
        "roc_curve_thinned": _SQL_ROC_CURVE_THINNED,
        "boilerplate_lines": _SQL_BOILERPLATE_LINES,
        "time_weighted_avg": _SQL_TIME_WEIGHTED_AVG,
        "skew_profile": _SQL_SKEW_PROFILE,
        "average_precision": _SQL_AVG_PRECISION,
        "bootstrap_ci": _sql_bootstrap_ci(),
        "isotonic_calibration": _SQL_ISOTONIC,
        "split_conformal": _SQL_CONFORMAL,
        "cramers_v": _SQL_CRAMERS_V,
        "bh_fdr": _SQL_BH_FDR,
        "embedding_covariance": _SQL_EMB_COVARIANCE,
        "embedding_standardize": _SQL_EMB_STANDARDIZE,
        "embedding_energy": _SQL_EMB_ENERGY,
        "matryoshka_recall": _SQL_MATRYOSHKA,
        "cuped": _SQL_CUPED,
        "srm_check": _sql_srm_check(),
        "zipf_fit": _SQL_ZIPF,
        "token_entropy": _SQL_TOKEN_ENTROPY,
        "t_closeness": _SQL_T_CLOSENESS,
        "bucketed_join": _SQL_BUCKETED_JOIN,
        "mde_estimate": _sql_mde_estimate(),
        "kfold_assign": _SQL_KFOLD,
        "streaming_srm_daily": _sql_streaming_srm(),
        "ndcg_per_query": _SQL_NDCG,
        "ranking_summary": _SQL_RANKING_SUMMARY,
        "rbo_topk": _sql_rbo_topk(),
        "qq_drift": _SQL_QQ_DRIFT,
        "lorenz_curve": _SQL_LORENZ,
        "join_key_health": _SQL_JOIN_KEY_HEALTH,
        "compaction_roundtrip": _SQL_COMPACTION,
        "weighted_stratified": _SQL_WEIGHTED_STRATIFIED,
        "rouge_bigram": _SQL_ROUGE,
        "eval_pipeline_e2e": _SQL_EVAL_E2E,
        "preference_pipeline_e2e": _SQL_PREF_E2E,
        "etd_pipeline_e2e": _SQL_ETD_E2E,
        "weather_pipeline_e2e": _SQL_WEATHER_E2E,
        "event_study": _SQL_EVENT_STUDY,
        "cox_ph": _SQL_COX_PH,
        "log_rank": _SQL_LOG_RANK,
        "benford_deviation": _SQL_BENFORD,
        "distinct_ngrams": _SQL_DISTINCT_NGRAMS,
        "fleiss_kappa": _SQL_FLEISS,
        "mmr_rerank": _SQL_MMR,
        "diff_in_diff": _SQL_DID,
        "cusum_drift": _SQL_CUSUM_DRIFT,
        "hazard_ratio": _SQL_HAZARD_RATIO,
        "theil_atkinson": _SQL_THEIL,
        "logistic_irls": _SQL_LOGISTIC,
        "streaming_cusum": _SQL_CUSUM_DRIFT,
        "vocabulary_richness": _SQL_VOCAB_RICHNESS,
        "ipw_ate": _SQL_IPW_ATE,
        "bm25_topk": _SQL_BM25,
        "rrf_fusion": _sql_rrf_fusion(),
        "retrieval_rollout_e2e": _sql_retrieval_rollout(),
        "nelson_aalen": _SQL_NELSON_AALEN,
        "post_stratified_mean": _SQL_POST_STRATIFIED,
        "funnel_conversion": _SQL_FUNNEL_CONV,
        "retention_cohorts": _SQL_RETENTION_COHORTS,
        "kaplan_meier": _SQL_KAPLAN_MEIER,
        "top_paths": _SQL_TOP_PATHS,
        "delta_method_ratio": _SQL_DELTA_RATIO,
        "profile_drift": _SQL_PROFILE_DRIFT,
        "centroid_shift": _SQL_CENTROID_SHIFT,
        "msprt": _sql_msprt(),
        "krippendorff_alpha": _SQL_KRIPPENDORFF,
        "embedding_norms": _SQL_EMB_NORMS,
        "cosine_topk": _SQL_COSINE_TOPK,
        "embedding_near_dup": _SQL_EMB_NEAR_DUP,
        "extreme_avg_period": _SQL_EXTREME_PERIOD,
        "mark_coldest_period": _SQL_MARK_COLDEST,
        "gelijktijdigheid": _SQL_GELIJKTIJDIGHEID,
        "normalized_datetime": _SQL_NORMALIZED_DT,
        "multimodal_features": _sql_multimodal(),
        "streaming_resample_15min": _SQL_STREAM_RESAMPLE,
        "ivf_topk": _SQL_IVF_TOPK,
        "impute_summary": _SQL_IMPUTE_SUMMARY,
        "mark_peak_period": _SQL_MARK_PEAK,
        "coldest_weeks_join": _SQL_COLDEST_JOIN,
        "streaming_gap_detect": _SQL_STREAM_GAPS,
        "impute_rule_chain": _SQL_IMPUTE_RULES,
        "brand_supplier_revenue": _SQL_BRAND_SUPPLIER,
        "sessionize": _SQL_SESSIONIZE,
        "hash_sample": _SQL_HASH_SAMPLE,
        "stratified_sample": _SQL_STRATIFIED,
        "streaming_dedup": _SQL_STREAM_DEDUP,
        "dedup_clusters": _sql_dedup_clusters(),
        "asof_join": _SQL_ASOF,
        "range_join": _SQL_RANGE_JOIN,
        "simhash_near_dup": _sql_simhash_near_dup(),
        "topk_revenue": _SQL_TOPK,
        "rollup_orders": _SQL_ROLLUP,
        "pivot_events": _SQL_PIVOT,
        "count_distinct": _SQL_COUNT_DISTINCT,
        "sliding_window": _SQL_SLIDING,
        "tfidf_top_terms": _sql_tfidf(),
        "streaming_sessionize": _SQL_STREAM_SESSIONIZE,
        "chunk_documents": _SQL_CHUNK,
        "pack_documents": _SQL_PACK,
        "scrub_pii": _sql_scrub(),
        "contamination": _sql_contamination(),
        "frame_sample": _SQL_FRAME_SAMPLE,
        "quantize_embeddings": _SQL_QUANTIZE,
        "streaming_sliding": _SQL_SLIDING,
        "window_rank_family": _SQL_RANK_FAMILY,
        "funnel": _SQL_FUNNEL,
        "retention": _SQL_RETENTION,
        "validate_columns": _SQL_VALIDATE,
        "ols_regression": _SQL_OLS,
        "histogram": _SQL_HISTOGRAM,
        "unpivot_events": _SQL_UNPIVOT,
        "zscore_outliers": _SQL_ZSCORE,
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "time_grid": _SQL_TIME_GRID,
        "interpolate_gaps": _SQL_INTERPOLATE,
        "ewma": _SQL_EWMA,
        "quantile_iqr": _SQL_QUANTILE,
        "cube_events": _SQL_CUBE,
        "latest_snapshot": _SQL_LATEST,
        "set_ops": _SQL_SET_OPS,
        "full_outer_activity": _SQL_FULL_OUTER,
        "mad_outliers": _SQL_MAD,
        "unigram_logprob": _SQL_UNIGRAM,
        "repetition_ratio": _SQL_REPETITION,
        "edit_distance_pairs": _SQL_EDIT_PAIRS,
        "argmin_join": _SQL_ARGMIN,
        "revenue_share": _SQL_REVENUE_SHARE,
        "above_avg_customers": _SQL_ABOVE_AVG,
        "dim_grid": _SQL_DIM_GRID,
        "grouping_sets": _SQL_GROUPING_SETS,
        "streaming_enrich": _SQL_STREAM_ENRICH,
        "streaming_interval_join": _SQL_STREAM_IJ,
        "merge_intervals": _SQL_MERGE_INTERVALS,
        "scd2_history": _SQL_SCD2,
        "snapshot_diff": _SQL_SNAPSHOT_DIFF,
        "profile_table": _SQL_PROFILE,
        "priority_shipping": _SQL_PRIORITY_SHIP,
        "leakage_split": _SQL_LEAKAGE_SPLIT,
        "impute_date_stats": _SQL_IMPUTE_DATE_STATS,
        "rolling_time_window": _SQL_ROLLING_TIME,
        "union_evolved": _SQL_UNION_EVOLVED,
        "overlap_join": _SQL_OVERLAP_JOIN,
        "cumulative_distinct": _SQL_CUMULATIVE_DISTINCT,
        "group_mode": _SQL_GROUP_MODE,
        "transition_matrix": _SQL_TRANSITIONS,
        "expectations_report": _SQL_EXPECTATIONS,
        "time_to_conversion": _SQL_TIME_TO_CONVERT,
        "vocab_growth": _SQL_VOCAB_GROWTH,
        "duplicate_spans": _SQL_DUPLICATE_SPANS,
        "streaming_stateful_agg": _SQL_STREAM_STATEFUL,
        "exclusive_problem_supplier": _SQL_EXCLUSIVE_SUPPLIER,
        "gopher_gate": _SQL_GOPHER,
        "incremental_dedup": _sql_incremental_dedup(),
        "rolling_median": _SQL_ROLLING_MEDIAN,
        "seasonal_residuals": _SQL_SEASONAL,
        "load_duration_curve": _SQL_LOAD_DURATION,
        "topk_per_group": _SQL_TOPK_PER_GROUP,
        "corr_matrix": _sql_corr_matrix(),
        "quantile_bins": _SQL_QUANTILE_BINS,
        "embedding_centroids": _SQL_EMB_CENTROIDS,
        "shipping_priority": _SQL_Q3,
        "local_supplier_volume": _SQL_Q5,
        "returned_item_customers": _SQL_Q10,
        "large_volume_customers": _SQL_Q18,
        "forecasted_revenue": _SQL_Q6,
        "order_priority_check": _SQL_Q4,
        "nation_volume_shipping": _SQL_Q7,
        "market_share": _SQL_Q8,
        "product_type_profit": _SQL_Q9,
        "important_part_value": _SQL_Q11,
        "customer_order_distribution": _SQL_Q13,
        "promo_revenue_share": _SQL_Q14,
        "top_supplier": _SQL_Q15,
        "parts_supplier_count": _SQL_Q16,
        "small_quantity_revenue": _SQL_Q17,
        "disjunctive_revenue": _SQL_Q19,
        "excess_supply_suppliers": _SQL_Q20,
        "rebalance_mixture": _SQL_REBALANCE,
        "weighted_median": _SQL_WEIGHTED_MEDIAN,
        "heavy_hitters": _SQL_HEAVY_HITTERS,
        "entropy_divergence": _SQL_ENTROPY,
        "pareto_frontier": _SQL_PARETO,
        "period_over_period": _SQL_POP,
        "cooccurrence": _SQL_COOCCURRENCE,
        "touch_attribution": _SQL_ATTRIBUTION,
        "inverted_index": _SQL_INVERTED_INDEX,
        "incremental_agg": _SQL_INCREMENTAL_AGG,
        "pagerank": _sql_pagerank(),
        "welch_ttest": _SQL_WELCH,
        "chi_square": _SQL_CHI2,
        "hist_quantile": _SQL_HIST_QUANTILE,
        "triangle_count": _SQL_TRIANGLES,
        "longest_streak": _SQL_LONGEST_STREAK,
        "streaming_hll_distinct": _SQL_STREAM_HLL,
        "remove_duplicate_spans": _SQL_REMOVE_SPANS,
        "dedup_resolve": _sql_dedup_resolve(),
        "winsorize": _SQL_WINSORIZE,
        "tfidf_cosine_pairs": _SQL_TFIDF_COSINE,
        "session_paths": _SQL_SESSION_PATHS,
        "autocorrelation": _SQL_AUTOCORR,
        "cusum_changepoint": _SQL_CUSUM,
        "pq_codes": _SQL_PQ_CODES,
        "pq_adc_topk": _SQL_PQ_ADC,
        "ivfpq_topk": _SQL_IVFPQ,
        "customer_hierarchy": _SQL_HIERARCHY,
        "streaming_leaderboard": _SQL_STREAM_LEADERBOARD,
        "quantile_normalize": _SQL_QUANTILE_NORMALIZE,
        "degree_days": _SQL_DEGREE_DAYS,
        "weather_normalize": _SQL_WEATHER_NORM,
        "containment_pairs": _SQL_CONTAINMENT,
        "rolling_active_users": _SQL_ROLLING_ACTIVE,
        "gini_sources": _SQL_GINI,
        "bigram_logprob": _SQL_BIGRAM_LP,
        "ngram_novelty": _SQL_NGRAM_NOVELTY,
        "cross_source_dup": _SQL_CROSS_SOURCE_DUP,
        "per_source_cap": _SQL_PER_SOURCE_CAP,
        # round 2: the two formerly oracle-less iterative queries now have
        # fully-unrolled SQL replicas (integer-only outputs).
        "bpe_token_counts": _sql_bpe(),
        "kmeans_centroids": _sql_kmeans(),
        "semantic_dedup": _sql_semantic_dedup(),
        "semantic_dedup_sampled": _sql_semantic_dedup(16, 5, 10),
        # round 3: previously unit-only operators promoted to contracts
        "salted_agg": _SQL_SALTED_AGG,
        "salted_join": _SQL_SALTED_JOIN,
        "hll_intersection": _SQL_HLL_INTERSECTION,
        "lsh_cosine_topk": _SQL_LSH_COSINE,
        "zorder_roundtrip": _SQL_ZORDER_RT,
        "dsir_weights": _SQL_DSIR,
        "script_profile": _script_sql(),
        "dedup_resolve_best": _sql_dedup_resolve_best(),
        "adc_topk": _SQL_ADC_TOPK,
        "mg_frequent_items": _SQL_MG_FREQ,
        "embedding_decontaminate": _SQL_DECONTAM,
        "zorder_roundtrip_sampled": _SQL_ZORDER_RTS,
        "dsir_weights_sampled": _SQL_DSIR_SAMPLED,
        # round 6: drift-detection family
        "ks_drift_cohort": _SQL_KS_DRIFT,
        "mwu_drift": _SQL_MWU_DRIFT,
        "psi_drift_lang": _SQL_PSI_DRIFT,
        "psi_time_drift_daily": _SQL_PSI_TIME_DRIFT,
        "embedding_drift_labels": _SQL_EMB_DRIFT,
        "expectations_thresholds": _SQL_EXPECT_THRESH,
        "k_anonymity_audit": _SQL_K_ANON,
        "reid_risk_summary": _SQL_REID_RISK,
        "bloom_semi_join": _SQL_BLOOM_SEMI,
        "url_dedup_canonical": _SQL_URL_DEDUP,
        "pmi_collocations": _SQL_PMI,
        # streaming drift monitor vs the SAME batch SQL as psi_time_drift:
        # the stream must reproduce the batch dashboard exactly
        "streaming_psi_daily": _SQL_PSI_TIME_DRIFT,
    }
