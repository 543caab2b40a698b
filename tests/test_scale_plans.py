"""Physical-plan and skew/bucketing tests: assert the *plan shape* that makes
operators survive a 100x scale-up, not just their output values."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from etdtransform_spark.operators.asof import asof_join
from etdtransform_spark.operators.rangejoin import range_join
from etdtransform_spark.operators.skew import salted_agg, salted_join


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def events(spark):
    from etdtransform_spark.sources.parquet import read_table

    return read_table(spark, "/root/testdata/sf0.001/events.parquet")


def test_asof_join_plans_single_shuffle(spark, events):
    """The union+carry as-of join must cost exactly ONE exchange (the window
    partitioning) — no join operator, no pair explosion."""
    left = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    out = asof_join(left, right, on="ts", by=["user_id"], value_cols=["value"])
    plan = _plan(spark, out)
    # formatted explain names each node once in the tree and once in the
    # detail section — count numbered plan nodes, not substrings
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan  # it is not a join at all
    assert "Window" in plan


def test_range_join_avoids_nested_loop(spark, events):
    intervals = events.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("iv_user"),
        F.col("ts").alias("session_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("session_end"),
    )
    points = events.select("event_id", "ts")
    out = range_join(points, intervals, granularity_seconds=3600)
    plan = _plan(spark, out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the containment predicate must ride on an equi-join on the bucket id
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_top_k_plans_take_ordered(spark, events):
    from etdtransform_spark.operators.olap import top_k

    out = top_k(events, [F.col("value").desc(), F.col("event_id").asc()], 5)
    plan = _plan(spark, out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan  # no global sort stage


def test_tfidf_n_docs_is_not_a_driver_action(spark, events):
    """The corpus size must ride into the plan as a broadcast subquery —
    building the plan must not trigger a count() action."""
    from etdtransform_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = tfidf_top_terms(docs, k=1)  # plan construction only
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)  # no job ran
    assert {r.doc_id: r.term for r in out.collect()} == {1: "a", 2: "c"}


def test_salted_agg_equals_direct(spark, events):
    direct = {
        (r.event_type,): (r.n, r.mx, r.avg_v)
        for r in events.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.max("value").alias("mx"),
            F.avg("value").alias("avg_v"),
        )
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, r.mx, r.avg_v)
        for r in salted_agg(
            events,
            ["event_type"],
            [("value", "count", "n"), ("value", "max", "mx"), ("value", "avg", "avg_v")],
            n_salt=16,
        ).collect()
    }
    assert set(direct) == set(salted)
    for k, (n, mx, avg) in direct.items():
        sn, smx, savg = salted[k]
        assert (n, mx) == (sn, smx)
        assert abs(avg - savg) < 1e-9  # double accumulation order may differ


def test_salted_join_equals_plain_join(spark, events):
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    plain = sorted(
        (r.event_id, r.n_ev)
        for r in events.join(dim, "user_id").select("event_id", "n_ev").collect()
    )
    salted = sorted(
        (r.event_id, r.n_ev)
        for r in salted_join(events, dim, ["user_id"], n_salt=8)
        .select("event_id", "n_ev")
        .collect()
    )
    assert plain == salted


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Both sides bucketed by the join key with equal bucket counts -> the
    sort-merge join plans with ZERO Exchange (the write-once/read-many trade
    for stage sinks)."""
    from etdtransform_spark.sources.parquet import write_bucketed

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    try:
        # hash-partitioned by the key first, each bucket is one sorted file
        write_bucketed(
            li.repartition(8, "l_orderkey"), "t_li_b", "l_orderkey", 8,
            path=str(tmp_path / "li"),
        )
        write_bucketed(
            orders.withColumnRenamed("o_orderkey", "l_orderkey").repartition(
                8, "l_orderkey"
            ),
            "t_ord_b",
            "l_orderkey",
            8,
            path=str(tmp_path / "ord"),
        )
        a = spark.table("t_li_b")
        b = spark.table("t_ord_b")
        with_bucketing = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
            # Spark 3+ reports a bucketed scan's sort order only under this
            # flag, and only when every bucket is a single file
            "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
        }
        old = {k: spark.conf.get(k) for k in with_bucketing}
        try:
            for k, v in with_bucketing.items():
                spark.conf.set(k, v)
            joined = a.join(b, "l_orderkey").groupBy("o_orderstatus").count()
            plan = _plan(spark, joined)
            assert "SortMergeJoin" in plan, plan
            # bucketing removes BOTH join-input exchanges; the only Exchange
            # left is the final groupBy's (an unbucketed plan has three)
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
            # and the bucket-sorted layout removes the join-input sorts too
            assert not re.search(r"\(\d+\) Sort ", plan), plan
            unbucketed = (
                li.join(
                    orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                    "l_orderkey",
                )
                .groupBy("o_orderstatus")
                .count()
            )
            assert (
                len(re.findall(r"\(\d+\) Exchange", _plan(spark, unbucketed)))
                == 3
            )
            # result sanity vs unbucketed join
            expect = (
                li.join(
                    orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                    "l_orderkey",
                )
                .groupBy("o_orderstatus")
                .count()
            )
            assert sorted(map(tuple, joined.collect())) == sorted(
                map(tuple, expect.collect())
            )
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_streaming_session_merges_across_batches(spark, tmp_path):
    """A session split across two micro-batches must merge in the state
    store: feed two files sequentially with processAvailable semantics."""
    from etdtransform_spark.streaming.session_stream import (
        streaming_session_stats,
    )

    d = tmp_path / "stream_src"
    d.mkdir()
    rows1 = [(1, _ts("2024-01-01 10:00:00")), (1, _ts("2024-01-01 11:00:00"))]
    rows2 = [(1, _ts("2024-01-01 12:00:00")), (2, _ts("2024-01-01 00:00:00"))]
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "b1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/*/")
    )
    sess = streaming_session_stats(
        stream, gap="3 hours", ts_col="ts", key_cols=["user_id"]
    )
    import uuid

    name = f"sess_merge_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.session_start, r.session_end, r.n_events)
        for r in spark.table(name).collect()
    }
    # user 1's three events (spanning the two files) merged into ONE session
    assert got[1] == (_ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00"), 3)
    assert got[2][2] == 1


def test_date_filter_reaches_parquet_scan(spark):
    """priority_shipping's shipdate window must appear in PushedFilters on
    the lineitem scan (and the scan's ReadSchema must be pruned to the
    join/agg columns) — filters that evaluate post-scan re-read the year."""
    import __spark_entry__ as e

    df = e.queries()["priority_shipping"](spark, "/root/testdata/sf0.001")
    plan = _plan(spark, df)
    m = re.search(r"PushedFilters: \[([^\]]*l_shipdate[^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(l_shipdate" in m.group(1), plan[:2000]
    rs = re.search(r"ReadSchema: struct<([^>]*l_shipdate[^>]*)>", plan)
    assert rs is not None
    read_cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert read_cols == {"l_orderkey", "l_linestatus", "l_shipdate"}, read_cols


def test_latest_snapshot_uses_window_group_limit(spark, events):
    """latest_snapshot must plan WindowGroupLimit (partial+final): only one
    row per key survives to the exchange, so the shuffle carries #keys
    rows, not the event log."""
    from etdtransform_spark.operators.olap import latest_snapshot

    out = latest_snapshot(events, ["user_id"], [F.col("ts"), F.col("event_id")])
    plan = _plan(spark, out)
    assert plan.count("WindowGroupLimit") >= 2, plan[:1500]


def test_edit_distance_band_never_cross_joins(spark):
    """The PassJoin band must plan an equijoin on (seg, substr) — never
    BroadcastNestedLoopJoin/CartesianProduct (the quadratic failure a naive
    similarity join degenerates into)."""
    from etdtransform_spark.operators.dedup import edit_distance_pairs
    from etdtransform_spark.sources.parquet import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    out = edit_distance_pairs(docs, max_dist=2, prefix_len=64)
    plan = _plan(spark, out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_avoids_nested_loop(spark, events):
    """Interval x interval overlap must ride an equi-join on the coarse
    bucket — the naive inequality formulation plans BNLJ (O(n*m))."""
    from etdtransform_spark.operators.temporal import overlap_join

    a = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("a_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("a_end"),
    )
    b = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("b_end"),
    )
    out = overlap_join(a, b, "a_start", "a_end", "b_start", "b_end",
                       by=["user_id"], granularity_seconds=3600)
    plan = _plan(spark, out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_group_mode_is_aggregate_only(spark, events):
    """group_mode must be two aggregate stages over the collapsed
    (key, value) cardinality — never a Window (per-group row_number sort
    over the log) and never a join-back. The struct-min final aggregate
    plans as SortAggregate (struct buffers are not hash-aggregable) but
    still combines partially before its exchange."""
    from etdtransform_spark.operators.olap import group_mode

    out = group_mode(events, ["user_id"], "event_type")
    plan = _plan(spark, out)
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_expectations_single_pass_without_fk(spark, events):
    """Every non-FK expectation metric must come from ONE aggregate over
    ONE scan — adding a check may not add a pass over the data."""
    from etdtransform_spark.operators.quality import check_expectations

    rep = check_expectations(
        events,
        not_null=["user_id", "event_type"],
        ranges={"value": (0.0, 1e9)},
        accepted_values={"event_type": ["click", "view", "purchase",
                                        "signup", "error"]},
        min_rows=1,
    )
    plan = _plan(spark, rep)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_bare_minmax_count_pushes_to_parquet_footers(spark):
    """footer_aggregate must answer MIN/MAX/COUNT from row-group statistics
    (PushedAggregation in the DSv2 scan) and match the data-path result."""
    from etdtransform_spark.sources.parquet import footer_aggregate

    path = "/root/testdata/sf0.001/lineitem.parquet"
    out = footer_aggregate(
        spark, path, [("min", "l_quantity"), ("max", "l_orderkey"),
                      ("count", "*")]
    )
    plan = out._footer_aggregate_plan
    assert "PushedAggregation: [MIN(l_quantity)" in plan, plan
    row = out.collect()[0]
    df = spark.read.parquet(path)
    expect = df.agg(
        F.min("l_quantity"), F.max("l_orderkey"), F.count(F.lit(1))
    ).collect()[0]
    assert tuple(row) == tuple(expect)


def test_topk_per_group_uses_window_group_limit(spark, events):
    """row_number <= k must trigger Spark's WindowGroupLimit rewrite: the
    per-partition limit runs BEFORE the exchange, so the shuffle carries
    k rows per key, not the log."""
    from etdtransform_spark.operators.olap import top_k_per_group

    out = top_k_per_group(
        events, ["user_id"], [F.col("value").desc(), F.col("event_id")], 3
    )
    plan = _plan(spark, out)
    assert "WindowGroupLimit" in plan, plan


def test_q6_is_pure_scan_pushdown(spark):
    """forecasted_revenue (TPC-H Q6 shape) must be join-free with every
    predicate pushed to the parquet reader and the scan pruned to the
    four referenced columns — the plan a 100 TB fact scan depends on."""
    import __spark_entry__ as e

    df = e.queries()["forecasted_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(spark, df)
    assert "Join" not in plan, plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan[:2000]
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }, read_cols


def test_q4_exists_is_semi_join(spark):
    """order_priority_check (Q4 shape): the EXISTS must plan as a LeftSemi
    hash join (order rows never duplicated by multi-lineitem matches), with
    the date inequality as the join's residual condition, not a
    BroadcastNestedLoopJoin."""
    import __spark_entry__ as e

    df = e.queries()["order_priority_check"](spark, "/root/testdata/sf0.001")
    plan = _plan(spark, df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q7_nation_inlist_prefilters_dims(spark):
    """nation_volume_shipping (Q7 shape): both nation dims must be
    broadcast and carry the two-nation IN-list filter below the join, so
    the fact slice shrinks before the OR-of-pairs residual."""
    import __spark_entry__ as e

    df = e.queries()["nation_volume_shipping"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(spark, df)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4, plan
    assert plan.count("NATION_1") >= 2, plan  # filter present on both dims


def test_q17_avg_join_back_is_broadcast(spark):
    """small_quantity_revenue (Q17 shape): the decorrelated per-part AVG
    must join back via broadcast — a shuffle join here would re-exchange
    the whole brand slice at 100 TB."""
    import __spark_entry__ as e

    df = e.queries()["small_quantity_revenue"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(spark, df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_join_pruning(spark):
    """With runtime bloom pruning on, a selective dim filter injects
    bloom_filter_agg (build side) + might_contain (probe-side scan filter)
    into a shuffle join, and results are identical to the unpruned run."""
    from pyspark.sql import functions as F

    from etdtransform_spark.session import enable_runtime_bloom_pruning

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).filter(F.col("o_totalprice") > 400000)

    def q():
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    baseline = {(r.l_returnflag, r.n) for r in q().collect()}
    old_bloom = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        enable_runtime_bloom_pruning(spark)
        # force a shuffle join: broadcast joins don't take bloom filters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pruned = q()
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        assert {(r.l_returnflag, r.n) for r in pruned.collect()} == baseline
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", old_bloom
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join handling: one key carrying ~200× the median partition
    splits into multiple tasks (skew=true in the final adaptive plan) with
    results identical to an unskewed execution. This is the structural
    answer for LSH-bucket and giant-project skew documented in PLANS.md."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200000)
            .select(F.lit(1).alias("k"), (F.col("id") % 97).alias("v"))
            .unionAll(
                spark.range(1000).select(
                    (F.col("id") % 99 + 2).alias("k"),
                    (F.col("id") % 97).alias("v"),
                )
            )
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("d")
        )
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert len(rows) == 201000
        # spot-check correctness: every key-1 row carried d = 10
        assert all(r.d == 10 for r in rows[:100] if r.k == 1)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_analyze_family_cbo_statistics(spark, tmp_path):
    """analyze_family collects CBO stats: the optimized plan carries the
    exact row count, and with column stats + cbo.enabled a selective
    filter's cardinality estimate reflects the real value distribution
    (far below the table row count) — the input Catalyst's join
    reordering/broadcast decisions need."""
    from pyspark.sql import functions as F

    from etdtransform_spark.sources.parquet import analyze_family, write_family

    df = spark.range(10000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    write_family(df, str(tmp_path), "stats_demo")
    old = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        table = analyze_family(
            spark, str(tmp_path), "stats_demo", columns=["k", "v"]
        )
        full = spark.table(table)
        st = full._jdf.queryExecution().optimizedPlan().stats()
        assert st.rowCount().get() == 10000
        filt = full.filter(F.col("v") < 5)
        stf = filt._jdf.queryExecution().optimizedPlan().stats()
        est = stf.rowCount().get()
        # real selectivity is 5% -> estimate must be data-driven, not 100%
        assert est < 2000, est
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)
        spark.sql("DROP TABLE IF EXISTS etd_stats_demo")


def test_no_accidental_cartesian_or_python_row_udf(spark):
    """Engine-wide physical-plan gate: build the plan of EVERY batch
    contract query at sf0.001 and assert (a) no CartesianProduct outside
    the one intended cross-join scaffold (dim_grid), and (b) no
    row-at-a-time Python UDF (BatchEvalPython) anywhere — Python is allowed
    only through Arrow (ArrowEvalPython / mapInPandas). Streaming wrappers
    are excluded (they execute in the wrapper); iterative operators build
    plans lazily and are included."""
    import __spark_entry__ as entrymod

    allowed_cartesian = {"dim_grid"}
    sf_dir = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in entrymod.queries().items():
        if name.startswith("streaming_"):
            continue
        if name in {"kmeans_centroids", "pagerank", "dedup_clusters",
                    "dedup_resolve"}:
            # iterative drivers execute jobs at construction; their
            # per-iteration plan shape is covered by dedicated tests
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan and name not in allowed_cartesian:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        # re-scan multiplicity bound: a plan that scans one table tens of
        # times is a compounding-lineage bug, not a join shape (this is
        # exactly how the connected-components loop regression looked:
        # 337 FileScans). The widest legitimate plan today is ivfpq_topk
        # at 5 scans of embeddings; 12 leaves generous headroom.
        n_scans = plan.count("FileScan parquet")
        if n_scans > 12:
            flags.append(f"{n_scans} FileScans")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_ingestion_gates_push_to_scan(spark):
    """The events NULL-ts gate and the embeddings validity gate are not
    post-scan filters: IsNotNull pushes into the parquet scan
    (PushedFilters), so at 100 TB row groups whose statistics prove the
    column non-null are the only ones that even evaluate the predicate,
    and an all-null file is skipped from its footer alone."""
    import __spark_entry__ as e

    ev = e._t(spark, "/root/testdata/sf0.001", "events")
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts)]" in plan

    emb = e._t(spark, "/root/testdata/sf0.001", "embeddings")
    plan2 = emb._jdf.queryExecution().executedPlan().toString()
    assert "IsNotNull(embedding)" in plan2


def test_iterative_loops_truncate_lineage(spark):
    """Pregel-style loops (connected components, pagerank) must NOT return
    a plan whose lineage compounds per round: before the fix,
    resolve_duplicates' executed plan held one full upstream copy (LSH
    candidate generation + corpus scan) PER ROUND — 337 FileScans / 1170
    Exchanges — so Catalyst re-optimized the whole history on every use
    and a lost executor would recompute it. localCheckpoint truncates each
    round to a LogicalRDD root: the returned plan re-scans the input at
    most twice (the final corpus join), regardless of round count."""
    import re

    import __spark_entry__ as e

    for name in ("dedup_resolve", "dedup_clusters", "dedup_resolve_best"):
        df = e.queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scans = len(re.findall(r"FileScan parquet", plan))
        assert n_scans <= 2, (name, n_scans)
        assert plan.count("Exchange") <= 6, (name, plan.count("Exchange"))
