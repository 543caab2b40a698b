"""End-to-end ETL pipeline test on synthetic ETD-shaped household data —
the workflow of reference tests/test_total_imputation_workflow.py, on a
deterministic in-repo fixture instead of the reference's private data."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from etdtransform_spark.config import dataset_families
from etdtransform_spark.operators.calculated import CALCULATED_COLUMNS
from etdtransform_spark.plans.pipeline import run_pipeline
from etdtransform_spark.sources.parquet import read_family

T0 = dt.datetime(2023, 1, 1, 0, 0, 0)
N_STEPS = 288 * 2  # two days of 5-minute readings
HOUSES = {1: 1, 2: 1, 3: 2}  # house -> project
CUM_COLS = ["ElektriciteitNetgebruikLaag", "Zon-opwekTotaal"]


def _series(house):
    """Deterministic cumulative series with a gap in the middle for house 1."""
    rows = []
    cum = {c: 0.0 for c in CUM_COLS}
    prev = dict(cum)
    for i in range(N_STEPS):
        ts = T0 + dt.timedelta(minutes=5 * i)
        row = {"HuisIdBSV": house, "ProjectIdBSV": HOUSES[house], "ReadingDate": ts}
        for k, c in enumerate(CUM_COLS):
            inc = 0.01 * ((i + house + k) % 5)
            cum[c] = round(cum[c] + inc, 10)
            gap = house == 1 and 100 <= i < 110
            row[c] = None if gap else cum[c]
            row[f"{c}Diff"] = None if (gap or i == 0) else round(cum[c] - prev[c], 10)
            prev[c] = cum[c]
        rows.append(row)
    return rows


INTERVALS = ["15min", "60min", "24h"]


def _households(spark):
    rows = []
    for h in HOUSES:
        rows += _series(h)
    schema = (
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        + ", ".join(f"`{c}` double, `{c}Diff` double" for c in CUM_COLS)
    )
    return spark.createDataFrame(
        [
            tuple(
                r[k]
                for k in ["HuisIdBSV", "ProjectIdBSV", "ReadingDate"]
                + [x for c in CUM_COLS for x in (c, f"{c}Diff")]
            )
            for r in rows
        ],
        schema,
    )


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("etd_out"))
    written = run_pipeline(
        spark, _households(spark), out_dir, cumulative_columns=CUM_COLS,
        intervals=INTERVALS,
    )
    return out_dir, written


@pytest.fixture(scope="module")
def counted_pass(spark, tmp_path_factory):
    """One pass into a fresh folder under its own job group, with every
    frame ``run_pipeline`` reads back recorded as (name, interval, frame)."""
    import etdtransform_spark.plans.pipeline as pipeline

    out_dir = str(tmp_path_factory.mktemp("etd_counted"))
    read_back = []

    def recording_read_family(spark, base_folder, name, interval=None, **kw):
        df = read_family(spark, base_folder, name, interval=interval, **kw)
        read_back.append((name, interval, df))
        return df

    df = _households(spark)
    sc = spark.sparkContext
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "read_family", recording_read_family)
        sc.setJobGroup("etl_counted_pass", "run_pipeline job budget")
        try:
            run_pipeline(
                spark, df, out_dir, cumulative_columns=CUM_COLS,
                intervals=INTERVALS,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("etl_counted_pass")
    return out_dir, read_back, len(jobs)


def test_read_back_schema_equals_inferred(spark, counted_pass):
    """The schema ``materialize`` carries into its read-back equals what an
    inferring read of the written family gives: names, order, types and
    nullability (the partition column comes back ``int`` either way)."""
    out_dir, read_back, _ = counted_pass
    assert len(read_back) == 15
    for name, interval, df in read_back:
        inferred = read_family(spark, out_dir, name, interval=interval)
        assert df.schema == inferred.schema, (name, interval)
    default = next(df for name, _, df in read_back if name == "household_default")
    assert default.schema["ProjectIdBSV"].dataType.simpleString() == "int"


def test_pass_job_budget(counted_pass):
    """Spark jobs of one pass on the fixture (local[4], three intervals).
    Job counts do not move with host load, so this bound only goes down."""
    _, _, jobs = counted_pass
    assert 0 < jobs <= 34, jobs


def test_all_families_written(pipeline_out):
    """A pass writes exactly the catalog's families, so the views, the
    catalog and the table dicts see every family it writes."""
    _, written = pipeline_out
    assert set(written) == {
        name if iv is None else f"{name}_{iv}"
        for name, iv in dataset_families(INTERVALS)
    }


def test_imputed_preserves_rows_and_fills_gaps(spark, pipeline_out):
    out_dir, _ = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    assert imputed.count() == N_STEPS * len(HOUSES)
    # house 1: the 10-row gap plus the first row (every house's first Diff is
    # NULL and the reference treats any NA-diff run as a gap,
    # vectorized_impute.py:387-398) are imputed
    gap = imputed.filter(
        (F.col("HuisIdBSV") == 1)
        & F.col("ElektriciteitNetgebruikLaagDiff_is_imputed")
    )
    assert gap.count() == 11
    assert gap.filter(F.col("ElektriciteitNetgebruikLaagDiff").isNull()).count() == 0
    # house 2 has no mid-series gap: only its first row is imputed
    h2 = imputed.filter(
        (F.col("HuisIdBSV") == 2)
        & F.col("ElektriciteitNetgebruikLaagDiff_is_imputed")
    )
    assert [r["ReadingDate"] for r in h2.collect()] == [T0]


def test_check_column_consistency(spark, pipeline_out):
    """<Var>Check = diff(new - original) must be 0 wherever both series are
    fully observed (reference aggregate.py:199-211 invariant)."""
    out_dir, _ = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    bad = imputed.filter(
        (F.col("HuisIdBSV") == 2)
        & F.col("ElektriciteitNetgebruikLaagCheck").isNotNull()
        & (F.abs(F.col("ElektriciteitNetgebruikLaagCheck")) > 1e-9)
    )
    assert bad.count() == 0


def test_calculated_columns_present(spark, pipeline_out):
    out_dir, _ = pipeline_out
    calc = read_family(spark, out_dir, "household_calculated")
    present = [c for c in CALCULATED_COLUMNS if c in calc.columns]
    assert present == CALCULATED_COLUMNS
    assert "ZonopwekBruto" in calc.columns


def test_resample_and_project_shapes(spark, pipeline_out):
    out_dir, _ = pipeline_out
    hh60 = read_family(spark, out_dir, "household", "60min")
    assert hh60.count() == len(HOUSES) * (N_STEPS // 12)
    proj60 = read_family(spark, out_dir, "project", "60min")
    rows = {(r["ProjectIdBSV"], r["ReadingDate"]): r for r in proj60.collect()}
    assert len(rows) == 2 * (N_STEPS // 12)
    # project 1 has 2 households, project 2 has 1
    some = next(r for (p, _), r in rows.items() if p == 1)
    assert some["n"] == 2


def test_analytical_load_api(spark, pipeline_out):
    """get_household_tables / get_project_tables return lazy index-joined
    frames per interval (reference load_data.py:23-67,320-351)."""
    from etdtransform_spark.api import get_household_tables, get_project_tables

    out_dir, _ = pipeline_out
    index = spark.createDataFrame(
        [(h, p, True, "LeverancierX") for h, p in HOUSES.items()],
        "HuisIdBSV long, ProjectIdBSV long, Meenemen boolean, Dataleverancier string",
    )
    hh = get_household_tables(
        spark, out_dir, intervals=["15min", "60min"], index_df=index
    )
    assert {"default", "calculated", "15min", "60min"} <= set(hh)
    assert "Dataleverancier" in hh["60min"].columns
    assert hh["60min"].filter(F.col("Dataleverancier").isNull()).count() == 0
    proj = get_project_tables(spark, out_dir, intervals=["60min"])
    assert set(proj) == {"60min"}
    assert proj["60min"].count() == 2 * (N_STEPS // 12)


def test_partition_pruning(spark, pipeline_out):
    """Stage sinks partition by ProjectIdBSV; a project filter must prune at
    the scan (PLANS.md scale contract), not post-filter."""
    out_dir, _ = pipeline_out
    df = read_family(spark, out_dir, "household_default").filter(
        F.col("ProjectIdBSV") == 2
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    assert "ProjectIdBSV" in plan.split("PartitionFilters")[1].split("\n")[0]
    # only house 3 lives in project 2
    assert df.count() == N_STEPS


def test_summaries(spark, pipeline_out):
    out_dir, _ = pipeline_out
    sh = read_family(spark, out_dir, "impute_summary_household")
    r = sh.filter(
        (F.col("HuisIdBSV") == 1) & (F.col("column") == "ElektriciteitNetgebruikLaagDiff")
    ).collect()[0]
    assert r["imputed"] == 11
    assert math.isclose(
        r["percentage_imputed"], 11 / (N_STEPS) * 100, rel_tol=1e-9
    )
    sp = read_family(spark, out_dir, "impute_summary_project")
    assert sp.filter(F.col("percentage_imputed") > 100).count() == 0


@pytest.mark.parametrize("invalidated", ["project_24h", "impute_gap_stats"])
def test_pipeline_skip_existing_resumes_without_rewrite(
    spark, pipeline_out, invalidated
):
    """skip_existing=True on a completed output folder must not rewrite any
    family (the reference's sorted=/diffs_calculated= skip flags, made
    structural via _SUCCESS markers) — and removing one family's marker
    recomputes exactly that family. ``impute_gap_stats`` is derived from the
    written ``household_imputed``, so losing its marker must not re-impute."""
    import os
    import time

    out_dir, written = pipeline_out
    marks = {
        k: os.path.getmtime(os.path.join(p, "_SUCCESS"))
        for k, p in written.items()
    }
    rows_before = {
        k: spark.read.parquet(p).count() for k, p in written.items()
    }
    time.sleep(1.1)  # mtime resolution guard
    dummy = spark.createDataFrame([], spark.read.parquet(
        written["household_default"]).schema)
    written2 = run_pipeline(
        spark, dummy, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"], skip_existing=True,
    )
    assert written2 == written
    for k, p in written2.items():
        assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == marks[k], k
    # invalidate ONE family -> only it is rebuilt
    target = written[invalidated]
    os.remove(os.path.join(target, "_SUCCESS"))
    written3 = run_pipeline(
        spark, dummy, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"], skip_existing=True,
    )
    assert os.path.getmtime(os.path.join(target, "_SUCCESS")) > marks[invalidated]
    for k, p in written3.items():
        if k != invalidated:
            assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == marks[k], k
    rows_after = {k: spark.read.parquet(p).count() for k, p in written3.items()}
    assert rows_after == rows_before


def test_compact_family_reduces_files_preserves_rows(spark, tmp_path):
    """compact_family rewrites a fragmented sink into few files with
    identical contents, atomically (no half-replaced family)."""
    import glob
    import os

    from etdtransform_spark.sources.parquet import compact_family, write_family

    out = str(tmp_path / "fam")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2.0)
    df.repartition(64).write.parquet(out + "/frag.parquet")
    n_before = len(glob.glob(out + "/frag.parquet/part-*"))
    assert n_before >= 32
    rows_before = spark.read.parquet(out + "/frag.parquet").count()
    sum_before = spark.read.parquet(out + "/frag.parquet").agg(
        F.sum("v")
    ).collect()[0][0]

    compact_family(spark, out, "frag", target_file_mb=128)
    n_after = len(glob.glob(out + "/frag.parquet/part-*"))
    assert n_after < n_before and n_after <= 2
    assert spark.read.parquet(out + "/frag.parquet").count() == rows_before
    assert (
        spark.read.parquet(out + "/frag.parquet").agg(F.sum("v")).collect()[0][0]
        == sum_before
    )
    assert not os.path.exists(out + "/frag.parquet._compact_tmp")
    assert not os.path.exists(out + "/frag.parquet._compact_old")


def test_compact_family_bad_target_leaves_family_untouched(spark, tmp_path):
    """A target below 1 MB raises ValueError before anything on disk
    changes: the family's files and a stale sibling stay as they were."""
    import os

    from etdtransform_spark.sources.parquet import (
        compact_family,
        family_path,
        write_family,
    )

    out = str(tmp_path)
    write_family(spark.range(0, 100).repartition(4), out, "fam")
    path = family_path(out, "fam")
    os.makedirs(path + "._compact_tmp")

    def listing():
        files = [os.path.join(r, f) for r, _d, fs in os.walk(out) for f in fs]
        return sorted(os.listdir(out)) + sorted(
            (f, os.path.getsize(f)) for f in files
        )

    before = listing()
    with pytest.raises(ValueError, match="target_mb"):
        compact_family(spark, out, "fam", target_file_mb=0)
    assert listing() == before


def test_read_api_serves_committed_families_only(spark, tmp_path):
    """One family committed per kind, one interrupted (a ``_temporary``
    folder, no ``_SUCCESS``), the rest absent: views and table dicts hold
    the committed ones only, and the catalog lists the interrupted ones as
    uncommitted without reading them."""
    import os

    from etdtransform_spark.api import (
        catalog,
        get_household_tables,
        get_project_tables,
        register_sql_views,
    )
    from etdtransform_spark.sources.parquet import family_path, write_family

    out = str(tmp_path)
    df = spark.createDataFrame(
        [(1, 1, T0, 1.0)],
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, v double",
    )
    write_family(df, out, "household_default")
    write_family(df, out, "project", interval="60min")
    for name, iv in [("household_calculated", None), ("avg_diffs", None),
                     ("project", "24h")]:
        os.makedirs(os.path.join(family_path(out, name, iv), "_temporary", "0"))

    ivs = ["60min", "24h"]
    assert register_sql_views(spark, out, intervals=ivs) == [
        "household_default", "project_60min"
    ]
    assert set(get_household_tables(spark, out, intervals=ivs)) == {"default"}
    assert set(get_project_tables(spark, out, intervals=ivs)) == {"60min"}
    cat = {(r["family"], r["interval"]): r for r in catalog(spark, out).collect()}
    assert set(cat) == {
        ("household_default", None), ("project", "60min"),
        ("household_calculated", None), ("avg_diffs", None), ("project", "24h"),
    }
    for key in [("household_default", None), ("project", "60min")]:
        assert cat[key]["committed"] is True and cat[key]["n_columns"] == 4
    for key in [("household_calculated", None), ("avg_diffs", None),
                ("project", "24h")]:
        assert cat[key]["committed"] is False, key
        assert cat[key]["n_columns"] is None, key
        assert cat[key]["n_files"] == 0 and cat[key]["size_bytes"] == 0, key


def test_read_api_raises_on_unreadable_committed_family(spark, tmp_path):
    """A committed family that cannot be read is an error, not a skip."""
    import os

    from etdtransform_spark.api import get_household_tables
    from etdtransform_spark.sources.parquet import family_path

    path = family_path(str(tmp_path), "household_default")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    open(os.path.join(path, "_SUCCESS"), "w").close()
    with pytest.raises(Exception):
        get_household_tables(spark, str(tmp_path), intervals=["60min"])


def test_register_sql_views(spark, pipeline_out):
    """The SQL façade exposes every materialized family as a temp view and
    spark.sql answers over them (reference read path served by Catalyst)."""
    from etdtransform_spark.api import register_sql_views

    out_dir, written = pipeline_out
    views = register_sql_views(
        spark, out_dir, intervals=["15min", "60min", "24h"]
    )
    assert "household_60min" in views and "project_24h" in views
    assert "household_imputed" in views
    n_sql = spark.sql(
        "SELECT count(DISTINCT HuisIdBSV) AS n FROM household_imputed"
    ).collect()[0].n
    n_df = (
        spark.read.parquet(written["household_imputed"])
        .select("HuisIdBSV").distinct().count()
    )
    assert n_sql == n_df
    joined = spark.sql(
        """
        SELECT h.ReadingDate, count(*) AS n
        FROM household_60min h JOIN project_60min p
          ON h.ProjectIdBSV = p.ProjectIdBSV AND h.ReadingDate = p.ReadingDate
        GROUP BY 1 LIMIT 5
        """
    ).collect()
    assert len(joined) > 0


def test_imputation_reading_date_stats(spark, pipeline_out):
    """Per-timestamp stats: imputed counts sum to the frame-wide imputed
    total; a timestamp with no imputation carries a zero mask."""
    from etdtransform_spark.operators.impute import (
        imputation_reading_date_stats,
    )
    from etdtransform_spark.sources.parquet import read_family

    out_dir, _written = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    col = CUM_COLS[0]
    stats = imputation_reading_date_stats(imputed, [col])
    total_from_stats = stats.agg(
        F.sum(f"{col}Diff_imputed")
    ).collect()[0][0]
    total_direct = imputed.filter(F.col(f"{col}Diff_is_imputed")).count()
    assert total_from_stats == total_direct
    clean = stats.filter(F.col(f"{col}Diff_imputed") == 0)
    assert clean.filter(
        F.col(f"{col}Diff_impute_type_mask") != 0
    ).count() == 0


def test_write_sorted_gives_disjoint_file_ranges(spark, tmp_path):
    """write_sorted must produce files whose [min, max] key ranges are
    pairwise disjoint (zone-map property), verified from parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from etdtransform_spark.sources.parquet import write_sorted

    df = spark.range(0, 100000).select(
        (F.col("id") * 7919 % 100000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "sorted.parquet")
    write_sorted(df, out, ["k"], n_files=8)
    ranges = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, (ranges,)  # disjoint, strictly ordered
    total = spark.read.parquet(out).count()
    assert total == 100000


def test_family_orc_roundtrip(spark, tmp_path):
    """ORC stage sinks: same family API, same pruning/pushdown contract."""
    from etdtransform_spark.sources.parquet import read_family, write_family

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    write_family(df, str(tmp_path), "fam_orc", format="orc")
    back = read_family(spark, str(tmp_path), "fam_orc", format="orc")
    assert back.count() == 1000
    assert back.filter(F.col("k") == 3).count() == df.filter(F.col("k") == 3).count()
    plan = back.filter(F.col("k") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "Scan orc" in plan, plan[:500]


def test_compact_family_orc_and_crash_recovery(spark, tmp_path):
    """compact_family honors the format parameter and recovers from a
    simulated crash between the two swap renames."""
    import os

    from etdtransform_spark.sources.parquet import (
        compact_family,
        family_path,
        read_family,
        write_family,
    )

    out = str(tmp_path)
    df = spark.range(0, 5000).withColumn("v", F.col("id") * 1.0)
    write_family(df.repartition(16), out, "fam_o", format="orc")
    compact_family(spark, out, "fam_o", format="orc")
    assert read_family(spark, out, "fam_o", format="orc").count() == 5000

    # simulate crash: family renamed aside, tmp missing
    path = family_path(out, "fam_o")
    os.rename(path, path + "._compact_old")
    compact_family(spark, out, "fam_o", format="orc")
    assert read_family(spark, out, "fam_o", format="orc").count() == 5000
    assert not os.path.exists(path + "._compact_old")


def test_read_family_merge_schema(spark, tmp_path):
    """Two schema versions appended to one family directory read back as
    the union schema with nulls for the missing column."""
    from etdtransform_spark.sources.parquet import family_path, read_family

    path = family_path(str(tmp_path), "evolving")
    spark.createDataFrame([(1, 10.0)], "id bigint, v double").write.parquet(
        path + "/batch=1"
    )
    spark.createDataFrame(
        [(2, 20.0, "x")], "id bigint, v double, tag string"
    ).write.parquet(path + "/batch=2")
    df = read_family(spark, str(tmp_path), "evolving", merge_schema=True)
    got = {r.id: (r.v, r.tag) for r in df.collect()}
    assert got == {1: (10.0, None), 2: (20.0, "x")}


def test_catalog_lists_materialized_families(spark, pipeline_out):
    """catalog() is metadata-only discovery: one row per family on disk
    with commit state, sizes, and column counts."""
    from etdtransform_spark.api import catalog

    out_dir, written = pipeline_out
    cat = {r["family"] if r["interval"] is None
           else f"{r['family']}_{r['interval']}": r
           for r in catalog(spark, out_dir).collect()}
    assert set(cat) == set(written)
    for r in cat.values():
        assert r["committed"] is True
        assert r["n_files"] >= 1 and r["size_bytes"] > 0
        assert r["n_columns"] >= 2
    # column counts agree with a real read
    n_cols = len(spark.read.parquet(written["household_imputed"]).columns)
    assert cat["household_imputed"]["n_columns"] == n_cols
