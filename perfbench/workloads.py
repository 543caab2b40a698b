"""The two benchmark workloads. Each is closed loop with one client.

A workload object is driven by ``run.py``: ``setup()`` (before anything is
timed), then ``op()`` repeatedly (the first call is the cold op), then
``finish()``. ``op()`` returns an :class:`Op`: the wall time of the op's
pass, the units it processed, and the latency of each read query it ran.
Its correctness checks run afterwards, outside those times, and
``op_failures`` counts the ops whose check failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from typing import NamedTuple

import numpy as np

import checks
import gen


class Op(NamedTuple):
    seconds: float  # wall time of the op's pass
    rows: int  # input rows of the pass
    docs: int  # input documents (files for etl_month) of the pass
    query_s: list[float]  # latency of each read query after the pass
    returned: int  # result rows of those queries


def _ts(day) -> str:
    """A numpy datetime as a SQL timestamp literal body."""
    return str(day.astype("datetime64[s]")).replace("T", " ")


# input generations in setup; setup_s takes their median time
GEN_REPS = 3


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.op_failures = 0
        self.gen_s: list[float] = []
        self.prep_s = 0.0
        self.quality: dict[str, float] = {}
        self._n = 0

    def generate(self, fn):
        """Run the seeded generator ``GEN_REPS`` times into fresh directories
        and keep the median time (the inputs are identical by construction);
        returns the last result."""
        out = None
        for r in range(GEN_REPS):
            path = os.path.join(self.work, f"input{r}")
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            t, out = _timed(lambda: fn(path))
            self.gen_s.append(t)
            if r < GEN_REPS - 1:
                shutil.rmtree(path)
        self.input_dir = path
        return out

    @property
    def setup_work_s(self) -> float:
        return statistics.median(self.gen_s) + self.prep_s

    def fresh_out(self) -> str:
        self._n += 1
        path = os.path.join(self.work, f"pass{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def fail(self, msgs: list[str]) -> None:
        if msgs:
            self.op_failures += 1
            for m in msgs[:5]:
                print(f"[{self.name}] check failed: {m}", file=sys.stderr)

    def finish(self) -> None:
        pass


# ---------------------------------------------------------------------------

class EtlMonth(Workload):
    """One op: an ETL pass (``combine_household_files`` -> ``run_pipeline``
    over all five intervals) into a fresh folder, then one cycle of the
    analyst read mix over the families that pass wrote.

    The read mix is four templates in a fixed cycle, so every op runs the
    same template shares and each answer has the same size on every seed.
    ``sql_topk`` runs three times per cycle: with equal shares the median
    would fall in the gap between the fast and the slow templates and jump
    between them from run to run; at 3/6 it lands inside ``sql_topk``'s
    latencies, and the 90th percentile inside the two slow templates'.
    """

    name = "etl_month"
    SHAPE = gen.EtdShape(projects=2, houses_per_project=3, days=7, columns=2)
    CYCLE = ["household_weather", "sql_topk", "coldest_weeks", "sql_topk", "point_lookup",
             "sql_topk"]
    TOPK = 5
    TOPK_DAYS = 3
    FAMILIES = ["household_60min", "household_24h", "project_24h", "household_calculated"]

    def setup(self):
        self.truth = self.generate(
            lambda p: gen.generate_etd(p, self.seed, self.SHAPE)
        )
        self.rng = np.random.default_rng(self.seed + 1)
        self.duck = self._duckdb()
        self.index = None

    def _prepare(self) -> None:
        """Load the read side's inputs that no pass changes: the index the
        queries join, the KNMI weather and the station mapping. Runs once,
        before the cold op's read cycle, where the JVM is warmer than in
        ``setup``; its time counts as set-up time."""
        from etdtransform_spark.sources.knmi import (
            get_project_weather_station_data,
            load_knmi_weather_data,
        )
        from etdtransform_spark.sources.parquet import read_index

        spark, src, tr = self.spark, self.input_dir, self.tracer

        def prepare():
            with tr.span("sources.parquet", "read_index"):
                self.index = read_index(spark, src)
            with tr.span("sources.knmi", "load_knmi_weather_data"):
                self.weather = load_knmi_weather_data(spark, os.path.join(src, "knmi"))
            with tr.span("sources.knmi", "get_project_weather_station_data"):
                self.stations = get_project_weather_station_data(
                    spark, os.path.join(src, "station_mapping.csv")
                ).select("ProjectIdBSV", "STN")

        self.prep_s, _ = _timed(prepare)

    def op(self) -> Op:
        from etdtransform_spark.plans.pipeline import run_pipeline
        from etdtransform_spark.sources.parquet import (
            combine_household_files,
            read_index,
        )

        out = self.fresh_out()
        tr = self.tracer

        def one_pass():
            with tr.span("op", "etl_pass"):
                with tr.span("sources.parquet", "read_index"):
                    index = read_index(self.spark, self.input_dir)
                with tr.span("sources.parquet", "combine_household_files"):
                    df = combine_household_files(self.spark, self.input_dir, index)
                with tr.span("plans.pipeline", "run_pipeline"):
                    run_pipeline(self.spark, df, out,
                                 cumulative_columns=self.SHAPE.cum_cols)

        t, _ = _timed(one_pass)
        answers = []
        if self.index is None:
            # the cold op: load the read side's inputs, and run one extra
            # cycle so that the warm ops' queries find the read path compiled
            self._prepare()
            answers = self._read_cycle(out)
        answers += self._read_cycle(out)
        self.fail(checks.check_etl(
            checks.load_etl(out, self.SHAPE.cum_cols), self.truth, self.SHAPE.cum_cols
        ))
        self._check_answers(out, answers)
        shutil.rmtree(out)
        return Op(t, self.SHAPE.rows, self.SHAPE.households,  # one file per household
                  [s for _, _, _, s in answers], sum(len(r) for _, _, r, _ in answers))

    # -- the read mix ----------------------------------------------------------
    def _read_cycle(self, folder: str) -> list[tuple[str, tuple, list, float]]:
        from etdtransform_spark.api import register_sql_views

        tr = self.tracer
        answers = []
        with tr.span("op", "read_cycle"):
            with tr.span("api", "register_sql_views"):
                register_sql_views(self.spark, folder, intervals=["24h"],
                                   index_df=self.index)
            for template in self.CYCLE:
                params = self._params(template)
                with tr.span("op", f"query:{template}"):
                    t, rows = _timed(lambda: self._query(folder, template, params))
                answers.append((template, params, rows, t))
        return answers

    def _params(self, template: str) -> tuple:
        rng, shape = self.rng, self.SHAPE
        projects = sorted(set(self.truth.house_project.values()))
        day = lambda lo, hi: gen.START + np.timedelta64(int(rng.integers(lo, hi)), "D")  # noqa: E731
        if template == "household_weather":
            return (int(rng.choice(projects)), day(0, shape.days - 1))
        if template == "coldest_weeks":
            return (int(rng.choice(projects)),)
        if template == "sql_topk":
            return (day(0, shape.days - self.TOPK_DAYS + 1),)
        house = int(rng.choice(sorted(self.truth.house_project)))
        return (house, day(0, shape.days))

    def _query(self, folder: str, template: str, params: tuple):
        """Build, plan and collect one query; returns the answer rows."""
        from pyspark.sql import functions as F

        from etdtransform_spark.api import (
            get_household_tables,
            get_project_tables,
            get_weather_data_table,
        )
        from etdtransform_spark.functions.scalars import yyyymmdd_key
        from etdtransform_spark.sources.parquet import read_family

        spark, tr = self.spark, self.tracer
        if template == "household_weather":
            p, d0 = params
            with tr.span("api", "get_household_tables"):
                t = get_household_tables(
                    spark, folder, intervals=["60min"], index_df=self.index,
                    weather=self.weather, station_mapping=self.stations,
                    metadata_columns=["Oppervlakte"],
                )["60min"]
                q = t.filter(
                    (F.col("ProjectIdBSV") == p)
                    & (F.col("ReadingDate") >= F.lit(_ts(d0)).cast("timestamp"))
                    & (F.col("ReadingDate") < F.lit(_ts(d0 + np.timedelta64(2, "D"))).cast("timestamp"))
                ).select("HuisIdBSV", "ReadingDate", "Oppervlakte", "Temperatuur",
                         "ElektriciteitsgebruikTotaalNetto")
            layer = "api"
        elif template == "coldest_weeks":
            (p,) = params
            with tr.span("api", "get_weather_data_table"):
                flags = get_weather_data_table(self.weather).filter(F.col("HH") == 1).select(
                    "STN", "YYYYMMDD", "WeeklyAvgTemp", "Koudste2ISOWkn")
            with tr.span("api", "get_project_tables"):
                proj = get_project_tables(spark, folder, ["24h"])["24h"]
                q = (
                    proj.filter(F.col("ProjectIdBSV") == p)
                    .join(F.broadcast(self.stations), "ProjectIdBSV")
                    .withColumn("YYYYMMDD", yyyymmdd_key(F.col("ReadingDate")))
                    .join(flags, ["STN", "YYYYMMDD"])
                    .filter(F.col("Koudste2ISOWkn"))
                    .select("ProjectIdBSV", "ReadingDate", "Netuitwisseling", "WeeklyAvgTemp")
                )
            layer = "api"
        elif template == "sql_topk":
            (d0,) = params
            with tr.span("api", "sql"):
                q = spark.sql(
                    "SELECT HuisIdBSV, ProjectIdBSV, sum(ElektriciteitsgebruikTotaalNetto) AS kwh "
                    f"FROM household_24h WHERE ReadingDate >= TIMESTAMP '{_ts(d0)}' "
                    f"AND ReadingDate < TIMESTAMP '{_ts(d0 + np.timedelta64(self.TOPK_DAYS, 'D'))}' "
                    "GROUP BY HuisIdBSV, ProjectIdBSV "
                    f"ORDER BY kwh DESC NULLS LAST, HuisIdBSV LIMIT {self.TOPK}"
                )
            layer = "api"
        else:
            h, d0 = params
            with tr.span("sources.parquet", "read_family"):
                q = (
                    read_family(spark, folder, "household_calculated")
                    .filter(
                        (F.col("HuisIdBSV") == h)
                        & (F.col("ReadingDate") >= F.lit(_ts(d0)).cast("timestamp"))
                        & (F.col("ReadingDate") < F.lit(_ts(d0 + np.timedelta64(1, "D"))).cast("timestamp"))
                    )
                    .select("ReadingDate", "Netuitwisseling", "ZonopwekBruto")
                )
            layer = "sources.parquet"
        with tr.span(layer, f"plan:{template}"):
            # optimization and physical planning, whose result collect()
            # reuses: the plan span is build time, the collect span exec time
            q._jdf.queryExecution().executedPlan()
        with tr.span(layer, f"collect:{template}"):
            return [tuple(r) for r in q.collect()]

    # -- correctness: every answer against DuckDB over the same files --------
    def _duckdb(self):
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        w = []
        for stn, (ymd, hh, t, fh, u) in self.truth.weather.items():
            w.append(pd.DataFrame({"STN": stn, "YYYYMMDD": ymd, "HH": hh, "T": t}))
        weather = pd.concat(w, ignore_index=True)
        weather["ts"] = pd.to_datetime(weather["YYYYMMDD"].astype(str)) + pd.to_timedelta(
            weather["HH"] - 1, unit="h")
        stations = pd.DataFrame(
            sorted(self.truth.station_of_project.items()), columns=["ProjectIdBSV", "STN"])
        con.register("weather_df", weather)
        con.register("stations_df", stations)
        con.execute("CREATE TABLE weather AS SELECT * FROM weather_df")
        con.execute("CREATE TABLE stations AS SELECT * FROM stations_df")
        con.execute(f"CREATE VIEW idx AS SELECT * FROM read_parquet('{self.input_dir}/index.parquet')")
        return con

    def _check_answers(self, folder: str, answers) -> None:
        for fam in self.FAMILIES:
            self.duck.execute(
                f"CREATE OR REPLACE VIEW {fam} AS SELECT * FROM read_parquet("
                f"'{folder}/{fam}.parquet/**/*.parquet', hive_partitioning=true)")
        why = []
        for template, params, rows, _ in answers:
            want = [tuple(r) for r in self.duck.execute(self._expected(template, params)).fetchall()]
            bad = checks.compare_rows(rows, want, ordered=template == "sql_topk")
            if bad:
                why.append(f"{template}{params}: {bad}")
        self.fail(why)

    def _expected(self, template: str, params: tuple) -> str:
        if template == "household_weather":
            p, d0 = params
            return f"""
                SELECT h.HuisIdBSV, h.ReadingDate, i.Oppervlakte, w.T / 10.0,
                       h.ElektriciteitsgebruikTotaalNetto
                FROM household_60min h
                LEFT JOIN idx i ON i.HuisIdBSV = h.HuisIdBSV AND i.ProjectIdBSV = h.ProjectIdBSV
                LEFT JOIN stations s ON s.ProjectIdBSV = h.ProjectIdBSV
                LEFT JOIN weather w ON w.STN = s.STN
                    AND w.YYYYMMDD = CAST(strftime(h.ReadingDate, '%Y%m%d') AS INTEGER)
                    AND w.HH = hour(h.ReadingDate) + 1
                WHERE h.ProjectIdBSV = {p}
                  AND h.ReadingDate >= TIMESTAMP '{_ts(d0)}'
                  AND h.ReadingDate < TIMESTAMP '{_ts(d0 + np.timedelta64(2, 'D'))}'"""
        if template == "coldest_weeks":
            (p,) = params
            return f"""
                WITH wk AS (
                    SELECT STN, isoyear(ts) AS y, weekofyear(ts) AS wk,
                           avg(T / 10.0) AS avg_t, count(*) / 24.0 AS days
                    FROM weather GROUP BY ALL),
                ranked AS (
                    SELECT *, row_number() OVER (PARTITION BY STN ORDER BY
                        CASE WHEN days >= 7 THEN avg_t END ASC NULLS LAST, y, wk) AS rn
                    FROM wk)
                SELECT p.ProjectIdBSV, p.ReadingDate, p.Netuitwisseling, r.avg_t
                FROM project_24h p JOIN stations s USING (ProjectIdBSV)
                JOIN ranked r ON r.STN = s.STN AND r.y = isoyear(p.ReadingDate)
                    AND r.wk = weekofyear(p.ReadingDate)
                WHERE p.ProjectIdBSV = {p} AND r.rn <= 2 AND r.days >= 7"""
        if template == "sql_topk":
            (d0,) = params
            return f"""
                SELECT HuisIdBSV, ProjectIdBSV, sum(ElektriciteitsgebruikTotaalNetto) AS kwh
                FROM household_24h
                WHERE ReadingDate >= TIMESTAMP '{_ts(d0)}'
                  AND ReadingDate < TIMESTAMP '{_ts(d0 + np.timedelta64(self.TOPK_DAYS, 'D'))}'
                GROUP BY HuisIdBSV, ProjectIdBSV
                ORDER BY kwh DESC NULLS LAST, HuisIdBSV LIMIT {self.TOPK}"""
        h, d0 = params
        return f"""
            SELECT ReadingDate, Netuitwisseling, ZonopwekBruto FROM household_calculated
            WHERE HuisIdBSV = {h} AND ReadingDate >= TIMESTAMP '{_ts(d0)}'
              AND ReadingDate < TIMESTAMP '{_ts(d0 + np.timedelta64(1, 'D'))}'"""

    def finish(self):
        self.duck.close()


# ---------------------------------------------------------------------------

class CorpusDedup(Workload):
    """gopher_gate -> exact_duplicates -> minhash_lsh_pairs ->
    resolve_duplicates, each stage's output written (as a curation job
    checkpoints its stages), survivors last."""

    name = "corpus_dedup"
    SHAPE = gen.CorpusShape(docs=500)
    JACCARD = 0.7  # about the 16-hash/4-band LSH curve's midpoint

    def setup(self):
        self.truth = self.generate(
            lambda p: gen.generate_corpus(os.path.join(p, "corpus.parquet"),
                                          self.seed, self.SHAPE)
        )

    def op(self):
        from pyspark.sql import functions as F

        from etdtransform_spark.operators.dedup import (
            exact_duplicates,
            minhash_lsh_pairs,
            resolve_duplicates,
        )
        from etdtransform_spark.operators.text import gopher_gate
        from etdtransform_spark.sources.parquet import (
            read_family,
            read_table,
            write_family,
        )

        spark, tr = self.spark, self.tracer
        out = self.fresh_out()

        def one_pass():
            with tr.span("op", "dedup_pass"):
                with tr.span("sources.parquet", "read_table"):
                    docs = read_table(spark, os.path.join(self.input_dir, "corpus.parquet"))
                with tr.span("operators.text", "gopher_gate"):
                    gated = gopher_gate(docs).select("doc_id", "text", "keep", "fail_reasons")
                with tr.span("operators.text", "write:gated"):
                    write_family(gated, out, "gated")
                with tr.span("sources.parquet", "read_family"):
                    kept = read_family(spark, out, "gated").filter("keep").select("doc_id", "text")
                with tr.span("operators.dedup", "exact_duplicates"):
                    exact = exact_duplicates(kept)
                with tr.span("operators.dedup", "write:exact_groups"):
                    write_family(exact, out, "exact_groups")
                with tr.span("sources.parquet", "read_family"):
                    canon = kept.join(
                        read_family(spark, out, "exact_groups").select(
                            F.col("canonical_id").alias("doc_id")),
                        "doc_id", "left_semi")
                with tr.span("operators.dedup", "minhash_lsh_pairs"):
                    pairs = minhash_lsh_pairs(canon)
                with tr.span("operators.dedup", "write:pairs"):
                    write_family(pairs, out, "pairs")
                with tr.span("operators.dedup", "resolve_duplicates"):
                    resolved = resolve_duplicates(canon, read_family(spark, out, "pairs"))
                with tr.span("operators.dedup", "write:survivors"):
                    write_family(
                        canon.join(resolved.filter("keep").select("doc_id"), "doc_id", "left_semi"),
                        out, "survivors")

        t, _ = _timed(one_pass)
        fails, self.quality = checks.check_corpus(
            checks.load_corpus(out), self.truth, self.JACCARD)
        self.fail(fails)
        shutil.rmtree(out)
        return Op(t, self.SHAPE.docs, self.SHAPE.docs, [], 0)


WORKLOADS = {w.name: w for w in (EtlMonth, CorpusDedup)}
