"""Parquet sources/sinks for the ETD dataset families.

Reference read/write surface: aggregate.py:25-50,84-121,302-353;
load_data.py:23-67,320-351; impute.py:540-561. Stage outputs keep the
reference's family file names so golden comparisons are 1:1, but each family
is a *partitioned directory dataset* (partitioned by ProjectIdBSV) rather
than one giant file — the structural fix for the reference's 25-100 GB
single-process RAM ceiling (README.md:161-167).
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


_NS_COLUMNS_CACHE: dict[tuple[str, float | None], list[str]] = {}


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection only).

    Spark 4 cannot read nanosecond parquet timestamps natively; with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as LongType
    nanoseconds. We detect them from the file footer so ``read_table`` can
    restore proper TimestampType (truncated to microseconds, matching what
    DuckDB/pandas return to Python)."""
    # cache key includes the path mtime: a rewrite at the same path with a
    # different timestamp precision must invalidate the cached repair list
    # (a stale entry would div-1000 a proper timestamp column, or leave a
    # new ns column as raw longs)
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = (path, None)
    if key in _NS_COLUMNS_CACHE:
        return _NS_COLUMNS_CACHE[key]
    cols: list[str] = []
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        for field in schema:
            if isinstance(field.type, pa.TimestampType) and field.type.unit == "ns":
                cols.append(field.name)
    except Exception:
        cols = []
    _NS_COLUMNS_CACHE[key] = cols
    return cols


def read_table(
    spark: SparkSession, path: str, pin_utc: bool = True
) -> DataFrame:
    """``spark.read.parquet`` that transparently repairs nanosecond-precision
    timestamp columns to TimestampType (microsecond truncation, identical to
    DuckDB's ns->us cast). ``ts div 1000`` is exact integer division — a
    double division would lose precision at ~1.7e18 ns epoch values.

    ``pin_utc`` (default True) sets the SESSION-WIDE timezone to UTC as a
    side effect: every contract query assumes naive-UTC semantics (what
    DuckDB/pandas give back), and the harness session is not guaranteed to
    have been built by get_spark(). A caller who deliberately runs a
    non-UTC session must pass ``pin_utc=False`` — the pin mutates shared
    session state, not just this read."""
    if pin_utc:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _read_with_nanos_repair(spark, path, path)


def _read_with_nanos_repair(
    spark: SparkSession, sniff_path: str, read_path: str | list[str]
) -> DataFrame:
    """Shared nanos-repair scan: footer-sniff ``sniff_path`` (one
    representative file/dir — footer inspection needs a LOCAL path, which
    is the only deployment this repo's test/driver environments use), set
    the runtime conf (required or the scan raises PARQUET_TYPE_ILLEGAL;
    session-global and deliberately left set — the repo rule is that
    every nanos-capable read goes through this helper, never a bare
    ``spark.read.parquet``), scan ``read_path`` (a path, a glob or a list
    of files), repair.
    """
    ns_cols = _nanos_timestamp_columns(sniff_path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = read_path if isinstance(read_path, list) else [read_path]
    df = spark.read.parquet(*paths)
    for c in ns_cols:
        # apply the repair only when Spark actually surfaced raw long
        # nanoseconds: INT96 timestamps (Spark's default writer output)
        # read as timestamp[ns] in pyarrow's footer view but as proper
        # TimestampType in Spark — div-1000ing those would be an
        # AnalysisException (and wrong)
        if df.schema[c].dataType.typeName() in ("long", "bigint"):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    return df


def widen(df: DataFrame, factor: int = 1) -> DataFrame:
    """Raise the partition count to ``defaultParallelism * factor`` when the
    input is under-partitioned.

    A small single-file parquet scan yields ONE partition, which serializes
    every downstream narrow transform — fatal for CPU-heavy per-row work
    (regex normalization, shingling, md5 hashing). At production scale the
    scan already has >= cluster parallelism partitions and this is a no-op,
    so the shuffle cost is only ever paid on inputs small enough for it to be
    trivial."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sanitize_name(name: str) -> str:
    """Reference aggregate.py:322: re.sub(r"\\W+", "_", name.lower())."""
    return re.sub(r"\W+", "_", name.lower())


def family_path(base_folder: str, name: str, interval: str | None = None) -> str:
    fname = sanitize_name(name if interval is None else f"{name}_{interval}")
    return os.path.join(base_folder, f"{fname}.parquet")


def family_committed(
    base_folder: str, name: str, interval: str | None = None
) -> bool | None:
    """Whether the family is written: True when its sink holds Spark's
    ``_SUCCESS`` commit marker, False when the folder exists without one
    (an interrupted or foreign write, never read), None when it is absent."""
    path = family_path(base_folder, name, interval)
    if not os.path.isdir(path):
        return None
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def data_files(path: str) -> list[str]:
    """The data files of a dataset folder, as Spark and pyarrow list them:
    no file or folder whose name starts with ``_`` or ``.`` (``_SUCCESS``,
    ``_temporary/``, ``.crc`` checksums). Metadata only."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(root, f) for f in files
                if not f.startswith(("_", "."))]
    return out


def read_family(
    spark: SparkSession,
    base_folder: str,
    name: str,
    interval: str | None = None,
    format: str = "parquet",
    merge_schema: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Family reader. ``merge_schema=True`` reconciles files written under
    different schema versions (columns added over time) into the union
    schema with missing columns null-filled — the read-side twin of the
    by-name append (footer scan per file; leave off when the schema is
    known stable, it costs a listing pass at large file counts).
    ``schema``, the data schema of a frame just written, saves the job that
    infers it from a footer. Leave out the partition columns: Spark infers
    them from the paths, as an inferring read does (``long`` may read ``int``)."""
    reader = spark.read.format(format)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(family_path(base_folder, name, interval))


def write_family(
    df: DataFrame,
    base_folder: str,
    name: str,
    interval: str | None = None,
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> str:
    """Stage-sink writer. ``format`` accepts any Spark batch source
    ("parquet" default; "orc" ships in-core and keeps the same columnar
    pruning/pushdown contract — Avro requires the external spark-avro
    module, absent here). The family path keeps its reference-parity
    ``.parquet`` suffix regardless: the suffix is the reference's NAMING
    convention (aggregate.py:118-121), not a format claim."""
    path = family_path(base_folder, name, interval)
    writer = df.write.mode("overwrite").format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return path


def combine_household_files(
    spark: SparkSession,
    mapped_folder: str,
    index_df: DataFrame,
    pattern: str = "household_*_table.parquet",
) -> DataFrame:
    """Combine per-household parquet files into one dataset with stamped keys
    (reference aggregate_hh_data_5min, aggregate.py:84-121).

    The reference loops files and stamps ProjectIdBSV/HuisIdBSV literals per
    file; here the id is recovered from the file path with
    ``input_file_name`` (one scan of the matched files, no driver-side loop)
    and the project id joined from the (broadcast) index. Households with
    Meenemen=false are excluded (aggregate.py:95-99).

    Mapped files are written by etdmap's pandas/pyarrow stage, whose default
    timestamp encoding is TIMESTAMP(NANOS) — illegal for a bare Spark scan.
    One representative footer is sniffed (the mapping stage writes every
    household with the same schema) and the ``read_table`` nanos repair is
    applied to the whole scan.

    A local folder is scanned as the sorted list of files matching
    ``pattern``: handing Spark the glob itself makes its metadata-directory
    probe log a ``FileNotFoundException`` stack trace on every call. A local
    folder with no match raises ``FileNotFoundError``.
    """
    import glob as globmod

    glob = os.path.join(mapped_folder, pattern)
    # the mapping stage writes every household with the same schema, so
    # ONE representative footer decides the repair for the whole scan
    matches = sorted(globmod.glob(glob))
    if matches:
        raw = _read_with_nanos_repair(spark, matches[0], matches)
    elif "://" not in mapped_folder:
        raise FileNotFoundError(
            f"combine_household_files: no files match {pattern!r} in "
            f"{mapped_folder!r}"
        )
    else:
        # The footer sniff is local-filesystem only: on an HDFS/S3 URI the
        # glob is empty, pyarrow can't open the URI, the repair silently
        # no-ops, and the scan would later fail with a bare
        # PARQUET_TYPE_ILLEGAL. Point the failure at the deployment
        # assumption instead: copy one representative file locally or
        # pre-repair the footers.
        warnings.warn(
            f"combine_household_files: nanos-footer sniff found no LOCAL "
            f"files for {glob!r}; the TIMESTAMP(NANOS) repair cannot be "
            f"applied to a non-local mapped_folder. If the scan fails with "
            f"PARQUET_TYPE_ILLEGAL, stage one representative file locally.",
            stacklevel=2,
        )
        raw = _read_with_nanos_repair(spark, glob, glob)
    raw = raw.withColumn(
        "HuisIdBSV",
        F.regexp_extract(F.input_file_name(), r"household_(\d+)_table\.parquet", 1).cast(
            "long"
        ),
    )
    keys = index_df.filter(F.col("Meenemen")).select("HuisIdBSV", "ProjectIdBSV")
    return raw.join(F.broadcast(keys), "HuisIdBSV", "inner")


def read_index(spark: SparkSession, mapped_folder: str) -> DataFrame:
    """Household metadata index; legacy ``HuisCode`` renamed to ``HuisIdBSV``
    (reference load_data.py:53-54,92-99)."""
    df = spark.read.parquet(os.path.join(mapped_folder, "index.parquet"))
    if "HuisCode" in df.columns and "HuisIdBSV" not in df.columns:
        df = df.withColumnRenamed("HuisCode", "HuisIdBSV")
    return df


def update_meenemen(
    index_df: DataFrame,
    corrections: DataFrame | None = None,
    min_validators_true: int | None = None,
) -> DataFrame:
    """Refresh the per-household ``Meenemen`` include flag (reference
    aggregate.py:95 calls etdmap's ``update_meenemen`` before combining;
    etdmap is not vendored, so the semantics are reconstructed from usage:
    the flag is recomputed from QC signals and explicit overrides, then the
    combine step keeps only Meenemen=true households).

    Two inputs, both optional:
    - ``corrections``: (HuisIdBSV, Meenemen) overrides — wins outright
      where present (broadcast left join; corrections are human-curated and
      tiny at any scale).
    - ``min_validators_true``: recompute the flag from the index's
      ``validate_*`` boolean columns — a household stays in when at least
      this many validators pass. Nulls count as not-passing.
    Precedence: correction > validator recompute > existing flag; a
    household with none of the three defaults to False (fail closed).
    """
    out = index_df
    base = F.col("Meenemen") if "Meenemen" in out.columns else F.lit(None).cast(
        "boolean"
    )
    if min_validators_true is not None:
        vcols = [c for c in out.columns if c.startswith("validate_")]
        n_pass = sum(
            (F.when(F.col(c), 1).otherwise(0) for c in vcols), F.lit(0)
        )
        base = n_pass >= F.lit(min_validators_true)
    if corrections is not None:
        fix = corrections.select(
            "HuisIdBSV", F.col("Meenemen").alias("_meenemen_fix")
        )
        out = out.join(F.broadcast(fix), "HuisIdBSV", "left")
        flag = F.coalesce(F.col("_meenemen_fix"), base, F.lit(False))
        return out.withColumn("Meenemen", flag).drop("_meenemen_fix")
    return out.withColumn("Meenemen", F.coalesce(base, F.lit(False)))


def join_index(
    df: DataFrame, index_df: DataFrame, metadata_columns: list[str] | None = None
) -> DataFrame:
    """Left join of a fact table with the household index on
    (HuisIdBSV, ProjectIdBSV) — index is tiny, always broadcast
    (reference load_data.py:70-101)."""
    if metadata_columns is not None:
        index_df = index_df.select("HuisIdBSV", "ProjectIdBSV", *metadata_columns)
    return df.join(F.broadcast(index_df), ["HuisIdBSV", "ProjectIdBSV"], "left")


def compact_family(
    spark: SparkSession,
    base_folder: str,
    name: str,
    interval: str | None = None,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> str:
    """Small-file compaction for a stage sink, in place: the family is
    rewritten by :func:`compact_parquet` into a ``_compact_tmp`` sibling,
    then swapped in by two renames (move old aside → move tmp in), so a
    half-written family is never visible. A crash exactly between the
    renames leaves the family briefly absent with the old data intact in
    its ``_compact_old`` sibling; the next call restores it first. A bad
    ``target_file_mb`` raises before any file is written or removed.
    """
    import shutil

    path = family_path(base_folder, name, interval)
    tmp = path + "._compact_tmp"
    bak = path + "._compact_old"
    if not os.path.exists(path) and os.path.exists(bak):
        # crashed between the two renames: the old data is intact in the
        # sibling — restore it before recompacting
        os.rename(bak, path)
    compact_parquet(
        spark, path, tmp, target_file_mb, partition_by=partition_by, format=format
    )
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return path


def apply_changes_to_family(
    spark: SparkSession,
    changes: DataFrame,
    base_folder: str,
    name: str,
    keys: list[str],
    partition_col: str,
    interval: str | None = None,
    status_col: str = "status",
) -> str:
    """Apply a CDC change set (``snapshot_diff`` output shape: key columns +
    ``status`` in {added, removed, changed} + ``new_<col>`` values) to a
    partitioned parquet family by rewriting ONLY the partitions that
    contain changes — the upsert path for a partitioned lake without a
    table format.

    Mechanics: dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic``) so the write
    replaces exactly the partition directories present in its output.
    For each touched partition the new content is (current rows minus
    removed/changed keys) union (added/changed rows from the change set) —
    the read side prunes to touched partitions via an IN filter on the
    partition values (broadcast-collected once; partition counts are
    thousands at most, never data-sized). Untouched partitions are never
    read or written.

    ``changes`` must carry ``partition_col`` (for removed rows: the OLD
    partition value) and ``new_<col>`` for every non-key, non-partition
    data column of the family. Keys moving across partitions appear as
    removed-in-old + added-in-new, which this handles naturally.
    """
    path = family_path(base_folder, name, interval)
    touched = [
        r[0]
        for r in changes.select(partition_col).distinct().collect()
    ]
    if not touched:
        return path
    current = spark.read.parquet(path).filter(
        F.col(partition_col).isin(touched)
    )
    data_cols = [c for c in current.columns if c not in (*keys, partition_col)]
    # ALL changed keys leave `current` — including "added": on a replay
    # (at-least-once CDC delivery) the added row is already present, and
    # excluding it from survivors makes the whole apply idempotent
    # (re-applying any change set is a no-op).
    dropped_keys = changes.select(*keys)
    upserts = changes.filter(
        F.col(status_col).isin(["added", "changed"])
    ).select(
        *keys,
        F.col(partition_col),
        *[F.col(f"new_{c}").alias(c) for c in data_cols],
    )
    survivors = current.join(dropped_keys, keys, "left_anti")
    out = survivors.select(*keys, partition_col, *data_cols).unionByName(
        upserts.select(*keys, partition_col, *data_cols)
    )
    out = out.persist()
    # Dynamic overwrite only replaces partitions PRESENT in the output: a
    # touched partition whose rows were all removed would silently keep its
    # old directory. Detect and delete those explicitly.
    remaining = {r[0] for r in out.select(partition_col).distinct().collect()}
    emptied = [v for v in touched if v not in remaining]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        out.unpersist()
    import shutil

    for v in emptied:
        shutil.rmtree(os.path.join(path, f"{partition_col}={v}"), ignore_errors=True)
    return path


def footer_aggregate(
    spark: SparkSession,
    path: str,
    aggs: list[tuple[str, str]],
) -> DataFrame:
    """MIN/MAX/COUNT over a parquet dataset answered from row-group footer
    statistics — no data pages read at ANY table size.

    ``aggs`` is [(fn, col)] with fn in {min, max, count} (use col "*" with
    count for row counts). Spark's aggregate pushdown
    (``spark.sql.parquet.aggregatePushdown``) only exists in the DSv2
    parquet reader, and parquet defaults to V1 (``useV1SourceList``), so
    this helper scopes the V2 switch to one eagerly-materialized query
    instead of flipping the scan path engine-wide. The result is collected
    (it is one row by construction) and returned as a local DataFrame.

    Pushdown eligibility is per-column-type (numeric/string yes; timestamp
    min/max currently not) and Spark falls back to the data path silently;
    check ``result._footer_aggregate_plan`` for ``PushedAggregation: [...]``
    when the metadata-only guarantee matters.
    """
    allowed = {"min", "max", "count"}
    for fn, _c in aggs:
        if fn not in allowed:
            raise ValueError(f'footer_aggregate supports {allowed}, got "{fn}"')
    exprs = [
        (
            F.count(F.lit(1)) if c == "*" else getattr(F, fn)(F.col(c))
        ).alias(f"{fn}_{'rows' if c == '*' else c}")
        for fn, c in aggs
    ]
    key = "spark.sql.sources.useV1SourceList"
    prev = spark.conf.get(key)
    v2_list = ",".join(s for s in prev.split(",") if s and s != "parquet")
    spark.conf.set(key, v2_list)
    try:
        out = spark.read.parquet(path).agg(*exprs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = out.collect()
    finally:
        spark.conf.set(key, prev)
    res = spark.createDataFrame(rows, out.schema)
    # stash the physical plan for callers/tests that want to verify the
    # pushdown actually engaged (e.g. schema evolution disables it)
    res._footer_aggregate_plan = plan  # type: ignore[attr-defined]
    return res


def write_sorted(
    df: DataFrame,
    path: str,
    by: list[str],
    n_files: int | None = None,
) -> str:
    """Range-partitioned sorted parquet write: rows are globally range-
    partitioned on ``by`` then sorted within each file, so every file owns
    a disjoint key range and its parquet min/max statistics become
    file-level zone maps — a reader filtering on ``by`` prunes whole files
    (row-group skipping for free, no table format needed). The layout step
    that makes 100 TB time-range scans cheap; one range exchange
    (sampled boundaries) + local sort, never a single-partition global
    sort.
    """
    parts = df.repartitionByRange(*( [n_files] if n_files else [] ), *by)
    parts.sortWithinPartitions(*by).write.mode("overwrite").parquet(path)
    return path


def _interleave_bits(codes: list[F.Column], bits: int) -> F.Column:
    """Morton bit-interleave of per-column integer codes: output bit
    ``k*len(codes)+j`` = bit ``k`` of code ``j``. Disjoint bit positions
    → plain addition == bitwise OR; pure integer codegen (shift/mask
    folds), no shuffle."""
    n = len(codes)
    z = F.lit(0).cast("bigint")
    for k in range(bits):
        for j, code in enumerate(codes):
            z = z + (
                F.shiftright(code, k).bitwiseAND(F.lit(1).cast("bigint"))
                * F.lit(1 << (k * n + j)).cast("bigint")
            )
    return z


def zorder_value(cols: list[str], bits: int = 16) -> F.Column:
    """Morton (Z-order) curve value from per-column rank percentiles —
    the EXACT variant (oracle parity).

    Each column is first reduced to a ``bits``-bit integer by scaling its
    ``percent_rank`` (rank-based, so skew and outliers cannot collapse the
    code space the way min/max scaling would), then the codes are
    bit-interleaved via :func:`_interleave_bits`. Nearby z-values are near
    in EVERY dimension, which is what turns parquet min/max footers into
    multi-column zone maps.

    percent_rank needs a total order per column — one window per column
    over an empty partition. That is a single-partition sort of the WHOLE
    input per column, acceptable for layout maintenance jobs at moderate
    size; the 100 TB path is :func:`zorder_value_sampled` (broadcast
    approx-quantile boundaries, no window at all).
    """
    codes = []
    for c in cols:
        pr = F.percent_rank().over(Window.orderBy(F.col(c)))
        codes.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor(pr * F.lit(float(1 << bits))).cast("bigint"),
            )
        )
    return _interleave_bits(codes, bits)


def zorder_value_sampled(
    df: DataFrame,
    cols: list[str],
    bits: int = 10,
    accuracy: int = 10000,
    out_col: str = "_z",
) -> DataFrame:
    """Morton code via SAMPLED per-column rank buckets — the scale path
    (mirrors ``quantile_normalize(exact=False)``, stats.py).

    One ``percentile_approx`` aggregate computes ``2**bits - 1`` sorted
    cut points per column (t-digest style partial merge, model-sized
    single row), broadcast to every row; each column's code is the count
    of cut points ≤ value, found by a BRANCHLESS BINARY SEARCH unrolled
    to ``bits`` ``element_at`` probes (pure codegen — no per-element
    array aggregate, no window, no extra shuffle, no single-partition
    sort). NULL values probe NULL → code 0, matching the exact variant's
    NULLS FIRST rank. ``bits`` defaults to 10 (1024 buckets/dimension):
    beyond ``accuracy`` the extra buckets stop being distinct, and file-
    level zone maps only need code granularity ≳ file count.

    Returns ``df`` with ``out_col`` added."""
    n_cuts = (1 << bits) - 1
    qs = [i / (1 << bits) for i in range(1, 1 << bits)]
    grid = df.agg(
        *[
            F.percentile_approx(F.col(c).cast("double"), qs, F.lit(accuracy)).alias(
                f"_cuts_{j}"
            )
            for j, c in enumerate(cols)
        ]
    )
    with_grid = df.crossJoin(F.broadcast(grid))
    # Binary search as a FOLD over the step sizes, not an unrolled
    # When-chain: each unrolled step would reference the previous index
    # expression three times, tripling the tree per level (3^bits nodes —
    # Catalyst optimization time explodes past bits≈8). F.aggregate's
    # lambda BINDS the accumulator, so the tree stays O(bits) and the
    # search runs as a real loop at execution time.
    steps = F.array(
        *[F.lit(1 << b).cast("bigint") for b in range(bits - 1, -1, -1)]
    )
    def make_probe(arr, v):
        def probe(acc, stp):
            cand = acc + stp
            # element_at is 1-indexed and ANSI-throws past the end: clamp
            # the probe, gate the move on the true bound check
            safe = F.least(cand, F.lit(n_cuts).cast("bigint")).cast("int")
            ok = (cand <= F.lit(n_cuts)) & (F.element_at(arr, safe) <= v)
            return F.when(ok, cand).otherwise(acc)

        return probe

    codes = []
    for j, c in enumerate(cols):
        v = F.col(c).cast("double")
        arr = F.col(f"_cuts_{j}")
        codes.append(
            F.aggregate(steps, F.lit(0).cast("bigint"), make_probe(arr, v))
        )
    return with_grid.withColumn(out_col, _interleave_bits(codes, bits)).drop(
        *[f"_cuts_{j}" for j in range(len(cols))]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    by: list[str],
    n_files: int | None = None,
    bits: int = 16,
    exact: bool = True,
) -> str:
    """Multi-dimensional clustered parquet write: range-partition + sort on
    the Morton code of ``by``, so every file's parquet min/max stats are
    TIGHT in all ``by`` dimensions at once — a reader filtering on ANY of
    them prunes files. :func:`write_sorted` gives perfect pruning on its
    leading column and none on the others; z-ordering trades a little of
    the first dimension's tightness for bounded spread everywhere (the
    property Delta/Iceberg OPTIMIZE ZORDER provides, here on plain
    parquet).

    ``exact=True`` codes by exact percent_rank (one single-partition sort
    per dimension — deterministic, test/oracle scale). ``exact=False`` is
    the 100 TB layout-maintenance path: :func:`zorder_value_sampled`
    broadcast approx-quantile buckets, no window anywhere in the plan —
    the only wide operation left is the range exchange of the write
    itself.
    """
    if not exact:
        zed = zorder_value_sampled(df, by, bits=min(bits, 10))
    else:
        zed = df.withColumn("_z", zorder_value(by, bits))
    parts = zed.repartitionByRange(*([n_files] if n_files else []), F.col("_z"))
    (
        parts.sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def file_stats(path: str, columns: list[str]) -> list[dict]:
    """Per-file parquet footer min/max for ``columns`` (metadata only —
    no data read). The reader half of the zone-map contract written by
    :func:`write_sorted` / :func:`write_zordered`."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    out = []
    for frag in ds.dataset(path, format="parquet").get_fragments():
        md = pq.ParquetFile(frag.path).metadata
        stats: dict = {"path": frag.path, "n_rows": md.num_rows}
        for c in columns:
            mn = mx = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema == c and col.statistics is not None:
                        s = col.statistics
                        if s.has_min_max:
                            mn = s.min if mn is None else min(mn, s.min)
                            mx = s.max if mx is None else max(mx, s.max)
            stats[c] = (mn, mx)
        out.append(stats)
    return out


def read_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only the files whose footer [min, max] for ``column`` intersects
    [lo, hi] — file-level zone-map pruning on plain parquet. Spark's own
    parquet reader already skips ROW GROUPS via pushed filters, but still
    schedules a task per file; listing-level pruning removes those tasks
    entirely (at 100 TB: thousands of skipped task launches per query).
    The residual predicate is still applied, so correctness never depends
    on the stats."""
    keep = [
        s["path"]
        for s in file_stats(path, [column])
        if s[column][0] is None  # no stats: cannot prune, must read
        or not (s[column][1] < lo or s[column][0] > hi)
    ]
    if not keep:
        return (
            spark.read.parquet(path)
            .filter(F.col(column).between(lo, hi))
            .limit(0)
        )
    return spark.read.parquet(*keep).filter(F.col(column).between(lo, hi))


def analyze_family(
    spark: SparkSession,
    base_folder: str,
    name: str,
    interval: str | None = None,
    columns: list[str] | None = None,
    table_prefix: str = "etd_",
) -> str:
    """Register a written dataset family as an external table and collect
    cost-based-optimizer statistics (`ANALYZE TABLE COMPUTE STATISTICS`,
    plus per-column NDV/min/max/histogram stats when ``columns`` given).

    Why it matters at 100 TB: with table+column stats and
    ``spark.sql.cbo.enabled``, Catalyst's join reordering and broadcast
    decisions run on REAL cardinalities instead of raw file sizes — a
    filtered fact that shrinks below the broadcast threshold gets planned
    as a broadcast join, and multi-join orders put the smallest
    intermediate first. Stats collection is one scan (column stats use
    approximate NDV sketches internally), amortized over every downstream
    query against the family. Returns the table name."""
    path = family_path(base_folder, name, interval)
    table = table_prefix + sanitize_name(
        name if interval is None else f"{name}_{interval}"
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{path}'")
    stmt = f"ANALYZE TABLE {table} COMPUTE STATISTICS"
    spark.sql(stmt)
    if columns:
        spark.sql(stmt + " FOR COLUMNS " + ", ".join(columns))
    return table


# ---------------------------------------------------------------------------
# versioned family sinks: time-travel-lite on plain parquet
# ---------------------------------------------------------------------------

def _versions_dir(base_folder: str, name: str, interval: str | None) -> str:
    return family_path(base_folder, name, interval) + ".versions"


def write_family_version(
    df: DataFrame,
    base_folder: str,
    name: str,
    interval: str | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Versioned stage sink: each write lands in an immutable
    ``<family>.parquet.versions/v=<n>/`` directory (staged write + atomic
    rename), and a ``_LATEST`` pointer file flips atomically (os.replace)
    to publish it — readers either see the previous version or the new one,
    never a partial write. This is time-travel-lite on plain parquet: the
    two properties worth having from a table format (atomic publish +
    reproducible historical reads, e.g. "train on the exact corpus snapshot
    of last Tuesday") without its runtime dependency. No compaction/ACID
    merge — the CDC path (`apply_changes_to_family`) and `compact_family`
    stay the mutation tools for the CANONICAL family; versions are for
    published snapshots. Returns the new version number."""
    import shutil
    import tempfile

    vdir = _versions_dir(base_folder, name, interval)
    os.makedirs(vdir, exist_ok=True)
    existing = list_family_versions(base_folder, name, interval)
    new_v = (existing[-1] + 1) if existing else 1
    staging = tempfile.mkdtemp(prefix="_stage_", dir=vdir)
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    target = os.path.join(staging, "data")
    writer.save(target)
    final = os.path.join(vdir, f"v={new_v}")
    os.rename(target, final)
    shutil.rmtree(staging, ignore_errors=True)
    ptr_tmp = os.path.join(vdir, "_LATEST.tmp")
    with open(ptr_tmp, "w") as fh:
        fh.write(str(new_v))
    os.replace(ptr_tmp, os.path.join(vdir, "_LATEST"))
    return new_v


def list_family_versions(
    base_folder: str, name: str, interval: str | None = None
) -> list[int]:
    vdir = _versions_dir(base_folder, name, interval)
    if not os.path.isdir(vdir):
        return []
    out = []
    for d in os.listdir(vdir):
        if d.startswith("v=") and d[2:].isdigit():
            out.append(int(d[2:]))
    return sorted(out)


def read_family_version(
    spark: SparkSession,
    base_folder: str,
    name: str,
    interval: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read a specific published version (default: the _LATEST pointer)."""
    vdir = _versions_dir(base_folder, name, interval)
    if version is None:
        with open(os.path.join(vdir, "_LATEST")) as fh:
            version = int(fh.read().strip())
    path = os.path.join(vdir, f"v={version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"version {version} not found under {vdir}")
    return spark.read.parquet(path)


def prune_family_versions(
    base_folder: str,
    name: str,
    interval: str | None = None,
    keep_last: int = 3,
) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` versions (never the
    one _LATEST points to). Returns the removed version numbers."""
    import shutil

    vdir = _versions_dir(base_folder, name, interval)
    versions = list_family_versions(base_folder, name, interval)
    with open(os.path.join(vdir, "_LATEST")) as fh:
        latest = int(fh.read().strip())
    to_drop = [v for v in versions[:-keep_last] if v != latest] if keep_last else []
    for v in to_drop:
        shutil.rmtree(os.path.join(vdir, f"v={v}"), ignore_errors=True)
    return to_drop


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
    path: str | None = None,
) -> str:
    """Hash-bucketed (and optionally bucket-sorted) parquet TABLE write —
    the co-location layout that removes the shuffle from every future
    equi-join and aggregation on ``key``: two tables bucketed by the
    same key into the same bucket count sort-merge-join with ZERO
    Exchange on either side (bucket id ≡ reducer id), and a groupBy on
    the key needs no exchange either. This is the layout lever for a
    100 TB fact table that is joined on the same key daily: pay the
    shuffle once at write time, never again at read time.

    Spark's bucketing metadata lives in the session catalog, so this is
    a ``saveAsTable`` (managed parquet table under
    ``spark.sql.warehouse.dir``), not a bare ``.parquet(path)`` — plain
    directory parquet cannot carry the bucket spec. Readers use
    ``spark.table(table)``; the shuffle-free plan requires
    ``spark.sql.sources.bucketing.enabled`` (default true) and matching
    bucket counts (or a divisible ratio with
    ``bucketing.autoBucketedScan``/``bucketedTableScan`` defaults).

    ``path`` makes it an EXTERNAL table at that location (catalog keeps
    only the bucket spec) — use it to keep test/contract artifacts out
    of the session warehouse dir. Returns the table name; overwrites an
    existing table of that name.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = df.sparkSession
    if path is not None:
        # overwrite of an external table keeps the OLD location unless
        # the catalog entry is dropped first
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, key
    )
    if sort:
        writer = writer.sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return table


def bucketed_cardinality(spark, table: str) -> DataFrame:
    """Per-bucket row counts of a bucketed table (layout skew audit):
    one aggregate over input_file_name(), no shuffle of data columns.

    Bucketed file names are ``part-<taskId>-<uuid>_<bucketId>.c000…`` —
    the bucket id is the ``_NNNNN`` suffix, NOT the leading part number
    (that is the writer task id, duplicated across buckets); files of
    the same bucket written by different tasks re-aggregate here."""
    df = spark.table(table)
    return (
        df.select(F.input_file_name().alias("_f"))
        .groupBy("_f")
        .count()
        .groupBy(
            F.regexp_extract(F.col("_f"), r"_(\d+)\.c\d+", 1)
            .cast("int")
            .alias("bucket_id")
        )
        .agg(F.sum("count").alias("n_rows"))
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_mb: int = 128,
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> str:
    """Small-files compaction — the layout-maintenance pass every
    long-lived 100 TB table needs: streaming/incremental writers leave
    thousands of KB-scale files whose per-file open/footer/task overhead
    eventually dominates scans. Rewrites the dataset into
    ceil(total_bytes / target_mb) evenly-sized files via a round-robin
    repartition (one full shuffle of the data being compacted — the
    price of even output; run it per partition directory in production
    so the unit of work is bounded).

    File sizing lists the data files only (:func:`data_files`, no data
    read). ``partition_by`` and ``format`` are the source's layout and
    are kept in ``dst_path``. :func:`compact_family` uses this to compact
    a family sink in place. Returns dst_path.
    """
    import math

    if target_mb < 1:
        raise ValueError(f"target_mb must be >= 1, got {target_mb}")
    total = sum(os.path.getsize(f) for f in data_files(src_path))
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    writer = (
        spark.read.format(format).load(src_path)
        .repartition(n_files)
        .write.mode("overwrite").format(format)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(dst_path)
    return dst_path


def compaction_audit(spark, path: str) -> DataFrame:
    """File-count / size spread of a parquet dataset (metadata only):
    ONE row (n_files, total_bytes, min_bytes, max_bytes, avg_bytes) —
    the before/after check for :func:`compact_parquet`."""
    sizes = [int(os.path.getsize(f)) for f in data_files(path)]
    rows = [(
        len(sizes),
        int(sum(sizes)),
        min(sizes) if sizes else None,
        max(sizes) if sizes else None,
        float(sum(sizes)) / len(sizes) if sizes else None,
    )]
    return spark.createDataFrame(
        rows,
        "n_files bigint, total_bytes bigint, min_bytes bigint,"
        " max_bytes bigint, avg_bytes double",
    )
