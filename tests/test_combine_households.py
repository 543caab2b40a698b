"""``combine_household_files`` on pyarrow-written mapped files: household ids
stamped from the file names, the ``Meenemen`` include flag applied, the
TIMESTAMP(NANOS) footers repaired, and a clear error on an empty folder."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from etdtransform_spark.sources.parquet import combine_household_files

T0 = dt.datetime(2023, 1, 1)
N = 4
# household -> (project, Meenemen)
HOUSES = {11: (1, True), 12: (1, False), 13: (2, True)}


@pytest.fixture(scope="module")
def mapped_folder(tmp_path_factory):
    folder = tmp_path_factory.mktemp("mapped")
    for h in HOUSES:
        table = pa.table(
            {
                "ReadingDate": pa.array(
                    [T0 + dt.timedelta(minutes=5 * i) for i in range(N)],
                    type=pa.timestamp("ns"),
                ),
                "Zon-opwekTotaal": pa.array(
                    [float(h + i) for i in range(N)], type=pa.float64()
                ),
            }
        )
        pq.write_table(table, folder / f"household_{h}_table.parquet")
    # the footers really are NANOS, the case a bare Spark scan rejects
    footer = pq.ParquetFile(folder / "household_11_table.parquet").schema_arrow
    assert footer.field("ReadingDate").type == pa.timestamp("ns")
    return str(folder)


def _index(spark):
    return spark.createDataFrame(
        [(h, p, keep) for h, (p, keep) in HOUSES.items()],
        "HuisIdBSV long, ProjectIdBSV long, Meenemen boolean",
    )


def test_combine_stamps_ids_and_excludes_meenemen_false(spark, mapped_folder):
    df = combine_household_files(spark, mapped_folder, _index(spark))
    assert isinstance(df.schema["ReadingDate"].dataType, TimestampType)
    rows = df.select("HuisIdBSV", "ProjectIdBSV", "ReadingDate").collect()
    assert {(r.HuisIdBSV, r.ProjectIdBSV) for r in rows} == {(11, 1), (13, 2)}
    assert len(rows) == 2 * N
    assert min(r.ReadingDate for r in rows) == T0


def test_combine_empty_folder_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="household_\\*_table.parquet"):
        combine_household_files(spark, str(tmp_path), _index(spark))
