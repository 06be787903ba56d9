"""Output checks: an order-insensitive result digest, and the DuckDB
oracle digests it is compared with.

The digest of a result is ``(row count, sum over rows of xxhash64 of
every column)``, computed by one Spark aggregation. That aggregation is
the action that forces a timed query, so checking costs no extra pass.
The hash sum is accumulated as ``decimal(38,0)``: exact, and the same
for any partitioning or row order of the result.

DuckDB results are digested with the same Spark expression after their
columns are cast to the types of the Spark result, so both sides hash
identical typed values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Digest = tuple[int, str]


def digest(df: DataFrame) -> Digest:
    row_hash = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def digest_like(spark: SparkSession, rows, schema: T.StructType) -> Digest:
    """Digest of an Arrow table ``rows`` after casting each column to the
    type it has in ``schema`` (matched by name, in ``schema`` order)."""
    if rows.num_rows == 0:
        return 0, "0"
    df = spark.createDataFrame(rows.to_pandas())
    by_name = {c.lower(): c for c in df.columns}
    missing = [f.name for f in schema.fields if f.name.lower() not in by_name]
    if missing:
        raise ValueError(f"oracle result lacks columns {missing}")
    typed = df.select(
        *[F.col(f"`{by_name[f.name.lower()]}`").cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    return digest(typed)


def duckdb_connection(threads: int, views: dict[str, str]):
    """A DuckDB connection limited to ``threads``, with one view per
    ``name -> SELECT`` entry."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for name, select in views.items():
        con.execute(f"CREATE VIEW {name} AS {select}")
    return con


def table_views(data_dir: str, names) -> dict[str, str]:
    return {
        n: f"SELECT * FROM read_parquet('{os.path.join(data_dir, n)}.parquet')" for n in names
    }


# Stage-2 daily rollup of the raw readings, by the definition in
# pipeline/energy.py: drop rows without id, time or reading; attach the
# tariff of the exact half-hour; per household and day, the exact
# decimal sum of the readings, their count and the smallest tariff.
# avg_hourly_energy is a float average whose last bit depends on
# accumulation order, so it is left out of the check.
DAILY_ORACLE_SQL = """
SELECT r.LCLid,
       CAST(CAST(r.DateTime AS TIMESTAMP) AS DATE) AS date,
       SUM(CAST(r.kwh AS DECIMAL(25, 6))) AS daily_energy_kwh,
       COUNT(*) AS total_readings,
       MIN(t.Tariff) AS Tariff
FROM readings r
LEFT JOIN tariffs t ON CAST(r.DateTime AS TIMESTAMP) = CAST(t.TariffDateTime AS TIMESTAMP)
WHERE r.LCLid IS NOT NULL AND r.DateTime IS NOT NULL
  AND r.kwh IS NOT NULL AND r.kwh <> 'Null'
GROUP BY 1, 2
"""

DAILY_SCHEMA = T.StructType(
    [
        T.StructField("LCLid", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("daily_energy_kwh", T.DecimalType(38, 6)),
        T.StructField("total_readings", T.LongType()),
        T.StructField("Tariff", T.StringType()),
    ]
)


def readings_views(readings_dir: str) -> dict[str, str]:
    return {
        "readings": (
            "SELECT LCLid, DateTime, kwh FROM read_csv("
            f"'{os.path.join(readings_dir, 'readings', '*.csv')}', header = true, all_varchar = true, "
            "names = ['LCLid', 'stdorToU', 'DateTime', 'kwh'])"
        ),
        "tariffs": (
            f"SELECT * FROM read_csv('{os.path.join(readings_dir, 'tariffs.csv')}', "
            "header = true, all_varchar = true)"
        ),
    }


def daily_digest(spark: SparkSession, daily_path: str) -> Digest:
    """Digest of the pipeline's daily parquet over the oracle's columns."""
    daily = spark.read.parquet(daily_path)
    return digest(daily.select(*[F.col(f.name).cast(f.dataType) for f in DAILY_SCHEMA.fields]))


def daily_oracle_digest(spark: SparkSession, readings_dir: str, threads: int) -> Digest:
    con = duckdb_connection(threads, readings_views(readings_dir))
    try:
        rows = con.execute(DAILY_ORACLE_SQL).arrow()
    finally:
        con.close()
    return digest_like(spark, rows, DAILY_SCHEMA)
