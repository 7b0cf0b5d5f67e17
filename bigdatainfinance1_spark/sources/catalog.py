"""Table catalog: parquet scans + temp-view registration (SURVEY.md §2.1).

All tables are single-parquet files under ``{sf_dir}/`` (TESTDATA.md). Schemas
come from the parquet footers — never hand-declared, so the engine cannot
drift from the files the DuckDB oracle reads.

Scale posture: `spark.read.parquet` gives the vectorized columnar reader with
predicate pushdown + column pruning for free; at 100 TB the same call reads a
partitioned directory tree and Catalyst prunes partitions. Broadcasting the
small dimensions (region/nation/supplier/part/customer) is decided at each
join site with an explicit ``F.broadcast`` hint, not by this catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdatainfinance1_spark.session import ensure_session_conf

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; schema inferred from the parquet footer.

    Timestamp normalization: the driver's generator has produced two
    physical encodings across rounds — TIMESTAMP(NANOS) (Spark 4 refuses to
    map it; we read nanos as long via the legacy conf and truncate), and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark 4 maps it to
    TIMESTAMP_NTZ, which functions like unix_micros reject). Both are
    normalized here to plain TimestampType. The session timezone is pinned
    UTC (session.py), so the NTZ→TZ cast preserves the wall-clock value —
    exactly the naive timestamp DuckDB reads from the same file, keeping
    the oracle comparison bit-identical either way.
    """
    ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer DIV, not float division: ns values exceed 2^53, double
        # arithmetic would round the microsecond off by one
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views, mirroring the oracle's view names
    (__spark_entry__.py) so one SQL text can run on both engines."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """Utility CSV ingest (S2). In production pass an explicit schema —
    inferSchema is a full extra pass over the data."""
    opts = {"header": "true", **options}
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Utility JSON-lines ingest (S2)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Parquet sink (S3). Partitioning by a low-cardinality derived column
    (e.g. order month) exercises dynamic partition pruning on re-read."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
