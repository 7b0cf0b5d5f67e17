"""Check a query's result against its DuckDB oracle over the same files,
with the comparator of the engine's own oracle tests."""

from __future__ import annotations

from pathlib import Path

import duckdb

from bigdatainfinance1_spark.sources.catalog import TABLES
from tests.conftest import assert_frames_match


def oracle_connection(data_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table over ``data_dir``; a staged table is a
    directory of parquet files."""
    con = duckdb.connect()
    for name in TABLES:
        path = data_dir / f"{name}.parquet"
        source = path / "*.parquet" if path.is_dir() else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{source}')")
    return con


def mismatch(spec, spark_pdf, con) -> str | None:
    """None when ``spark_pdf`` matches the oracle, else why not."""
    if spec.oracle is None:
        return "no oracle"
    duck_pdf = con.execute(spec.oracle).df()
    if len(duck_pdf) == 0:
        return "oracle returned 0 rows"
    try:
        assert_frames_match(spark_pdf, duck_pdf, spec.name)
    except AssertionError as e:
        return str(e)[:500]
    return None
