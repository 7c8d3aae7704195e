from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("dfx-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def test_table(spark):
    """F1 fixture — reference tests/main.rs:22-37 (7 rows, last all-NULL).

    time64 is represented as bigint nanos-of-day (no TimeType in Spark).
    """
    import datetime as dt

    rows = [
        ("apple", 1, 1.0, dt.date(2021, 1, 1), 3_600_000_000_000),
        ("banana", 2, 2.0, dt.date(2021, 1, 2), 7_200_000_000_000),
        ("apple", 2, 2.0, dt.date(2021, 1, 2), 7_200_000_000_000),
        ("orange", 3, 3.0, dt.date(2021, 1, 3), 10_800_000_000_000),
        ("banana", 3, 3.0, dt.date(2021, 1, 3), 10_800_000_000_000),
        ("apple", 3, 3.0, dt.date(2021, 1, 3), 10_800_000_000_000),
        (None, None, None, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "utf8_col string, int64_col bigint, float64_col double, "
        "date64_col date, time64_col bigint",
    )


@pytest.fixture(scope="session")
def cdc_oracle():
    """Reference CDC chunker: sorted ``(id, chunk_hash, chunk_bytes)`` rows
    for a list of ``(id, payload bytes)``, from DuckDB running the
    ``multimodal.cdc_chunks_sql`` oracle fragment."""
    import duckdb

    from datafusion_functions_extra_spark.functions import multimodal as MM

    def chunks(rows):
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE p (doc_id BIGINT, payload BLOB)")
            con.executemany(
                "INSERT INTO p VALUES (?, ?)", [(i, bytes(b)) for i, b in rows]
            )
            return sorted(
                con.execute(
                    f"WITH {MM.cdc_chunks_sql()} "
                    "SELECT id, chunk_hash, chunk_bytes FROM chunk"
                ).fetchall()
            )
        finally:
            con.close()

    return chunks
