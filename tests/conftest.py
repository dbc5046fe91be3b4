from __future__ import annotations

import pytest

from logstash_filter_geoip_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def duck_rows(sql: str, **tables) -> list[tuple]:
    """Run an oracle SQL in DuckDB over crafted rows: each keyword names a
    view holding that Spark DataFrame's rows (moved through Arrow, so
    array columns and NULLs keep their types)."""
    import duckdb
    con = duckdb.connect()
    for name, df in tables.items():
        con.register(name, df.toArrow())
    return con.execute(sql).fetchall()
