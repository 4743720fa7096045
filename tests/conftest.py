from __future__ import annotations

import pytest

from cyrela_etl_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cyrela-etl-spark-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def pad_testdata_table():
    """``pad(df, name)``: fill the testdata-table columns a small fixture
    leaves out with typed nulls, so ``read_table``'s drift tripwire (every
    schemas.TESTDATA_EXPECTED column present) accepts it."""
    from pyspark.sql import functions as F

    from cyrela_etl_spark.schemas import TESTDATA_EXPECTED

    def pad(df, name: str):
        expected = TESTDATA_EXPECTED[name]
        absent = [c for c in expected if c not in df.columns]
        return df.select("*", *[F.lit(None).cast(min(expected[c])).alias(c) for c in absent])

    return pad
