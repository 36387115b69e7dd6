import tempfile
from contextlib import contextmanager

import pytest

from approximate_query_engine_spark import AQEngine, get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("aqe-tests")
    yield spark


@pytest.fixture
def above_size_line(spark):
    """Context manager: state served inside it is above the served-state
    size line (``spark.sql.autoBroadcastJoinThreshold`` lowered to 1
    byte), so its views keep the pruned file scan instead of an
    in-memory copy. The threshold is restored on exit."""

    @contextmanager
    def _above():
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _above


@pytest.fixture(scope="session")
def engine(spark):
    """Engine over sf0.001 with a fresh workdir for the whole test session."""
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_test_"), data_dir=SF_SMOKE)
    return eng


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    return con
