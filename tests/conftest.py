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


@pytest.fixture
def failing_writes(spark):
    """Context manager: every DataFrame write started inside it fails in
    its Spark job. The written frame is filtered through a Python UDF
    that raises on the first row each task sees, so the write stage
    itself fails after Spark has set up the output, as a crash mid-write
    would. Writes behave normally again on exit."""
    from pyspark.sql import functions as F

    cls = type(spark.range(1))
    write = cls.write

    @F.udf("boolean")
    def _fail(_):
        raise RuntimeError("injected write failure")

    @contextmanager
    def _armed():
        cls.write = property(
            lambda df: write.fget(df.filter(_fail(F.spark_partition_id())))
        )
        try:
            yield
        finally:
            cls.write = write

    return _armed


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
