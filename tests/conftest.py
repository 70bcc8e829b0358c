from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zio_analytics_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session", autouse=True)
def _sweep_stream_tmpdirs():
    """Session-end sweep of the scratch dirs the streaming tests create.

    The dirs outlive the queries that read them, so per-test cleanup would
    race the stream. Tests create them via ``tmpdirs.scratch_dir`` — every
    one lives under the pid-namespaced ``zas_p<pid>/`` parent and is
    registered, so removing *exactly the registered set* cannot touch
    directories owned by other processes (the round-8 ADVICE finding:
    a generic ``stage_*`` glob over the shared temp root could)."""
    yield
    from zio_analytics_spark import tmpdirs

    tmpdirs.cleanup()


@pytest.fixture(scope="session")
def embeddings_oracle():
    """``run(df, sql)``: a catalog oracle query run in DuckDB over ``df``
    registered as the ``embeddings`` table; returns the result rows."""
    import duckdb

    def run(df, sql):
        con = duckdb.connect()
        try:
            con.register("embeddings", df.toArrow())
            return con.execute(sql).fetchall()
        finally:
            con.close()

    return run


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: run ``fn`` under a fresh job group and return how
    many Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
