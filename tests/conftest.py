"""Shared fixtures: one SparkSession per test run + a DuckDB oracle.

Mirrors the driver's t2 protocol (FIXTURES.md "Oracle protocol"):
run the Spark query and the oracle SQL on the same parquet, sort rows
canonically, compare exactly for int/string/date and with rtol=1e-6 for
floats — the reference uses the same sort-then-compare discipline
(reference: ``tests/utils.py:16-27``).
"""

from __future__ import annotations

import math
import os
import uuid

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    from daft_spark.context import get_or_create

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_or_create(app_name="daft_spark_tests", master=f"local[{cpus}]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def count_spark_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, the number of Spark jobs it
    started)``. The jobs are attributed through a fresh job group; the
    listener bus is drained before the status tracker is asked, so a job
    that has already finished cannot be missed."""
    sc = spark.sparkContext
    group = f"count_spark_jobs-{uuid.uuid4().hex}"
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    sc.setJobGroup(group, "count_spark_jobs")
    try:
        result = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))

def _norm(v):
    """Normalize a cell for comparison across engines."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        # pandas renders DATE columns as midnight datetimes; collapse so
        # date-typed results compare equal regardless of the container.
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    # Floats formatted to 6 significant digits so cross-engine ulp noise
    # doesn't change sort position (alignment ties broken by the other,
    # exact columns — outputs should always carry a unique key column).
    def k(x):
        if x is None:
            return (True, "")
        if isinstance(x, float):
            return (False, f"{x:.6e}")
        return (False, str(x))

    return tuple(k(x) for x in row)


def assert_frames_match(spark_df, ducks_con, oracle_sql, rtol=1e-6, sort=True):
    """Compare a Spark DataFrame against DuckDB output, order-insensitive,
    column-name aligned (columns sorted by name, like the driver)."""
    sdf = spark_df.toPandas()
    odf = ducks_con.execute(oracle_sql).fetchdf()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in odf.columns
    ), f"column mismatch: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    cols = sorted(sdf.columns, key=str.lower)
    srows = [tuple(_norm(v) for v in row) for row in sdf[cols].itertuples(index=False)]
    ocols = sorted(odf.columns, key=str.lower)
    orows = [tuple(_norm(v) for v in row) for row in odf[ocols].itertuples(index=False)]
    assert len(srows) == len(orows), f"row count: spark={len(srows)} oracle={len(orows)}"
    if sort:
        srows.sort(key=_sort_key)
        orows.sort(key=_sort_key)
    for i, (sr, orow) in enumerate(zip(srows, orows)):
        for a, b in zip(sr, orow):
            if a is None and b is None:
                continue
            fa = isinstance(a, float) or (hasattr(a, "item") and isinstance(a.item(), float))
            fb = isinstance(b, float) or (hasattr(b, "item") and isinstance(b.item(), float))
            if fa or fb:
                x, y = float(a), float(b)
                if math.isnan(x) and math.isnan(y):
                    continue
                assert math.isclose(x, y, rel_tol=rtol, abs_tol=1e-9), (
                    f"row {i}: {x} != {y} (spark={sr} oracle={orow})"
                )
            else:
                assert str(a) == str(b), f"row {i}: {a!r} != {b!r} (spark={sr} oracle={orow})"
