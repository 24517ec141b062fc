"""The parquet schema memo in ``daft_spark.io.readers``: a repeated read of
unchanged files starts no Spark job, yet returns the same schema and
rows as ``spark.read.parquet``; a changed file, reader option or
inference conf is re-inferred; every call still gets its own relation.
"""

from __future__ import annotations

import datetime
import os
import sys
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from daft_spark.io import readers
from tests.conftest import SF_DIR, TABLES, count_spark_jobs


def _rows(df):
    return [repr(r) for r in df.collect()]


def _write_partitioned(spark, path, with_y: bool):
    cols = ["id", "cast(id as string) as y"] if with_y else ["id"]
    df = spark.range(12).selectExpr(*cols, "id % 3 as p")
    df.write.mode("overwrite").partitionBy("p").parquet(path)


def test_job_counter_sees_inference(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    _, first = count_spark_jobs(spark, lambda: readers.read_parquet(path, spark=spark))
    _, second = count_spark_jobs(spark, lambda: readers.read_parquet(path, spark=spark))
    assert first >= 1
    assert second == 0


def test_second_register_views_starts_no_job(spark):
    readers.register_views(spark, SF_DIR)
    _, jobs = count_spark_jobs(spark, lambda: readers.register_views(spark, SF_DIR))
    assert jobs == 0
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 25


@pytest.mark.parametrize("table", TABLES)
def test_memo_hit_matches_plain_read(spark, table):
    readers.load_table(spark, SF_DIR, table)
    df, jobs = count_spark_jobs(spark, lambda: readers.load_table(spark, SF_DIR, table))
    assert jobs == 0
    plain = spark.read.parquet(os.path.join(SF_DIR, f"{table}.parquet"))
    assert df.schema == plain.schema
    assert _rows(df) == _rows(plain)


def test_memo_hit_matches_plain_read_partitioned(spark, tmp_path):
    path = str(tmp_path / "part")
    _write_partitioned(spark, path, with_y=True)
    readers.read_parquet(path, spark=spark)
    df, jobs = count_spark_jobs(spark, lambda: readers.read_parquet(path, spark=spark))
    assert jobs == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert [f.name for f in df.schema] == ["id", "y", "p"]
    assert sorted(_rows(df)) == sorted(_rows(plain))


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert readers.read_parquet(path, spark=spark).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = readers.read_parquet(path, spark=spark)
    assert df.columns == ["a", "b"]
    assert sorted(_rows(df)) == ["Row(a=1, b='x')", "Row(a=2, b='y')"]


def test_overwritten_partitioned_dir_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "part")
    _write_partitioned(spark, path, with_y=False)
    assert readers.read_parquet(path, spark=spark).columns == ["id", "p"]
    _write_partitioned(spark, path, with_y=True)
    df = readers.read_parquet(path, spark=spark)
    assert df.columns == ["id", "y", "p"]
    assert df.filter("y = '7'").count() == 1


def test_inference_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    assert dict(readers.read_parquet(path, spark=spark).dtypes)["b"] == "binary"
    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = readers.read_parquet(path, spark=spark)
        assert dict(df.dtypes)["b"] == "string"
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_reader_option_change_reinfers(spark, tmp_path):
    d = tmp_path / "merge"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "0.parquet"))
    pq.write_table(pa.table({"a": [2], "c": [3.0]}), str(d / "1.parquet"))
    readers.read_parquet(str(d), spark=spark)
    merged = readers.read_parquet(str(d), spark=spark, mergeSchema="true")
    assert sorted(merged.columns) == ["a", "c"]


def test_self_join_of_two_loads_resolves(spark):
    a = readers.load_table(spark, SF_DIR, "nation")
    b = readers.load_table(spark, SF_DIR, "nation")
    assert a.join(b, a["n_nationkey"] == b["n_nationkey"]).count() == 25


def test_explicit_schema_bypasses_memo(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    readers.read_parquet(path, spark=spark)
    assert readers.read_parquet(path, spark=spark, schema="a long").columns == ["a"]
    assert readers.read_parquet(path, spark=spark).columns == ["a", "b"]


def test_non_local_paths_are_not_listed():
    assert readers._local_files(["s3://bucket/t.parquet"]) is None
    assert readers._local_files(["/no/such/dir/{a,b}.parquet"]) is None


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMA_MEMO_SIZE", 2)
    monkeypatch.setattr(readers, "_schema_memo", OrderedDict())
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({"a": [i]}), paths[-1])
        readers.read_parquet(paths[-1], spark=spark)
    assert len(readers._schema_memo) == 2
    _, jobs = count_spark_jobs(spark, lambda: readers.read_parquet(paths[0], spark=spark))
    assert jobs >= 1


_TS = [datetime.datetime(2024, 1, 1, 0, 0, 0, 123456), datetime.datetime(2024, 3, 5, 6, 7, 8)]


def _ns_table():
    return pa.table({"id": [1, 2], "ts": pa.array(_TS, pa.timestamp("ns"))})


def test_ns_timestamp_repair_sees_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2], "ts": [10, 20]}), path)
    assert dict(readers.read_parquet(path, spark=spark).dtypes)["ts"] == "bigint"
    pq.write_table(_ns_table(), path)
    df = readers.read_parquet(path, spark=spark)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(r.ts for r in df.collect()) == _TS


def test_ns_timestamp_repair_for_glob_paths(spark, tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    pq.write_table(_ns_table(), str(d / "a.parquet"))
    pq.write_table(_ns_table(), str(d / "b.parquet"))
    for _ in range(2):  # the memo-hit read is repaired the same way
        df = readers.read_parquet(str(d / "*.parquet"), spark=spark)
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert sorted(r.ts for r in df.collect()) == sorted(_TS * 2)


def test_memo_survives_concurrent_use(monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMA_MEMO_SIZE", 4)
    monkeypatch.setattr(readers, "_schema_memo", OrderedDict())
    errors: list[Exception] = []

    def worker(w: int) -> None:
        try:
            for i in range(40000):
                key = ("stress", (w * 7 + i) % 11)
                if readers._memo_get(key) is None:
                    readers._memo_put(key, (None, ()))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(readers._schema_memo) <= 4
