"""Readers — the Spark-first equivalents of the reference's ``daft.io``
surface (reference: ``daft/io/__init__.py:21-43``; native readers
``src/daft-parquet/``, ``src/daft-csv/``, ``src/daft-json/``).

Everything delegates to ``spark.read`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning; we only add the pieces
Spark lacks (parquet TIMESTAMP(NANOS) handling, glob-path listings).

Parquet schema memo: Spark infers a parquet schema with a Spark job
(``ParquetUtils.inferSchema``) on every ``spark.read.parquet``, even when
the files have not changed. ``read_parquet`` memoizes the inferred
``StructType`` together with the dataset's TIMESTAMP(NANOS) columns and,
on a hit, hands the schema to ``spark.read.schema(...)``, which builds a
fresh relation with no job. The key is the paths, a signature of the
local files they expand to (globs expanded, directories walked; path,
size, mtime_ns and inode of every file Spark would list), the sorted
reader options, and the session's parquet-inference confs
(``spark.sql.parquet.*``, ``spark.sql.legacy.parquet.*``,
``spark.sql.caseSensitive``,
``spark.sql.sources.partitionColumnTypeInference.enabled``). Adding,
removing or rewriting a file, or changing one of those options or confs,
therefore misses and re-infers (a rewrite that keeps a file's size,
mtime and inode is not seen); the oldest of ``_SCHEMA_MEMO_SIZE``
entries is evicted. Non-local paths (URI schemes other than ``file``)
and calls with an explicit ``schema=`` are not memoized. Only schemas
are kept, never DataFrames: every call gets its own relation (distinct
attribute IDs for self-joins, a fresh file listing).
"""

from __future__ import annotations

import glob as _glob
import hashlib
import json
import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from daft_spark.context import configure, get_or_create

_SCHEMA_MEMO_SIZE = 256
_INFERENCE_CONF_PREFIXES = ("spark.sql.parquet.", "spark.sql.legacy.parquet.")
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# memo key -> (inferred schema, TIMESTAMP(NANOS) columns), oldest first
_schema_memo: OrderedDict[tuple, tuple[StructType, tuple[str, ...]]] = OrderedDict()
_schema_memo_lock = threading.Lock()

# Canonical testdata tables (TESTDATA.md).
TABLES = (
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


def _session(spark: SparkSession | None) -> SparkSession:
    if spark is None:
        return get_or_create()
    return configure(spark)


def _hidden(name: str) -> bool:
    """Spark's listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    ``_``/``.`` names and in-flight copies are skipped, partition
    directories and parquet summary files are not."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _local_files(paths: list[str]) -> list[str] | None:
    """The files Spark lists for ``paths``: globs expanded, directories
    walked (hidden entries skipped), in a stable order. None when a path
    is not on the local filesystem, uses a brace glob, or matches
    nothing — the caller then leaves listing and its errors to Spark."""
    files: list[str] = []
    for path in paths:
        parsed = urlparse(path)
        if parsed.scheme not in ("", "file") or "{" in path:
            return None
        local = parsed.path if parsed.scheme else path
        roots = sorted(_glob.glob(local)) if _glob.has_magic(local) else [local]
        if not roots:
            return None
        for root in roots:
            if os.path.isfile(root):
                files.append(root)
            elif os.path.isdir(root):
                for d, dirs, names in os.walk(root):
                    dirs[:] = sorted(n for n in dirs if not _hidden(n))
                    files.extend(os.path.join(d, n) for n in sorted(names) if not _hidden(n))
            else:
                return None
    return files


def _ns_timestamp_columns(probe: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized
    reader rejects them (PARQUET_TYPE_ILLEGAL), so we read them as int64
    via ``spark.sql.legacy.parquet.nanosAsLong`` and convert to
    microsecond timestamps. Inspect one footer only: schemas are
    uniform per dataset (same assumption the reference's schema
    inference makes — ``src/daft-parquet/src/schema_inference.rs``)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(probe)
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _session_confs(spark: SparkSession) -> dict[str, str]:
    """Every conf set on the session, serialized to one JSON string in
    the JVM. ``spark.conf.getAll`` returns the same dict but walks the
    Java map entry by entry over py4j: about 30 ms for 35 confs, against
    about 1 ms here (4-core x86 host, local mode)."""
    mapper = JavaClass(
        "com.fasterxml.jackson.databind.ObjectMapper", spark.sparkContext._gateway._gateway_client
    )()
    return json.loads(mapper.writeValueAsString(spark._jsparkSession.conf().getAllAsJava()))


def _memo_key(spark: SparkSession, paths: list[str], files: list[str], options: dict):
    """Paths + file signature + reader options + inference confs, or None
    when a listed file vanished before it could be stat'ed."""
    sig = hashlib.blake2b(digest_size=16)
    try:
        for f in files:
            st = os.stat(f)
            sig.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\0{st.st_ino}\n".encode())
    except OSError:
        return None
    confs = tuple(sorted(
        (k, v) for k, v in _session_confs(spark).items()
        if k.startswith(_INFERENCE_CONF_PREFIXES) or k in _INFERENCE_CONFS
    ))
    opts = tuple(sorted((k, str(v)) for k, v in options.items()))
    return tuple(paths), sig.digest(), opts, confs


def _memo_get(key) -> tuple[StructType, tuple[str, ...]] | None:
    with _schema_memo_lock:
        hit = _schema_memo.get(key)
        if hit is not None:
            _schema_memo.move_to_end(key)
        return hit


def _memo_put(key, value: tuple[StructType, tuple[str, ...]]) -> None:
    with _schema_memo_lock:
        _schema_memo[key] = value
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)


def read_parquet(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    string_encoding: str = "utf-8",
    **options,
) -> DataFrame:
    """Parity: ``daft.read_parquet`` (reference: ``daft/io/_parquet.py:24``).

    Column pruning / predicate pushdown / limit pushdown (reference:
    ``src/daft-scan/src/pushdowns.rs:16-36``) are automatic in Spark's
    parquet source — verify via ``.explain``'s PushedFilters/ReadSchema.

    ``string_encoding="raw"`` (reference read_parquet_into_pyarrow's
    escape hatch for parquet whose string columns carry invalid UTF-8)
    returns every string column as BINARY with the original bytes —
    Spark stores strings as raw bytes, so the cast is lossless
    (verified against the reference's invalid_utf8.parquet fixture).
    """
    if string_encoding not in ("utf-8", "raw"):
        raise ValueError("string_encoding must be 'utf-8' or 'raw'")
    spark = _session(spark)
    paths = path if isinstance(path, list) else [path]
    files = _local_files(paths)
    key = _memo_key(spark, paths, files, options) if schema is None and files else None
    hit = _memo_get(key) if key is not None else None
    if hit is not None:
        schema, ns_cols = hit
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    df = reader.parquet(*paths)
    if hit is None:
        probe = files[0] if files else paths[0]
        ns_cols = _ns_timestamp_columns(probe)
        if key is not None:
            _memo_put(key, (df.schema, ns_cols))
    if string_encoding == "raw":
        df = df.select(
            *[
                F.col(f"`{c}`").cast("binary").alias(c) if t == "string" else F.col(f"`{c}`")
                for c, t in df.dtypes
            ]
        )
    # ns-timestamp repair: int64 ns -> TIMESTAMP_NTZ(us). `div` keeps the
    # arithmetic integral and JVM-side.
    dtypes = dict(df.dtypes) if ns_cols else {}
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    return df


def read_csv(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    header: bool = True,
    infer_schema: bool = True,
    delimiter: str = ",",
    **options,
) -> DataFrame:
    """Parity: ``daft.read_csv`` (reference: ``daft/io/_csv.py:24``)."""
    spark = _session(spark)
    reader = spark.read.option("header", header).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    if options:
        reader = reader.options(**options)
    paths = path if isinstance(path, list) else [path]
    return reader.csv(*paths)


def read_json(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Parity: ``daft.read_json`` — line-delimited JSON (reference:
    ``daft/io/_json.py:24``, ``src/daft-json/``)."""
    spark = _session(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    paths = path if isinstance(path, list) else [path]
    return reader.json(*paths)


def read_text(path: str | list[str], spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.read_text`` (reference: ``daft/io/_text.py:12``).
    One row per line, column ``text`` (reference names it ``text``)."""
    spark = _session(spark)
    paths = path if isinstance(path, list) else [path]
    return spark.read.text(*paths).withColumnRenamed("value", "text")


def from_glob_path(pattern: str, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_glob_path`` (reference: ``daft/io/file_path.py``)
    — a listing DataFrame (path, size, num_rows=null). Uses Spark's
    binaryFile source for a distributed listing (no driver-side walk)."""
    spark = _session(spark)
    df = spark.read.format("binaryFile").load(pattern)
    return df.select(
        F.col("path"),
        F.col("length").alias("size"),
        F.lit(None).cast("long").alias("num_rows"),
    )


def from_pydict(data: dict, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_pydict`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(data))


def from_pandas(pdf, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_pandas`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    return spark.createDataFrame(pdf)


def from_arrow(table, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_arrow`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    try:
        return spark.createDataFrame(table)  # Spark 4 accepts pa.Table
    except Exception:
        return spark.createDataFrame(table.to_pandas())


def range_(start: int, end: int | None = None, step: int = 1, partitions: int | None = None,
           spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.range`` (reference: ``daft/io/_range.py``) —
    Python-range semantics: ``range_(5)`` -> 0..4, ``range_(2, 10)`` -> 2..9."""
    spark = _session(spark)
    if end is None:
        start, end = 0, start
    return spark.range(start, end, step, numPartitions=partitions)


def read_sql(query_or_table: str, url: str, spark: SparkSession | None = None,
             partition_col: str | None = None, num_partitions: int | None = None,
             **options) -> DataFrame:
    """Parity: ``daft.read_sql`` (reference: ``daft/io/_sql.py:26``) via JDBC.

    The reference partitions by size (``daft/io/_sql.py``); Spark's JDBC
    source partitions by ``partitionColumn`` bounds — pass
    ``partition_col``/``num_partitions`` for a parallel read.
    ``sqlite://`` URLs take the pure-Python bounds-partitioned path
    (io/sqldb.py) — no JDBC driver needed."""
    spark = _session(spark)
    from daft_spark.io.sqldb import db_path_from_url, read_sqlite

    sqlite_path = db_path_from_url(url)
    if sqlite_path is not None:
        return read_sqlite(
            query_or_table, sqlite_path, spark,
            partition_col=partition_col, num_partitions=num_partitions,
        )
    reader = spark.read.format("jdbc").option("url", url)
    q = query_or_table.strip()
    if q.lower().startswith("select"):
        reader = reader.option("query", q)
    else:
        reader = reader.option("dbtable", q)
    if partition_col is not None:
        reader = reader.option("partitionColumn", partition_col)
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka(bootstrap_servers: str, topic: str, spark: SparkSession | None = None,
               starting_offsets: str = "earliest", ending_offsets: str = "latest",
               **options) -> DataFrame:
    """Parity: ``daft.read_kafka`` — bounded batch read only, exactly like
    the reference ("no streaming/unbounded mode",
    ``daft/io/_kafka.py:571-575``). A ``file://`` bootstrap server reads
    a file-backed topic log (io/kafka_fake.py) with identical offset
    semantics — the testable path in broker-less environments; anything
    else goes through Spark's Kafka source (requires spark-sql-kafka on
    the classpath; raises a clear error otherwise)."""
    spark = _session(spark)
    if bootstrap_servers.startswith("file://"):
        from daft_spark.io.kafka_fake import read_kafka_log

        return read_kafka_log(
            bootstrap_servers[len("file://"):], topic, spark,
            starting_offsets=starting_offsets, ending_offsets=ending_offsets,
        )
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Testdata helpers (TESTDATA.md star schema)
# ---------------------------------------------------------------------------

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated table, normalizing ns timestamps."""
    return read_parquet(os.path.join(sf_dir, f"{name}.parquet"), spark=spark)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register the testdata tables as temp views for ``spark.sql``."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
