"""Parquet I/O: reads that take their schema from the parquet footer and
handle nanosecond timestamps, local rows shipped to Spark through Arrow,
and ``replace_parquet``, the one crash-safe way to replace a dataset.

Footer schema. Spark stores its own schema JSON in every file it writes
(footer key ``org.apache.spark.sql.parquet.row.metadata``) and, when it
infers a dataset's schema, reads exactly that from one file's footer, but
through a Spark job (``mergeSchemasInParallel``). ``read_parquet`` reads
the footer once with pyarrow and passes the stored schema to
``spark.read.schema``, so no job fires while the frame is built;
``tables.VersionedTable`` does the same with its first manifest file.
Spark's own inference stays where that shortcut would not give its
answer: a file without the Spark key (pyarrow-written inputs), a
hive-partitioned directory (Spark adds the partition columns), a
versioned table with an evolved schema (``mergeSchema``), a session
that sets ``spark.sql.parquet.mergeSchema`` (Spark then merges every
file's footer) and a footer that cannot be read.

Nanosecond timestamps. Spark's vectorized parquet reader rejects
``TIMESTAMP(NANOS)`` columns (PARQUET_TYPE_ILLEGAL) — the fixture table
``events`` stores ``ts`` as timestamp[ns]. The same footer read finds ns
columns; they are read as raw int64 nanos via
``spark.sql.legacy.parquet.nanosAsLong`` and rebuilt as TimestampType
with integer division to microseconds (``div 1000`` — no double
round-trip, which would lose precision above 2^53 ns). Spark-written
files never hold them (their INT96 timestamps only look like ns to
pyarrow), so a stored schema skips this step.

Local rows. ``local_frame`` is ``createDataFrame`` for a Python list,
with Spark's own schema inference and type checks, but the rows reach
the JVM as one Arrow table: no PythonRDD runs, so no Python worker
starts for them.
"""

from __future__ import annotations

import os
import shutil
import stat
import uuid
from collections import OrderedDict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _stored_schema(arrow_schema) -> T.StructType | None:
    """The schema Spark stored in a footer it wrote, or None."""
    raw = (arrow_schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    try:
        schema = T._parse_datatype_json_string(raw.decode())
    except (ValueError, LookupError):
        return None
    return schema if isinstance(schema, T.StructType) else None


def footer_schema(path: str) -> T.StructType | None:
    """The schema Spark stored in the footer of the parquet file at
    ``path``: what ``spark.read.parquet`` would infer for it, without the
    job. None for a file Spark did not write or cannot be read."""
    return _footer(path)[1]


def _first_data_file(path: str) -> str | None:
    """The file whose footer describes ``path``: ``path`` itself, or the
    first data file of a flat local directory. None for an empty or
    hive-partitioned directory."""
    if not os.path.isdir(path):
        return path
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not names or any(os.path.isdir(os.path.join(path, n)) for n in names):
        return None
    return os.path.join(path, names[0])


def _footer(path: str) -> tuple[tuple[str, ...], T.StructType | None]:
    """One footer read: the timestamp[ns] columns of ``path`` and the
    schema Spark stored there (None when Spark must infer it)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return (), None
    first = _first_data_file(path)
    try:
        schema = pq.read_schema(first) if first else None
    except (OSError, pa.ArrowException):
        schema = None
    stored = None if schema is None else _stored_schema(schema)
    if schema is None:
        # a partitioned or non-local directory — sample one fragment
        import pyarrow.dataset as ds

        try:
            schema = ds.dataset(path, format="parquet").schema
        except (OSError, pa.ArrowException):
            return (), None
    ns_cols = tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    return ns_cols, stored


def _ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ, UTC session).

    Spark 4 infers naive parquet ``timestamp[us]`` as TIMESTAMP_NTZ, which
    ``unix_micros``/``window``/``session_window`` reject. Sessions we build
    disable that inference (session.py), but a caller-provided session (the
    driver's) may not — cast here so every read is LTZ either way. The cast
    is a no-op projection when the column is already TIMESTAMP.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Lazy reader-frame cache (r13): building a parquet relation costs
# ~60 ms of py4j/JVM work per call even warm (file listing + footer
# schema + analysis), and a 245-query bench re-reads the same static
# fixture paths hundreds of times — tens of seconds of pure per-query
# build overhead. A DataFrame is an immutable LAZY plan: reusing it
# caches no data (every action still scans parquet), it only skips
# re-building an identical relation, like Spark's own session-level
# FileStatusCache but across read calls. Keyed on the session's id: the
# cached frame holds its session, so that id cannot be reused while the
# entry lives. LRU-bounded, so neither frames nor sessions pile up in a
# long-running process.
_FRAME_CACHE_MAX = 128
_frame_cache: OrderedDict[tuple[int, str], tuple[tuple, DataFrame]] = OrderedDict()


def _path_stamp(path: str) -> tuple | None:
    """What a rewrite of ``path`` changes, whose file listing a cached
    relation pins at build time. A file costs one ``stat``. A directory
    (engine-managed ``current`` dirs, partitioned datasets) is walked:
    a write into a partition subdirectory leaves the top directory's
    mtime alone, but not the newest mtime, entry count or total size
    under it. ``None`` when ``os.stat`` cannot see the path (non-local
    URIs): nothing could tell such an entry is stale, so it is not
    cached."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        n = size = newest = 0
        for root, _dirs, files in os.walk(path):
            for p in [root, *(os.path.join(root, f) for f in files)]:
                s = os.stat(p)
                n, size, newest = n + 1, size + s.st_size, max(newest, s.st_mtime_ns)
        return (st.st_ino, n, size, newest)
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that takes a Spark-written dataset's schema
    from its footer and transparently handles timestamp[ns]."""
    stamp = _path_stamp(path)
    if stamp is None:
        return _read_parquet_uncached(spark, path)
    key = (id(spark), path)
    hit = _frame_cache.get(key)
    if hit is not None and hit[0] == stamp:
        _frame_cache.move_to_end(key)
        return hit[1]
    df = _read_parquet_uncached(spark, path)
    _frame_cache[key] = (stamp, df)
    _frame_cache.move_to_end(key)
    while len(_frame_cache) > _FRAME_CACHE_MAX:
        _frame_cache.popitem(last=False)
    return df


def _read_parquet_uncached(spark: SparkSession, path: str) -> DataFrame:
    ns_cols, stored = _footer(path)
    # a session that merges schemas reads every footer, not just the first
    if stored is not None and spark.conf.get("spark.sql.parquet.mergeSchema") != "true":
        return _ltz(spark.read.schema(stored).parquet(path))
    if not ns_cols:
        return _ltz(spark.read.parquet(path))
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    # Only convert columns that actually surfaced as raw int64 nanos —
    # INT96-encoded timestamps also report as ns in the Arrow footer but
    # Spark reads them as proper TIMESTAMP already.
    long_cols = {name for name, dtype in df.dtypes if dtype == "bigint"}
    for c in ns_cols:
        if c in long_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ltz(df)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (``{sf_dir}/{name}.parquet``)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_ARROW_ATOMIC = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.NullType,
)


def _arrow_type(dt: T.DataType):
    """The Arrow type that holds ``dt``'s internal Python value (Spark's
    ``toInternal``: epoch micros for timestamps, epoch days for dates),
    or None for a type ``local_frame`` leaves to Spark's list path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DayTimeIntervalType)):
        return pa.int64()
    if isinstance(dt, T.DateType):
        return pa.int32()
    if isinstance(dt, T.ArrayType):
        inner = _arrow_type(dt.elementType)
        return None if inner is None else pa.list_(inner)
    if isinstance(dt, T.MapType):
        k, v = _arrow_type(dt.keyType), _arrow_type(dt.valueType)
        return None if k is None or v is None else pa.map_(k, v)
    if isinstance(dt, T.StructType):
        fields = [(f.name, _arrow_type(f.dataType)) for f in dt.fields]
        return None if any(t is None for _, t in fields) else pa.struct(fields)
    # decimals stay on the list path: it rounds excess scale, Arrow refuses it
    if type(dt) in _ARROW_ATOMIC:
        return to_arrow_type(dt)
    return None


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | None = None
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a local list of tuples,
    dicts or Rows: the same inferred (or declared) schema, the same type
    checks and values, built into one Arrow table on the driver. The list
    path pickles the rows into a PythonRDD, whose tasks start a Python
    worker daemon; an Arrow table goes to the JVM as is. Types without an
    exact Arrow twin (decimals, UDTs, variants, year-month intervals)
    keep the list path."""
    from pyspark.sql.types import _create_converter, _make_type_verifier

    rows = list(rows)
    if schema is None:
        struct = spark._inferSchemaFromList(rows)
    else:
        struct = schema
        verify = _make_type_verifier(struct)
        for r in rows:
            verify(r)
    types = [_arrow_type(f.dataType) for f in struct.fields]
    if any(t is None for t in types):
        return spark.createDataFrame(rows, struct, verifySchema=False)

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    convert = _create_converter(struct)
    internal = [struct.toInternal(convert(r)) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(types)
    target = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, t).cast(f.type) for c, t, f in zip(columns, types, target)],
        schema=target,
    )
    return spark.createDataFrame(table, struct)


def replace_parquet(df: DataFrame, path: str | os.PathLike) -> None:
    """Publish ``df`` as the parquet dataset at ``path``, safe against
    partial writes and read-while-write on local FS: write a hidden
    sibling ``.<name>.v_<hex>`` (readers of the parent skip it), flip a
    relative symlink to it over ``path`` with ``os.replace``, then delete
    the old image if it is a sibling. A crash leaves the old image or the
    new; an exception leaves ``path`` as it was. A real directory at
    ``path`` is moved aside to a hidden sibling just before its first
    flip (a kill between those two renames leaves it only there)."""
    path = Path(path)
    new, link, moved = (
        path.with_name(f".{path.name}.{k}_{uuid.uuid4().hex[:12]}") for k in ("v", "link", "v")
    )
    try:
        df.write.parquet(str(new))
        old = path.resolve() if path.is_symlink() else None
        if old is None and path.exists():
            path.rename(moved)
            old = moved
        link.symlink_to(new.name)
        os.replace(link, path)
    except BaseException:
        link.unlink(missing_ok=True)
        if moved.exists():
            moved.rename(path)
        shutil.rmtree(new, ignore_errors=True)
        raise
    if old is not None and old.resolve().parent == path.parent.resolve():
        shutil.rmtree(old, ignore_errors=True)
