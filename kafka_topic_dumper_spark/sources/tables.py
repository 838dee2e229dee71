"""Batch table access over the driver-generated parquet testdata.

``spark.read.parquet`` per table; predicate pushdown / column pruning /
partition discovery are Catalyst's job, not ours. At 100 TB the same
call reads a partitioned s3a:// table root.

Schema memo: inferring a parquet schema runs a one-task Spark job
(the footer read), and an interactive session re-reads the same tables
query after query. The first read of a table file infers as usual and
records the raw read schema; later reads of the SAME file hand it back
through ``spark.read.schema(...)`` and start no job. The memo key is
(Spark application id, qualified path, modification time, length),
read through the path's Hadoop ``FileSystem`` (so an s3a:// root works
the same as a local one): a rewritten file (new modification time or
length) or a restarted application infers again. A directory-valued table (a partitioned root)
is never memoized — its own status says nothing about the footers
under it. The other schema-inference confs (``inferTimestampNTZ``,
``binaryAsString``, …) are assumed not to change within an
application; this engine never sets them. Only the schema is cached,
never the DataFrame: two reads must stay distinct relations (a
self-join of one table needs distinct expression ids on its two
sides). Same bounded policy as
:func:`~kafka_topic_dumper_spark.functions.parallelism.spread_input`'s
memo: the entries clear all at once when the cap is reached.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# (applicationId, qualified path, mtime ms, length) -> (raw read
# schema, whether it was inferred under nanosAsLong).
_SCHEMA_MEMO: dict[tuple[str, str, int, int], tuple[T.StructType, bool]] = {}
_SCHEMA_MEMO_CAP = 256  # ten tables per sf dir; tests write many tmp dirs

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


def _file_key(spark: SparkSession, path: str) -> tuple[str, str, int, int] | None:
    """Memo key of a single-file table; None for a directory, or for a
    path that cannot be stat'ed (the read then raises as itself)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    try:
        st = hpath.getFileSystem(sc._jsc.hadoopConfiguration()).getFileStatus(hpath)
    except Py4JJavaError:
        return None
    if st.isDirectory():
        return None
    return (
        sc.applicationId,
        st.getPath().toString(),
        st.getModificationTime(),
        st.getLen(),
    )


def _read_parquet(
    spark: SparkSession, path: str, nanos_retry: bool = False
) -> tuple[DataFrame, T.StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema
    only on the first read of this file (see the module docstring).

    ``nanos_retry``: a TIMESTAMP(NANOS) footer makes the plain read
    raise, so on that failure retry once under the legacy
    ``nanosAsLong`` conf (runtime-settable, so this also works under
    an externally-created session). ONLY the NANOS failure maps to the
    retry; a missing/corrupt file must surface as itself, and must not
    flip the session-wide conf as a side effect. The conf deliberately
    stays set after a genuine nanos retry: it only affects nanos
    columns, which this engine always wants read as longs. The memo
    entry records whether the schema was inferred under the conf (set
    by the retry, or already set in this session), and a hit re-sets
    it, so the file is read under the conf its schema was inferred
    with: a ``spark.newSession()`` shares the application id but
    starts from a fresh runtime conf."""
    key = _file_key(spark, path)
    hit = _SCHEMA_MEMO.get(key) if key is not None else None
    if hit is not None:
        schema, nanos = hit
        if nanos:
            spark.conf.set(_NANOS_CONF, "true")
        return spark.read.schema(schema).parquet(path), schema
    try:
        df = spark.read.parquet(path)
        schema = df.schema  # force analysis so a nanos footer fails here
    except Exception as exc:
        if not nanos_retry or "NANOS" not in str(exc):
            raise
        spark.conf.set(_NANOS_CONF, "true")
        df = spark.read.parquet(path)
        schema = df.schema
    nanos = nanos_retry and spark.conf.get(_NANOS_CONF, "false") == "true"
    if key is not None:
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_CAP:
            _SCHEMA_MEMO.clear()
        _SCHEMA_MEMO[key] = (schema, nanos)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. ``name`` must be in :data:`TABLES`.

    The schema is inferred from the footer on the first read of a
    table file and reused from the session's schema memo afterwards
    (key and invalidation rule in the module docstring).

    ``events.ts`` has drifted across testdata generations: parquet
    TIMESTAMP(NANOS) in some, ``timestamp[us]`` in others. We normalize
    to TIMESTAMP_NTZ(µs) regardless of what the footer says, branching
    on the dtype Spark actually read:

    - ``TimestampNTZType`` — already what we want; pass through.
    - ``TimestampType`` (LTZ) — rebuild NTZ from the stored instant:
      ``unix_micros(ts)`` extracts the parquet µs value regardless of
      session timezone, then we add it to the NTZ epoch literal.  (A
      bare LTZ→NTZ *cast* renders wall time in the SESSION timezone,
      so under a non-UTC externally-created session every ts would
      shift — this construction matches DuckDB's timezone-independent
      read of isAdjustedToUTC µs footers.)
    - ``LongType`` — raw nanos under the legacy ``nanosAsLong`` conf
      (see :func:`_read_parquet`'s retry); truncate to µs and add to
      the NTZ epoch literal — the same timezone-independent
      construction.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)[0]
    df, schema = _read_parquet(spark, path, nanos_retry=True)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        return df
    if isinstance(ts_type, T.TimestampType):
        return df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, unix_micros(ts),"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts",
            F.expr(
                # floor-division form: bare `div` truncates toward
                # zero, shifting PRE-epoch nanos forward 1 µs
                "timestampadd(MICROSECOND,"
                " (ts - ((ts % 1000) + 1000) % 1000) div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    raise TypeError(
        f"events.ts read as unexpected dtype {ts_type}; "
        "expected timestamp_ntz, timestamp, or raw-nanos long"
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
