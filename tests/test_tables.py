"""The ``load_table`` schema memo (sources/tables.py): a repeated read
of an unchanged table file reuses the inferred schema and starts no
Spark job; a rewritten file, or a fresh session that lacks the
``nanosAsLong`` conf, still reads correctly."""

from __future__ import annotations

import datetime
import shutil
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from kafka_topic_dumper_spark.sources.tables import load_table

from .conftest import SF_SMOKE

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_EPOCH = datetime.datetime(1970, 1, 1)


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table schema memo")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _write_events(path, ts: pa.Array) -> None:
    pq.write_table(
        pa.table({"event_id": pa.array(range(len(ts)), pa.int64()), "ts": ts}),
        str(path),
    )


def test_second_load_reuses_schema_without_a_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/region.parquet", tmp_path / "region.parquet")
    with _jobs(spark) as first_jobs:
        first = load_table(spark, str(tmp_path), "region")
    with _jobs(spark) as second_jobs:
        second = load_table(spark, str(tmp_path), "region")
    assert first_jobs, "the first read must infer the schema (one footer job)"
    assert second_jobs == [], (
        f"a re-read of an unchanged file started jobs {second_jobs}; the "
        "schema memo in sources/tables.py should have answered it"
    )
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # two reads are distinct relations (never one shared DataFrame), so
    # a self-join condition tells their columns apart
    key = "r_regionkey"
    assert second.join(first, second[key] == first[key]).count() == first.count()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """NTZ footer, then the same path rewritten with an LTZ
    (isAdjustedToUTC) footer: the second read must see the new type."""
    path = tmp_path / "events.parquet"
    wall = [datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)]
    _write_events(path, pa.array(wall, pa.timestamp("us")))
    ntz = load_table(spark, str(tmp_path), "events")
    assert ntz.first()["ts"] == wall[0]

    later = [datetime.datetime(2025, 1, 2, 3, 4, 5, 6)]
    _write_events(path, pa.array(later, pa.timestamp("us", tz="UTC")))
    with _jobs(spark) as jobs:
        ltz = load_table(spark, str(tmp_path), "events")
    assert jobs, "a rewritten file must be inferred again, not served from the memo"
    assert isinstance(ltz.schema["ts"].dataType, T.TimestampNTZType)
    assert ltz.first()["ts"] == later[0]


def test_nanos_footer_in_fresh_session_reads_ntz_micros(spark, tmp_path):
    """A pyarrow ``timestamp[ns]`` footer needs ``nanosAsLong``. After a
    first read in one session, a ``newSession()`` (same application,
    fresh runtime conf) must get the conf back from the memo entry
    and still read floor-truncated NTZ micros."""
    nanos = [1_700_000_000_123_456_789, -1_500, 0]
    _write_events(tmp_path / "events.parquet", pa.array(nanos, pa.timestamp("ns")))
    want = [_EPOCH + datetime.timedelta(microseconds=n // 1000) for n in nanos]

    load_table(spark, str(tmp_path), "events").collect()
    fresh = spark.newSession()
    assert fresh.conf.get(_NANOS_CONF, "false") != "true"
    with _jobs(fresh) as jobs:
        ev = load_table(fresh, str(tmp_path), "events")
    assert jobs == [], "the fresh session should reuse the memoized schema"
    # the hit restores the conf the schema was inferred under
    assert fresh.conf.get(_NANOS_CONF) == "true"
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
    got = [r["ts"] for r in ev.orderBy("event_id").collect()]
    assert got == want
