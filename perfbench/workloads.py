"""The two workloads: inputs, one measured pass, and the output checks.

A workload object generates its inputs (part of set-up), runs passes
(the measured region) and checks each pass's outputs after the pass's
clock stops. Each pass is one run of the job a user would run:

- ``tail_dump_reload``: the CLI's ``dump``, a cold ``reload`` and a
  second ``reload`` that must hot-skip, in broker-less
  ``--records-parquet`` mode, in-process through ``cli.main``; then
  the streaming path on a small-message topic: offset discovery,
  ``dump_stream`` and ``reload_stream`` (Identity), each on a fresh
  checkpoint with ``availableNow``;
- ``curation_queries``: the 19 pinned registry rows, each built,
  collected and released in its own ``operator_caches()`` scope.

Package code is always reached through its module attribute at call
time (``cli.main``, ``dump_mod.dump_stream``, ...) so a traced run's
wrappers see every call.
"""

from __future__ import annotations

import glob
import logging
import math
import os
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow.parquet as pq

import inputs

# The frozen headline rows (the legacy bench's HEADLINE list), pinned
# here so the benchmark depends on no other file of the repository.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "flagship_latest_event_per_user",
    "events_hourly_rollup",
    "o2_tail_k_per_partition",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_lsh",
    "text_token_stats",
    "text_lang_id",
    "text_winnowing_fingerprints",
    "multimodal_decode_stub",
    "asof_join_last_purchase",
    "sessionize_events",
    "join_salted_skew",
)

# The module groups that define the headline rows; per-layer query
# metrics are reported per group.
QUERY_GROUPS = (
    "registry",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.analytics",
)


def query_group(name: str) -> str:
    """The module group that defines a registry row."""
    from kafka_topic_dumper_spark import registry

    group = registry.QUERIES[name].__module__.removeprefix("kafka_topic_dumper_spark.")
    if group not in QUERY_GROUPS:
        raise ValueError(f"{name} is defined in {group}, not in a pinned group")
    return group


SF_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Input sizes. "full" is what the benchmark measures; "tiny" keeps the
# same shapes at a size the benchmark's own tests can run quickly.
SIZES = {
    "full": {
        "tail_archive": 100_000, "tail_n": 50_000, "tail_m": 1000,
        "stream_archive": 20_000, "stream_n": 10_000, "stream_m": 100,
        "queries": HEADLINE,
    },
    "tiny": {
        "tail_archive": 4_000, "tail_n": 2_000, "tail_m": 100,
        "stream_archive": 1_200, "stream_n": 600, "stream_m": 100,
        "queries": ("q1_pricing_summary", "dedup_exact", "text_token_stats"),
    },
}

PKG_LOG = "kafka_topic_dumper_spark"


class LogCapture(logging.Handler):
    """Collects the package's log messages, so checks can read what the
    CLI reported (planned message count, hot-reload skip)."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.messages: list[str] = []

    def emit(self, record):
        self.messages.append(record.getMessage())

    def take(self) -> list[str]:
        out, self.messages = self.messages, []
        return out


def parquet_files(path: str) -> list[str]:
    return sorted(
        f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "_spark_metadata" not in f
    )


def read_pairs(files: list[str]) -> Counter:
    """(key, value) multiset of a set of Parquet files."""
    out: Counter = Counter()
    for f in files:
        t = pq.read_table(f, columns=["key", "value"])
        out.update(zip(t.column("key").to_pylist(), t.column("value").to_pylist()))
    return out


def dir_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


@dataclass
class PassResult:
    """One checked pass: its wall time, named phase times and counts, and
    the operations it attempted and failed (a failed check fails its op)."""

    wall_s: float
    phases: dict
    attempted: int
    failed: int
    problems: list


@dataclass
class PipelinePass:
    """What one dump/reload pass left behind, for its check."""

    times: dict
    ok: dict
    batch_dump_dir: str
    batch_planned: int | None
    sink_before: list
    sink_after: list
    hot_logs: list
    stream_dump_dir: str
    stream_planned: int
    stream_sink: str


class TailDumpReload:
    """Tail-N dump and reload along both of the engine's paths.

    Batch: the CLI (``cli.main``) in broker-less ``--records-parquet``
    mode dumps the tail of a skewed large-message topic, reloads it cold
    (Identity transformer, Parquet sink, catalog discovery), then reloads
    it again, which must hot-skip. Streaming: offset discovery, then
    ``dump_stream`` and ``reload_stream`` over a small-message topic,
    each on a fresh checkpoint with ``availableNow``: many tiny files
    and streaming commits instead of a few large files."""

    name = "tail_dump_reload"

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.capture = LogCapture()
        logger = logging.getLogger(PKG_LOG)
        logger.setLevel(logging.INFO)
        logger.addHandler(self.capture)

    def generate(self) -> None:
        self.batch = inputs.tail_archive(
            os.path.join(self.work, "tail_archive"), self.seed, self.size["tail_archive"]
        )
        self.stream = inputs.small_message_archive(
            os.path.join(self.work, "small_archive"), self.seed, self.size["stream_archive"]
        )

    def properties(self) -> dict:
        s = self.size
        return {
            "batch": self.batch.properties(s["tail_n"], s["tail_m"]),
            "stream": self.stream.properties(s["stream_n"], s["stream_m"]),
        }

    def prepare_checks(self) -> None:
        self.expected = {}
        for part, archive, n in (
            ("batch", self.batch, self.size["tail_n"]),
            ("stream", self.stream, self.size["stream_n"]),
        ):
            keys, values = archive.tail(n)
            self.expected[part] = (Counter(zip(keys, values)), inputs.key_value_bytes(keys, values))

    def execute(self, i: int, tracer) -> PipelinePass:
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        from kafka_topic_dumper_spark import cli, transform
        from kafka_topic_dumper_spark.plans import offsets as offsets_mod
        from kafka_topic_dumper_spark.streaming import dump as dump_mod
        from kafka_topic_dumper_spark.streaming import reload as reload_mod

        s = self.size
        root = os.path.join(self.work, f"pass{i}")
        out, sink = os.path.join(root, "dumps"), os.path.join(root, "sink")
        common = ["--records-parquet", self.batch.path, "-t", inputs.TOPIC, "--output", out]
        self.capture.take()
        t0 = time.perf_counter()
        rc_dump = cli.main(["dump", *common, "-n", str(s["tail_n"]), "-m", str(s["tail_m"])])
        t1 = time.perf_counter()
        rc_cold = cli.main(["reload", *common, "--reload-output", sink])
        t2 = time.perf_counter()
        logs = self.capture.take()
        sink_before = parquet_files(sink)
        t3 = time.perf_counter()
        rc_hot = cli.main(["reload", *common, "--reload-output", sink])
        t4 = time.perf_counter()
        hot_logs = self.capture.take()
        sink_after = parquet_files(sink)
        planned = [m for m in logs if "messages planned" in m]

        spark = SparkSession.getActiveSession()
        s_out, s_sink = os.path.join(root, "stream_dumps"), os.path.join(root, "stream_sink")
        dump_id = f"pass{i:04d}"
        t5 = time.perf_counter()
        archive = spark.read.parquet(self.stream.path)
        beginning, end = cli._archive_offsets(archive.filter(F.col("topic") == inputs.TOPIC))
        plan = offsets_mod.plan_tail_dump(inputs.TOPIC, beginning, end, s["stream_n"])
        records = dump_mod.apply_plan(
            spark.readStream.schema(archive.schema).parquet(self.stream.path), plan
        )
        with tracer.span("streaming.dump.stream"):
            q = dump_mod.dump_stream(
                records, s_out, os.path.join(root, "ckpt_dump"),
                max_records_per_file=s["stream_m"], dump_id=dump_id,
            )
            q.awaitTermination()
            tracer.attach_stream(q)
        t6 = time.perf_counter()
        with tracer.span("streaming.reload.stream"):
            q2 = reload_mod.reload_stream(
                spark, s_out, dump_id, transform.Identity(),
                os.path.join(root, "ckpt_reload"), s_sink,
            )
            q2.awaitTermination()
            tracer.attach_stream(q2)
        t7 = time.perf_counter()
        return PipelinePass(
            times={
                "dump_s": t1 - t0, "cold_reload_s": t2 - t1, "hot_reload_s": t4 - t3,
                "stream_dump_s": t6 - t5, "stream_reload_s": t7 - t6,
            },
            ok={
                "dump": rc_dump == 0, "reload": rc_cold == 0, "hot": rc_hot == 0,
                "stream_dump": q.exception() is None, "stream_reload": q2.exception() is None,
            },
            batch_dump_dir=out,
            # "dump <id>: <n> messages planned (requested <N>)"
            batch_planned=int(planned[0].split(": ")[1].split()[0]) if planned else None,
            sink_before=sink_before,
            sink_after=sink_after,
            hot_logs=hot_logs,
            stream_dump_dir=os.path.join(s_out, f"dump_id={dump_id}"),
            stream_planned=plan.available_messages,
            stream_sink=s_sink,
        )

    def _check_dump(self, part, dump_dir, planned, ok, m, problems):
        """The dump equals the tail-N slice the generator knows, holds as
        many records as the plan announced, no file holds more than
        ``-m`` records, and every column chunk is gzip-compressed (the
        reference's format, so a speed-up cannot come from weaker
        compression)."""
        expected, _ = self.expected[part]
        files = parquet_files(dump_dir)
        dumped = read_pairs(files)
        n = sum(dumped.values())
        good = ok
        if not ok:
            problems.append(f"{part} dump failed")
        if dumped != expected:
            good = False
            problems.append(f"{part} dump holds {n} records, not the expected tail slice")
        if planned != n:
            good = False
            problems.append(f"{part} dump holds {n} records but the plan announced {planned}")
        over, codecs = 0, set()
        for f in files:
            meta = pq.ParquetFile(f).metadata
            over += meta.num_rows > m
            codecs.update(
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            )
        if over:
            good = False
            problems.append(f"{over} {part} dump files hold more than {m} records")
        if codecs - {"GZIP"}:
            good = False
            problems.append(f"{part} dump files are compressed with {sorted(codecs)}, not gzip")
        return good, dumped, files

    def check(self, p: PipelinePass) -> PassResult:
        problems: list = []
        s, ok = self.size, p.ok
        b_good, b_dumped, b_files = self._check_dump(
            "batch", p.batch_dump_dir, p.batch_planned, ok["dump"], s["tail_m"], problems
        )
        cold_good = ok["reload"] and read_pairs(p.sink_before) == b_dumped
        if not cold_good:
            problems.append("the cold reload's sink does not equal the dump")
        hot_good = (
            ok["hot"]
            and any("reload result: hot_reload_skip" in m for m in p.hot_logs)
            and p.sink_after == p.sink_before
        )
        if not hot_good:
            problems.append("the second reload did not hot-skip, or it wrote to the sink")
        s_good, s_dumped, s_files = self._check_dump(
            "stream", p.stream_dump_dir, p.stream_planned, ok["stream_dump"], s["stream_m"], problems
        )
        s_reload_good = ok["stream_reload"] and read_pairs(parquet_files(p.stream_sink)) == s_dumped
        if not s_reload_good:
            problems.append("the stream reload's sink does not equal the dump exactly once")
        verdicts = (b_good, cold_good, hot_good, s_good, s_reload_good)
        t = p.times
        b_n, s_n = sum(b_dumped.values()), sum(s_dumped.values())
        b_bytes, s_bytes = dir_bytes(b_files), dir_bytes(s_files)
        return PassResult(
            wall_s=sum(t.values()),
            phases={
                **t,
                "dump_records_per_s": b_n / t["dump_s"],
                "reload_records_per_s": b_n / t["cold_reload_s"],
                "dump_bytes_per_input_byte": b_bytes / self.expected["batch"][1],
                "stream_dump_records_per_s": s_n / t["stream_dump_s"],
                "stream_reload_records_per_s": s_n / t["stream_reload_s"],
                "stream_dump_bytes_per_input_byte": s_bytes / self.expected["stream"][1],
                "dump_records": b_n,
                "dump_files": len(b_files),
                "dump_bytes": b_bytes,
                "stream_dump_records": s_n,
                "stream_dump_files": len(s_files),
                "stream_dump_bytes": s_bytes,
            },
            attempted=len(verdicts),
            failed=verdicts.count(False),
            problems=problems,
        )


def _norm(v):
    if isinstance(v, float) and not math.isnan(v):
        return round(v, 6)
    return v


def _canonical(rows) -> list:
    """Order-insensitive form of a result: rows as normalized tuples,
    sorted by their repr so mixed None/value columns still sort."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


@dataclass
class QueryPass:
    """The collected rows of one pass over the headline rows."""

    build_s: float
    exec_s: float
    results: dict
    errors: dict


class CurationQueries:
    name = "curation_queries"

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.sf_dir = os.path.join(self.work, "sf")
        self.tables: dict = {}
        self.oracle_rows: dict = {}
        self.rows_out: dict = {}

    def generate(self) -> None:
        self.tables = inputs.permuted_tables(self.sf_dir, self.seed)

    def properties(self) -> dict:
        return {"base": "sf0.01", "table_rows": self.tables, "queries": len(self.size["queries"])}

    def prepare_checks(self) -> None:
        """The DuckDB oracle of every row, over the same permuted copy."""
        import duckdb

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf_dir
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '2GB'")
        for t in SF_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        for name in self.size["queries"]:
            rel = con.sql(oracles[name])
            self.oracle_rows[name] = (list(rel.columns), _canonical(rel.fetchall()))
        con.close()

    def execute(self, i: int, tracer) -> QueryPass:
        from pyspark.sql import SparkSession

        from kafka_topic_dumper_spark import registry
        from kafka_topic_dumper_spark.functions import caching

        spark = SparkSession.getActiveSession()
        build = execute = 0.0
        results, errors = {}, {}
        for name in self.size["queries"]:
            try:
                group = query_group(name)
                t0 = time.perf_counter()
                with caching.operator_caches():
                    with tracer.span(f"{group}.build"):
                        df = registry.QUERIES[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"{group}.exec"):
                        rows = df.collect()
                t2 = time.perf_counter()
                build += t1 - t0
                execute += t2 - t1
                results[name] = (df.columns, rows)
            except Exception as exc:  # a failing row is counted, the pass goes on
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        return QueryPass(build, execute, results, errors)

    def check(self, p: QueryPass) -> PassResult:
        """Every row equals its DuckDB oracle, order-insensitively."""
        problems = [f"{n} raised {e}" for n, e in p.errors.items()]
        failed = len(p.errors)
        self.rows_out = {}
        for name, (cols, rows) in p.results.items():
            group = query_group(name)
            self.rows_out[group] = self.rows_out.get(group, 0) + len(rows)
            if (list(cols), _canonical(rows)) != self.oracle_rows[name]:
                failed += 1
                problems.append(f"{name} differs from its DuckDB oracle")
        return PassResult(
            wall_s=p.build_s + p.exec_s,
            phases={"build_s": p.build_s, "exec_s": p.exec_s,
                    "rows_out": sum(self.rows_out.values())},
            attempted=len(self.size["queries"]),
            failed=failed,
            problems=problems,
        )


WORKLOADS = {w.name: w for w in (TailDumpReload, CurationQueries)}
