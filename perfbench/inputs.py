"""Seeded input generators: the two topic archives and the permuted tables.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical inputs. Inputs are written with pyarrow
from the driver process, so the package under test receives only the
generated files and none of its code runs while they are made.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC = "bench"

ARCHIVE_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
        ("key", pa.binary()),
        ("value", pa.binary()),
    ]
)

# Base tables of the curation workload: a copy of the sf0.01 fixture
# tables, shipped with the benchmark so it reads nothing outside its
# checkout.
BASE_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# The tail archive's shape: Zipf-skewed partition sizes, a share of
# null keys, log-normal value sizes clipped to [VALUE_MIN, VALUE_MAX].
TAIL_PARTITIONS = 8
TAIL_ZIPF_S = 1.1
NULL_KEY_SHARE = 0.3
VALUE_MEDIAN = 200
VALUE_SIGMA = 0.9
VALUE_MIN = 8
VALUE_MAX = 8192

# The small-message archive's partition count.
SMALL_PARTITIONS = 3


@dataclass
class Partition:
    """One generated topic partition: offsets [begin, begin + len(values))."""

    begin: int
    keys: list
    values: pa.BinaryArray

    @property
    def end(self) -> int:
        return self.begin + len(self.values)


@dataclass
class Archive:
    """A generated Kafka-schema archive and what the generator knows about it."""

    path: str
    partitions: dict[int, Partition] = field(default_factory=dict)

    def tail(self, n: int) -> tuple[list, list]:
        """(keys, values) of the tail-N slice under the reference's plan:
        ``ceil(n / P)`` messages per partition, clamped at its beginning."""
        disp = math.ceil(n / len(self.partitions)) if n else 0
        keys, values = [], []
        for p in sorted(self.partitions):
            part = self.partitions[p]
            skip = max(0, len(part.values) - disp)
            keys.extend(part.keys[skip:])
            values.extend(part.values.slice(skip).to_pylist())
        return keys, values

    def properties(self, n: int, max_per_file: int) -> dict:
        keys, values = self.tail(n)
        return {
            "records": sum(len(x.values) for x in self.partitions.values()),
            "partitions": len(self.partitions),
            "per_partition": [len(self.partitions[p].values) for p in sorted(self.partitions)],
            "value_bytes": sum(
                pc.sum(pc.binary_length(x.values)).as_py() or 0
                for x in self.partitions.values()
            ),
            "tail_records": len(values),
            "tail_key_value_bytes": key_value_bytes(keys, values),
            "expected_min_files": math.ceil(len(values) / max_per_file),
        }


def key_value_bytes(keys, values) -> int:
    return sum(len(k) for k in keys if k is not None) + sum(
        len(v) for v in values if v is not None
    )


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write_partition(path: str, p: int, begin: int, keys: list, values: pa.Array) -> None:
    n = len(values)
    offsets = np.arange(begin, begin + n, dtype=np.int64)
    table = pa.table(
        {
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array(np.full(n, p, dtype=np.int32)),
            "offset": pa.array(offsets),
            # 1 ms apart per partition, a fixed epoch: seed-independent
            "timestamp": pa.array(
                (1_700_000_000_000 + offsets) * 1000, pa.timestamp("us")
            ),
            "key": pa.array(keys, pa.binary()),
            "value": values,
        },
        schema=ARCHIVE_SCHEMA,
    )
    pq.write_table(table, os.path.join(path, f"part-{p:03d}.parquet"), compression="snappy")


def _text_stream(rng: np.random.Generator, n_bytes: int) -> bytes:
    """Word-like text: Zipf-drawn tokens from a fixed 4096-word
    vocabulary of 3-9 letters, so values compress like prose, not like
    noise. A 4 MiB seeded stretch repeats to ``n_bytes``; the period is
    far beyond gzip's 32 KiB window, so the repetition does not help
    the compressor."""
    vocab_rng = np.random.default_rng(12345)  # the vocabulary is seed-independent
    lengths = vocab_rng.integers(3, 10, size=4096)
    table = np.zeros((4096, 10), dtype=np.uint8)
    for i, n in enumerate(lengths):
        table[i, :n] = vocab_rng.integers(97, 123, size=n)
        table[i, n] = 32  # the space after each word
    ids = (rng.zipf(1.3, size=(4 << 20) // 6) - 1) % 4096
    rows = table[ids]
    stretch = rows[rows != 0].tobytes()
    return (stretch * (n_bytes // len(stretch) + 1))[:n_bytes]


def tail_archive(path: str, seed: int, n_messages: int) -> Archive:
    """The reference's production shape: Zipf-skewed partition sizes,
    30% null keys, log-normal value sizes clipped to [8 B, 8 KiB].
    One file per partition, so the largest partition is one large
    file (scan skew)."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, TAIL_PARTITIONS + 1) ** TAIL_ZIPF_S
    rng.shuffle(weights)
    sizes = np.floor(weights / weights.sum() * n_messages).astype(np.int64)
    sizes[np.argmax(sizes)] += n_messages - sizes.sum()
    lengths = np.clip(
        np.round(rng.lognormal(math.log(VALUE_MEDIAN), VALUE_SIGMA, n_messages)),
        VALUE_MIN,
        VALUE_MAX,
    ).astype(np.int64)
    text = _text_stream(rng, int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    values = pa.BinaryArray.from_buffers(
        pa.binary(), n_messages, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(text)]
    )
    null = rng.random(n_messages) < NULL_KEY_SHARE
    users = rng.zipf(1.5, size=n_messages) % 1_000_000
    keys = [None if nk else b"user-%08d" % u for nk, u in zip(null, users)]

    _fresh_dir(path)
    archive = Archive(path)
    lo = 0
    for p, size in enumerate(sizes):
        begin = int(rng.integers(0, 10_000))  # non-zero beginnings exercise the clamp
        part = Partition(begin, keys[lo : lo + size], values.slice(lo, size))
        _write_partition(path, p, begin, part.keys, part.values)
        archive.partitions[p] = part
        lo += size
    return archive


def small_message_archive(path: str, seed: int, n_messages: int) -> Archive:
    """The reference stress generator's shape (utils/kafka_producer.py):
    value-only ``This is a dummy test message %015d`` messages, with the
    ids shuffled by the seed and dealt round-robin over the partitions."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n_messages)
    _fresh_dir(path)
    archive = Archive(path)
    for p in range(SMALL_PARTITIONS):
        vals = [b"This is a dummy test message %015d" % i for i in ids[p::SMALL_PARTITIONS]]
        part = Partition(0, [None] * len(vals), pa.array(vals, pa.binary()))
        _write_partition(path, p, 0, part.keys, part.values)
        archive.partitions[p] = part
    return archive


def permuted_tables(path: str, seed: int) -> dict:
    """Copy every base table with its rows shuffled by the seed. Each
    copy keeps its base file's row-group count and codec, so only the
    row order changes across seeds."""
    _fresh_dir(path)
    props = {}
    for i, name in enumerate(sorted(os.listdir(BASE_SF_DIR))):
        src = os.path.join(BASE_SF_DIR, name)
        meta = pq.ParquetFile(src).metadata
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, i])
        table = table.take(rng.permutation(table.num_rows))
        groups = meta.num_row_groups
        pq.write_table(
            table,
            os.path.join(path, name),
            row_group_size=max(1, math.ceil(table.num_rows / groups)),
            compression=meta.row_group(0).column(0).compression.lower(),
        )
        props[name.removesuffix(".parquet")] = table.num_rows
    return props
