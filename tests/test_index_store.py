"""Materialized LSH index: the stored-probe path must reproduce the
in-memory operator exactly AND prune the index scan at both the
partition and row-group level."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions.index_store import (
    cosine_topk_lsh_stored,
    read_banded_index,
    write_banded_index,
)
from kafka_topic_dumper_spark.operators.similarity import (
    N_LSH_TABLES,
    QUERY_IDS,
    cosine_topk_lsh,
    lsh_banded,
)
from kafka_topic_dumper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _build(spark, tmp_path) -> str:
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "lsh_index")
    write_banded_index(
        lsh_banded(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
            "embedding",
            64,
            4,
            N_LSH_TABLES,
        ),
        path,
    )
    return path


def test_stored_probe_matches_in_memory_operator(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    path = _build(spark, tmp_path)
    stored = sorted(
        map(tuple, cosine_topk_lsh_stored(emb, QUERY_IDS, path, 10).collect())
    )
    live = sorted(map(tuple, cosine_topk_lsh(emb, QUERY_IDS, 10).collect()))
    assert stored == live
    assert len(stored) > 0


def test_stored_probe_prunes_partitions_and_rowgroups(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    path = _build(spark, tmp_path)
    plan = (
        cosine_topk_lsh_stored(emb, QUERY_IDS, path, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the index scan carries partition filters on tbl (directory
    # pruning) and pushed filters on the sorted bucket column
    # (row-group min/max skipping)
    import re

    # EVERY scan of the index store (r2 verdict: the probe derivation
    # used to add an unpruned neighbor_id scan of the full index) must
    # carry literal partition filters on tbl and a pushed bucket
    # Or-chain. The index scans are the FileScan lines exposing the
    # bucket column (the store's path string is truncated by
    # spark.sql.maxMetadataStringLength, so identify by schema).
    idx_lines = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and re.search(r"\[[^\]]*bucket#\d+", ln)
    ]
    assert len(idx_lines) == 1, f"expected exactly one index scan:\n{idx_lines}"
    for ln in idx_lines:
        assert re.search(r"PartitionFilters: \[[^\]]*tbl#\d+ = \d+", ln), ln
        assert re.search(r"\(bucket#\d+ = \d+\)", ln), ln


def test_stored_probe_unknown_query_ids_raise(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    path = _build(spark, tmp_path)
    import pytest

    with pytest.raises(ValueError, match="cannot derive probe buckets"):
        cosine_topk_lsh_stored(emb, [10**12], path, 10).collect()


def test_index_files_sorted_by_bucket(spark, tmp_path):
    import glob
    import os

    import pyarrow.parquet as pq

    path = _build(spark, tmp_path)
    files = glob.glob(os.path.join(path, "tbl=*", "*.parquet"))
    assert len(files) == N_LSH_TABLES  # one file per table partition
    col = pq.read_table(files[0], columns=["bucket"])["bucket"].to_pylist()
    assert col == sorted(col)


def _build_ivf(spark, tmp_path) -> str:
    from kafka_topic_dumper_spark.functions.index_store import write_ivf_index
    from kafka_topic_dumper_spark.operators.similarity import ivf_assign

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(ivf_assign(emb), path)
    return path


def test_ivf_stored_matches_in_memory_operator(spark, tmp_path):
    from kafka_topic_dumper_spark.functions.index_store import ivf_topk_stored
    from kafka_topic_dumper_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    path = _build_ivf(spark, tmp_path)
    stored = sorted(map(tuple, ivf_topk_stored(emb, QUERY_IDS, path, 10).collect()))
    live = sorted(map(tuple, ivf_topk(emb, QUERY_IDS, 10).collect()))
    assert stored == live
    assert len(stored) > 0


def test_ivf_stored_probe_prunes_cells(spark, tmp_path):
    """The candidate scan must read only the probed cells' partitions:
    the literal cell filter appears as a partition filter, and the
    scanned partition count is <= |probe cells| (< n_centroids)."""
    from kafka_topic_dumper_spark.functions.index_store import ivf_topk_stored

    emb = load_table(spark, SF, "embeddings")
    path = _build_ivf(spark, tmp_path)
    import re

    df = ivf_topk_stored(emb, QUERY_IDS, path, 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # identify the index scan by schema (the store's path string is
    # truncated by spark.sql.maxMetadataStringLength): it is the only
    # FileScan exposing the cell partition column
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and re.search(r"\[[^\]]*cell#\d+", ln)
    ]
    assert len(idx_scans) == 1, f"expected exactly one index scan:\n{plan}"
    assert re.search(r"PartitionFilters: \[[^\]]*cell#\d+ IN \(", idx_scans[0]), (
        "literal cell filter not pushed to partition pruning:\n" + idx_scans[0]
    )


def test_ivf_stored_unknown_query_ids_raise(spark, tmp_path):
    import pytest as _pytest

    from kafka_topic_dumper_spark.functions.index_store import ivf_topk_stored

    emb = load_table(spark, SF, "embeddings")
    path = _build_ivf(spark, tmp_path)
    with _pytest.raises(ValueError, match="cannot derive probe cells"):
        ivf_topk_stored(emb, [10**9], path, 10)


def _build_pq(spark, tmp_path) -> str:
    from kafka_topic_dumper_spark.functions.index_store import write_pq_index
    from kafka_topic_dumper_spark.operators.similarity import (
        pq_codebook,
        pq_codes_udf,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "pq_index")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    write_pq_index(
        base.withColumn("codes", pq_codes_udf(pq_codebook(emb))(F.col("v"))).select(
            "vec_id", "codes"
        ),
        path,
    )
    return path


def test_pq_stored_matches_in_memory_operator(spark, tmp_path):
    from kafka_topic_dumper_spark.functions.index_store import pq_topk_stored
    from kafka_topic_dumper_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    path = _build_pq(spark, tmp_path)
    stored = sorted(map(tuple, pq_topk_stored(emb, QUERY_IDS, path, 10).collect()))
    live = sorted(map(tuple, pq_topk(emb, QUERY_IDS, 10).collect()))
    assert stored == live
    assert len(stored) > 0


def test_pq_stored_probe_reads_codes_only(spark, tmp_path):
    """The candidate scan must be the compact code relation: the index
    FileScan's ReadSchema carries (vec_id, codes) and nothing else, and
    the base embedding table is scanned only with the pushed query-id
    point filter (the ADC-table derivation) — never for candidates."""
    import re

    from kafka_topic_dumper_spark.functions.index_store import pq_topk_stored

    emb = load_table(spark, SF, "embeddings")
    path = _build_pq(spark, tmp_path)
    plan = (
        pq_topk_stored(emb, QUERY_IDS, path, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "codes" in ln
    ]
    assert len(idx_scans) == 1, f"expected exactly one code-table scan:\n{plan}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", idx_scans[0])
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"vec_id", "codes"}, idx_scans[0]
    assert "embedding" not in idx_scans[0]


def _build_ivfpq(spark, tmp_path) -> str:
    from kafka_topic_dumper_spark.functions.index_store import write_ivfpq_index
    from kafka_topic_dumper_spark.operators.similarity import (
        ivf_assign,
        pq_codebook,
        pq_codes_udf,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq_index")
    write_ivfpq_index(
        ivf_assign(emb, 16).select(
            "vec_id",
            "v_nrm",
            "cell",
            pq_codes_udf(pq_codebook(emb))(F.col("v")).alias("codes"),
        ),
        path,
    )
    return path


def test_ivfpq_stored_matches_in_memory_operator(spark, tmp_path):
    from kafka_topic_dumper_spark.functions.index_store import ivfpq_topk_stored
    from kafka_topic_dumper_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF, "embeddings")
    path = _build_ivfpq(spark, tmp_path)
    stored = sorted(map(tuple, ivfpq_topk_stored(emb, QUERY_IDS, path, 10).collect()))
    live = sorted(map(tuple, ivfpq_topk(emb, QUERY_IDS, 10).collect()))
    assert stored == live
    assert len(stored) > 0


def test_ivfpq_stored_prunes_cells_and_reads_codes_only(spark, tmp_path):
    """The index scan must prune to the probed cells at the partition
    level AND read only (vec_id, v_nrm, codes) — never raw vectors."""
    import re

    from kafka_topic_dumper_spark.functions.index_store import ivfpq_topk_stored

    emb = load_table(spark, SF, "embeddings")
    path = _build_ivfpq(spark, tmp_path)
    plan = (
        ivfpq_topk_stored(emb, QUERY_IDS, path, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and re.search(r"\[[^\]]*cell#\d+", ln)
    ]
    assert len(idx_scans) == 1, f"expected exactly one index scan:\n{plan}"
    assert re.search(r"PartitionFilters: \[[^\]]*cell#\d+ IN \(", idx_scans[0]), idx_scans[0]
    m = re.search(r"ReadSchema: struct<([^>]*)>", idx_scans[0])
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "vec_id",
        "v_nrm",
        "codes",
    }, idx_scans[0]


# --- ED-Join prefix index (round 13) ---------------------------------------


def test_editdist_prefix_stored_matches_gram_count_join(spark, tmp_path):
    from kafka_topic_dumper_spark.functions.index_store import (
        write_editdist_prefix_index,
    )
    from kafka_topic_dumper_spark.operators.dedup import (
        editdist_join_pairs,
        editdist_pairs_from_prefix_index,
        editdist_prefix_index,
        resurface_vocabulary,
    )

    docs = resurface_vocabulary(load_table(spark, SF, "documents"))
    path = str(tmp_path / "edprefix")
    write_editdist_prefix_index(editdist_prefix_index(docs), path)
    stored = sorted(
        map(
            tuple,
            editdist_pairs_from_prefix_index(
                docs, spark.read.parquet(path)
            ).collect(),
        )
    )
    in_memory = sorted(map(tuple, editdist_join_pairs(docs).collect()))
    assert stored == in_memory and len(stored) > 0


def test_editdist_prefix_index_doc_count_sized(spark):
    # the artifact's 100 TB selling point: <= q*D+1 rows per document
    # no matter how long the document is
    from kafka_topic_dumper_spark.operators.dedup import (
        EDITDIST_PREFIX_LEN,
        editdist_prefix_index,
        resurface_vocabulary,
    )

    docs = resurface_vocabulary(load_table(spark, SF, "documents"))
    per_doc = (
        editdist_prefix_index(docs)
        .groupBy("doc_id")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
    )
    assert per_doc.mx <= EDITDIST_PREFIX_LEN
