"""Streaming maintenance of the durable text indexes (round 13):
exactly-once-observable micro-batch upserts via the _meta.json
reservation-marker discipline — replays after any crash window
converge to the applied-once index state."""

import os

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import textsearch as T
from lineage_store_database_management_system_spark.streaming import (
    stream_upsert_bm25_index,
    stream_upsert_trigram_index,
)


def _docs(spark, lo, hi, tag="alpha"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(f"{tag} body text "), F.col("id").cast("string")
        ).alias("text"),
    )


def _scores(df):
    return sorted(tuple(r) for r in df.collect())


def test_apply_batches_then_query_equals_from_scratch(spark, tmp_path):
    idx = str(tmp_path / "sbm25")
    assert T.bm25_index_apply_stream_batch(idx, _docs(spark, 0, 40), 0) is True
    assert T.bm25_index_apply_stream_batch(idx, _docs(spark, 40, 80), 1) is True
    # upsert: batch 2 re-texts ids 10..19
    changed = _docs(spark, 10, 20, tag="omega rewrite")
    assert T.bm25_index_apply_stream_batch(idx, changed, 2) is True
    # replays of past batches are skipped
    assert T.bm25_index_apply_stream_batch(idx, _docs(spark, 0, 40), 0) is False
    assert T.bm25_index_apply_stream_batch(idx, changed, 2) is False
    scratch = str(tmp_path / "scratch")
    final = _docs(spark, 0, 80).join(
        changed.select("doc_id"), on="doc_id", how="left_anti"
    ).unionByName(changed)
    T.write_bm25_index(final, scratch)
    a = T.bm25_topk_from_index(spark, idx, ["omega", "alpha", "text"], k=15)
    b = T.bm25_topk_from_index(spark, scratch, ["omega", "alpha", "text"], k=15)
    assert _scores(a) == _scores(b)


def test_crashed_apply_replays_to_convergence(spark, tmp_path):
    idx = str(tmp_path / "sbm25_crash")
    T.bm25_index_apply_stream_batch(idx, _docs(spark, 0, 30), 0)

    # crash INSIDE the batch-1 apply: after the update's data landed
    # but before the completion marker (the worst window — data is in,
    # marker says incomplete)
    batch1 = _docs(spark, 30, 60)
    real_update = T.update_bm25_index

    class _Boom(RuntimeError):
        pass

    def _update_then_die(df, d, id_col="doc_id", text_col="text"):
        real_update(df, d, id_col, text_col)
        raise _Boom()

    import lineage_store_database_management_system_spark.operators.textsearch as TS

    TS.update_bm25_index = _update_then_die
    try:
        with pytest.raises(_Boom):
            T.bm25_index_apply_stream_batch(idx, batch1, 1)
    finally:
        TS.update_bm25_index = real_update
    # marker reserved but not completed
    m = T.BM25.read_meta(idx)["stream_appends"]["default"]
    assert m["stream_batch"] == 1 and not m["completed"]
    # replay: repairs, tombstones the orphan generation, re-applies
    assert T.bm25_index_apply_stream_batch(idx, batch1, 1) is True
    scratch = str(tmp_path / "scratch_crash")
    T.write_bm25_index(_docs(spark, 0, 60), scratch)
    a = T.bm25_topk_from_index(spark, idx, ["alpha", "text"], k=12)
    b = T.bm25_topk_from_index(spark, scratch, ["alpha", "text"], k=12)
    assert _scores(a) == _scores(b)
    # counters healed: n_docs equals live docs
    assert T.BM25.read_meta(idx)["n_docs"] == 60


def test_stream_upsert_end_to_end_with_restart(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    src_dir = str(tmp_path / "src")
    docs = _docs(spark, 0, 100)
    docs.repartition(4).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    applied = stream_upsert_bm25_index(stream, idx, checkpoint=str(tmp_path / "cp"))
    assert applied >= 1
    # restart over the same checkpoint: nothing new, nothing re-applied
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    assert (
        stream_upsert_bm25_index(stream2, idx, checkpoint=str(tmp_path / "cp"))
        == 0
    )
    scratch = str(tmp_path / "scratch_stream")
    T.write_bm25_index(docs, scratch)
    a = T.bm25_topk_from_index(spark, idx, ["alpha", "body"], k=10)
    b = T.bm25_topk_from_index(spark, scratch, ["alpha", "body"], k=10)
    assert _scores(a) == _scores(b)


def test_stream_upsert_trigram_search_current(spark, tmp_path):
    idx = str(tmp_path / "stridx")
    src_dir = str(tmp_path / "tsrc")
    docs = _docs(spark, 0, 60).unionByName(
        _docs(spark, 60, 66, tag="zyxwvu probe")
    )
    docs.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    applied = stream_upsert_trigram_index(
        stream, idx, checkpoint=str(tmp_path / "tcp")
    )
    assert applied >= 1
    # scan_fraction loosened: at 66 docs the planted pattern's df (6)
    # exceeds the default 5% selectivity bar that real corpora clear
    got, info = T.substring_search(
        docs, "zyxwvu", index_dir=idx, scan_fraction=0.2
    )
    assert info["strategy"] == "index"
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(60, 66))
    # repair is a no-op on a cleanly-streamed index
    assert T.trigram_index_repair(spark, idx)["repaired"] is False
    assert T.bm25_index_apply_stream_batch is not None  # module sanity
    assert os.path.isdir(os.path.join(idx, "postings"))
