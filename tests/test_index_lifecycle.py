"""The shared index lifecycle (operators/_idxmeta.py) across all three
durable index families: a crash inside the compaction swap heals
through the family repair with counters and answers intact, and a
below-threshold compaction trigger is a sidecar read that starts no
Spark job."""

import os

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import (
    similarity,
    textsearch,
)

FAMILIES = ["bm25", "trigram", "ivf_pq"]


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta record "), F.col("id").cast("string")).alias(
            "text"
        ),
    )


def _vecs(spark, n=64, dim=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.col("id") + 1) * i % 17 + 1).cast("float"),
        ).alias("embedding"),
    )


def _index(spark, family, idx, n_dead):
    """Build a ``family`` index at ``idx`` with ``n_dead`` deleted docs;
    returns (compact, repair, answer, live counters) callables."""
    ids = spark.range(n_dead).select(
        F.col("id").alias("vec_id" if family == "ivf_pq" else "doc_id")
    )
    if family == "ivf_pq":
        similarity.ivf_pq_write_index(_vecs(spark), idx, n_lists=4, m=4, nbits=4)
        similarity.ivf_pq_delete_from_index(ids, idx)

        def answer():
            return sorted(
                r["vec_id"]
                for r in similarity.ivf_pq_topk_from_index(
                    spark, idx, [3.0] * 8, k=8, nprobe=4, n_candidates=64
                ).collect()
            )

        def counters():
            m = similarity.IVF_PQ.read_meta(idx)
            return {"live_rows": m["data_rows"] - m["n_dead"]}

        return (
            similarity.ivf_pq_compact_index, similarity.ivf_pq_index_repair,
            answer, counters,
        )
    docs = _docs(spark)
    if family == "bm25":
        textsearch.write_bm25_index(docs, idx)
        textsearch.delete_from_bm25_index(ids, idx)

        def answer():
            return sorted(
                tuple(r)
                for r in textsearch.bm25_topk_from_index(
                    spark, idx, ["alpha", "record", "41"], k=10
                ).collect()
            )

        def counters():
            m = textsearch.BM25.read_meta(idx)
            return {k: m[k] for k in ("n_docs", "n_docs_dl", "total_dl")}

        return (
            textsearch.compact_bm25_index, textsearch.bm25_index_repair,
            answer, counters,
        )
    textsearch.write_trigram_index(docs, idx)
    textsearch.delete_from_trigram_index(ids, idx)

    def answer():
        live = docs.where(F.col("doc_id") >= n_dead)
        got, info = textsearch.substring_search(live, "record 41", index_dir=idx)
        return info["strategy"], sorted(r["doc_id"] for r in got.collect())

    def counters():
        return {"n_docs": textsearch.TRIGRAM.read_meta(idx)["n_docs"]}

    return (
        textsearch.compact_trigram_index, textsearch.trigram_index_repair,
        answer, counters,
    )


@pytest.mark.parametrize("family", FAMILIES)
def test_compaction_swap_crash_heals_through_repair(
    spark, tmp_path, monkeypatch, family
):
    """Kill the compaction between moving the old tree out and moving
    the fresh one in: the family repair must recover the swap — not
    read the gap as an empty index — and keep the counters and the
    answers of the index before compaction."""
    idx = str(tmp_path / family)
    compact, repair, answer, counters = _index(spark, family, idx, n_dead=20)
    want_answer, want_counters = answer(), counters()
    real_rename = os.rename

    def crash_before_swap_in(src, dst):
        # the fresh tree (or table) moving into the index's place
        into_index = idx in (dst, os.path.dirname(dst))
        fresh = any(t in os.path.basename(src) for t in ("_new_", "_rebuild_"))
        if into_index and fresh:
            raise OSError("injected crash between the swap renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_before_swap_in)
    with pytest.raises(OSError, match="injected crash"):
        compact(spark, idx, force=True)
    monkeypatch.setattr(os, "rename", real_rename)
    repair(spark, idx)
    assert counters() == want_counters
    assert answer() == want_answer


@pytest.mark.parametrize("family", FAMILIES)
def test_below_threshold_compaction_starts_no_spark_job(spark, tmp_path, family):
    """The compaction trigger reads the sidecar's n_dead and row
    markers only: below the threshold, no Spark job runs — tombstones
    present included."""
    idx = str(tmp_path / family)
    compact, _repair, _answer, _counters = _index(spark, family, idx, n_dead=3)
    sc = spark.sparkContext
    group = f"index-lifecycle-trigger-{family}"
    sc.setJobGroup(group, "below-threshold compaction trigger")
    try:
        rep = compact(spark, idx, tombstone_fraction=0.2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep["compacted"] is False and 0 < rep["dead_fraction"] < 0.2
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_ivf_pq_drift_rebuild_publishes_like_a_compaction(spark, tmp_path):
    """The drift rebuild swaps its tree in through the compaction's
    publish: the epoch moves past every pre-rebuild as-of marker (which
    must then raise rather than silently read the retrained index),
    and the stream replay markers survive, so a replayed batch stays a
    no-op."""
    from lineage_store_database_management_system_spark.operators._idxmeta import (
        IndexHistoryTruncatedError,
    )

    idx = str(tmp_path / "ann")
    similarity.ivf_pq_write_index(_vecs(spark), idx, n_lists=4, m=4, nbits=4)
    batch = _vecs(spark, n=70).where(F.col("vec_id") >= 64)
    assert similarity.ivf_pq_apply_stream_batch(idx, batch, 0, "s") is True
    marker = similarity.ann_index_asof_marker(idx)
    rep = similarity.ivf_pq_maintain_index(spark, idx, skew_factor=0.0)
    assert rep["rebuilt"] is True
    assert similarity.IVF_PQ.read_meta(idx)["epoch"] == marker["epoch"] + 1
    with pytest.raises(IndexHistoryTruncatedError):
        similarity.ivf_pq_topk_from_index(spark, idx, [3.0] * 8, as_of=marker)
    assert similarity.ivf_pq_apply_stream_batch(idx, batch, 0, "s") is False


@pytest.mark.parametrize(
    "mutate",
    [
        lambda spark, d: similarity.ivf_pq_append_index(_vecs(spark, n=4), d),
        lambda spark, d: similarity.ivf_pq_delete_from_index(
            spark.range(2).select(F.col("id").alias("vec_id")), d
        ),
        lambda spark, d: similarity.ivf_pq_compact_index(spark, d),
        lambda spark, d: similarity.ivf_pq_apply_stream_batch(
            d, _vecs(spark, n=4), 0, "s"
        ),
    ],
    ids=["append", "delete", "compact", "stream_batch"],
)
def test_ivf_pq_missing_index_fails_before_touching_disk(spark, tmp_path, mutate):
    """An ANN index cannot exist without its trained quantizers: a
    mutation against a missing path raises FileNotFoundError and leaves
    no directory (and no lease-holding sidecar) behind."""
    missing = str(tmp_path / "no_such_index")
    with pytest.raises(FileNotFoundError, match="seed corpus"):
        mutate(spark, missing)
    assert not os.path.exists(missing)
