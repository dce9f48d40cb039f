"""Optimistic concurrency for the durable retrieval indexes
(VERDICT r13 What's-missing #2): BM25 / trigram / ANN sidecar writes
go through the lineage-style reserve -> data-write -> CAS-publish
discipline, so two concurrent maintainers can no longer
last-meta-wins silently. Per family: a stale snapshot conflicts at
reserve time, a mid-flight lease conflicts a second mutator BEFORE
it writes anything (winner's files untouched), and a crashed
writer's stale lease is cleared with a retry error."""

import os

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import (
    _idxmeta,
    similarity,
    textsearch,
)
from lineage_store_database_management_system_spark.operators._idxmeta import (
    IndexConcurrentWriteError,
)


def _docs(spark, lo=0, hi=40):
    return spark.range(lo, hi).select(
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


# --- text indexes -----------------------------------------------------


@pytest.mark.parametrize("family", ["bm25", "trigram"])
def test_text_index_stale_snapshot_conflicts_at_reserve(
    spark, tmp_path, family
):
    idx = str(tmp_path / f"cas_{family}")
    write = (
        textsearch.write_bm25_index
        if family == "bm25"
        else textsearch.write_trigram_index
    )
    write(_docs(spark), idx)
    fam = getattr(textsearch, family.upper())
    stale = fam.read_meta(idx)
    # another writer commits in between
    write(_docs(spark, 40, 60), idx)
    with pytest.raises(IndexConcurrentWriteError):
        fam.reserve(idx, stale)


@pytest.mark.parametrize("family", ["bm25", "trigram"])
def test_text_index_midflight_lease_blocks_second_writer(
    spark, tmp_path, family
):
    idx = str(tmp_path / f"lease_{family}")
    write = (
        textsearch.write_bm25_index
        if family == "bm25"
        else textsearch.write_trigram_index
    )
    delete = (
        textsearch.delete_from_bm25_index
        if family == "bm25"
        else textsearch.delete_from_trigram_index
    )
    write(_docs(spark), idx)
    fam = getattr(textsearch, family.upper())
    before = _idxmeta.footer_rows(os.path.join(idx, "postings"))
    # writer A reserves (mid data-write); writer B's full mutations
    # must abort cleanly BEFORE touching any file
    held = fam.read_meta(idx)
    fam.reserve(idx, held)
    with pytest.raises(IndexConcurrentWriteError):
        write(_docs(spark, 40, 60), idx)
    with pytest.raises(IndexConcurrentWriteError):
        delete(spark.range(3).select(F.col("id").alias("doc_id")), idx)
    compact = (
        textsearch.compact_bm25_index
        if family == "bm25"
        else textsearch.compact_trigram_index
    )
    with pytest.raises(IndexConcurrentWriteError):
        compact(spark, idx, force=True)
    assert _idxmeta.footer_rows(os.path.join(idx, "postings")) == before
    assert _idxmeta.footer_rows(os.path.join(idx, "tombstones")) == 0
    # the stream marker write conflicts too (it must not interleave
    # with a counter publish)
    with pytest.raises(IndexConcurrentWriteError):
        _idxmeta.update_meta_atomic(idx, lambda m: None)
    # writer A finishes: release, then the blocked mutation succeeds
    fam.abandon(idx, held)
    write(_docs(spark, 40, 60), idx)
    assert fam.read_meta(idx)["n_docs"] == 60


def test_text_index_stale_lease_cleared_with_retry_error(
    spark, tmp_path, monkeypatch
):
    idx = str(tmp_path / "stale_lease")
    textsearch.write_bm25_index(_docs(spark), idx)
    held = textsearch.BM25.read_meta(idx)
    textsearch.BM25.reserve(idx, held)  # writer dies here
    monkeypatch.setattr(_idxmeta, "PENDING_STALE_S", 0.0)
    with pytest.raises(IndexConcurrentWriteError, match="stale write lease"):
        textsearch.write_bm25_index(_docs(spark, 40, 60), idx)
    # lease is cleared: repair + retry succeeds on fresh state
    textsearch.bm25_index_repair(spark, idx)
    textsearch.write_bm25_index(_docs(spark, 40, 60), idx)
    assert textsearch.BM25.read_meta(idx)["n_docs"] == 60


# --- ANN index --------------------------------------------------------


def test_ann_index_midflight_lease_blocks_second_writer(spark, tmp_path):
    idx = str(tmp_path / "cas_ann")
    similarity.ivf_pq_write_index(
        _vecs(spark), idx, n_lists=4, m=4, nbits=4,
        id_col="vec_id", vec_col="embedding",
    )
    before = _idxmeta.footer_rows(idx)
    held = similarity.IVF_PQ.read_meta(idx)
    similarity.IVF_PQ.reserve(idx, held)
    with pytest.raises(IndexConcurrentWriteError):
        similarity.ivf_pq_append_index(_vecs(spark, 8), idx)
    with pytest.raises(IndexConcurrentWriteError):
        similarity.ivf_pq_delete_from_index(
            spark.range(4).select(F.col("id").alias("vec_id")), idx
        )
    with pytest.raises(IndexConcurrentWriteError):
        similarity.ivf_pq_compact_index(spark, idx, force=True)
    assert _idxmeta.footer_rows(idx) == before
    assert not os.path.isdir(os.path.join(idx, "_tombstones"))
    similarity.IVF_PQ.abandon(idx, held)
    assert similarity.ivf_pq_append_index(_vecs(spark, 8), idx) == 8


def test_ann_index_stale_snapshot_conflicts_at_reserve(spark, tmp_path):
    idx = str(tmp_path / "cas_ann2")
    similarity.ivf_pq_write_index(
        _vecs(spark), idx, n_lists=4, m=4, nbits=4,
        id_col="vec_id", vec_col="embedding",
    )
    stale = similarity.IVF_PQ.read_meta(idx)
    assert (
        similarity.ivf_pq_delete_from_index(
            spark.range(6).select(F.col("id").alias("vec_id")), idx
        )
        == 6
    )
    with pytest.raises(IndexConcurrentWriteError):
        similarity.IVF_PQ.reserve(idx, stale)
    # winner's commit is intact and queryable
    got = similarity.ivf_pq_topk_from_index(
        spark, idx, [1.0] * 8, k=5, nprobe=4
    )
    assert got.count() == 5
    assert {r["vec_id"] for r in got.collect()}.isdisjoint(set(range(6)))


def test_ann_compact_carries_seq_forward(spark, tmp_path):
    idx = str(tmp_path / "cas_ann3")
    similarity.ivf_pq_write_index(
        _vecs(spark), idx, n_lists=4, m=4, nbits=4,
        id_col="vec_id", vec_col="embedding",
    )
    stale = similarity.IVF_PQ.read_meta(idx)
    similarity.ivf_pq_delete_from_index(
        spark.range(20).select(F.col("id").alias("vec_id")), idx
    )
    rep = similarity.ivf_pq_compact_index(spark, idx, force=True)
    assert rep["compacted"] is True
    meta = similarity.IVF_PQ.read_meta(idx)
    assert "_pending" not in meta  # the swap published the lease away
    # a pre-compaction snapshot can't CAS past the rebuild
    with pytest.raises(IndexConcurrentWriteError):
        similarity.IVF_PQ.reserve(idx, stale)
    # and a fresh mutation flows normally
    assert similarity.ivf_pq_append_index(_vecs(spark, 4), idx) == 4


# --- genuine concurrency: two live threads, invariant-checked ---------


def test_two_threads_mutate_bm25_with_retry(spark, tmp_path):
    """Not an injected interleaving: two threads run real mutations
    concurrently under retry_on_conflict (generous attempt budget:
    a rival's lease spans its real Spark jobs, which take seconds on
    a loaded host). Invariants, not winners:
    every mutation eventually lands exactly once, the final counters
    equal a from-scratch re-derivation, and the repair marker check
    is clean (no torn state survived)."""
    import threading

    idx = str(tmp_path / "race_bm25")
    textsearch.write_bm25_index(_docs(spark, 0, 100), idx)
    errors = []

    def _deleter():
        try:
            for lo in (0, 10, 20):
                ids = spark.range(lo, lo + 10).select(
                    F.col("id").alias("doc_id")
                )
                n = _idxmeta.retry_on_conflict(
                    lambda ids=ids: textsearch.delete_from_bm25_index(ids, idx),
                    max_attempts=120, backoff_s=0.5,
                )
                assert n == 10
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    def _appender():
        try:
            for lo in (100, 140, 180):
                docs = _docs(spark, lo, lo + 40)
                _idxmeta.retry_on_conflict(
                    lambda docs=docs: textsearch.write_bm25_index(docs, idx),
                    max_attempts=120, backoff_s=0.5,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=_deleter)
    t2 = threading.Thread(target=_appender)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    meta = textsearch.BM25.read_meta(idx)
    assert meta["n_docs"] == 100 - 30 + 120
    assert meta["n_dead"] == 30
    # marker check: every mutation's publish matched its parquet
    assert textsearch.bm25_index_repair(spark, idx)["repaired"] is False
    # and the index answers exactly like a from-scratch build
    final = _docs(spark, 30, 220)
    scratch = str(tmp_path / "race_scratch")
    textsearch.write_bm25_index(final, scratch)
    a = textsearch.bm25_topk_from_index(spark, idx, ["alpha", "record"], k=25)
    b = textsearch.bm25_topk_from_index(spark, scratch, ["alpha", "record"], k=25)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lease_visible_across_processes(tmp_path, monkeypatch):
    """The lease is a FILE, not process state: a writer that reserved
    in another OS process (and died there) blocks this process's
    mutators until the lease expires — the lock/lease design must
    hold for the multi-writer deployments the CAS exists for, not
    just threads sharing a module."""
    import subprocess
    import sys as _sys

    idx = str(tmp_path / "xproc")
    os.makedirs(idx)
    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from lineage_store_database_management_system_spark.operators"
        " import _idxmeta\n"
        f"meta = _idxmeta.read_raw_meta({idx!r}, '_meta.json')\n"
        f"_idxmeta.reserve_meta({idx!r}, meta)\n"
    )
    subprocess.run([_sys.executable, "-c", script], check=True)
    assert _idxmeta.read_raw_meta(idx, "_meta.json").get("_pending")
    with pytest.raises(IndexConcurrentWriteError, match="write lease"):
        _idxmeta.reserve_meta(idx, _idxmeta.read_raw_meta(idx, "_meta.json"))
    # after expiry: cleared with the run-repair-and-retry error, then
    # a fresh reservation flows
    monkeypatch.setattr(_idxmeta, "PENDING_STALE_S", 0.0)
    with pytest.raises(IndexConcurrentWriteError, match="stale write lease"):
        _idxmeta.reserve_meta(idx, _idxmeta.read_raw_meta(idx, "_meta.json"))
    fresh = _idxmeta.read_raw_meta(idx, "_meta.json")
    _idxmeta.reserve_meta(idx, fresh)
    _idxmeta.publish_meta(idx, fresh)
    assert not _idxmeta.read_raw_meta(idx, "_meta.json").get("_pending")
