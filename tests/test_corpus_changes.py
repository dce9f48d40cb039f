"""apply_corpus_changes (round 14, VERDICT r13 next-steps #5): one
call applies the same delete/update set to the BM25, trigram, and ANN
indexes, idempotent per change id and crash-convergent per index —
hybrid retrieval can't silently fuse a mutated leg with a stale one."""

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import (
    similarity as S,
)
from lineage_store_database_management_system_spark.operators import textsearch
from lineage_store_database_management_system_spark.operators.corpus import (
    apply_corpus_changes,
)


def _corpus(spark, n=80):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta record "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.array(
            (F.sin((F.col("id") + 1) * 0.37) + 2).cast("float"),
            (F.cos((F.col("id") + 1) * 0.53) + 2).cast("float"),
            ((F.col("id") % 7 + 1) * 0.3).cast("float"),
        ).alias("embedding"),
    )


def _build(spark, tmp_path, tag):
    c = _corpus(spark)
    bidx = str(tmp_path / f"{tag}_bm25")
    tidx = str(tmp_path / f"{tag}_trgm")
    aidx = str(tmp_path / f"{tag}_ann")
    textsearch.write_bm25_index(c.select("doc_id", "text"), bidx)
    textsearch.write_trigram_index(c.select("doc_id", "text"), tidx)
    S.ivf_pq_write_index(
        c.select("doc_id", "embedding"), aidx, n_lists=4, m=3, nbits=4,
        id_col="doc_id", vec_col="embedding",
    )
    return c, bidx, tidx, aidx


def _changes(spark):
    deletes = spark.range(0, 80, 8).select(F.col("id").alias("doc_id"))
    updates = spark.range(3, 80, 16).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("omega rewrite "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.array(
            F.lit(9.0).cast("float"),
            F.lit(0.1).cast("float"),
            F.lit(0.1).cast("float"),
        ).alias("embedding"),
    )
    return deletes, updates


def _expected(c, deletes, updates):
    return c.join(deletes, on="doc_id", how="left_anti").join(
        updates.select("doc_id"), on="doc_id", how="left_anti"
    ).unionByName(updates)


def _check_all(spark, c, deletes, updates, bidx, tidx, aidx):
    final = _expected(c, deletes, updates)
    # BM25 leg
    a = textsearch.bm25_topk_from_index(spark, bidx, ["omega", "alpha"], k=12)
    import tempfile

    scratch = tempfile.mkdtemp(prefix="ccs_") + "/bm25"
    textsearch.write_bm25_index(final.select("doc_id", "text"), scratch)
    b = textsearch.bm25_topk_from_index(
        spark, scratch, ["omega", "alpha"], k=12
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # trigram leg: updated docs found under NEW text, deleted gone
    got, info = textsearch.substring_search(
        final.select("doc_id", "text"), "omega rewrite", index_dir=tidx
    )
    assert {r["doc_id"] for r in got.collect()} == {
        r["doc_id"] for r in updates.collect()
    }
    # ANN leg: exact full-probe equals brute force over the final corpus
    q = [9.0, 0.1, 0.1]
    got_ann = [
        (r["doc_id"], r["cosine"])
        for r in S.ivf_pq_topk_from_index(
            spark, aidx, q, k=10, nprobe=4, n_candidates=10**6, round_to=4
        ).collect()
    ]
    want_ann = [
        (r["doc_id"], r["cosine"])
        for r in S.brute_force_topk(
            final.select("doc_id", "embedding"), q, k=10,
            id_col="doc_id", vec_col="embedding", round_to=4,
        ).collect()
    ]
    assert got_ann == want_ann


def test_one_call_mutates_all_three_and_is_idempotent(spark, tmp_path):
    c, bidx, tidx, aidx = _build(spark, tmp_path, "all")
    deletes, updates = _changes(spark)
    applied = apply_corpus_changes(
        1, deletes, updates, bm25_dir=bidx, trigram_dir=tidx, ann_dir=aidx
    )
    assert applied == {"bm25": True, "trigram": True, "ann": True}
    # replaying the same change id touches nothing
    again = apply_corpus_changes(
        1, deletes, updates, bm25_dir=bidx, trigram_dir=tidx, ann_dir=aidx
    )
    assert again == {"bm25": False, "trigram": False, "ann": False}
    _check_all(spark, c, deletes, updates, bidx, tidx, aidx)


def test_torn_midway_converges_on_retry(spark, tmp_path):
    c, bidx, tidx, aidx = _build(spark, tmp_path, "torn")
    deletes, updates = _changes(spark)
    real = S.ivf_pq_update_index

    class _Boom(RuntimeError):
        pass

    def _die(df, d):
        raise _Boom()

    # crash AFTER the text indexes applied, INSIDE the ANN apply —
    # the exact window the one-call contract exists to survive
    S.ivf_pq_update_index = _die
    try:
        with pytest.raises(_Boom):
            apply_corpus_changes(
                1, deletes, updates,
                bm25_dir=bidx, trigram_dir=tidx, ann_dir=aidx,
            )
    finally:
        S.ivf_pq_update_index = real
    # retry: completed indexes skip, the torn one replays to converge
    retry = apply_corpus_changes(
        1, deletes, updates, bm25_dir=bidx, trigram_dir=tidx, ann_dir=aidx
    )
    assert retry == {"bm25": False, "trigram": False, "ann": True}
    _check_all(spark, c, deletes, updates, bidx, tidx, aidx)


def test_delete_then_update_same_id_ends_live(spark, tmp_path):
    c, bidx, tidx, aidx = _build(spark, tmp_path, "resur")
    # id 8 is in BOTH sets: delete applies first, the update re-inserts
    deletes = spark.createDataFrame([(8,), (16,)], "doc_id long")
    updates = spark.createDataFrame(
        [(8, "omega rewrite 8", [9.0, 0.1, 0.1])],
        "doc_id long, text string, embedding array<float>",
    ).select(
        "doc_id", "text",
        F.transform("embedding", lambda x: x.cast("float")).alias("embedding"),
    )
    apply_corpus_changes(
        7, deletes, updates, bm25_dir=bidx, trigram_dir=tidx, ann_dir=aidx
    )
    final = _expected(c, deletes, updates)
    got, _ = textsearch.substring_search(
        final.select("doc_id", "text"), "omega rewrite", index_dir=tidx
    )
    assert {r["doc_id"] for r in got.collect()} == {8}
    top = S.ivf_pq_topk_from_index(
        spark, aidx, [9.0, 0.1, 0.1], k=1, nprobe=4, n_candidates=10**6
    ).first()
    assert top["doc_id"] == 8
    # 16 stays dead everywhere
    got2, info2 = textsearch.substring_search(
        c.select("doc_id", "text"), "record 16", index_dir=tidx
    )
    assert got2.count() == 0


def test_sequential_change_ids_apply_in_order(spark, tmp_path):
    c, bidx, tidx, aidx = _build(spark, tmp_path, "seq")
    d1 = spark.createDataFrame([(4,)], "doc_id long")
    d2 = spark.createDataFrame([(12,)], "doc_id long")
    assert apply_corpus_changes(1, d1, None, bm25_dir=bidx)["bm25"] is True
    assert apply_corpus_changes(2, d2, None, bm25_dir=bidx)["bm25"] is True
    # stale/duplicate ids are recorded no-ops
    assert apply_corpus_changes(1, d1, None, bm25_dir=bidx)["bm25"] is False
    assert textsearch.BM25.read_meta(bidx)["n_docs"] == 78


def test_sync_indexes_from_table_cdc(spark, tmp_db, tmp_path):
    """Store-is-source-of-truth: mutate the lineage TABLE, then one
    sync call brings every retrieval index to the table's current
    state via its commit-stamped CDC feed — watermarked by the
    indexes' own markers, idempotent, crash-convergent."""
    from lineage_store_database_management_system_spark.operators.corpus import (
        sync_indexes_from_table,
    )

    src = _corpus(spark, 80)
    t = tmp_db.create_table_typed("docs_sync", src.schema, "doc_id")
    t.ingest_dataframe(src)
    k0 = t.filelog.replayable_range()[1]
    bidx = str(tmp_path / "sync_bm25")
    aidx = str(tmp_path / "sync_ann")
    textsearch.write_bm25_index(t.current_view().select("doc_id", "text"), bidx)
    S.ivf_pq_write_index(
        t.current_view().select("doc_id", "embedding"), aidx,
        n_lists=4, m=3, nbits=4, id_col="doc_id", vec_col="embedding",
    )
    # nothing to sync yet: built at the current commit
    r0 = sync_indexes_from_table(
        t, bm25_dir=bidx, ann_dir=aidx, built_at_commit=k0
    )
    assert r0["synced_to"] == k0 and r0["applied"]["bm25"] is False
    # mutate the TABLE: re-text + re-vector every 16th doc, delete
    # every 8th
    deletes, updates = _changes(spark)
    t.bulk_update(updates)
    t.bulk_delete(deletes)
    r1 = sync_indexes_from_table(
        t, bm25_dir=bidx, ann_dir=aidx, built_at_commit=k0
    )
    assert r1["synced_from"] == k0 and r1["synced_to"] > k0
    assert r1["applied"] == {"bm25": True, "trigram": False, "ann": True}
    # the indexes now answer exactly like from-scratch builds over the
    # table's current view
    final = t.current_view().select("doc_id", "text", "embedding")
    import tempfile

    scratch = tempfile.mkdtemp(prefix="sync_scratch_") + "/bm25"
    textsearch.write_bm25_index(final.select("doc_id", "text"), scratch)
    a = textsearch.bm25_topk_from_index(spark, bidx, ["omega", "alpha"], k=12)
    b = textsearch.bm25_topk_from_index(spark, scratch, ["omega", "alpha"], k=12)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    q = [9.0, 0.1, 0.1]
    got = [
        (r["doc_id"], r["cosine"])
        for r in S.ivf_pq_topk_from_index(
            spark, aidx, q, k=10, nprobe=4, n_candidates=10**6, round_to=4
        ).collect()
    ]
    want = [
        (r["doc_id"], r["cosine"])
        for r in S.brute_force_topk(
            final.select("doc_id", "embedding"), q, k=10,
            id_col="doc_id", vec_col="embedding", round_to=4,
        ).collect()
    ]
    assert got == want
    # idempotent: re-sync is a recorded no-op
    r2 = sync_indexes_from_table(
        t, bm25_dir=bidx, ann_dir=aidx, built_at_commit=k0
    )
    assert r2["applied"] == {"bm25": False, "trigram": False, "ann": False}
    # and further table commits sync incrementally
    t.bulk_delete(spark.createDataFrame([(1,), (2,)], "doc_id long"))
    r3 = sync_indexes_from_table(
        t, bm25_dir=bidx, ann_dir=aidx, built_at_commit=k0
    )
    assert r3["applied"]["bm25"] is True and r3["applied"]["ann"] is True
    got2, _info = textsearch.substring_search(
        t.current_view().select("doc_id", "text"), "record 1", index_dir=None
    )
    a2 = textsearch.bm25_topk_from_index(spark, bidx, ["alpha"], k=80)
    assert {r["doc_id"] for r in a2.collect()}.isdisjoint({1, 2})
