"""Round-14 ADVICE + VERDICT regressions:

1. (high) substring_search(index_dir=...)'s SCAN fallback anti-joins
   only FULLY-dead ids — an UPDATED (still-live) document appears in
   the tombstone table but keeps a live generation, and dropping it
   from the exact-claiming contains() path was a false negative.
2. (medium) the index repair functions converge instead of raising
   for a FIRST-batch crash window (reservation marker written,
   postings/doclens never landed), and heal the torn-doclens
   generation gap that would otherwise double-index NEW ids on
   replay.
3. (VERDICT What's-wrong #2) fuzzy_similarity_search reads only the
   q - ceil(t*q) + 1 RAREST grams' postings when df stats are
   available (the prefix filter), with results bit-identical to the
   unpruned session path.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import _idxmeta, textsearch


def _docs(spark, n=80, tag="alpha beta gamma delta record"):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + " "), F.col("id").cast("string")).alias("text"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- 1. scan fallback must keep UPDATED (still-live) docs ------------


def test_scan_fallback_keeps_updated_docs(spark, tmp_path):
    idx = str(tmp_path / "upd_idx")
    docs = _docs(spark, 60)  # every doc contains 'record'
    textsearch.write_trigram_index(docs, idx)
    dead = spark.range(0, 60, 6).select(F.col("id").alias("doc_id"))
    textsearch.delete_from_trigram_index(dead, idx)
    # update every 7th survivor — its NEW text still contains 'record'
    changed = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 6 != 0))
        .select(
            "doc_id",
            F.concat(
                F.lit("rewritten record entry "), F.col("doc_id").cast("string")
            ).alias("text"),
        )
    )
    n_changed = changed.count()
    assert n_changed > 0
    textsearch.update_trigram_index(changed, idx)
    corpus = (
        docs.join(dead, on="doc_id", how="left_anti")
        .join(changed.select("doc_id"), on="doc_id", how="left_anti")
        .unionByName(changed)
    )
    # 'record' is unselective -> the SCAN fallback fires
    got, info = textsearch.substring_search(corpus, "record", index_dir=idx)
    assert info["strategy"] == "scan"
    ids = {r["doc_id"] for r in got.collect()}
    changed_ids = {r["doc_id"] for r in changed.collect()}
    # the old id-equality anti-join dropped every updated doc here
    assert changed_ids <= ids
    assert ids == {r["doc_id"] for r in corpus.collect()}
    # deleted docs stay gone even from a STALE caller snapshot
    got2, info2 = textsearch.substring_search(docs, "record", index_dir=idx)
    assert info2["strategy"] == "scan"
    ids2 = {r["doc_id"] for r in got2.collect()}
    assert not (ids2 & {r["doc_id"] for r in dead.collect()})
    assert changed_ids <= ids2
    # short-pattern fallback: same discipline
    got3, info3 = textsearch.substring_search(corpus, "re", index_dir=idx)
    assert info3["strategy"] == "scan"
    assert changed_ids <= {r["doc_id"] for r in got3.collect()}


# --- 2a. first-batch crash: marker landed, no parquet ----------------


def test_bm25_first_batch_crash_replays_to_convergence(spark, tmp_path):
    idx = str(tmp_path / "bm25_fb")
    batch0 = _docs(spark, 30)
    real_update = textsearch.update_bm25_index

    class _Boom(RuntimeError):
        pass

    def _die_before_any_write(df, d, id_col="doc_id", text_col="text"):
        raise _Boom()

    textsearch.update_bm25_index = _die_before_any_write
    try:
        with pytest.raises(_Boom):
            textsearch.bm25_index_apply_stream_batch(idx, batch0, 0)
    finally:
        textsearch.update_bm25_index = real_update
    m = textsearch.BM25.read_meta(idx)["stream_appends"]["default"]
    assert m["stream_batch"] == 0 and not m["completed"]
    assert not os.path.isdir(os.path.join(idx, "postings"))
    # replay: repair must tolerate the missing dirs (old code raised
    # AnalysisException on every replay) and the apply must converge
    assert textsearch.bm25_index_apply_stream_batch(idx, batch0, 0) is True
    scratch = str(tmp_path / "bm25_fb_scratch")
    textsearch.write_bm25_index(batch0, scratch)
    a = textsearch.bm25_topk_from_index(spark, idx, ["alpha", "record"], k=10)
    b = textsearch.bm25_topk_from_index(spark, scratch, ["alpha", "record"], k=10)
    assert _rows(a) == _rows(b)
    assert textsearch.BM25.read_meta(idx)["n_docs"] == 30


def test_trigram_first_batch_crash_replays_to_convergence(spark, tmp_path):
    idx = str(tmp_path / "trgm_fb")
    batch0 = _docs(spark, 25)
    real_update = textsearch.update_trigram_index

    class _Boom(RuntimeError):
        pass

    textsearch.update_trigram_index = lambda *a, **k: (_ for _ in ()).throw(
        _Boom()
    )
    try:
        with pytest.raises(_Boom):
            textsearch.trigram_index_apply_stream_batch(idx, batch0, 0)
    finally:
        textsearch.update_trigram_index = real_update
    rep = textsearch.trigram_index_repair(spark, idx)  # old code: raised
    assert rep["repaired"] is True and rep["postings_rows"] == 0
    assert textsearch.trigram_index_apply_stream_batch(idx, batch0, 0) is True
    got, info = textsearch.substring_search(
        batch0, "record 7", index_dir=idx
    )
    assert info["strategy"] == "index"
    assert {r["doc_id"] for r in got.collect()} == {7}


# --- 2b. torn first trigram write: postings landed, stats/docids not -


def test_trigram_torn_first_write_repair_rebuilds(spark, tmp_path):
    idx = str(tmp_path / "trgm_torn")
    docs = _docs(spark, 40)
    textsearch.write_trigram_index(docs, idx)
    # reconstruct the crash state: stats + docids + meta never landed
    shutil.rmtree(os.path.join(idx, "stats"))
    shutil.rmtree(os.path.join(idx, "docids"))
    _idxmeta.publish_meta(
        idx,
        {"stream_appends": {"default": {"stream_batch": 0, "completed": False}}},
    )
    rep = textsearch.trigram_index_repair(spark, idx)
    assert rep["repaired"] is True
    meta = textsearch.TRIGRAM.read_meta(idx)
    assert meta["n_docs"] == 40 and meta["n_batches"] == 1
    assert os.path.isdir(os.path.join(idx, "stats"))
    assert os.path.isdir(os.path.join(idx, "docids"))
    # the df=0 false-negative hazard is gone: planted pattern found
    got, info = textsearch.substring_search(docs, "record 13", index_dir=idx)
    assert info["strategy"] == "index"
    assert {r["doc_id"] for r in got.collect()} == {13}
    # and the dirty replay converges to exactly-once
    assert textsearch.trigram_index_apply_stream_batch(idx, docs, 0) is True
    got2, _ = textsearch.substring_search(docs, "record 13", index_dir=idx)
    assert {r["doc_id"] for r in got2.collect()} == {13}


# --- 2c. torn LATER bm25 batch: postings gen landed, doclens gen not -


def test_bm25_torn_doclens_generation_no_double_index(spark, tmp_path):
    idx = str(tmp_path / "bm25_gen")
    batch0 = _docs(spark, 30)
    assert textsearch.bm25_index_apply_stream_batch(idx, batch0, 0) is True
    with open(os.path.join(idx, "_meta.json")) as f:
        meta_after_b0 = json.load(f)
    batch1 = spark.range(30, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta record "),
                 F.col("id").cast("string")).alias("text"),
    )
    assert textsearch.bm25_index_apply_stream_batch(idx, batch1, 1) is True
    # surgically reconstruct the crash: drop doclens generation-1 rows
    # and restore the pre-batch-1 sidecar with the reservation marker
    dl = spark.read.parquet(os.path.join(idx, "doclens"))
    keep = dl.where(F.col("_batch") != 1)
    tmp = str(tmp_path / "dl_keep")
    keep.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(os.path.join(idx, "doclens"))
    shutil.move(tmp, os.path.join(idx, "doclens"))
    torn = dict(meta_after_b0)
    torn["stream_appends"] = {"default": {"stream_batch": 1, "completed": False}}
    with open(os.path.join(idx, "_meta.json"), "w") as f:
        json.dump(torn, f)
    # replay batch 1: repair derives the orphan doclens generation from
    # the postings' denormalized dl, so the upsert tombstones the
    # orphans instead of appending a SECOND live generation
    assert textsearch.bm25_index_apply_stream_batch(idx, batch1, 1) is True
    scratch = str(tmp_path / "bm25_gen_scratch")
    textsearch.write_bm25_index(batch0.unionByName(batch1), scratch)
    a = textsearch.bm25_topk_from_index(spark, idx, ["alpha", "record"], k=20)
    b = textsearch.bm25_topk_from_index(spark, scratch, ["alpha", "record"], k=20)
    assert _rows(a) == _rows(b)
    assert textsearch.BM25.read_meta(idx)["n_docs"] == 60


# --- 3. rarest-gram prefix filter ------------------------------------


def test_fuzzy_prefix_filter_prunes_and_matches_session_path(spark, tmp_path):
    idx = str(tmp_path / "fz_prefix")
    docs = _docs(spark, 90)
    textsearch.write_trigram_index(docs, idx)
    query = "alpha beta gmma"  # typo'd
    q = len(textsearch.pattern_grams(query))
    got, info = textsearch.fuzzy_similarity_search(
        docs, query, threshold=0.4, index_dir=idx
    )
    assert info["postings_source"] == "durable"
    # the prefix filter read q - min_shared + 1 < q posting lists
    assert len(info["probe_grams"]) == q - info["min_shared"] + 1 < q
    want, info2 = textsearch.fuzzy_similarity_search(docs, query, threshold=0.4)
    assert len(info2["probe_grams"]) == q  # session path: no stats, no prune
    assert _rows(got) == _rows(want)


def test_fuzzy_prefix_no_false_negatives_on_rare_gram_absence(spark, tmp_path):
    # a doc can qualify while sharing NONE of the rarest grams is
    # impossible (pigeonhole) — but it may share exactly ONE; plant a
    # doc that holds only one prefix gram plus all the skipped
    # high-df grams and assert it still surfaces
    idx = str(tmp_path / "fz_pigeon")
    base = _docs(spark, 60, tag="alpha beta gamma")
    planted = spark.createDataFrame(
        [(999, "alpha beta gamm")], "doc_id long, text string"
    )
    docs = base.unionByName(planted)
    textsearch.write_trigram_index(docs, idx)
    got, info = textsearch.fuzzy_similarity_search(
        docs, "alpha beta gamma", threshold=0.5, index_dir=idx
    )
    ids = {r["doc_id"] for r in got.collect()}
    want, _ = textsearch.fuzzy_similarity_search(
        docs, "alpha beta gamma", threshold=0.5
    )
    assert ids == {r["doc_id"] for r in want.collect()}
    assert 999 in ids


# --- 4. batch operators: id types derived, not hardcoded -------------


def test_ann_batch_topk_with_string_ids(spark, tmp_path):
    from lineage_store_database_management_system_spark.operators import (
        similarity as S,
    )

    idx = str(tmp_path / "ann_str")
    vecs = spark.range(60).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("vec_id"),
        F.array(
            (F.sin((F.col("id") + 1) * 0.37) + 2).cast("float"),
            (F.cos((F.col("id") + 1) * 0.53) + 2).cast("float"),
        ).alias("embedding"),
    )
    S.ivf_pq_write_index(
        vecs, idx, n_lists=4, m=2, nbits=4, id_col="vec_id",
        vec_col="embedding",
    )
    queries = spark.createDataFrame(
        [("qa", [2.5, 1.8]), ("qb", [1.2, 2.9])],
        "q_id string, q_embedding array<double>",
    )
    out = S.ivf_pq_topk_batch_from_index(
        spark, idx, queries, k=5, nprobe=4, round_to=4
    )
    assert dict(out.dtypes)["q_id"] == "string"
    assert dict(out.dtypes)["vec_id"] == "string"
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qv in [("qa", [2.5, 1.8]), ("qb", [1.2, 2.9])]:
        single = [
            (r["vec_id"], r["cosine"])
            for r in S.ivf_pq_topk_from_index(
                spark, idx, qv, k=5, nprobe=4, n_candidates=10**6, round_to=4
            ).collect()
        ]
        assert by_q[qid] == single
    # empty batch: schema still labeled with the real types
    empty = S.ivf_pq_topk_batch_from_index(
        spark, idx, queries.where(F.lit(False)), k=5
    )
    assert dict(empty.dtypes)["q_id"] == "string"
    assert dict(empty.dtypes)["vec_id"] == "string"
    assert empty.count() == 0


def test_bm25_batch_topk_with_string_ids(spark, tmp_path):
    idx = str(tmp_path / "bm25_str")
    docs = spark.range(50).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("join filter "))
            .otherwise(F.lit("merge scan ")),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    textsearch.write_bm25_index(docs, idx)
    out = textsearch.bm25_topk_batch_from_index(
        spark, idx, {"first": ["join"], "second": ["merge", "scan"]}, k=6
    )
    assert dict(out.dtypes)["q_id"] == "string"
    assert dict(out.dtypes)["doc_id"] == "string"
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["q_id"], []).append((r["doc_id"], r["bm25"]))
    for qid, terms in [("first", ["join"]), ("second", ["merge", "scan"])]:
        single = [
            (r["doc_id"], r["bm25"])
            for r in textsearch.bm25_topk_from_index(
                spark, idx, terms, k=6
            ).collect()
        ]
        assert sorted(by_q[qid]) == sorted(single)
    empty = textsearch.bm25_topk_batch_from_index(spark, idx, {}, k=3)
    assert dict(empty.dtypes)["doc_id"] == "string"
    assert empty.count() == 0


# --- 5. quarantine: legacy root-level parquet migrates ---------------


def test_legacy_root_quarantine_migrates_on_keyed_write(spark, tmp_db):
    from lineage_store_database_management_system_spark.operators import (
        expectations as X,
    )

    src = spark.range(40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 3, -1).otherwise(2).alias("qty"),
    )
    t = tmp_db.create_table_typed("qlegacy", src.schema, "k")
    rules = {"qty_pos": "qty > 0"}
    # reconstruct a pre-r13 area: violating rows at the qdir ROOT
    qdir = os.path.join(t.path, "_quarantine")
    legacy_bad = X.tag_violations(src, rules).where(
        F.size(X.VIOLATIONS_COL) > 0
    )
    legacy_bad.coalesce(1).write.mode("overwrite").parquet(qdir)
    assert any(f.endswith(".parquet") for f in os.listdir(qdir))
    # first keyed write migrates the strays instead of wedging the read
    m = X.ingest_with_expectations(t, src, rules, batch_id="b1")
    quar = spark.read.parquet(m["quarantine_dir"])  # old code: raises
    assert quar.count() == 8  # 4 legacy + 4 keyed
    assert quar.where(F.col("batch") == "b1").count() == 4
    assert quar.where(F.col("batch").startswith("legacy-")).count() == 4
    assert not any(
        f.endswith(".parquet")
        for f in os.listdir(qdir)
        if os.path.isfile(os.path.join(qdir, f))
    )
