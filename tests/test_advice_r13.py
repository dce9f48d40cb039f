"""Round-13 ADVICE + VERDICT regressions:

1. _range_to_double must fold NAIVE datetimes exactly as the pushed
   ``F.lit`` predicate will (driver-LOCAL timezone, not UTC) — on a
   non-UTC driver the old UTC fold made sidecar pruning and the scan
   predicate disagree by the UTC offset: silent false negatives on
   the range-filtered ANN's exact-claiming prefilter branch.
2. The range/composite filtered ANN operators may not trust a STALE
   sidecar for list pruning (torn append: data landed, meta didn't) —
   they verify the hist_rows marker against the index footers and
   heal first.
3. delete_from_bm25_index / delete_from_trigram_index move counters
   by the MATCHED LIVE count (unknown / repeated deletes are no-ops,
   n_docs can never go negative).
4. BM25/trigram sidecar consistency markers + repair: a crash between
   any parquet write and the _meta.json rewrite is detected from
   footer row counts and healed by re-derivation.
5. fuzzy_similarity_search's >cap fallback joins shuffle-side (no
   forced broadcast of a corpus-scaled frame) and matches the capped
   path bit-for-bit; with ``index_dir`` it reads the durable
   tombstone-filtered postings so deletes/updates reconcile.
6. ingest_with_expectations writes quarantine uniformly under
   batch=... so mixing keyed and unkeyed calls stays readable.
"""

import datetime
import json
import os
import time

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import (
    expectations as X,
)
from lineage_store_database_management_system_spark.operators import (
    similarity,
    textsearch,
)


# --- 1. naive-datetime fold vs F.lit (the medium finding) -----------


def _with_tz(tz):
    class _TZ:
        def __enter__(self):
            self.old = os.environ.get("TZ")
            os.environ["TZ"] = tz
            time.tzset()

        def __exit__(self, *a):
            if self.old is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = self.old
            time.tzset()

    return _TZ()


def test_naive_datetime_fold_matches_lit_on_non_utc_driver(spark):
    with _with_tz("America/New_York"):
        dt = datetime.datetime(2026, 1, 2, 12, 30, 0)
        got = similarity._range_to_double(dt)
        want = spark.range(1).select(F.lit(dt).cast("double")).first()[0]
        assert got == want  # old code: off by the 5h EST offset
    # tz-aware endpoints are absolute instants either way
    dta = datetime.datetime(2026, 1, 2, 12, 30, tzinfo=datetime.timezone.utc)
    got_a = similarity._range_to_double(dta)
    want_a = spark.range(1).select(F.lit(dta).cast("double")).first()[0]
    assert got_a == want_a


def _ts_blobs(spark, n=300, hour=2):
    """3 separated blobs; created_ts correlates with the blob and sits
    at day X 0{hour}:00 — close enough to midnight that a UTC-vs-local
    fold disagreement flips which lists overlap the query range."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (
                F.when(F.col("id") % 3 == 0, -10.0)
                .when(F.col("id") % 3 == 1, 0.0)
                .otherwise(10.0)
                + F.sin((F.col("id") + 1) * 0.37)
            ).cast("float"),
            F.sin((F.col("id") + 1) * 0.53).cast("float"),
        ).alias("embedding"),
        F.to_timestamp(
            F.concat(
                F.lit("2026-01-0"),
                ((F.col("id") % 3) + 1).cast("string"),
                F.lit(f" 0{hour}:"),
                F.lpad((F.col("id") % 60).cast("string"), 2, "0"),
                F.lit(":00"),
            )
        ).alias("created_ts"),
    )


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_range_prefilter_exact_on_non_utc_driver(spark, tmp_path):
    idx = str(tmp_path / "tz_idx")
    df = _ts_blobs(spark)
    similarity.ivf_pq_write_index(
        df, idx, n_lists=3, m=2, nbits=4, range_cols=["created_ts"]
    )
    with _with_tz("America/New_York"):
        # naive local range whose UTC mis-fold LEAVES the day-2 list's
        # exact extent, so the old code pruned the list that holds
        # every true match — exact-claiming prefilter, silently empty
        lo = datetime.datetime(2026, 1, 1, 19, 0, 0)
        hi = datetime.datetime(2026, 1, 2, 1, 0, 0)
        got, info = similarity.ivf_pq_range_filtered_topk_from_index(
            spark, idx, [0.1, 0.5], "created_ts", lo, hi, k=10, round_to=4
        )
        assert info["strategy"] == "prefilter"
        exact = similarity.filtered_topk(
            df,
            [0.1, 0.5],
            F.col("created_ts").between(F.lit(lo), F.lit(hi)),
            k=10,
            round_to=4,
        )
        want = _ids(exact)
        assert want, "test setup must select a non-empty range"
        assert _ids(got) == want


# --- 2. stale sidecar never silently mis-prunes prefilter -----------


def test_torn_append_range_prefilter_still_exact(spark, tmp_path):
    idx = str(tmp_path / "torn_idx")
    base = _ts_blobs(spark, n=300)
    similarity.ivf_pq_write_index(
        base, idx, n_lists=3, m=2, nbits=4, range_cols=["created_ts"]
    )
    with open(os.path.join(idx, "_ann_meta.json")) as f:
        pre_meta = f.read()
    # day-4 rows extend every list's extent past the frozen sidecar
    extra = _ts_blobs(spark, n=60).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        "embedding",
        (F.col("created_ts") + F.expr("INTERVAL 3 DAYS")).alias("created_ts"),
    )
    similarity.ivf_pq_append_index(extra, idx)
    # crash between the data append and the meta rewrite
    with open(os.path.join(idx, "_ann_meta.json"), "w") as f:
        f.write(pre_meta)
    lo = datetime.datetime(2026, 1, 4, 0, 0, 0)
    hi = datetime.datetime(2026, 1, 6, 0, 0, 0)
    got, info = similarity.ivf_pq_range_filtered_topk_from_index(
        spark, idx, [0.1, 0.5], "created_ts", lo, hi, k=10, round_to=4
    )
    # old code: stale extents prune every list -> empty 'prefilter'
    corpus = base.unionByName(extra)
    exact = similarity.filtered_topk(
        corpus,
        [0.1, 0.5],
        F.col("created_ts").between(F.lit(lo), F.lit(hi)),
        k=10,
        round_to=4,
    )
    assert _ids(got) == _ids(exact) and _ids(got)
    # and the query healed the sidecar for everyone after it
    with open(os.path.join(idx, "_ann_meta.json")) as f:
        healed = json.load(f)
    assert healed["hist_rows"] == 360


# --- 3. delete counters move by MATCHED LIVE count ------------------


def _docs(spark, n=80):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta record "), F.col("id").cast("string")
        ).alias("text"),
    )


def test_bm25_delete_unknown_and_repeated_ids(spark, tmp_path):
    idx = str(tmp_path / "bm25")
    textsearch.write_bm25_index(_docs(spark), idx)
    meta0 = textsearch.BM25.read_meta(idx)
    unknown = spark.range(5).select((F.col("id") + 10_000).alias("doc_id"))
    assert textsearch.delete_from_bm25_index(unknown, idx) == 0
    assert textsearch.BM25.read_meta(idx)["n_docs"] == meta0["n_docs"]
    dead = spark.range(10).select(F.col("id").alias("doc_id"))
    assert textsearch.delete_from_bm25_index(dead, idx) == 10
    # repeat: already-deleted ids are a counted no-op, never negative
    assert textsearch.delete_from_bm25_index(dead, idx) == 0
    m = textsearch.BM25.read_meta(idx)
    assert m["n_docs"] == meta0["n_docs"] - 10 and m["n_dead"] == 10
    assert m["n_docs_dl"] == meta0["n_docs_dl"] - 10


def test_trigram_delete_unknown_and_repeated_ids(spark, tmp_path):
    idx = str(tmp_path / "trgm")
    textsearch.write_trigram_index(_docs(spark), idx)
    unknown = spark.range(5).select((F.col("id") + 10_000).alias("doc_id"))
    assert textsearch.delete_from_trigram_index(unknown, idx) == 0
    assert textsearch.trigram_index_staleness(idx)["n_dead"] == 0
    dead = spark.range(7).select(F.col("id").alias("doc_id"))
    assert textsearch.delete_from_trigram_index(dead, idx) == 7
    assert textsearch.delete_from_trigram_index(dead, idx) == 0
    st = textsearch.trigram_index_staleness(idx)
    assert st["n_dead"] == 7 and st["n_docs"] == 73


# --- 4. sidecar markers + crash-injection repair ---------------------


def test_bm25_repair_heals_torn_append(spark, tmp_path):
    idx = str(tmp_path / "bm25_torn")
    textsearch.write_bm25_index(_docs(spark, 60), idx)
    with open(os.path.join(idx, "_meta.json")) as f:
        pre = f.read()
    more = spark.range(20).select(
        (F.col("id") + 60).alias("doc_id"),
        F.concat(F.lit("epsilon zeta record "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    textsearch.append_bm25_index(more, idx)
    with open(os.path.join(idx, "_meta.json"), "w") as f:
        f.write(pre)  # crash between parquet append and meta rewrite
    rep = textsearch.bm25_index_repair(spark, idx)
    assert rep["repaired"] is True
    m = textsearch.BM25.read_meta(idx)
    assert m["n_docs"] == 80 and m["n_batches"] == 2
    # scores now equal a from-scratch index over the full corpus
    idx2 = str(tmp_path / "bm25_clean")
    textsearch.write_bm25_index(_docs(spark, 60).unionByName(more), idx2)
    a = textsearch.bm25_topk_from_index(spark, idx, ["epsilon", "record"], k=10)
    b = textsearch.bm25_topk_from_index(spark, idx2, ["epsilon", "record"], k=10)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # idempotent: a healed sidecar verifies clean
    assert textsearch.bm25_index_repair(spark, idx)["repaired"] is False


def test_trigram_repair_heals_torn_stats(spark, tmp_path):
    """Crash between the postings append and the stats append: grams
    unique to the torn batch have df=0 in stats, which the planner's
    absent-gram short-circuit turns into a FALSE NEGATIVE until
    repair rebuilds stats from what actually landed."""
    idx = str(tmp_path / "trgm_torn")
    textsearch.write_trigram_index(_docs(spark, 50), idx)
    planted = spark.range(3).select(
        (F.col("id") + 50).alias("doc_id"),
        F.concat(F.lit("zyxwvu probe "), F.col("id").cast("string")).alias("text"),
    )
    # simulate the torn write: postings + docids land, stats + meta don't
    p2 = textsearch.trigram_postings(planted).withColumn("_batch", F.lit(1))
    p2.write.mode("append").parquet(os.path.join(idx, "postings"))
    planted.select("doc_id", F.lit(1).alias("_batch")).write.mode(
        "append"
    ).parquet(os.path.join(idx, "docids"))
    rep = textsearch.trigram_index_repair(spark, idx)
    assert rep["repaired"] is True
    m = textsearch.TRIGRAM.read_meta(idx)
    assert m["n_docs"] == 53 and m["n_batches"] == 2
    corpus = _docs(spark, 50).unionByName(planted)
    postings, stats = textsearch.open_trigram_index(spark, idx)
    got, info = textsearch.substring_search(
        corpus, "zyxwvu", postings=postings, stats=stats
    )
    assert info["strategy"] == "index"
    assert sorted(r["doc_id"] for r in got.collect()) == [50, 51, 52]
    assert textsearch.trigram_index_repair(spark, idx)["repaired"] is False


def test_trigram_repair_heals_torn_delete(spark, tmp_path):
    idx = str(tmp_path / "trgm_torn_del")
    textsearch.write_trigram_index(_docs(spark, 40), idx)
    with open(os.path.join(idx, "_meta.json")) as f:
        pre = f.read()
    dead = spark.range(8).select(F.col("id").alias("doc_id"))
    textsearch.delete_from_trigram_index(dead, idx)
    with open(os.path.join(idx, "_meta.json"), "w") as f:
        f.write(pre)  # crash after tombstone append, before meta
    rep = textsearch.trigram_index_repair(spark, idx)
    assert rep["repaired"] is True
    st = textsearch.trigram_index_staleness(idx)
    assert st["n_docs"] == 32 and st["n_dead"] == 8


# --- 5. fuzzy search: fallback parity + durable-index composition ----


def test_fuzzy_fallback_matches_capped_path(spark, monkeypatch):
    docs = _docs(spark, 120)  # every doc shares the query's grams
    want = sorted(
        tuple(r)
        for r in textsearch.fuzzy_similarity_search(
            docs, "alpha beta", threshold=0.1
        )[0].collect()
    )
    monkeypatch.setattr(textsearch, "_VERIFY_ISIN_CAP", 5)
    out, info = textsearch.fuzzy_similarity_search(
        docs, "alpha beta", threshold=0.1
    )
    assert info["n_candidates"] == -1  # fallback branch taken
    assert sorted(tuple(r) for r in out.collect()) == want
    # the corpus-scaled side carries no forced broadcast hint
    plan = out._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint broadcast" not in plan


def test_fuzzy_over_durable_index_after_delete_update(spark, tmp_path):
    idx = str(tmp_path / "fz_idx")
    docs = _docs(spark, 90)
    textsearch.write_trigram_index(docs, idx)
    dead = spark.range(0, 90, 9).select(F.col("id").alias("doc_id"))
    textsearch.delete_from_trigram_index(dead, idx)
    changed = spark.range(4, 90, 9).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("omega rewrite "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    textsearch.update_trigram_index(changed, idx)
    corpus = (
        docs.join(dead, on="doc_id", how="left_anti")
        .join(changed.select("doc_id"), on="doc_id", how="left_anti")
        .unionByName(changed)
    )
    got, info = textsearch.fuzzy_similarity_search(
        corpus, "omega rewrte", threshold=0.3, index_dir=idx
    )
    assert info["postings_source"] == "durable"
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == sorted(r["doc_id"] for r in changed.collect())
    # a session-postings run over the same corpus agrees exactly
    want, _ = textsearch.fuzzy_similarity_search(
        corpus, "omega rewrte", threshold=0.3
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


# --- 6. quarantine: keyed and unkeyed calls coexist ------------------


def test_mixed_batch_and_adhoc_quarantine_readable(spark, tmp_db):
    src = spark.range(40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 3, -1).otherwise(2).alias("qty"),
    )
    t = tmp_db.create_table_typed("qmix", src.schema, "k")
    rules = {"qty_pos": "qty > 0"}
    m1 = X.ingest_with_expectations(t, src, rules)  # unkeyed
    m2 = X.ingest_with_expectations(t, src, rules, batch_id="b7")  # keyed
    quar = spark.read.parquet(m2["quarantine_dir"])  # old code: raises
    assert quar.count() == 8
    assert quar.where(F.col("batch") == "b7").count() == 4
    assert m1["quarantine_dir"] == m2["quarantine_dir"]


# --- 7. substring_search(index_dir=...): scan fallback is tombstone-safe


def test_substring_scan_fallback_never_surfaces_deleted(spark, tmp_path):
    idx = str(tmp_path / "ss_idx")
    docs = _docs(spark, 60)  # every doc contains 'record'
    textsearch.write_trigram_index(docs, idx)
    dead = spark.range(0, 60, 6).select(F.col("id").alias("doc_id"))
    textsearch.delete_from_trigram_index(dead, idx)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    # 'record' is in >5% of docs -> the unselective SCAN fallback; the
    # caller hands a STALE corpus snapshot (still has the deleted docs)
    got, info = textsearch.substring_search(docs, "record", index_dir=idx)
    assert info["strategy"] == "scan" and info.get("reason") == "unselective"
    ids = {r["doc_id"] for r in got.collect()}
    assert not (ids & dead_ids) and len(ids) == 50
    # short-pattern fallback takes the same tombstone-filtered path
    got2, info2 = textsearch.substring_search(docs, "re", index_dir=idx)
    assert info2["strategy"] == "scan"
    assert not ({r["doc_id"] for r in got2.collect()} & dead_ids)
    # index strategy (selective planted pattern) unaffected
    got3, info3 = textsearch.substring_search(
        docs.limit(0).unionByName(docs), "alpha beta gamma delta record 7",
        index_dir=idx,
    )
    assert info3["strategy"] == "index"
    assert {r["doc_id"] for r in got3.collect()} == {7}
