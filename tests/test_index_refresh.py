"""Secondary-index refresh from the deltas alone.

``maybe_refresh_secondary_index`` folds only the deltas past the build
watermark, in one collect, and rewrites only the affected buckets, one
file per bucket; lookups compute their bucket inside the query. These
tests pin the layout (no fragmentation across refreshes, bucket counts
sized from the data), the contents (a refreshed index holds exactly
what a fresh build holds, whatever the churn), the watermark order (a
commit racing the refresh is not lost; buffered point ops are not
lost) and the job counts.
"""

import os

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark import Query, indexing


def _jobs(spark, group, fn):
    """Run ``fn`` under a Spark job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, db, name, n=800, groups=16):
    src = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % groups).alias("grp"), F.lit(1.0).alias("v")
    )
    t = db.create_table_typed(name, src.schema, "k")
    t.ingest_dataframe(src)
    return t


def _churn(spark, t, round_no):
    """Move 40 records to a new group, delete 5 and insert 5."""
    lo = 40 * round_no
    t.bulk_update(
        spark.range(lo, lo + 40).select(
            F.col("id").alias("k"), ((F.col("id") + round_no) % 7).alias("grp")
        )
    )
    t.bulk_delete(spark.range(400 + lo, 405 + lo).select(F.col("id").alias("k")))
    t.ingest_dataframe(
        spark.range(5000 + lo, 5005 + lo).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("grp"), F.lit(2.0).alias("v")
        )
    )


def _churn_every_kind(spark, t, round_no):
    """:func:`_churn` plus every other delta kind the refresh folds or
    skips: a price-only update, a rid updated twice, an insert later
    updated, and a key-changing point update (delete + reinsert,
    left buffered for the refresh to flush)."""
    _churn(spark, t, round_no)
    lo = 40 * round_no
    t.bulk_update(
        spark.range(200 + lo, 210 + lo).select(F.col("id").alias("k"), F.lit(3.0).alias("v"))
    )
    twice, fresh = 300 + round_no, 6000 + round_no
    t.bulk_update(spark.createDataFrame([(twice, 5)], "k long, grp long"))
    t.bulk_update(spark.createDataFrame([(twice, 6)], "k long, grp long"))
    t.ingest_dataframe(spark.createDataFrame([(fresh, 1, 1.0)], "k long, grp long, v double"))
    t.bulk_update(spark.createDataFrame([(fresh, 9)], "k long, grp long"))
    assert Query(t).update(350 + round_no, 7000 + round_no, None, None)


def _inodes(t, col):
    d = indexing._data_dir(t, col, indexing._index_meta(t, col))
    return {
        (b, os.stat(os.path.join(d, b, f)).st_ino)
        for b in os.listdir(d)
        if b.startswith("_b=")
        for f in os.listdir(os.path.join(d, b))
        if f.endswith(".parquet")
    }


def _files_per_bucket(t, col):
    d = indexing._data_dir(t, col, indexing._index_meta(t, col))
    return {
        b: len([f for f in os.listdir(os.path.join(d, b)) if f.endswith(".parquet")])
        for b in os.listdir(d)
        if b.startswith("_b=")
    }


def _pairs(spark, t, col):
    d = indexing._data_dir(t, col, indexing._index_meta(t, col))
    return sorted(tuple(r) for r in spark.read.parquet(d).select(col, "_rid").collect())


def test_refresh_keeps_one_file_per_bucket(spark, tmp_db):
    t = _table(spark, tmp_db, "frag")
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    assert set(_files_per_bucket(t, "grp").values()) == {1}
    for r in range(3):
        _churn(spark, t, r)
        assert indexing.maybe_refresh_secondary_index(t, "grp", max_stale_deltas=0) == "incremental"
        # rewritten and hardlinked buckets alike: one data file each
        assert set(_files_per_bucket(t, "grp").values()) == {1}, r


def test_refreshed_index_equals_a_fresh_build(spark, tmp_db):
    for layout in ("hash", "range"):
        t = _table(spark, tmp_db, f"eq_{layout}")
        indexing.build_secondary_index(t, "grp", n_buckets=8, layout=layout)
        for r in range(2):
            _churn_every_kind(spark, t, r)
            assert indexing.refresh_secondary_index(t, "grp") == "incremental"
        refreshed = _pairs(spark, t, "grp")
        indexing.build_secondary_index(t, "grp", n_buckets=8, layout=layout)
        assert refreshed == _pairs(spark, t, "grp"), layout
        for g in (0, 1, 3, 5, 6, 9, 12):
            got = sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", g).collect())
            want = sorted(r["k"] for r in t.current_view().where(F.col("grp") == g).collect())
            assert got == want, (layout, g)


def test_commit_racing_the_refresh_is_found(spark, tmp_db, monkeypatch):
    """A commit that lands after the delta collect, before the publish:
    the published watermark was read before the collect, so lookups
    still catch the commit up as a delta."""
    t = _table(spark, tmp_db, "race")
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    _churn(spark, t, 0)
    collect = indexing._collect_fold
    injected = []

    def collect_then_commit(fold, cap):
        out = collect(fold, cap)
        if not injected:
            # k=700 (grp 12) is not among the touched rids
            t.bulk_update(spark.createDataFrame([(700, 99)], "k long, grp long"))
            injected.append(True)
        return out

    monkeypatch.setattr(indexing, "_collect_fold", collect_then_commit)
    assert indexing.maybe_refresh_secondary_index(t, "grp", max_stale_deltas=0) == "incremental"
    monkeypatch.undo()
    assert injected
    assert [r["k"] for r in indexing.indexed_lookup(t, "grp", 99).collect()] == [700]
    assert 700 not in [r["k"] for r in indexing.indexed_lookup(t, "grp", 12).collect()]
    assert indexing.index_staleness(t, "grp")["stale_deltas"] == 1


def test_refresh_and_lookup_job_counts(spark, tmp_db):
    t = _table(spark, tmp_db, "jobs")
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    _churn(spark, t, 0)
    out, n = _jobs(
        spark, "idx_refresh",
        lambda: indexing.maybe_refresh_secondary_index(t, "grp", max_stale_deltas=0),
    )
    assert out == "incremental"
    # 7 for a refresh that re-folded the touched rids through the
    # current view, 16 before the one-pass refresh
    assert n <= 5, n
    # no job to hash the literal, none to infer the index schema
    rows, n = _jobs(spark, "idx_lookup", lambda: indexing.indexed_lookup(t, "grp", 5).collect())
    assert sorted(r["k"] for r in rows) == sorted(
        r["k"] for r in t.current_view().where(F.col("grp") == 5).collect()
    )
    assert n <= 4, n  # 7 for the shape before


def test_lookup_after_vacuum_tail_finds_folded_update(spark, tmp_db):
    """An update committed after the build, folded by ``compact()`` and
    then dropped from the tail by ``vacuum_tail``: the delta catch-up
    can no longer see it, so the index catches up before it answers,
    and a refresh past the vacuum rebuilds instead of folding deltas
    that are gone."""
    t = _table(spark, tmp_db, "vac", n=100)
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    t.bulk_update(spark.createDataFrame([(5, 77)], "k long, grp long"))
    t.compact()
    t.vacuum_tail()
    assert [r["k"] for r in t.current_view().where(F.col("grp") == 77).collect()] == [5]
    assert [r["k"] for r in indexing.indexed_lookup(t, "grp", 77).collect()] == [5]
    assert [r["k"] for r in t.point_lookup("grp", 77).collect()] == [5]
    assert 5 not in [r["k"] for r in indexing.indexed_lookup(t, "grp", 5).collect()]

    t2 = _table(spark, tmp_db, "vac_refresh", n=100)
    indexing.build_secondary_index(t2, "grp", n_buckets=8)
    t2.bulk_update(spark.createDataFrame([(6, 78)], "k long, grp long"))
    t2.compact()
    t2.vacuum_tail()
    assert indexing.maybe_refresh_secondary_index(t2, "grp") == "rebuild"
    assert [r["k"] for r in indexing.indexed_lookup(t2, "grp", 78).collect()] == [6]


def test_price_only_refresh_moves_only_the_watermark(spark, tmp_db):
    """Deltas that leave the indexed column unchanged are not stale:
    the refresh publishes the new watermark and rewrites no bucket."""
    t = _table(spark, tmp_db, "price_only")
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    meta0, files0 = indexing._index_meta(t, "grp"), _inodes(t, "grp")
    t.bulk_update(spark.range(0, 300).select(F.col("id").alias("k"), F.lit(5.0).alias("v")))
    assert indexing.index_staleness(t, "grp")["stale_deltas"] == 0
    assert indexing.refresh_secondary_index(t, "grp") == "fresh"
    meta1 = indexing._index_meta(t, "grp")
    assert meta1["built_watermark"] == t.watermark() > meta0["built_watermark"]
    assert meta1["version"] == meta0["version"]
    assert _inodes(t, "grp") == files0
    got = sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", 3).collect())
    assert got == list(range(3, 800, 16))


def test_default_build_sizes_buckets_from_the_data(spark, tmp_db, monkeypatch):
    """Without ``n_buckets`` a build writes one bucket per
    ``minFileBytes`` of estimated index bytes: one on a small table,
    more once the per-file minimum is small; a lookup still reads one
    bucket, and a rebuild by a refresh sizes the count again."""
    t = _table(spark, tmp_db, "sized")
    indexing.build_secondary_index(t, "grp")
    assert indexing._index_meta(t, "grp")["n_buckets"] == 1
    assert len(_files_per_bucket(t, "grp")) == 1
    key = "spark.lineage_store.ingest.minFileBytes"
    spark.conf.set(key, "4k")
    try:
        indexing.build_secondary_index(t, "grp")
        # 800 rows x 20 bytes (long value, long rid, int bucket) / 4 KiB
        assert indexing._index_meta(t, "grp")["n_buckets"] == 4
        assert len(_files_per_bucket(t, "grp")) > 1
        t.bulk_update(spark.range(0, 800, 2).select(F.col("id").alias("k"), F.lit(3).alias("grp")))
        spark.conf.set(key, "2k")
        assert indexing.refresh_secondary_index(t, "grp", rebuild_above=100) == "rebuild"
        assert indexing._index_meta(t, "grp")["n_buckets"] == 8
    finally:
        spark.conf.unset(key)
    seen = []
    collect = indexing._collect_rids

    def capture(df, cap):
        seen.append(df)
        return collect(df, cap)

    monkeypatch.setattr(indexing, "_collect_rids", capture)
    got = sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", 5).collect())
    monkeypatch.undo()
    assert got == sorted(r["k"] for r in t.current_view().where("grp = 5").collect())
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    b = spark.range(1).select(F.pmod(F.xxhash64(F.lit(5).cast("long")), F.lit(8))).first()[0]
    filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "(_b#" in filters and f" = {b})" in filters, plan


def test_index_over_buffered_point_ops_sees_later_ones(spark, tmp_db):
    """Point ops buffered before a build or refresh open a batch the
    published watermark covers; the build and refresh flush them, so
    rows buffered afterwards take ids past the watermark and the
    delta catch-up finds them."""
    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 10).alias("grp"))
    t = tmp_db.create_table_typed("buffered", src.schema, "k")
    t.ingest_dataframe(src)
    q = Query(t)
    assert q.insert(1000, 3)
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    assert q.insert(1001, 77)
    assert q.update(5, None, 78)
    t.flush()
    assert sorted(r["k"] for r in t.current_view().where("grp IN (77, 78)").collect()) == [5, 1001]
    assert [r["k"] for r in indexing.indexed_lookup(t, "grp", 77).collect()] == [1001]
    assert [r["k"] for r in t.point_lookup("grp", 78).collect()] == [5]
    assert q.insert(1002, 79)
    assert indexing.refresh_secondary_index(t, "grp") == "incremental"
    assert q.insert(1003, 80)
    t.flush()
    assert [r["k"] for r in indexing.indexed_lookup(t, "grp", 79).collect()] == [1002]
    assert [r["k"] for r in indexing.indexed_lookup(t, "grp", 80).collect()] == [1003]
