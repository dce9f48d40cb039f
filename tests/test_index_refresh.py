"""Secondary-index refresh in one pass.

``maybe_refresh_secondary_index`` makes one delta collect, folds the
touched rids once and rewrites only the affected buckets, one file per
bucket; lookups compute their bucket inside the query. These tests pin
the layout (no fragmentation across refreshes), the contents (a
refreshed index holds exactly what a fresh build holds), the watermark
order (a commit racing the refresh is not lost) and the job counts.
"""

import os

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark import indexing


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
            _churn(spark, t, r)
            assert indexing.refresh_secondary_index(t, "grp") == "incremental"
        refreshed = _pairs(spark, t, "grp")
        indexing.build_secondary_index(t, "grp", n_buckets=8, layout=layout)
        assert refreshed == _pairs(spark, t, "grp"), layout
        for g in (0, 3, 6, 12):
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
    collect = indexing._collect_rids
    injected = []

    def collect_then_commit(df, cap):
        out = collect(df, cap)
        if not injected:
            # k=700 (grp 12) is not among the touched rids
            t.bulk_update(spark.createDataFrame([(700, 99)], "k long, grp long"))
            injected.append(True)
        return out

    monkeypatch.setattr(indexing, "_collect_rids", collect_then_commit)
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
    assert n <= 10, n  # 16 for the shape before one-pass refresh
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
