"""Absolute-time travel (snapshot_as_of) and the CDC change feed
(changes_between / watermark) — lineage-native extensions over the
reference's relative version travel (query.py:115-124)."""

import datetime
import time

import pytest
from pyspark.sql import functions as F


def _utcnow():
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def table(tmp_db, spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500)
    t = tmp_db.create_table_typed("orders_tt", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    return t, src


def test_snapshot_as_of(table, spark):
    t, src = table
    n0 = src.count()
    time.sleep(1.1)
    t1 = _utcnow()
    time.sleep(1.1)

    upd = src.limit(50).select("o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice"))
    t.bulk_update(upd)
    time.sleep(1.1)
    t2 = _utcnow()
    time.sleep(1.1)
    t.bulk_delete(src.limit(20).select("o_orderkey"))

    # at t1: original state
    s1 = t.snapshot_as_of(t1)
    assert s1.count() == n0
    assert s1.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == \
        src.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    # at t2: updates applied, deletes not yet
    s2 = t.snapshot_as_of(t2)
    assert s2.count() == n0
    exp2 = src.agg(F.round(F.sum("o_totalprice") + 50, 2)).collect()[0][0]
    assert s2.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == exp2
    # now: deletes visible
    assert t.current_view().count() == n0 - 20
    # compaction never changes time-travel answers
    t.compact()
    assert t.snapshot_as_of(t1).count() == n0
    assert t.snapshot_as_of(t2).agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == exp2


def test_changes_between_watermark(table, spark):
    t, src = table
    w0 = t.watermark()

    upd = src.limit(30).select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
    t.bulk_update(upd)
    t.bulk_delete(src.where("o_orderkey % 50 = 1").select("o_orderkey"))
    extra = src.limit(10).select(
        (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    t.ingest_dataframe(extra)
    w1 = t.watermark()

    feed = t.changes_between(w0, w1).cache()
    by_op = {r["_op"]: r["n"] for r in feed.groupBy("_op").agg(F.count("*").alias("n")).collect()}
    assert by_op["U"] == 30
    assert by_op["D"] == src.where("o_orderkey % 50 = 1").count()
    assert by_op["I"] == 10
    # update deltas carry ONLY the changed column (NULL = untouched)
    u = feed.where("_op = 'U'")
    assert u.where(F.col("o_totalprice").isNull()).count() == 0
    assert u.where(F.col("o_custkey").isNotNull()).count() == 0
    # inserts carry full rows
    assert feed.where("_op = 'I'").where(F.col("o_custkey").isNull()).count() == 0
    # nothing outside the window
    assert t.changes_between(w1).count() == 0
    # feed is replayable: seqs strictly ordered and unique
    n_feed = feed.count()
    assert feed.select("_seq").distinct().count() == n_feed
    feed.unpersist()


def test_batch_replication_apply_changes(table, tmp_db, spark):
    """changes_between + apply_changes replicate a table with
    preserved rids/seqs; later deltas bind to replicated records."""
    src_t, src = table
    dst = tmp_db.create_table_typed(
        "orders_replica", src_t.schema, "o_orderkey"
    )
    # round 1: replicate everything so far
    dst.apply_changes(src_t.changes_between(-1))
    assert dst.current_view().count() == src_t.current_view().count()

    # round 2: more changes on src, replicate only the delta window
    w = src_t.watermark()
    upd = src.limit(25).select("o_orderkey", (F.col("o_totalprice") + 7).alias("o_totalprice"))
    src_t.bulk_update(upd)
    src_t.bulk_delete(src.where("o_orderkey % 9 = 2").select("o_orderkey"))
    dst.apply_changes(src_t.changes_between(w))

    a = src_t.current_view().orderBy("o_orderkey").collect()
    b = dst.current_view().orderBy("o_orderkey").collect()
    assert a == b
    # replica allocates non-colliding ids for local writes
    assert dst.watermark() >= src_t.watermark()


def test_streaming_replication(table, tmp_db, spark):
    """The base/tail dirs are the change log: file-source streams over
    them + foreachBatch(apply_changes) follow the source table."""
    from lineage_store_database_management_system_spark.streaming import replicate_stream

    src_t, src = table
    dst = tmp_db.create_table_typed("orders_stream_replica", src_t.schema, "o_orderkey")
    n1 = replicate_stream(src_t, dst)
    assert n1 >= 1
    assert dst.current_view().count() == src_t.current_view().count()

    # more commits, second drain picks up ONLY the new files
    src_t.bulk_update(
        src.limit(10).select("o_orderkey", (F.col("o_totalprice") * 3).alias("o_totalprice"))
    )
    replicate_stream(src_t, dst)
    a = src_t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    b = dst.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert a == b


def test_restore_as_of_compensating_writes(spark, tmp_path):
    """RESTORE: the current view rolls back to its state at ts via
    compensating writes (tombstone new keys, re-insert vanished keys,
    full-row update drifted keys); history stays append-only, so the
    pre-restore state is still visible via snapshot_as_of and the
    restore is itself one more visible state."""
    import time

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    time.sleep(0.05)
    mark = t.current_view(include_meta=True).agg(F.max("_ts")).collect()[0][0]
    want = sorted((r["k"], r["v"]) for r in t.current_view().collect())

    # drift: update some, delete some, insert some
    time.sleep(0.05)
    t.bulk_update(spark.createDataFrame([(3, 333.0), (4, 444.0)], "k long, v double"))
    t.bulk_delete(spark.createDataFrame([(7,), (8,)], "k long"))
    t.ingest_dataframe(spark.createDataFrame([(100, 1.0), (101, 2.0)], "k long, v double"))
    drifted = sorted((r["k"], r["v"]) for r in t.current_view().collect())
    assert drifted != want

    report = t.restore_as_of(mark)
    assert report == {"deleted": 2, "updated": 2, "inserted": 2}
    got = sorted((r["k"], r["v"]) for r in t.current_view().collect())
    assert got == want

    # history preserved: the drifted state is still time-travelable
    # (pick a ts between the drift writes and the restore)
    # and a no-op restore reports zeros
    report2 = t.restore_as_of(mark)
    assert report2 == {"deleted": 0, "updated": 0, "inserted": 0}


def test_restore_as_of_partition_moves_delete_and_reinsert(spark, tmp_path):
    import time

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = db.create_table_typed("t", src.schema, "k", partition_by=["p"])
    t.ingest_dataframe(src)
    time.sleep(0.05)
    mark = t.current_view(include_meta=True).agg(F.max("_ts")).collect()[0][0]
    want = sorted(
        (r["k"], r["p"], r["v"]) for r in t.current_view().collect()
    )
    time.sleep(0.05)
    # move key 2 to another partition (delete + reinsert, the documented
    # way to relocate) and drift a value
    t.bulk_delete(spark.createDataFrame([(2,)], "k long"))
    t.ingest_dataframe(
        spark.createDataFrame([(2, "1", 777.0)], "k long, p string, v double")
    )
    t.bulk_update(spark.createDataFrame([(5, 555.0)], "k long, v double"))

    report = t.restore_as_of(mark)
    # key 2 moved partitions -> restored via delete+reinsert
    assert report["deleted"] == 1 and report["inserted"] == 1
    assert report["updated"] == 1
    got = sorted((r["k"], r["p"], r["v"]) for r in t.current_view().collect())
    assert got == want


def test_commit_history_reconstructs_operation_mix(spark, tmp_path):
    """commit_history(): per-batch op mix reconstructed from the high
    bits of rid/seq — no separate log to drift."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)                                              # batch: 10 inserts
    t.bulk_update(spark.createDataFrame([(1, 11.0), (2, 22.0)], "k long, v double"))
    t.bulk_delete(spark.createDataFrame([(5,)], "k long"))
    h = {r["batch"]: r for r in t.commit_history().collect()}
    mixes = sorted(
        (r["n_inserts"], r["n_updates"], r["n_deletes"]) for r in h.values()
    )
    assert (10, 0, 0) in mixes       # the ingest batch
    assert (0, 2, 0) in mixes        # the update batch
    assert (0, 0, 1) in mixes        # the delete batch
    for r in h.values():
        assert r["started"] <= r["finished"]


def test_snapshot_all_as_of_is_cross_table_consistent(spark, tmp_path):
    import time

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    a_src = spark.range(5).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    b_src = spark.range(5).select(F.col("id").alias("k"), F.lit(2.0).alias("w"))
    ta = db.create_table_typed("a", a_src.schema, "k")
    tb = db.create_table_typed("b", b_src.schema, "k")
    ta.ingest_dataframe(a_src)
    tb.ingest_dataframe(b_src)
    time.sleep(0.05)
    mark = max(
        ta.current_view(include_meta=True).agg(F.max("_ts")).collect()[0][0],
        tb.current_view(include_meta=True).agg(F.max("_ts")).collect()[0][0],
    )
    time.sleep(0.05)
    # later writes to BOTH tables must be invisible at the mark
    ta.bulk_update(spark.createDataFrame([(1, 99.0)], "k long, v double"))
    tb.bulk_delete(spark.createDataFrame([(2,)], "k long"))
    views = db.snapshot_all_as_of(mark)
    assert set(views) == {"a", "b"}
    assert views["a"].where("k = 1").first()["v"] == 1.0
    assert views["b"].count() == 5
    # a cross-table join at the instant
    j = views["a"].join(views["b"], on="k")
    assert j.count() == 5


def test_cdc_by_commit_raises_when_window_rows_removed(spark, tmp_path):
    """Regression (r10 ADVICE, medium): changes_between_commits plans
    from live stamped entries, so commits whose files were removed
    since (vacuum_tail tail rewrite, drop_partition unpublish) used to
    vanish silently from the feed. The per-commit first-published row
    ledger now detects the shortfall and raises the retention error,
    matching snapshot_at_commit's contract. Packing via optimize_files
    preserves source-commit stamps and must keep serving the feed."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("p", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = db.create_table_typed("cdc_ret", schema, "k", partition_by=["p"])
    t.ingest_dataframe(
        spark.range(60).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("p"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    lo0 = t.filelog.replayable_range()[1]
    t.bulk_update(
        spark.createDataFrame([Row(k=3, v=300.0)], "k long, v double")
    )
    hi1 = t.filelog.replayable_range()[1]
    # healthy window serves the update delta
    assert t.changes_between_commits(lo0, hi1).count() == 1
    # optimize packing keeps insert CDC alive (stamps preserved)
    t.optimize_files(target_bytes=1 << 30)
    assert t.changes_between_commits(-1, lo0).where("_op = 'I'").count() == 60
    # vacuum rewrites the tail -> the update commit's rows are re-homed
    t.compact()
    t.vacuum_tail()
    with pytest.raises(ValueError, match="CDC"):
        t.changes_between_commits(lo0, hi1)
    # drop_partition unpublishes base files -> insert CDC over the
    # ingest commit must refuse too
    t.drop_partition("p", "g1")
    with pytest.raises(ValueError, match="CDC"):
        t.changes_between_commits(-1, lo0)


def test_snapshot_as_of_after_vacuum_folds_from_floor_snapshot(tmp_db, spark):
    """After vacuum_tail, the as-of fold starts from the snapshot the
    vacuum left, not the newest one: a later compact() folds deltas
    committed after ``ts`` into its snapshot (regression: the value
    updated after ``ts`` leaked into the as-of read). Once that
    snapshot is reclaimed, the read refuses with the horizon named."""
    src = spark.createDataFrame([(k, float(k)) for k in range(10)], "k long, v double")
    t = tmp_db.create_table_typed("kv_asof", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.createDataFrame([(1, 100.0)], "k long, v double"))
    t.compact()
    t.vacuum_tail()
    time.sleep(1.1)
    ts = _utcnow()
    time.sleep(1.1)
    t.bulk_update(spark.createDataFrame([(2, 200.0)], "k long, v double"))
    t.compact()
    got = {r["k"]: r["v"] for r in t.snapshot_as_of(ts).collect()}
    assert got == {k: (100.0 if k == 1 else float(k)) for k in range(10)}
    t.vacuum_snapshots(retain=0)
    with pytest.raises(ValueError, match="history floor"):
        t.snapshot_as_of(ts).count()


def test_snapshot_as_of_after_vacuum_uses_newest_exact_snapshot(tmp_db, spark):
    """Two compactions after vacuum_tail reclaim the snapshot the
    vacuum left (snapshot_retain=1), yet the deltas past the floor are
    still in the tail: an as-of time after every folded delta folds
    exactly from the newest snapshot, and only a time before a folded
    delta whose exact fold base is gone raises."""
    src = spark.createDataFrame([(k, float(k)) for k in range(10)], "k long, v double")
    t = tmp_db.create_table_typed("kv_asof2", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.createDataFrame([(1, 100.0)], "k long, v double"))
    t.compact()
    t.vacuum_tail()
    time.sleep(1.1)
    ts_mid = _utcnow()
    time.sleep(1.1)
    t.bulk_update(spark.createDataFrame([(2, 200.0)], "k long, v double"))
    t.compact()
    t.bulk_update(spark.createDataFrame([(3, 300.0)], "k long, v double"))
    t.compact()
    time.sleep(1.1)
    now = _utcnow()
    want = sorted(tuple(r) for r in t.current_view().collect())
    assert sorted(tuple(r) for r in t.snapshot_as_of(now).collect()) == want
    with pytest.raises(ValueError, match="history floor"):
        t.snapshot_as_of(ts_mid).count()
