"""Lineage storage invariants: bulk ingest/update/delete, views,
compaction answer-invariance (SURVEY §5.2 item 2), persistence
round-trip, catalog ops."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lineage_store_database_management_system_spark import Database, Query


def orders_schema():
    return T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )


def hash_bucket(spark, value, n_buckets, dtype="long"):
    """The bucket a hash-layout secondary index stores ``value`` in,
    computed here from Spark's own functions, not the engine's."""
    lit = F.lit(value).cast(dtype)
    return spark.range(1).select(F.pmod(F.xxhash64(lit), F.lit(n_buckets))).first()[0]


def test_bulk_ingest_and_views(tmp_db, spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = tmp_db.create_table_typed("orders", orders_schema(), "o_orderkey")
    t.ingest_dataframe(src)
    assert t.current_view().count() == src.count()
    # rids unique
    n = t.base_df().select("_rid").distinct().count()
    assert n == src.count()
    # values identical
    a = t.current_view().agg(F.sum("o_totalprice")).collect()[0][0]
    b = src.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_bulk_update_delete_and_compaction_invariance(tmp_db, spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = tmp_db.create_table_typed("orders", orders_schema(), "o_orderkey")
    t.ingest_dataframe(src)
    # bulk update: +100 on keys % 7 == 0
    upd = src.where("o_orderkey % 7 = 0").select(
        "o_orderkey", (F.col("o_totalprice") + 100).alias("o_totalprice")
    )
    t.bulk_update(upd)
    # bulk delete: keys % 10 == 0
    t.bulk_delete(src.where("o_orderkey % 10 = 0").select("o_orderkey"))

    def expected(df):
        return (
            df.where("o_orderkey % 10 != 0")
            .select(
                "o_orderkey",
                F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100)
                .otherwise(F.col("o_totalprice"))
                .alias("o_totalprice"),
                "o_orderstatus",
            )
        )

    exp = expected(src)
    got = t.current_view()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # version -1 restores pre-update values for updated keys (deletes stay invisible)
    v1 = t.version_view(-1)
    exp_v1 = src.where("o_orderkey % 10 != 0")
    assert v1.exceptAll(exp_v1).count() == 0 and exp_v1.exceptAll(v1).count() == 0

    # compaction changes NO answer
    t.compact()
    got2 = t.current_view()
    assert got2.exceptAll(exp).count() == 0 and exp.exceptAll(got2).count() == 0
    v1b = t.version_view(-1)
    assert v1b.exceptAll(exp_v1).count() == 0 and exp_v1.exceptAll(v1b).count() == 0

    # writes after compaction still land correctly
    upd2 = src.where("o_orderkey % 11 = 0 AND o_orderkey % 10 != 0").select(
        "o_orderkey", F.lit("Z").alias("o_orderstatus")
    )
    t.bulk_update(upd2)
    z = t.current_view().where("o_orderstatus = 'Z'").count()
    assert z == upd2.count()


def test_persistence_roundtrip(tmp_db, spark):
    t = tmp_db.create_table("g", 3, 0)
    q = Query(t)
    for i in range(10):
        q.insert(i, i * 10, i * 100)
    q.update(3, None, 999, None)
    q.delete(4)
    tmp_db.close()

    db2 = Database().open(tmp_db.path, spark)
    t2 = db2.get_table("g")
    q2 = Query(t2)
    assert q2.select(3, 0, [1, 1, 1])[0].columns == [3, 999, 300]
    assert q2.select_version(3, 0, [1, 1, 1], -1)[0].columns == [3, 30, 300]
    assert q2.select(4, 0, [1, 1, 1]) == []
    assert q2.sum(0, 9, 1) == sum(i * 10 for i in range(10)) - 30 - 40 + 999


def test_catalog_create_drop_get(tmp_db):
    tmp_db.create_table("a", 2, 0)
    with pytest.raises(ValueError):
        tmp_db.create_table("a", 2, 0)
    assert "a" in tmp_db.list_tables()
    assert tmp_db.drop_table("a") is True
    assert tmp_db.drop_table("a") is False
    assert "a" not in tmp_db.list_tables()
    with pytest.raises(KeyError):
        tmp_db.get_table("a")


def test_register_views_sql(tmp_db, spark):
    t = tmp_db.create_table("g", 2, 0)
    q = Query(t)
    for i in range(5):
        q.insert(i, i * i)
    tmp_db.register_views()
    got = spark.sql("SELECT sum(col1) AS s FROM g WHERE col0 >= 1").collect()[0]["s"]
    assert got == 1 + 4 + 9 + 16


def test_update_changing_primary_key(tmp_db):
    t = tmp_db.create_table("g", 2, 0)
    q = Query(t)
    q.insert(1, 10)
    assert q.update(1, 2, None) is True
    assert q.select(1, 0, [1, 1]) == []
    assert q.select(2, 0, [1, 1])[0].columns == [2, 10]
    t.flush()
    assert t.current_view().collect()[0]["col0"] == 2


def test_partitioned_lineage_table(tmp_db, spark, sf_dir):
    """Hive-partitioned base layout: answers identical to the
    unpartitioned table, partition filters reach the scan through the
    current-view fold, and compaction preserves the layout."""
    import os

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.plans.explain import explain_str

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = tmp_db.create_table_typed(
        "orders_part", src.schema, "o_orderkey", partition_by=["o_orderstatus"]
    )
    t.ingest_dataframe(src)
    # base dir is hive-partitioned
    assert any(
        d.startswith("o_orderstatus=") for d in os.listdir(t.base_dir)
    ), os.listdir(t.base_dir)

    upd = src.where("o_orderkey % 3 = 0").select(
        "o_orderkey", (F.col("o_totalprice") + 5).alias("o_totalprice")
    )
    t.bulk_update(upd)
    t.bulk_delete(src.where("o_orderkey % 10 = 1").select("o_orderkey"))

    exp_total = src.where("o_orderkey % 10 <> 1").count()
    view = t.current_view()
    assert view.count() == exp_total
    got = (
        view.where("o_orderkey % 3 = 0 AND o_orderkey % 10 <> 1")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
        .collect()[0]["s"]
    )
    exp = (
        src.where("o_orderkey % 3 = 0 AND o_orderkey % 10 <> 1")
        .agg(F.round(F.sum(F.col("o_totalprice") + 5), 2).alias("s"))
        .collect()[0]["s"]
    )
    assert got == exp

    # a filter on the partition column prunes partitions at the scan
    plan = explain_str(view.where(F.col("o_orderstatus") == "F"))
    assert "o_orderstatus" in plan and "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*o_orderstatus[^\]]*\]", plan)
    assert m, plan[:2000]

    # compaction rewrites the snapshot partitioned and keeps answers
    t.compact()
    assert any(
        d.startswith("o_orderstatus=") for d in os.listdir(t.compacted_dir())
    )
    assert t.current_view().count() == exp_total
    got2 = (
        t.current_view()
        .where("o_orderkey % 3 = 0 AND o_orderkey % 10 <> 1")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
        .collect()[0]["s"]
    )
    assert got2 == exp

    # key cannot be a partition column; unknown columns rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tmp_db.create_table_typed("bad1", src.schema, "o_orderkey", partition_by=["o_orderkey"])
    with _pytest.raises(ValueError):
        tmp_db.create_table_typed("bad2", src.schema, "o_orderkey", partition_by=["nope"])


def test_incremental_compaction_partition_level(tmp_db, spark, sf_dir):
    """Incremental compact rewrites ONLY partitions with churn:
    untouched partition files are hardlinked (same inode) into the new
    snapshot version; answers stay invariant, including a partition
    whose churn is delete-only."""
    import os

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = tmp_db.create_table_typed(
        "orders_inc", src.schema, "o_orderkey", partition_by=["o_orderstatus"]
    )
    t.ingest_dataframe(src)
    t.compact()  # full first snapshot
    v1_dir = t.compacted_dir()
    inode_v1 = {
        d: {os.stat(os.path.join(v1_dir, d, f)).st_ino
            for f in os.listdir(os.path.join(v1_dir, d)) if f.endswith(".parquet")}
        for d in os.listdir(v1_dir) if d.startswith("o_orderstatus=")
    }
    statuses = sorted(inode_v1)
    assert len(statuses) >= 3

    # churn: update rows of ONE partition, delete-only churn in another
    upd_status = statuses[0].split("=", 1)[1]
    del_status = statuses[1].split("=", 1)[1]
    upd = (
        src.where(F.col("o_orderstatus") == upd_status)
        .limit(50)
        .select("o_orderkey", (F.col("o_totalprice") + 9).alias("o_totalprice"))
    )
    t.bulk_update(upd)
    dels = src.where(F.col("o_orderstatus") == del_status).limit(20).select("o_orderkey")
    t.bulk_delete(dels)

    before = t.current_view().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    t.compact()  # incremental
    v2_dir = t.compacted_dir()
    assert v2_dir != v1_dir
    after = t.current_view().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (before["n"], before["s"]) == (after["n"], after["s"])

    inode_v2 = {
        d: {os.stat(os.path.join(v2_dir, d, f)).st_ino
            for f in os.listdir(os.path.join(v2_dir, d)) if f.endswith(".parquet")}
        for d in os.listdir(v2_dir) if d.startswith("o_orderstatus=")
    }
    for d in statuses:
        status = d.split("=", 1)[1]
        if status in (upd_status, del_status):
            # rewritten: no file shared with v1
            assert not (inode_v1[d] & inode_v2.get(d, set())), d
        else:
            # untouched: hardlinked, identical inodes
            assert inode_v1[d] == inode_v2[d], d

    # the delete-only partition really lost its rows in the snapshot
    snap = spark.read.schema(t.base_schema).parquet(v2_dir)
    n_del_part = snap.where(F.col("o_orderstatus") == del_status).count()
    exp = src.where(F.col("o_orderstatus") == del_status).count() - 20
    assert n_del_part == exp
    # version travel unaffected by compaction strategy (tombstoned
    # records are invisible at every version — version_view contract)
    assert t.version_view(-1).count() == src.count() - 20


def test_vacuum_tail_bounded_history(tmp_db, spark, sf_dir):
    """vacuum_tail drops deltas covered by the snapshot: current view
    unchanged, version travel clamps at the snapshot, storage shrinks,
    and deltas after a later compact remain undoable."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(400)
    t = tmp_db.create_table_typed("orders_vac", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    assert t.vacuum_tail() == 0  # no snapshot yet -> no-op

    u1 = src.limit(100).select("o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice"))
    t.bulk_update(u1)
    t.compact()
    cur_before = t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]

    removed = t.vacuum_tail()
    assert removed == 100
    assert t.tail_row_count() == 0
    # current view invariant under vacuum
    assert t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == cur_before
    # history is gone: version -1 now clamps to the snapshot (== current)
    assert t.version_view(-1).agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == cur_before

    # post-vacuum deltas are still undoable
    u2 = src.limit(50).select("o_orderkey", (F.col("o_totalprice") * 10).alias("o_totalprice"))
    t.bulk_update(u2)
    cur2 = t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    v1 = t.version_view(-1).agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert v1 == cur_before and cur2 != cur_before
    # idempotent re-vacuum after re-compact
    t.compact()
    assert t.vacuum_tail() == 50
    assert t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == cur2


def test_sorted_compaction_layout(tmp_db, spark, sf_dir):
    """compact(sort_by=...) produces row-group-clustered files (sorted
    parquet -> each file covers a narrow key range for pruning)."""
    import pyarrow.parquet as pq
    import os

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = tmp_db.create_table_typed("orders_sorted", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    t.compact(sort_by=["o_orderkey"], max_records_per_file=5000)
    files = [
        os.path.join(t.compacted_dir(), f)
        for f in os.listdir(t.compacted_dir())
        if f.endswith(".parquet")
    ]
    assert len(files) >= src.count() // 5000  # file sizing honored
    for f in files:
        md = pq.ParquetFile(f)
        tbl = md.read(columns=["o_orderkey"])["o_orderkey"].to_pylist()
        assert tbl == sorted(tbl)  # clustered within file
    # answers invariant
    assert t.current_view().count() == src.count()


def test_merge_into_upsert_and_delete_where(tmp_db, spark, sf_dir):
    """MERGE INTO: matched keys update through the tail, unmatched
    insert as new base records; delete_where tombstones by predicate
    over post-update state."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(300)
    t = tmp_db.create_table_typed("orders_merge", src.schema, "o_orderkey")
    t.ingest_dataframe(src)

    existing = src.limit(80).select(
        "o_orderkey", (F.col("o_totalprice") + 1000).alias("o_totalprice")
    )
    fresh = src.limit(40).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        (F.col("o_totalprice")).alias("o_totalprice"),
    )
    t.merge_into(existing.unionByName(fresh))

    view = t.current_view()
    assert view.count() == 300 + 40
    # matched rows updated, only the provided column changed
    upd_sum = (
        view.join(existing.select("o_orderkey"), "o_orderkey")
        .agg(F.round(F.sum("o_totalprice"), 2))
        .collect()[0][0]
    )
    exp_sum = existing.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert upd_sum == exp_sum
    # unmatched rows inserted with absent columns NULL
    inserted = view.where("o_orderkey >= 10000000")
    assert inserted.count() == 40
    assert inserted.where(F.col("o_custkey").isNotNull()).count() == 0
    # other rows untouched
    untouched = view.where("o_orderkey < 10000000").join(
        existing.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    exp_untouched = src.join(existing.select("o_orderkey"), "o_orderkey", "left_anti")
    assert untouched.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0] == \
        exp_untouched.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]

    # predicate delete over post-merge state
    t.delete_where("o_totalprice > 100000 OR o_orderkey >= 10000000")
    left = t.current_view()
    assert left.where("o_orderkey >= 10000000").count() == 0
    assert left.where("o_totalprice > 100000").count() == 0


@pytest.mark.parametrize("commit", ["bulk_update", "merge_into"])
def test_auto_compact_by_tail_file_count(tmp_db, spark, sf_dir, commit):
    """Bulk mutations trigger compaction once the tail accumulates
    enough commit files (the reference's merge-every-N-updates intent
    at commit granularity); answers invariant as always. A merge whose
    source keys all match writes tail deltas only, like bulk_update."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200)
    t = tmp_db.create_table_typed("orders_ac", src.schema, "o_orderkey")
    t.AUTO_COMPACT_TAIL_FILES = 2  # instance override for the test
    t.ingest_dataframe(src)
    assert t.manifest.compact_version == -1
    for i in range(3):
        getattr(t, commit)(
            src.limit(10).select(
                "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
            )
        )
    assert t.manifest.compact_version >= 0  # auto-compact fired
    # updates carry ABSOLUTE values (original+1 each time), so the
    # final state is original+1 for the 10 touched rows
    got = t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    exp = src.agg(F.round(F.sum("o_totalprice") + 10, 2)).collect()[0][0]
    assert got == exp
    assert t.current_view().count() == 200


def test_liveness_after_compact_vacuum_delete(tmp_db, spark, sf_dir):
    """A record deleted before compact+vacuum must STAY dead for the
    bulk write path: merge_into of its key re-inserts (not a dead-rid
    update), and bulk_update/bulk_delete of its key are no-ops — the
    liveness map must not resurrect rids whose tombstones were
    vacuumed (regression: _live_key_rid_map read original base minus
    tail tombstones only)."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    t = tmp_db.create_table_typed("orders_live", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    dead_key = src.orderBy("o_orderkey").first()["o_orderkey"]
    t.bulk_delete(spark.createDataFrame([(dead_key,)], "o_orderkey long"))
    t.compact()
    t.vacuum_tail()
    assert t.current_view().where(F.col("o_orderkey") == dead_key).count() == 0

    # bulk_update of the dead key: no-op (key is not live)
    t.bulk_update(
        spark.createDataFrame([(dead_key, 1.0)], "o_orderkey long, o_totalprice double")
    )
    assert t.current_view().where(F.col("o_orderkey") == dead_key).count() == 0

    # merge_into re-inserts the dead key as a NEW record
    t.merge_into(
        spark.createDataFrame([(dead_key, 42.0)], "o_orderkey long, o_totalprice double")
    )
    back = t.current_view().where(F.col("o_orderkey") == dead_key).collect()
    assert len(back) == 1 and back[0]["o_totalprice"] == 42.0
    assert t.current_view().count() == 100  # 99 survivors + reinsert


def test_snapshot_as_of_vacuum_floor(tmp_db, spark, sf_dir):
    """After vacuum_tail, as-of queries below the history floor raise
    (their deltas are gone); at/after the floor they fold forward from
    the compacted snapshot (regression: snapshot_as_of silently
    returned stale pre-update base values)."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    t = tmp_db.create_table_typed("orders_asof", src.schema, "o_orderkey")
    before_all = datetime.datetime.now() - datetime.timedelta(days=1)
    t.ingest_dataframe(src)
    t.bulk_update(
        src.limit(30).select("o_orderkey", (F.col("o_totalprice") + 5).alias("o_totalprice"))
    )
    t.bulk_delete(src.orderBy("o_orderkey").limit(10).select("o_orderkey"))
    t.compact()
    t.vacuum_tail()

    # pre-floor timestamps are unanswerable now
    with pytest.raises(ValueError, match="history floor"):
        t.snapshot_as_of(before_all).count()

    # post-floor: identical to the current view (no newer deltas)
    now = datetime.datetime.now() + datetime.timedelta(seconds=5)
    cur = t.current_view().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    asof = t.snapshot_as_of(now).agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert asof == cur
    assert t.snapshot_as_of(now).count() == 90


def test_merge_into_duplicate_source_keys_raise(tmp_db, spark, sf_dir):
    """merge_into must reject key-duplicated sources: which duplicate
    wins would be partition-layout dependent (nondeterministic)."""
    import pytest

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(50)
    t = tmp_db.create_table_typed("orders_dup", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "o_orderkey long, o_totalprice double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(dup)


def test_merge_into_is_one_commit(tmp_db, spark, monkeypatch):
    """A merge publishes its update deltas and its inserts in ONE
    file-log entry: a failed insert write leaves the table and the log
    head as they were, and a successful merge adds exactly one entry."""
    from pyspark.sql.readwriter import DataFrameWriter

    schema = "k long, v long"
    t = tmp_db.create_table_typed("merge_once", T.StructType.fromDDL(schema), "k")
    t.ingest_dataframe(spark.createDataFrame([(i, i) for i in range(10)], schema))
    src = spark.createDataFrame([(1, 100), (50, 500)], schema)

    def state():
        return sorted(tuple(r) for r in t.current_view().collect())

    before, head = state(), t.filelog.replayable_range()[1]
    write = DataFrameWriter.parquet

    def fail_insert_write(self, path, *args, **kwargs):
        if "_seq" not in self._df.columns:  # base rows: the insert branch
            raise OSError("injected insert-write failure")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_insert_write)
    with pytest.raises(OSError, match="injected"):
        t.merge_into(src)
    monkeypatch.undo()
    assert state() == before
    assert t.filelog.replayable_range()[1] == head
    assert not [d for d in os.listdir(t.path) if d.startswith("_staging_")]

    t.merge_into(src)
    assert t.filelog.replayable_range()[1] == head + 1
    want = dict(before)
    want.update({1: 100, 50: 500})
    assert state() == sorted(want.items())


@pytest.mark.parametrize("partition_by", [None, ["o_orderstatus"]], ids=["flat", "hive"])
def test_mutation_batch_equals_sequential(tmp_db, spark, sf_dir, partition_by):
    """mutation_batch (one staged commit) must produce exactly the
    state of the equivalent sequential bulk_update/bulk_delete calls,
    including version travel (each round keeps its own batch id), and
    the same tail deltas: rid, op, key, partition and value columns."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500)

    ts = tmp_db.create_table_typed("orders_seq", src.schema, "o_orderkey", partition_by)
    ts.ingest_dataframe(src)
    r1 = src.where("o_orderkey % 7 = 0").select(
        "o_orderkey", (F.col("o_totalprice") + 100).alias("o_totalprice")
    )
    ts.bulk_update(r1)
    ts.bulk_update(
        ts.current_view().where("o_orderkey % 5 = 0").select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        )
    )
    ts.bulk_delete(src.where("o_orderkey % 10 = 3").select("o_orderkey"))

    tb = tmp_db.create_table_typed("orders_batched", src.schema, "o_orderkey", partition_by)
    tb.ingest_dataframe(src)
    with tb.mutation_batch() as b:
        b.update(r1)
        b.update(
            lambda v: v.where("o_orderkey % 5 = 0").select(
                "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
            )
        )
        b.delete(src.where("o_orderkey % 10 = 3").select("o_orderkey"))

    a = ts.current_view().select("o_orderkey", "o_totalprice")
    c = tb.current_view().select("o_orderkey", "o_totalprice")
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0
    # version travel: one round back undoes the x2 round AND the
    # deletes stay invisible — identical on both tables
    av = ts.version_view(-1).select("o_orderkey", "o_totalprice")
    cv = tb.version_view(-1).select("o_orderkey", "o_totalprice")
    assert av.exceptAll(cv).count() == 0 and cv.exceptAll(av).count() == 0
    # both commit paths encode every delta identically (only the
    # per-row _seq offsets and _ts may differ)
    cols = ["_rid", "_op", *ts.user_cols]
    at, bt = ts.tail_df().select(*cols), tb.tail_df().select(*cols)
    assert at.count() == bt.count() > 0
    assert at.exceptAll(bt).count() == 0 and bt.exceptAll(at).count() == 0


def test_optimistic_concurrency_two_writers(tmp_db, spark, sf_dir):
    """Manifest CAS: two handles on one table — the writer holding a
    stale manifest aborts cleanly BEFORE publishing anything, the
    winner's commit survives intact, and refresh()+retry succeeds."""
    from lineage_store_database_management_system_spark import (
        ConcurrentWriteError, LineageTable,
    )

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t1 = tmp_db.create_table_typed("orders_cc", orders_schema(), "o_orderkey")
    t1.ingest_dataframe(src.where("o_orderkey % 2 = 0"))

    # second, independent handle on the same table directory
    t2 = LineageTable.load(spark, t1.path)
    assert t2.manifest.commit_seq == t1.manifest.commit_seq

    # writer 1 commits again -> t2's manifest view is now stale
    t1.bulk_update(
        src.where("o_orderkey % 4 = 0").select(
            "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
        )
    )
    before_rows = t1.current_view().count()
    before_sum = t1.current_view().agg(F.sum("o_totalprice")).collect()[0][0]
    before_tail_files = sorted(
        f for _, _, fs in __import__("os").walk(t1.tail_dir) for f in fs
    )

    # stale writer 2 must abort at commit time, before publishing
    with pytest.raises(ConcurrentWriteError):
        t2.ingest_dataframe(src.where("o_orderkey % 2 = 1"))

    # winner's data is untouched: same rows, same values, same files
    after_tail_files = sorted(
        f for _, _, fs in __import__("os").walk(t1.tail_dir) for f in fs
    )
    assert after_tail_files == before_tail_files
    assert t1.current_view().count() == before_rows
    assert abs(
        t1.current_view().agg(F.sum("o_totalprice")).collect()[0][0] - before_sum
    ) < 1e-6

    # loser refreshes and retries successfully
    t2.refresh()
    assert t2.manifest.commit_seq == t1.manifest.commit_seq
    t2.ingest_dataframe(src.where("o_orderkey % 2 = 1"))
    t1.refresh()  # observe writer 2's commit
    assert t1.current_view().count() == src.count()
    # rids still globally unique across both writers' batches
    assert (
        t1.base_df().select("_rid").distinct().count()
        == t1.base_df().count()
    )


def test_concurrent_create_same_path(tmp_db, spark):
    """Racing CREATE on one directory: exactly one create wins the
    initial manifest CAS; the second sees the existing manifest."""
    from lineage_store_database_management_system_spark import (
        ConcurrentWriteError, LineageTable,
    )
    import os

    path = os.path.join(tmp_db.path, "race_t")
    LineageTable.create(spark, path, "race_t", orders_schema(), "o_orderkey")
    with pytest.raises(ConcurrentWriteError):
        LineageTable.create(spark, path, "race_t", orders_schema(), "o_orderkey")


def test_secondary_index_exact_at_any_staleness(spark, tmp_path):
    """Index built BEFORE later inserts/updates/deletes must still
    answer point lookups exactly (delta catch-up + verify-at-read)."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import indexing
    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("grp"), F.lit(1.0).alias("v")
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    indexing.build_secondary_index(t, "grp", n_buckets=8)

    def expect(g):
        return sorted(
            r["k"] for r in t.current_view().where(F.col("grp") == g).collect()
        )

    def got(g):
        return sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", g).collect())

    assert got(7) == expect(7) and len(got(7)) == 25
    # post-build churn: move some records INTO grp 7, some OUT, insert
    # new ones, delete others — the index is now stale in all 4 ways
    t.bulk_update(
        spark.range(3).select((F.col("id") * 20).alias("k"), F.lit(7).alias("grp"))
    )  # 0,20,40 -> grp 7 (were grp 0)
    t.bulk_update(
        spark.createDataFrame([(7, 3)], "k long, grp long").select(
            "k", F.col("grp").cast("long")
        )
    )  # k=7 leaves grp 7
    t.ingest_dataframe(
        spark.createDataFrame([(1000, 7, 1.0)], "k long, grp long, v double")
    )  # fresh insert into grp 7
    t.bulk_delete(spark.createDataFrame([(27,)], "k long"))  # grp-7 member dies
    for g in (7, 0, 3):
        assert got(g) == expect(g), f"grp {g}"
    # rebuild folds the deltas in; answers unchanged
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    for g in (7, 0, 3):
        assert got(g) == expect(g), f"grp {g} after rebuild"


def test_secondary_index_plan_prunes(spark, tmp_path):
    """The lookup's physical plan must show (a) a partition filter on
    the index bucket and (b) a pushed rid filter on the base scan."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import indexing
    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 10).alias("grp"))
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    # (a) the lookup's own plan: rid-set filter pushed into the base scan
    df = indexing.indexed_lookup(t, "grp", 4)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(_rid" in plan, plan
    # (b) the index scan (its own job inside indexed_lookup): reading
    # one bucket must be a PARTITION filter, not a data filter
    b = hash_bucket(spark, 4, 8)
    idx = (
        spark.read.parquet(
            indexing._data_dir(t, "grp", indexing._index_meta(t, "grp"))
        )
        .where((F.col("_b") == b) & (F.col("grp") == 4))
        .select("_rid")
    )
    iplan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in iplan and "_b" in iplan.split("PartitionFilters")[1][:80], iplan


def test_analyze_stats_and_reuse(spark, tmp_path):
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("a"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2.5).alias("x"),
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    stats = t.analyze(exact=True)
    assert stats["n_rows"] == 1000
    assert stats["columns"]["a"] == {"min": 0, "max": 99, "nulls": 0, "ndv": 100}
    cx = stats["columns"]["x"]
    assert cx["nulls"] == 100 and cx["ndv"] == 900 and cx["min"] == 2.5
    # persisted through the manifest: a fresh handle sees them
    t2 = Database().open(str(tmp_path / "db"), spark).get_table("t")
    assert t2.table_stats()["n_rows"] == 1000
    # stats track mutations only after re-analyze
    t.bulk_delete(src.where("k < 500").select("k"))
    assert t.table_stats()["n_rows"] == 1000
    assert t.analyze(exact=True)["n_rows"] == 500


def test_zorder_compact_invariant_and_clusters_both_columns(spark, tmp_path):
    """compact(zorder_by=[a, b]) must (1) not change any answer and
    (2) give BOTH columns file-level locality: under a linear sort on
    a, each output file spans b's whole domain; under z-order each
    file covers a strictly smaller b-range on average."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("b"),
    )

    def span_fraction(table, col):
        files = glob.glob(f"{table.compacted_dir()}/*.parquet")
        assert len(files) >= 4
        spans = []
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            idx = md.schema.to_arrow_schema().names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append((hi - lo) / 1000.0)
        return sum(spans) / len(spans)

    t1 = db.create_table_typed("lin", src.schema, "k")
    t1.ingest_dataframe(src)
    t1.bulk_update(src.where("k % 7 = 0").select("k", (F.col("a") + 1).alias("a")))
    before = sorted(map(tuple, t1.current_view().collect()))
    t1.compact(sort_by=["a"], n_files=8)
    assert sorted(map(tuple, t1.current_view().collect())) == before

    t2 = db.create_table_typed("zed", src.schema, "k")
    t2.ingest_dataframe(src)
    t2.bulk_update(src.where("k % 7 = 0").select("k", (F.col("a") + 1).alias("a")))
    t2.analyze()  # zorder_key sources min/max from stats
    t2.compact(zorder_by=["a", "b"], n_files=8)
    assert sorted(map(tuple, t2.current_view().collect())) == before

    # linear sort: 'a' clusters tightly, 'b' spans ~everything
    assert span_fraction(t1, "a") < 0.35
    assert span_fraction(t1, "b") > 0.85
    # z-order: BOTH columns cluster (each file covers a sub-range)
    za, zb = span_fraction(t2, "a"), span_fraction(t2, "b")
    assert za < 0.75 and zb < 0.75, (za, zb)


def test_check_constraints_enforced_atomically(spark, tmp_path):
    """CHECK constraints: validated on add, enforced on bulk ingest /
    bulk update / buffered point writes; a violating write publishes
    NOTHING; ANSI unknown-passes semantics let update deltas check
    only the columns they set."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import Query
    from lineage_store_database_management_system_spark.catalog import Database
    from lineage_store_database_management_system_spark.lineage import CheckViolation

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") + 1.0).alias("v"), F.lit("ok").alias("s")
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.add_check_constraint("v_positive", "v > 0")
    with pytest.raises(ValueError):
        t.add_check_constraint("v_positive", "v > 0")  # duplicate name
    with pytest.raises(CheckViolation):
        t.add_check_constraint("impossible", "v > 50")  # existing data fails

    # violating bulk ingest publishes nothing
    before = t.current_view().count()
    bad = spark.createDataFrame([(1000, -5.0, "x")], src.schema)
    with pytest.raises(CheckViolation):
        t.ingest_dataframe(bad)
    assert t.current_view().count() == before

    # violating bulk update publishes nothing
    with pytest.raises(CheckViolation):
        t.bulk_update(spark.createDataFrame([(7, -1.0)], "k long, v double"))
    assert t.current_view().where("k = 7").collect()[0]["v"] == 8.0

    # an update that does NOT touch v passes the v-check (unknown -> ok)
    t.bulk_update(spark.createDataFrame([(7, "still ok")], "k long, s string"))
    assert t.current_view().where("k = 7").collect()[0]["s"] == "still ok"

    # good writes still work; buffered point-op path enforces too
    t.ingest_dataframe(spark.createDataFrame([(2000, 1.5, "y")], src.schema))
    assert t.current_view().count() == before + 1
    q = Query(t)
    assert q.insert(3000, 2.5, "z") is True
    t.flush()  # publishes the good row
    assert q.insert(3001, -9.0, "w") is True  # buffers; validated at flush
    with pytest.raises(CheckViolation):
        t.flush()
    # the violating buffered batch was aborted; earlier flush survives
    assert t.current_view().where("k = 3000").count() == 1
    assert t.current_view().where("k = 3001").count() == 0

    # constraints persist through reopen; drop works
    t2 = Database().open(str(tmp_path / "db"), spark).get_table("t")
    with pytest.raises(CheckViolation):
        t2.ingest_dataframe(bad)
    t2.drop_check_constraint("v_positive")
    t2.ingest_dataframe(bad)  # now allowed
    assert t2.current_view().where("k = 1000").count() == 1

def test_check_constraints_folded_update(spark, tmp_path):
    """A multi-column CHECK (lo <= hi) must be evaluated on the FOLDED
    post-update row: the tail's NULL = 'unchanged' encoding would
    otherwise make the check UNKNOWN for a delta that sets only one of
    the columns, silently publishing a violating visible row. A batch
    that updates then tombstones the same rid is exempt — the folded
    row never becomes visible."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import Query
    from lineage_store_database_management_system_spark.catalog import Database
    from lineage_store_database_management_system_spark.lineage import CheckViolation

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("lo"),
        (F.col("id") + 10.0).alias("hi"),
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.add_check_constraint("lo_le_hi", "lo <= hi")

    # single-column update whose folded row violates -> rejected, nothing published
    with pytest.raises(CheckViolation):
        t.bulk_update(spark.createDataFrame([(3, 99.0)], "k long, lo double"))
    assert t.current_view().where("k = 3").collect()[0]["lo"] == 3.0

    # same shape with a legal value passes
    t.bulk_update(spark.createDataFrame([(3, 12.9)], "k long, lo double"))
    assert t.current_view().where("k = 3").collect()[0]["lo"] == 12.9

    # the other column alone: folded (lo=12.9, hi=5.0) violates
    with pytest.raises(CheckViolation):
        t.bulk_update(spark.createDataFrame([(3, 5.0)], "k long, hi double"))

    # buffered point-update path enforces the folded row at flush
    q = Query(t)
    assert q.update(4, None, 99.5, None) is True  # buffers (lo=99.5 > hi=14)
    with pytest.raises(CheckViolation):
        t.flush()
    assert t.current_view().where("k = 4").collect()[0]["lo"] == 4.0

    # merge_into's update branch folds too
    with pytest.raises(CheckViolation):
        t.merge_into(spark.createDataFrame([(5, 99.0)], "k long, lo double"))

    # update-then-delete of the same key in one batch: folded row is
    # never visible, so the batch commits and the record is gone
    with t.mutation_batch() as b:
        b.update(spark.createDataFrame([(6, 99.0)], "k long, lo double"))
        b.delete(spark.createDataFrame([(6,)], "k long"))
    assert t.current_view().where("k = 6").count() == 0

    # ...but a violating update of a SURVIVING rid in a batch aborts all of it
    before = t.current_view().count()
    with pytest.raises(CheckViolation):
        with t.mutation_batch() as b:
            b.update(spark.createDataFrame([(7, 99.0)], "k long, lo double"))
            b.delete(spark.createDataFrame([(8,)], "k long"))
    assert t.current_view().count() == before
    assert t.current_view().where("k = 7").collect()[0]["lo"] == 7.0

def test_secondary_index_range_layout(spark, tmp_path):
    """Range-layout secondary index: quantile bucketing makes a value
    range a contiguous bucket range (partition-pruned scan), lookups
    stay exact after post-build mutations, point lookups dispatch
    through the range layout, and non-numeric columns are rejected."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import indexing
    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("grp"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    with pytest.raises(ValueError):
        indexing.build_secondary_index(t, "s", layout="range")
    indexing.build_secondary_index(t, "grp", n_buckets=8, layout="range")

    got = sorted(r["k"] for r in indexing.indexed_range_lookup(t, "grp", 10, 19).collect())
    exp = sorted(r["k"] for r in t.current_view().where("grp BETWEEN 10 AND 19").collect())
    assert got == exp and len(got) == 100

    # staleness: mutations after the build are caught up and verified
    t.bulk_update(spark.createDataFrame([(5, 12), (15, 50)], "k long, grp long"))
    t.bulk_delete(spark.createDataFrame([(12,)], "k long"))
    got2 = sorted(r["k"] for r in indexing.indexed_range_lookup(t, "grp", 10, 19).collect())
    exp2 = sorted(r["k"] for r in t.current_view().where("grp BETWEEN 10 AND 19").collect())
    assert got2 == exp2
    assert 5 in got2       # updated INTO the range after the build
    assert 15 not in got2  # updated OUT of the range (stale entry dropped)
    assert 12 not in got2  # tombstoned

    # one-sided bounds
    hi_only = sorted(r["k"] for r in indexing.indexed_range_lookup(t, "grp", hi=1).collect())
    exp_hi = sorted(r["k"] for r in t.current_view().where("grp <= 1").collect())
    assert hi_only == exp_hi

    # point lookup dispatches through the range layout
    gotp = sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", 12).collect())
    expp = sorted(r["k"] for r in t.current_view().where("grp = 12").collect())
    assert gotp == expp

    # the bucket range genuinely prunes, and it is a PARTITION filter
    meta = indexing._index_meta(t, "grp")
    blo = indexing._range_bucket_of(meta["boundaries"], 10)
    bhi = indexing._range_bucket_of(meta["boundaries"], 19)
    assert bhi - blo + 1 < 8
    idx = (
        spark.read.parquet(indexing.index_dir(t, "grp"))
        .where(F.col("_b").between(blo, bhi) & F.col("grp").between(10, 19))
    )
    iplan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in iplan and "_b" in iplan.split("PartitionFilters")[1][:120], iplan

def test_stats_driven_fold_planning(spark, tmp_path):
    """ANALYZE stats drive the current-view fold plan (VERDICT r3 #5):
    many deltas over FEW rids -> Catalyst's file-size estimate picks
    SMJ but fresh stats know the folded side is tiny and broadcast-
    hint it; broadcast disabled -> no hint misfire; zero post-TPS
    tail rows -> no join at all; any write invalidates the stats."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    # 20k update deltas over 50 rids via a CDC feed (one append):
    # the tail FILE is big, the folded output is 50 rows
    import datetime

    rid_of = {
        r["k"]: r["_rid"]
        for r in t.current_view(include_meta=True).where("k < 50").select("k", "_rid").collect()
    }
    wm = t.watermark()
    base_seq = ((wm >> 48) + 1) << 48
    now = datetime.datetime(2026, 1, 1)
    feed_rows = []
    i = 0
    for k, rid in sorted(rid_of.items()):
        for _ in range(400):
            feed_rows.append((rid, base_seq + i, "U", now, k, float(i)))
            i += 1
    feed = spark.createDataFrame(feed_rows, t.tail_schema)
    t.apply_changes(feed)

    def plan():
        return t.current_view()._jdf.queryExecution().executedPlan().toString()

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
    try:
        # stale stats (never analyzed): Catalyst sees only the big
        # tail file -> un-hinted sort-merge join
        assert "SortMergeJoin" in plan() and "BroadcastHashJoin" not in plan()

        # fresh stats: 50 folded rids -> broadcast hint up front
        t.analyze()
        st = t.table_stats()
        assert st["tail_rows_past_tps"] == 20000 and st["tail_rids_past_tps"] <= 55
        assert "BroadcastHashJoin" in plan()

        # broadcast disabled -> the hint must NOT fire
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in plan() and "SortMergeJoin" in plan()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # the fold answer is the last delta per rid regardless of plan
    assert (
        t.current_view().where("k = 0").collect()[0]["v"] == 399.0
    )

    # compacted + analyzed: zero post-TPS tail rows -> fold skipped
    t.compact()
    t.analyze()
    assert t.table_stats()["tail_rows_past_tps"] == 0
    p = plan()
    assert "Join" not in p, p
    assert t.current_view().where("k = 0").collect()[0]["v"] == 399.0

    # a write invalidates the stats: the fold (and the join) return
    t.bulk_update(spark.createDataFrame([(7, 99.0)], "k long, v double"))
    assert "Join" in plan()
    assert t.current_view().where("k = 7").collect()[0]["v"] == 99.0

def test_materialized_views(spark, tmp_path):
    """MV lifecycle: exact watermark-based staleness, stale reads
    return the stored (old) answer, refresh recomputes atomically and
    no-ops when fresh, persistence across reopen, drop."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp"), F.lit(1.0).alias("v")
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    sql = "SELECT grp, COUNT(*) AS n, ROUND(SUM(v), 2) AS s FROM t GROUP BY grp"
    db.create_materialized_view("mv_sum", sql, deps=["t"])
    with pytest.raises(ValueError):
        db.create_materialized_view("mv_sum", sql, deps=["t"])
    with pytest.raises(KeyError):
        db.create_materialized_view("mv_other", sql, deps=["nope"])

    def direct():
        t.current_view().createOrReplaceTempView("t")
        return {(r["grp"], r["n"], r["s"]) for r in spark.sql(sql).collect()}

    def stored():
        return {(r["grp"], r["n"], r["s"]) for r in db.materialized_view("mv_sum").collect()}

    assert db.mv_is_fresh("mv_sum") and stored() == direct()
    old = stored()

    t.bulk_update(spark.createDataFrame([(5, 100.0)], "k long, v double"))
    assert not db.mv_is_fresh("mv_sum")
    assert stored() == old  # stale MV serves the stored answer
    assert db.refresh_materialized_view("mv_sum") is True
    assert db.mv_is_fresh("mv_sum") and stored() == direct() != old
    assert db.refresh_materialized_view("mv_sum") is False  # fresh -> no-op

    db2 = Database().open(str(tmp_path / "db"), spark)
    assert db2.list_materialized_views() == ["mv_sum"]
    assert {
        (r["grp"], r["n"], r["s"]) for r in db2.materialized_view("mv_sum").collect()
    } == stored()
    assert db2.drop_materialized_view("mv_sum") is True
    assert db2.list_materialized_views() == []
    with pytest.raises(KeyError):
        db2.materialized_view("mv_sum")

def test_incremental_aggregate_mv(spark, tmp_path):
    """Lineage-native incremental view maintenance: the aggregate MV
    refreshed from deltas must equal a full recompute after inserts,
    value updates, GROUP-KEY updates, and deletes; refresh is a no-op
    while fresh; vacuumed history falls back to a rebuild."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    db.create_aggregate_mv("mv", "t", group_by=["grp"], sums={"s": "v"})

    def full():
        return {
            (r["grp"], r["n"], round(r["s"], 6))
            for r in t.current_view()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.coalesce(F.col("v"), F.lit(0.0))).alias("s"),
            )
            .collect()
        }

    def stored():
        return {
            (r["grp"], r["n"], round(r["s"], 6))
            for r in db.materialized_view("mv").collect()
        }

    assert stored() == full()
    assert db.refresh_aggregate_mv("mv") == "fresh"

    # value updates + group-key moves + deletes + inserts
    t.bulk_update(
        spark.range(50).select(F.col("id").alias("k"), F.lit(1000.0).alias("v"))
    )
    t.bulk_update(
        spark.range(50, 80).select(F.col("id").alias("k"), F.lit(99).alias("grp"))
    )
    t.bulk_delete(spark.range(80, 120).select(F.col("id").alias("k")))
    t.ingest_dataframe(
        spark.range(5000, 5100).select(
            F.col("id").alias("k"), F.lit(99).alias("grp"), F.lit(2.0).alias("v")
        )
    )
    assert db.refresh_aggregate_mv("mv") == "incremental"
    assert stored() == full()
    assert db.mv_is_fresh("mv")

    # a group emptied entirely disappears from the MV
    t.delete_where("grp = 99")
    assert db.refresh_materialized_view("mv") is True  # dispatches to incremental
    assert stored() == full()
    assert not any(g == 99 for g, _, _ in stored())

    # vacuumed history -> old state unreconstructable -> full rebuild
    t.bulk_update(
        spark.range(5).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    )
    t.compact()
    t.vacuum_tail()
    assert db.refresh_aggregate_mv("mv") == "rebuild"
    assert stored() == full()

def test_shallow_clone_table(spark, tmp_path):
    """Zero-copy clone: identical answers at clone time, fully
    independent histories afterwards — and vacuuming one side must
    not corrupt the other (hardlinked inodes stay alive)."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.range(50).select(F.col("id").alias("k"), F.lit(-1.0).alias("v")))

    c = db.clone_table("t", "t_clone")
    with pytest.raises(ValueError):
        db.clone_table("t", "t_clone")
    snap = {(r["k"], r["v"]) for r in t.current_view().collect()}
    assert {(r["k"], r["v"]) for r in c.current_view().collect()} == snap

    # diverge: each side's writes are invisible to the other
    c.bulk_update(spark.createDataFrame([(7, 700.0)], "k long, v double"))
    t.bulk_delete(spark.createDataFrame([(9,)], "k long"))
    assert t.current_view().where("k = 7").collect()[0]["v"] == -1.0
    assert c.current_view().where("k = 7").collect()[0]["v"] == 700.0
    assert t.current_view().where("k = 9").count() == 0
    assert c.current_view().where("k = 9").count() == 1

    # source compact + vacuum unlinks ITS tail entries; the clone's
    # hardlinks keep the shared inodes alive and answers intact
    t.compact()
    t.vacuum_tail()
    assert c.current_view().where("k = 7").collect()[0]["v"] == 700.0
    assert {(r["k"], r["v"]) for r in t.current_view().collect()} == (
        snap - {(9, -1.0)}
    )

    # persists across reopen
    db2 = Database().open(str(tmp_path / "db"), spark)
    assert "t_clone" in db2.list_tables()
    assert db2.get_table("t_clone").current_view().count() == 500

def test_record_history_chains(spark, tmp_path):
    """record_history materializes every version: base insert at
    version 0, each delta folded onto the state before it, deletes as
    terminal 'D' rows; unchanged columns carry forward."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, v double, s string"
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.createDataFrame([(1, 11.0)], "k long, v double"))
    t.bulk_update(spark.createDataFrame([(1, "aa")], "k long, s string"))
    t.bulk_delete(spark.createDataFrame([(2,)], "k long"))

    h = {
        (r["k"], r["version_no"]): (r["_op"], r["v"], r["s"])
        for r in t.record_history().collect()
    }
    assert h[(1, 0)] == ("I", 10.0, "a")
    assert h[(1, 1)] == ("U", 11.0, "a")   # s carries forward
    assert h[(1, 2)] == ("U", 11.0, "aa")  # v carries forward
    assert h[(2, 0)] == ("I", 20.0, "b")
    assert h[(2, 1)] == ("D", 20.0, "b")   # terminal tombstone row
    assert len(h) == 5


def test_snapshot_retention_and_vacuum(tmp_db, spark, sf_dir):
    """compact() keeps the previous snapshot version on disk so a
    reader holding a DataFrame planned against it survives the swap
    (its cached file listing still resolves); vacuum_snapshots()
    reclaims old versions explicitly, and the default retention
    window (1 prior) rolls forward on each compact."""
    import os

    src = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .limit(500)
    )
    t = tmp_db.create_table_typed("orders", orders_schema(), "o_orderkey")
    t.ingest_dataframe(src)

    def bump(n):
        t.bulk_update(
            src.limit(n).select(
                "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
            )
        )

    bump(100)
    v0 = t.compact()
    reader = t.current_view()  # plan bound to snapshot v0's files
    n_before = reader.count()

    bump(50)
    v1 = t.compact()
    assert v1 == v0 + 1
    # old snapshot retained -> the pre-compact reader still collects
    assert os.path.isdir(t.compacted_dir(v0))
    assert reader.count() == n_before

    # explicit vacuum reclaims everything below the current version
    assert t.vacuum_snapshots() == 1
    assert not os.path.isdir(t.compacted_dir(v0))
    assert os.path.isdir(t.compacted_dir(v1))

    # rolling window: after another compact, v1 is retained, then a
    # further compact (retain=1) reclaims it automatically
    bump(25)
    v2 = t.compact()
    assert os.path.isdir(t.compacted_dir(v1))
    bump(10)
    t.compact()
    assert not os.path.isdir(t.compacted_dir(v1))
    assert os.path.isdir(t.compacted_dir(v2))
    # answers unaffected throughout
    assert t.current_view().count() == n_before


def test_record_history_raises_after_vacuum(spark, tmp_path):
    """Vacuumed history would silently shift version numbers, so
    record_history must refuse (ADVICE r4)."""
    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.createDataFrame([(1, 11.0)], "k long, v double"))
    assert t.record_history().count() == 3  # fine pre-vacuum
    t.compact()
    t.vacuum_tail()
    with pytest.raises(ValueError, match="un-vacuumed"):
        t.record_history()


def test_secondary_index_incremental_refresh(spark, tmp_path):
    """Write-path index maintenance (VERDICT r4 item 6): after churn,
    refresh_secondary_index rewrites ONLY the affected buckets
    (untouched buckets hardlink into the new version — same inodes),
    resets the per-lookup delta catch-up to zero, and lookups stay
    exact before, during, and after. maybe_refresh applies the
    staleness threshold."""
    import os

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import indexing
    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") % 16).alias("grp"), F.lit(1.0).alias("v")
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    indexing.build_secondary_index(t, "grp", n_buckets=8)
    meta0 = indexing._index_meta(t, "grp")
    v0_dir = indexing._data_dir(t, "grp", meta0)
    inode0 = {
        d: {f: os.stat(os.path.join(v0_dir, d, f)).st_ino
            for f in os.listdir(os.path.join(v0_dir, d)) if f.endswith(".parquet")}
        for d in os.listdir(v0_dir) if d.startswith("_b=")
    }

    # churn touching ONLY grp values 3 and 5 (plus one insert, one delete)
    t.bulk_update(
        spark.createDataFrame([(3, 5), (19, 5)], "k long, grp long")
    )  # two grp-3 members move to grp 5
    t.ingest_dataframe(spark.createDataFrame([(2000, 3, 1.0)], "k long, grp long, v double"))
    t.bulk_delete(spark.createDataFrame([(5,)], "k long"))  # a grp-5 member dies

    assert indexing.index_staleness(t, "grp")["stale_deltas"] == 4

    # under threshold -> no refresh; over -> incremental
    assert indexing.maybe_refresh_secondary_index(t, "grp", max_stale_deltas=10) == "fresh"
    assert indexing.maybe_refresh_secondary_index(t, "grp", max_stale_deltas=2) == "incremental"
    assert indexing.index_staleness(t, "grp")["stale_deltas"] == 0

    meta1 = indexing._index_meta(t, "grp")
    assert int(meta1["version"]) == int(meta0["version"]) + 1
    v1_dir = indexing._data_dir(t, "grp", meta1)
    # the touched rids' old/new buckets rewrote; every other bucket's
    # files are the SAME inodes (hardlinks — bounded catch-up work)
    b3 = hash_bucket(spark, 3, 8)
    b5 = hash_bucket(spark, 5, 8)
    affected = {f"_b={b3}", f"_b={b5}"}
    relinked = rewritten = 0
    for d in os.listdir(v1_dir):
        if not d.startswith("_b="):
            continue
        inos = {os.stat(os.path.join(v1_dir, d, f)).st_ino
                for f in os.listdir(os.path.join(v1_dir, d)) if f.endswith(".parquet")}
        if d in affected:
            assert not (inos & set(inode0.get(d, {}).values())), f"{d} not rewritten"
            rewritten += 1
        else:
            assert inos == set(inode0.get(d, {}).values()), f"{d} not hardlinked"
            relinked += 1
    assert rewritten >= 1 and relinked >= 1

    # exactness: every group answers identically to a view filter
    def expect(g):
        return sorted(r["k"] for r in t.current_view().where(F.col("grp") == g).collect())

    for g in range(16):
        got = sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", g).collect())
        assert got == expect(g), f"grp {g}"

    # refresh while fresh is a no-op; huge-churn path falls back to rebuild
    assert indexing.refresh_secondary_index(t, "grp") == "fresh"
    t.bulk_update(spark.range(400).select(F.col("id").alias("k"), F.lit(9).alias("grp")))
    assert indexing.refresh_secondary_index(t, "grp", rebuild_above=100) == "rebuild"
    assert sorted(r["k"] for r in indexing.indexed_lookup(t, "grp", 9).collect()) == expect(9)


def test_database_maintain_pass(spark, tmp_path, sf_dir):
    import os

    from lineage_store_database_management_system_spark import Database
    from lineage_store_database_management_system_spark import indexing

    db = Database().open(str(tmp_path), spark)
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    t = db.create_table_typed("m_orders", src.schema, "o_orderkey")
    t.ingest_dataframe(src)
    indexing.build_secondary_index(t, "o_custkey", n_buckets=4)
    # drive the tail past the auto-compact threshold and stale the index
    # (the update moves o_custkey: deltas that leave it unchanged do not
    # stale an index on it)
    upd = src.select(
        "o_orderkey",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        (F.col("o_custkey") + 1).alias("o_custkey"),
    )
    t.bulk_update(upd)
    old_thresh = t.AUTO_COMPACT_TAIL_ROWS
    t.AUTO_COMPACT_TAIL_ROWS = 10
    try:
        expected = t.current_view().count()
        report = db.maintain(max_stale_deltas=5, snapshot_retain=0)
    finally:
        t.AUTO_COMPACT_TAIL_ROWS = old_thresh
    r = report["m_orders"]
    assert r["compacted"] is True
    assert r["indexes"]["o_custkey"] in ("incremental", "rebuild", "full")
    # compaction retained a prior snapshot; retain=0 reclaims it
    assert r["snapshots_reclaimed"] >= 0
    # maintenance is physical only: answers unchanged, index exact
    assert t.current_view().count() == expected
    key = src.limit(1).collect()[0]["o_custkey"]
    got = indexing.indexed_lookup(t, "o_custkey", key).count()
    direct = t.current_view().where(F.col("o_custkey") == key).count()
    assert got == direct
    # a second pass is a no-op
    report2 = db.maintain(max_stale_deltas=5, snapshot_retain=0)
    assert report2["m_orders"]["compacted"] is False
    assert report2["m_orders"]["indexes"]["o_custkey"] == "fresh"
    # optional file optimization reports through the same pass
    report3 = db.maintain(
        max_stale_deltas=5, snapshot_retain=0, optimize_target_bytes=1 << 20
    )
    assert "optimized" in report3["m_orders"]
    assert t.current_view().count() == expected


def test_unique_constraint_enforced_on_all_write_paths(spark, tmp_path):
    """UNIQUE constraints (SQL semantics: NULLs exempt): validated on
    add, enforced on bulk ingest (intra-batch + vs-live), on folded
    bulk updates (intra-batch collisions + collisions with untouched
    live rows, self-value updates allowed) and on buffered point
    updates at flush, persisted in the manifest; a violating write
    publishes nothing."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database
    from lineage_store_database_management_system_spark.lineage import (
        UniqueViolation,
    )

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("u"),
        F.lit("x").alias("s"),
    )
    t = db.create_table_typed("t", src.schema, "k")
    t.ingest_dataframe(src)
    t.add_unique_constraint("u")
    with pytest.raises(ValueError):
        t.add_unique_constraint("u")  # duplicate constraint
    with pytest.raises(ValueError):
        t.add_unique_constraint("nope")  # no such column

    before = t.current_view().count()
    # intra-batch duplicate -> rejected, nothing published
    bad = spark.createDataFrame([(100, 5000, "a"), (101, 5000, "b")], src.schema)
    with pytest.raises(UniqueViolation):
        t.ingest_dataframe(bad)
    assert t.current_view().count() == before
    # conflict with a live value -> rejected
    with pytest.raises(UniqueViolation):
        t.ingest_dataframe(spark.createDataFrame([(102, 70, "c")], src.schema))
    assert t.current_view().count() == before
    # NULLs don't conflict (two at once is fine)
    t.ingest_dataframe(
        spark.createDataFrame(
            [(103, None, "n1"), (104, None, "n2")],
            "k long, u long, s string",
        )
    )
    assert t.current_view().where("u IS NULL").count() == 2

    # update folding to a live row's value -> rejected
    with pytest.raises(UniqueViolation):
        t.bulk_update(spark.createDataFrame([(3, 70)], "k long, u long"))
    assert t.current_view().where("k = 3").first()["u"] == 30
    # two updates in one batch folding to the same value -> rejected
    with pytest.raises(UniqueViolation):
        t.bulk_update(
            spark.createDataFrame([(3, 7777), (4, 7777)], "k long, u long")
        )
    # self-value update (no-op on u) passes: the touched rid is excluded
    t.bulk_update(spark.createDataFrame([(3, 30)], "k long, u long"))
    assert t.current_view().where("k = 3").first()["u"] == 30
    # fresh value passes
    t.bulk_update(spark.createDataFrame([(3, 9999)], "k long, u long"))
    assert t.current_view().where("k = 3").first()["u"] == 9999
    # buffered point update folding to a live row's value -> rejected
    # at flush, the buffer dropped, nothing published
    assert Query(t).update(4, None, 70, None)
    with pytest.raises(UniqueViolation):
        t.flush()
    assert t.current_view().where("k = 4").first()["u"] == 40
    assert t.current_view().where("u = 70").count() == 1
    # freed value is reusable after the update moved it
    t.ingest_dataframe(spark.createDataFrame([(105, 30, "d")], src.schema))

    # constraint survives reopen
    t.flush()
    db2 = Database().open(str(tmp_path / "db"), spark)
    t2 = db2.get_table("t")
    with pytest.raises(UniqueViolation):
        t2.ingest_dataframe(spark.createDataFrame([(106, 70, "e")], src.schema))
    # drop -> duplicates allowed again
    t2.drop_unique_constraint("u")
    t2.ingest_dataframe(spark.createDataFrame([(107, 70, "f")], src.schema))
    assert t2.current_view().where("u = 70").count() == 2
    with pytest.raises(ValueError):
        t2.drop_unique_constraint("u")
    # add over now-duplicated data fails
    with pytest.raises(UniqueViolation):
        t2.add_unique_constraint("u")


def test_optimize_files_bin_packs_and_answers_invariant(spark, tmp_path):
    """Small-file OPTIMIZE: many tiny per-commit base files pack into
    few target-size files; the current view, point lookups, and
    version travel are byte-identical before/after; files at target
    size are left alone; Hive partitions keep their rows."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    )
    t = db.create_table_typed("t", src.schema, "k")
    for i in range(8):  # 8 commits -> many small files
        t.ingest_dataframe(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
            )
        )
    t.bulk_update(spark.createDataFrame([(5, 99.0)], "k long, v double"))
    before = sorted(
        (r["k"], r["v"]) for r in t.current_view().collect()
    )
    before_m1 = sorted(
        (r["k"], r["v"]) for r in t.version_view(-1).collect()
    )
    stats = t.optimize_files(target_bytes=1 << 20)
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] >= 1
    after = sorted((r["k"], r["v"]) for r in t.current_view().collect())
    after_m1 = sorted((r["k"], r["v"]) for r in t.version_view(-1).collect())
    assert before == after
    assert before_m1 == after_m1
    assert t.current_view().where("k = 5").first()["v"] == 99.0
    # second pass is a no-op (everything already packed)
    stats2 = t.optimize_files(target_bytes=1 << 20)
    assert stats2["files_after"] == stats2["files_before"]
    # a tiny target leaves every file alone (none are "small")
    stats3 = t.optimize_files(target_bytes=16)
    assert stats3["partitions"] == 0


def test_optimize_files_respects_hive_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )
    t = db.create_table_typed("t", src.schema, "k", partition_by=["p"])
    for i in range(5):
        t.ingest_dataframe(
            spark.range(i * 20, i * 20 + 20).select(
                F.col("id").alias("k"),
                (F.col("id") % 2).cast("string").alias("p"),
                (F.col("id") * 2.0).alias("v"),
            )
        )
    before = sorted((r["k"], r["p"], r["v"]) for r in t.current_view().collect())
    stats = t.optimize_files(target_bytes=1 << 20)
    # pack groups are (hive partition, source commit) since the
    # provenance-preserving change: 2 partitions x 5 commits
    assert stats["partitions"] == 10
    assert stats["files_after"] < stats["files_before"]
    after = sorted((r["k"], r["p"], r["v"]) for r in t.current_view().collect())
    assert before == after
    # partition pruning still works after the rewrite
    assert t.current_view().where("p = '1'").count() == 50


def test_repair_staging_rolls_forward_and_back(spark, tmp_path):
    """Crash repair for optimize_files: a committed marker rolls the
    swap FORWARD (unlink originals, reveal packed files); an
    uncommitted _opt_ file rolls BACK (deleted, originals intact);
    stale _staging_ dirs age out. Answers invariant throughout."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    src = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = db.create_table_typed("t", src.schema, "k")
    for i in range(3):
        t.ingest_dataframe(
            spark.range(i * 30, i * 30 + 30).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            )
        )
    want = sorted((r["k"], r["v"]) for r in t.current_view().collect())

    # --- simulate a crash AFTER the commit marker: pack two files by
    # hand the way optimize_files stages them, write the marker, stop.
    files = []
    for root, _d, fs in os.walk(t.base_dir):
        files += [os.path.join(root, f) for f in fs if f.endswith(".parquet")]
    victims = files[:2]
    packed_df = spark.read.schema(t.base_schema).parquet(*victims)
    staging = os.path.join(str(tmp_path), "stage_once")
    packed_df.coalesce(1).write.mode("overwrite").parquet(staging)
    part_dir = os.path.dirname(victims[0])
    hidden = os.path.join(part_dir, "_opt_test1234")
    src_file = next(
        os.path.join(staging, f) for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.rename(src_file, hidden)
    marker = os.path.join(part_dir, "_opt_commit_test1234.json")
    with open(marker, "w") as fh:
        json.dump(
            {
                "originals": [os.path.basename(p) for p in victims],
                "packed": [os.path.basename(hidden)],
            },
            fh,
        )
    # crash here -> repair must roll forward
    rep = t.repair_staging()
    assert rep["rolled_forward"] == 1
    got = sorted((r["k"], r["v"]) for r in t.current_view().collect())
    assert got == want
    for p in victims:
        assert not os.path.exists(p)

    # --- uncommitted _opt_ file (no marker): rolls back
    orphan = os.path.join(part_dir, "_opt_orphan99")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    rep2 = t.repair_staging()
    assert rep2["discarded"] == 1
    assert not os.path.exists(orphan)
    assert sorted((r["k"], r["v"]) for r in t.current_view().collect()) == want

    # --- stale staging dir ages out; fresh one survives
    stale = os.path.join(t.path, "_staging_deadbeef")
    os.makedirs(stale)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    fresh_dir = os.path.join(t.path, "_staging_fresh")
    os.makedirs(fresh_dir)
    rep3 = t.repair_staging()
    assert rep3["staging"] == 1
    assert not os.path.exists(stale)
    assert os.path.exists(fresh_dir)


def test_incremental_join_mv(spark, tmp_path):
    """Join-MV incremental maintenance: after value updates, JOIN-KEY
    updates, deletes, and inserts on BOTH sides, the refreshed MV must
    equal the direct join of the current views; refresh is a no-op
    while fresh; a vacuumed tail does NOT force a rebuild (no old
    state is read)."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    db = Database().open(str(tmp_path / "db"), spark)
    cust = spark.range(100).select(
        F.col("id").alias("c_id"), (F.col("id") % 5).alias("c_seg")
    )
    orders = spark.range(600).select(
        F.col("id").alias("o_id"),
        (F.col("id") % 120).alias("o_cust"),
        (F.col("id") * 1.0).alias("o_amt"),
    )
    c = db.create_table_typed("cust", cust.schema, "c_id")
    c.ingest_dataframe(cust)
    o = db.create_table_typed("orders", orders.schema, "o_id")
    o.ingest_dataframe(orders)
    db.create_join_mv(
        "jmv", "orders", "cust", "o_cust", "c_id",
        left_cols=["o_id", "o_amt"], right_cols=["c_seg"],
    )

    def full():
        return {
            (r["o_id"], round(r["o_amt"], 6), r["c_id"], r["c_seg"])
            for r in o.current_view()
            .join(c.current_view(), F.col("o_cust") == F.col("c_id"))
            .select("o_id", "o_amt", "c_id", "c_seg")
            .collect()
        }

    def stored():
        return {
            (r["o_id"], round(r["o_amt"], 6), r["c_id"], r["c_seg"])
            for r in db.materialized_view("jmv").collect()
        }

    assert stored() == full() and len(stored()) == 500  # o_cust 100..119 dangle
    assert db.refresh_join_mv("jmv") == "fresh"

    # left side: value update, JOIN-KEY update, delete, insert
    o.bulk_update(
        spark.range(10).select(F.col("id").alias("o_id"), F.lit(7.5).alias("o_amt"))
    )
    o.bulk_update(
        spark.range(10, 20).select(
            F.col("id").alias("o_id"), F.lit(110).alias("o_cust")  # now dangling
        )
    )
    o.bulk_delete(spark.range(20, 40).select(F.col("id").alias("o_id")))
    o.ingest_dataframe(
        spark.range(1000, 1020).select(
            F.col("id").alias("o_id"), F.lit(3).alias("o_cust"),
            F.lit(9.9).alias("o_amt"),
        )
    )
    # right side: value update, delete, insert that REVIVES dangling keys
    c.bulk_update(
        spark.range(5).select(F.col("id").alias("c_id"), F.lit(42).alias("c_seg"))
    )
    c.bulk_delete(spark.range(90, 100).select(F.col("id").alias("c_id")))
    c.ingest_dataframe(
        spark.createDataFrame([(110, 8), (111, 8)], "c_id long, c_seg long")
    )
    assert db.refresh_join_mv("jmv") == "incremental"
    assert stored() == full()

    # a second refresh with no new deltas is a no-op
    assert db.refresh_join_mv("jmv") == "fresh"

    # vacuumed tail: join maintenance needs no history -> still incremental
    o.compact()
    o.vacuum_tail()
    o.bulk_update(
        spark.range(40, 45).select(F.col("id").alias("o_id"), F.lit(0.5).alias("o_amt"))
    )
    assert db.refresh_join_mv("jmv") == "incremental"
    assert stored() == full()

    # folding the MV's accumulated tombstone/insert deltas into a
    # snapshot never changes its answer
    db.compact_join_mv("jmv")
    assert stored() == full()

    # the generic dispatch (maintain()'s path) routes join MVs to the
    # incremental refresher
    o.bulk_update(
        spark.range(45, 50).select(F.col("id").alias("o_id"), F.lit(1.5).alias("o_amt"))
    )
    assert db.refresh_materialized_view("jmv") is True
    assert stored() == full()
    assert db.mv_is_fresh("jmv")


def test_join_mv_refresh_crash_idempotent(spark, tmp_path):
    """A refresh that crashes AFTER publishing its tombstones+inserts
    but BEFORE the watermark update must be repaired by simply
    running refresh again: the re-run's removal set covers the
    half-published pairs (they carry the same touched rids), so no
    duplicates and no losses."""
    import os

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import (
        Database,
        _atomic_write_json,
    )

    db = Database().open(str(tmp_path / "db"), spark)
    cust = spark.range(50).select(
        F.col("id").alias("c_id"), (F.col("id") % 3).alias("c_seg")
    )
    orders = spark.range(300).select(
        F.col("id").alias("o_id"),
        (F.col("id") % 50).alias("o_cust"),
        (F.col("id") * 1.0).alias("o_amt"),
    )
    c = db.create_table_typed("cust", cust.schema, "c_id")
    c.ingest_dataframe(cust)
    o = db.create_table_typed("orders", orders.schema, "o_id")
    o.ingest_dataframe(orders)
    db.create_join_mv(
        "jmv", "orders", "cust", "o_cust", "c_id",
        left_cols=["o_id", "o_amt"], right_cols=["c_seg"],
    )
    meta_path = os.path.join(db._mv_dir("jmv"), "_mv_meta.json")
    with open(meta_path) as f:
        import json as _json

        pre_meta = _json.load(f)

    o.bulk_update(
        spark.range(30).select(F.col("id").alias("o_id"), F.lit(5.0).alias("o_amt"))
    )
    # full refresh (publishes deltas AND the new watermarks)...
    assert db.refresh_join_mv("jmv") == "incremental"
    # ...then simulate the crash: roll the watermarks back as if the
    # meta write never happened — the deltas are already in the MV
    _atomic_write_json(meta_path, pre_meta)

    # the repair run re-removes and re-adds the same pairs
    assert db.refresh_join_mv("jmv") == "incremental"
    got = {
        (r["o_id"], round(r["o_amt"], 6), r["c_seg"])
        for r in db.materialized_view("jmv").collect()
    }
    want = {
        (r["o_id"], round(r["o_amt"], 6), r["c_seg"])
        for r in o.current_view()
        .join(c.current_view(), F.col("o_cust") == F.col("c_id"))
        .select("o_id", "o_amt", "c_seg")
        .collect()
    }
    assert got == want and len(got) == 300  # no duplicates, no losses


def test_fast_count_metadata_only(tmp_db, spark, sf_dir):
    """fast_count == COUNT(*) of the current view at every lifecycle
    stage, while never opening base/snapshot data files (the base-side
    row count comes from the file log's per-file stats)."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = tmp_db.create_table_typed("orders_fcnt", orders_schema(), "o_orderkey")

    def check():
        got = t.fast_count().collect()[0]["cnt"]
        want = t.current_view().count()
        assert got == want, f"fast_count {got} != view count {want}"
        bad = [
            p
            for p in t.fast_count().inputFiles()
            if "/base/" in p or "/compacted/" in p
        ]
        assert not bad, f"fast_count scanned base-side files: {bad[:3]}"

    # uncompacted: ingest + update + delete
    t.ingest_dataframe(src)
    check()
    t.bulk_update(
        src.where("o_orderkey % 7 = 0").select(
            "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
        )
    )
    t.bulk_delete(src.where("o_orderkey % 10 = 3").select("o_orderkey"))
    check()
    # compacted snapshot + fresh post-watermark base + more tombstones
    t.compact()
    check()
    shifted = src.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    t.ingest_dataframe(shifted)
    t.bulk_delete(shifted.where("o_orderkey % 9 = 1").select("o_orderkey"))
    t.bulk_delete(src.where("o_orderkey % 10 = 7").select("o_orderkey"))
    check()
    # pending (unflushed) point writes are counted driver-side
    q = Query(t)
    q.insert(99_999_991, 1.0, "O")
    q.insert(99_999_992, 2.0, "O")
    q.delete(99_999_991)
    check()


def test_rebase_retry_auto_resolves_append_conflicts(tmp_db, spark, sf_dir):
    """rebase_retry: a stale handle's append-shaped commit rebases and
    lands automatically (no hand-written refresh loop), with no lost
    rows and globally-unique rids across both writers."""
    from lineage_store_database_management_system_spark import LineageTable

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t1 = tmp_db.create_table_typed("orders_rb", orders_schema(), "o_orderkey")
    t1.ingest_dataframe(src.where("o_orderkey % 2 = 0"))

    t2 = LineageTable.load(spark, t1.path)
    # writer 1 advances the manifest -> t2 is stale
    t1.bulk_update(
        src.where("o_orderkey % 4 = 0").select(
            "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
        )
    )
    # stale writer 2 lands WITHOUT a manual refresh
    t2.rebase_retry(
        lambda: t2.ingest_dataframe(src.where("o_orderkey % 2 = 1"))
    )
    t1.refresh()
    assert t1.current_view().count() == src.count()
    assert (
        t1.base_df().select("_rid").distinct().count() == t1.base_df().count()
    )
    # exhaustion path: an op that always conflicts re-raises
    import pytest as _pytest
    from lineage_store_database_management_system_spark import ConcurrentWriteError

    calls = {"n": 0}

    def always_conflict():
        calls["n"] += 1
        raise ConcurrentWriteError("synthetic")

    with _pytest.raises(ConcurrentWriteError):
        t2.rebase_retry(always_conflict, max_attempts=3)
    assert calls["n"] == 3


def test_snapshot_at_commit_travel(tmp_db, spark, sf_dir):
    """Commit-pinned time travel: exact state at each log index,
    invariant across compact(), blind to pending rows, and explicit
    errors outside the retention horizon (pre-checkpoint index /
    vacuumed files)."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(300).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = tmp_db.create_table_typed("orders_ct", orders_schema(), "o_orderkey")
    t.ingest_dataframe(src)                                   # idx 0
    idx0 = t.filelog.replayable_range()[1]
    t.bulk_update(
        src.where("o_orderkey % 7 = 0").select(
            "o_orderkey", (F.col("o_totalprice") + 100).alias("o_totalprice")
        )
    )                                                          # idx 1
    idx1 = t.filelog.replayable_range()[1]
    t.bulk_delete(src.where("o_orderkey % 10 = 3").select("o_orderkey"))
    t.compact()  # physical rewrite AFTER the travel points

    # idx0: original values, all rows
    v0 = t.snapshot_at_commit(idx0)
    assert v0.count() == src.count()
    assert (
        abs(
            v0.agg(F.sum("o_totalprice")).collect()[0][0]
            - src.agg(F.sum("o_totalprice")).collect()[0][0]
        )
        < 1e-6
    )
    # idx1: update applied, tombstones not yet visible
    v1 = t.snapshot_at_commit(idx1)
    assert v1.count() == src.count()
    exp = src.agg(
        F.sum(
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100)
            .otherwise(F.col("o_totalprice"))
        )
    ).collect()[0][0]
    assert abs(v1.agg(F.sum("o_totalprice")).collect()[0][0] - exp) < 1e-6

    # pending (uncommitted) rows are invisible to commit travel
    hi = t.filelog.replayable_range()[1]
    before = t.snapshot_at_commit(hi).count()
    Query(t).insert(99_999_001, 5.0, "O")
    assert t.snapshot_at_commit(hi).count() == before
    t.flush()

    # outside the log range -> ValueError
    with pytest.raises(ValueError, match="replayable"):
        t.snapshot_at_commit(-1)
    # vacuum reclaims pre-TPS tail deltas -> pre-vacuum travel raises
    t.vacuum_tail()
    with pytest.raises(ValueError, match="vacuum"):
        t.snapshot_at_commit(idx1).count()


def test_restore_at_commit_and_travel_across_evolution(tmp_db, spark, sf_dir):
    """restore_at_commit rolls the current view back to the state at a
    log index via compensating writes; commit travel across schema
    evolution presents the table's CURRENT logical schema (pre-
    evolution files null-fill added columns)."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(300).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = tmp_db.create_table_typed("orders_rc", orders_schema(), "o_orderkey")
    t.ingest_dataframe(src)                                    # idx 0
    idx0 = t.filelog.replayable_range()[1]
    t.bulk_update(
        src.where("o_orderkey % 7 = 0").select(
            "o_orderkey", (F.col("o_totalprice") + 100).alias("o_totalprice")
        )
    )
    t.bulk_delete(src.where("o_orderkey % 10 = 3").select("o_orderkey"))
    # schema evolution AFTER the travel point
    t.add_column("o_note", T.StringType())
    t.bulk_update(
        src.where("o_orderkey % 11 = 0").select(
            "o_orderkey", F.lit("x").alias("o_note")
        )
    )

    # travel to idx0 under the CURRENT schema: added column all-null,
    # original values intact
    v0 = t.snapshot_at_commit(idx0)
    assert "o_note" in v0.columns
    assert v0.where(F.col("o_note").isNotNull()).count() == 0
    assert v0.count() == src.count()
    assert (
        abs(
            v0.agg(F.sum("o_totalprice")).collect()[0][0]
            - src.agg(F.sum("o_totalprice")).collect()[0][0]
        )
        < 1e-6
    )

    # restore to idx0: deletes the nothing-fresh, re-inserts the
    # tombstoned keys, rolls back the updated rows (incl. o_note)
    rep = t.restore_at_commit(idx0)
    n_del_keys = src.where("o_orderkey % 10 = 3").count()
    # rows whose o_note must be restored TO NULL go delete+reinsert
    # (NULL update deltas read as 'unchanged' — inexpressible as an
    # update), so they appear in both counters
    n_note = src.where("o_orderkey % 11 = 0 AND o_orderkey % 10 <> 3").count()
    assert rep["inserted"] == n_del_keys + n_note
    assert rep["deleted"] == n_note
    assert rep["updated"] > 0
    cur = t.current_view()
    assert cur.count() == src.count()
    assert cur.where(F.col("o_note").isNotNull()).count() == 0
    assert (
        abs(
            cur.agg(F.sum("o_totalprice")).collect()[0][0]
            - src.agg(F.sum("o_totalprice")).collect()[0][0]
        )
        < 1e-6
    )
    # fast_count agrees after the restore's mixed writes
    assert t.fast_count().collect()[0]["cnt"] == src.count()
