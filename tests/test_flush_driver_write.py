"""The point-op group flush writes its buffers from the driver.

``LineageTable.flush`` converts each buffer to Arrow and writes it with
pyarrow into the commit's staging dir; both buffers publish in one
file-log entry. These tests pin what that path must keep from the
Spark writer it replaced (Hive partition directory names, values row
for row, hidden staging for multi-table commits) and what it mends
(no Spark job without constraints, no self-collision of a buffered
UNIQUE insert, all-or-nothing publish, UTC ``_ts`` on any process time
zone, auto-compaction counting only the tail past TPS).
"""

import datetime
import decimal
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lineage_store_database_management_system_spark import Database, Query
from lineage_store_database_management_system_spark.filelog import FileLog
from lineage_store_database_management_system_spark.lineage import (
    CheckViolation,
    UniqueViolation,
)


def _jobs(spark, group, fn):
    """Run ``fn`` under a Spark job group; return the group's job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _kv(spark, db, name):
    t = db.create_table_typed(
        name,
        T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]),
        "k",
    )
    t.ingest_dataframe(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    return t


def _rows(t):
    return sorted(tuple(r) for r in t.current_view().collect())


def _reopen(t, name):
    return Database().open(os.path.dirname(t.path), t.spark).get_table(name)


def test_flush_without_constraints_starts_no_spark_job(spark, tmp_db):
    t = _kv(spark, tmp_db, "nojob")
    q = Query(t)
    assert q.insert(3, 30) and q.update(1, None, 11) and q.delete(2)
    log_before = len(os.listdir(os.path.join(t.path, "_filelog")))
    assert _jobs(spark, "flush_nojob", t.flush) == 0
    # both buffers in ONE log entry
    assert len(os.listdir(os.path.join(t.path, "_filelog"))) == log_before + 1
    assert _rows(_reopen(t, "nojob")) == [(1, 11), (3, 30)]

    c = _kv(spark, tmp_db, "onecheck")
    c.add_check_constraint("v_pos", "v > 0")
    qc = Query(c)
    assert qc.insert(3, 30)
    # the CHECK is a projection over the buffer's local relation, which
    # Spark evaluates on the driver: still no job
    assert _jobs(spark, "flush_onecheck", c.flush) == 0
    assert qc.insert(4, -4)
    with pytest.raises(CheckViolation, match="v_pos"):
        c.flush()
    assert _rows(_reopen(c, "onecheck")) == [(1, 10), (2, 20), (3, 30)]


def test_buffered_insert_on_unique_table_becomes_durable(spark, tmp_db):
    t = _kv(spark, tmp_db, "uniq")
    t.add_unique_constraint("v")
    q = Query(t)
    assert q.insert(3, 30)
    t.flush()  # used to collide with itself through the pending view
    # a key-changing update is tombstone + reinsert: the tombstone
    # frees v=10 for the reinserted row
    assert q.update(1, 5, None)
    t.flush()
    assert _rows(_reopen(t, "uniq")) == [(2, 20), (3, 30), (5, 10)]
    # real collisions still raise, within the buffer and with a live row
    assert q.insert(6, 20)
    with pytest.raises(UniqueViolation):
        t.flush()
    assert q.insert(7, 70) and q.insert(8, 70)
    with pytest.raises(UniqueViolation):
        t.flush()
    # an update of a row inserted by the same group folds over it
    assert q.insert(9, 90) and q.update(9, None, 30)
    with pytest.raises(UniqueViolation):
        t.flush()
    assert _rows(_reopen(t, "uniq")) == [(2, 20), (3, 30), (5, 10)]
    # a row the group deletes frees its value for an update in the group
    q = Query(t)
    assert q.delete(5) and q.update(2, None, 10)
    t.flush()
    assert _rows(_reopen(t, "uniq")) == [(2, 10), (3, 30)]


def test_flush_publishes_all_or_nothing(spark, tmp_db, monkeypatch):
    t = _kv(spark, tmp_db, "atomic")
    t.add_check_constraint("v_pos", "v > 0")
    q = Query(t)
    # a valid insert (base buffer) with a violating update (tail buffer)
    assert q.insert(3, 30) and q.update(1, None, -1)
    with pytest.raises(CheckViolation):
        t.flush()
    assert _rows(t) == [(1, 10), (2, 20)]
    assert _rows(_reopen(t, "atomic")) == [(1, 10), (2, 20)]

    # a failure between the file writes and the log append
    live = {tag: len(t.filelog.live(tag)) for tag in ("base", "tail")}
    assert q.insert(4, 40) and q.update(2, None, 21)

    def torn(self, actions):
        raise OSError("injected: crash before the log append")

    monkeypatch.setattr(FileLog, "append", torn)
    with pytest.raises(OSError, match="injected"):
        t.flush()
    monkeypatch.undo()
    # both files were written, neither is live
    t2 = _reopen(t, "atomic")
    assert {tag: len(t2.filelog.live(tag)) for tag in ("base", "tail")} == live
    assert _rows(t2) == [(1, 10), (2, 20)]
    # the failed handle kept its buffers: a retry publishes the group,
    # and the failed attempt left no file for the log resync to import
    t.flush()
    assert _rows(_reopen(t, "atomic")) == [(1, 10), (2, 21), (4, 40)]
    t.repair_staging()
    assert _rows(_reopen(t, "atomic")) == [(1, 10), (2, 21), (4, 40)]

    # a failure past the commit point (the log entry landed, its
    # checkpoint did not): the commit holds, nothing is left to retry
    append = FileLog.append

    def late(self, actions):
        append(self, actions)
        raise OSError("injected: crash after the log append")

    assert q.insert(5, 50) and q.update(4, None, 41)
    monkeypatch.setattr(FileLog, "append", late)
    t.flush()
    monkeypatch.undo()
    t.flush()
    t.repair_staging()
    assert _rows(_reopen(t, "atomic")) == [(1, 10), (2, 21), (4, 41), (5, 50)]


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


def test_flushed_ts_is_the_utc_instant_on_a_non_utc_process(spark, tmp_db):
    """Python's datetime conversions follow the process TZ (the session
    time zone stays UTC), so switching it in-process reproduces a
    non-UTC host."""
    t = _kv(spark, tmp_db, "tz")
    with _with_tz("America/Los_Angeles"):
        before = datetime.datetime.now(datetime.timezone.utc)
        assert Query(t).update(1, None, 11)
        ts = F.unix_micros(F.col("_ts")).alias("us")
        pending = t.tail_df().select(ts).first()["us"]
        t.flush()
        flushed = t.tail_df().select(ts).first()["us"]
        after = datetime.datetime.now(datetime.timezone.utc)
        assert pending == flushed
        assert before.timestamp() * 1e6 - 1 <= flushed <= after.timestamp() * 1e6 + 1
        now = datetime.datetime.now(datetime.timezone.utc)
        got = t.snapshot_as_of(now).where("k = 1").first()["v"]
    assert got == 11


def test_auto_compact_counts_only_tail_files_past_tps(spark, tmp_db):
    t = _kv(spark, tmp_db, "autoc")
    t.AUTO_COMPACT_TAIL_FILES = 2
    versions = []
    for i in range(6):
        t.bulk_update(spark.createDataFrame([(1, 100 + i)], "k long, v long"))
        versions.append(t.manifest.compact_version)
    # one compaction per threshold's worth of new tail files (each
    # commit adds one), not one per commit once the threshold is crossed
    assert versions == [-1, -1, 0, 0, 0, 1]
    assert _rows(t) == [(1, 105), (2, 20)]


_PART_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("pi", T.IntegerType()),
        T.StructField("pd", T.DateType()),
        T.StructField("ps", T.StringType()),
        T.StructField("pf", T.DoubleType()),
        T.StructField("pt", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ]
)
_D = datetime.date(2024, 2, 29)
_TS = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)
_PART_ROWS = [
    (1, 1, _D, "plain", 1.5, _TS, 10),
    (2, None, None, None, None, None, 20),
    (3, -7, _D, "a/b=c%d:e f", 1e10, _TS.replace(microsecond=120000), 30),
    (4, 1, datetime.date(1999, 12, 31), "", 0.001, _TS, 40),
    (5, 2, _D, "plain", -0.0, _TS, 50),
]


def _part_dirs(t):
    out = set()
    for root, _dirs, files in os.walk(t.base_dir):
        if any(f.endswith(".parquet") for f in files):
            out.add(os.path.relpath(root, t.base_dir))
    return out


def test_partition_dirs_match_the_spark_writer(spark, tmp_db):
    spark_t = tmp_db.create_table_typed(
        "pspark", _PART_SCHEMA, "k", partition_by=["pi", "pd", "ps", "pf", "pt"]
    )
    spark_t.ingest_dataframe(spark.createDataFrame(_PART_ROWS, _PART_SCHEMA))
    arrow_t = tmp_db.create_table_typed(
        "parrow", _PART_SCHEMA, "k", partition_by=["pi", "pd", "ps", "pf", "pt"]
    )
    arrow_t.insert_rows(_PART_ROWS)
    arrow_t.flush()
    assert _part_dirs(arrow_t) == _part_dirs(spark_t)
    arrow_t = _reopen(arrow_t, "parrow")
    assert _rows(arrow_t) == _rows(spark_t)
    # drop_partition finds and removes a partition a point insert made
    st = arrow_t.drop_partition("ps", "plain")
    assert st["files"] == 2 and st["rows"] == 2
    assert sorted(r["k"] for r in arrow_t.current_view().collect()) == [2, 3, 4]


_TYPED = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("i8", T.ByteType()),
        T.StructField("i16", T.ShortType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField(
            "st",
            T.StructType(
                [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("v", T.StringType()),
    ]
)


def _typed_row(k):
    return (
        k,
        -k,
        300 * k,
        decimal.Decimal(f"{k}.125"),
        datetime.date(2020, 1, 1 + k),
        datetime.datetime(2021, 6, 1, 12, k, tzinfo=datetime.timezone.utc),
        datetime.datetime(2022, 7, 1, 8, k, 30),
        [k, None, k * 2],
        (k, f"s{k}"),
        {"x": k, "y": None},
        f"v{k}",
    )


def test_types_round_trip_through_flush_and_reopen(spark, tmp_db):
    rows = [_typed_row(k) for k in range(4)]
    spark_t = tmp_db.create_table_typed("tspark", _TYPED, "k")
    spark_t.ingest_dataframe(spark.createDataFrame(rows, _TYPED))
    arrow_t = tmp_db.create_table_typed("tarrow", _TYPED, "k")
    arrow_t.insert_rows(rows)
    arrow_t.flush()
    assert _rows(_reopen(arrow_t, "tarrow")) == _rows(spark_t)

    # tail deltas of every type the fold can order (not maps), and a
    # renamed column (its files keep the physical name) written by
    # later flushes
    schema = T.StructType([f for f in _TYPED.fields if f.name != "m"])
    drop_m = lambda r: r[:9] + r[10:]  # noqa: E731
    t = tmp_db.create_table_typed("tdelta", schema, "k")
    rids = t.insert_rows([drop_m(r) for r in rows])
    t.flush()
    delta = list(drop_m(_typed_row(9)))
    delta[0] = 1  # the key rides along unchanged
    t.append_tail_rows([(rids[1], "U", tuple(delta))])
    t.flush()
    t.rename_column("v", "v2")
    t.insert_rows([drop_m(_typed_row(5))])
    t.flush()
    want = {r[0]: drop_m(r) for r in rows + [_typed_row(5)]}
    want[1] = tuple(delta)
    reopened = _reopen(t, "tdelta")
    assert reopened.current_view().columns[-1] == "v2"
    spark_rows = spark.createDataFrame([want[k] for k in sorted(want)], schema)
    assert _rows(reopened) == sorted(tuple(r) for r in spark_rows.collect())


def test_multi_table_commit_stages_hidden_files_only(spark, tmp_db):
    a, b = _kv(spark, tmp_db, "ha"), _kv(spark, tmp_db, "hb")
    assert Query(a).insert(3, 30) and Query(a).update(1, None, 11)
    assert Query(b).insert(4, 40)
    seen = {t: FileLog(t.path).live_state() for t in (a, b)}
    intents = [t.stage_pending("cafe0001") for t in (a, b)]
    assert [len(i["actions"]) for i in intents] == [2, 1]
    for t, intent in zip((a, b), intents):
        logged = {e["path"] for es in seen[t].values() for e in es}
        on_disk = [
            f for d in (t.base_dir, t.tail_dir) if os.path.isdir(d) for f in os.listdir(d)
        ]
        assert {f for f in on_disk if f not in logged} == {
            os.path.basename(h) for h, _v in intent["renames"]
        }
        assert all(os.path.basename(h).startswith("_txn_cafe0001_") for h, _v in intent["renames"])
    assert _rows(a) == [(1, 10), (2, 20)] and _rows(b) == [(1, 10), (2, 20)]


def test_query_reloads_its_directory_after_a_dropped_group(spark, tmp_db):
    t = _kv(spark, tmp_db, "dropped")
    t.add_check_constraint("v_pos", "v > 0")
    q = Query(t)
    assert q.update(1, None, -1)
    with pytest.raises(CheckViolation):
        t.flush()
    # the group is gone from the table, and so from the point reads
    assert [r.columns for r in q.select(1, 0, [1, 1])] == [[1, 10]]
    assert q.update(1, None, 11)
    t.flush()
    assert [r.columns for r in q.select(1, 0, [1, 1])] == [[1, 11]]
    assert _rows(_reopen(t, "dropped")) == [(1, 11), (2, 20)]


def test_map_column_folds_through_updates_and_deletes(spark, tmp_db):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("v", T.LongType()),
        ]
    )
    t = tmp_db.create_table_typed("maps", schema, "k")
    t.ingest_dataframe(
        spark.createDataFrame([(k, {"a": k}, k) for k in range(4)], schema)
    )
    t.bulk_update(spark.createDataFrame([(1, {"b": 10}, None)], schema))
    t.bulk_update(spark.createDataFrame([(1, {"c": 11}, None), (2, None, 20)], schema.simpleString()))
    t.bulk_delete(spark.createDataFrame([(3,)], "k long"))
    # buffered deltas (a map cannot key the Query directory's index)
    rid = {r["k"]: r["_rid"] for r in t.current_view(include_meta=True).collect()}
    t.append_tail_rows([(rid[0], "U", (0, {"z": 0}, None)), (rid[2], "D", (2, None, None))])
    t.flush()

    def rows(df):
        return sorted((r["k"], r["m"], r["v"]) for r in df.collect())

    want = [(0, {"z": 0}, 0), (1, {"c": 11}, 1)]
    assert rows(t.current_view()) == want
    assert rows(t.version_view(-1)) == [(0, {"a": 0}, 0), (1, {"b": 10}, 1)]
    assert rows(_reopen(t, "maps").current_view()) == want


def test_query_point_ops_on_map_array_and_binary_columns(spark, tmp_db):
    """The point-op directory keys map, array and binary values frozen,
    so ``Query`` serves a table with such columns."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("b", T.BinaryType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t = tmp_db.create_table_typed("qmaps", schema, "k")
    t.ingest_dataframe(
        spark.createDataFrame(
            [(k, {"a": k}, ["t"], bytearray([k]), k) for k in range(3)], schema
        )
    )
    q = Query(t)
    assert q.update(0, None, {"z": 0}, None, None, None)
    assert q.update(1, None, None, ["x", "y"], None, 10)
    assert q.insert(5, {"n": 5}, [], bytearray(b"\x05"), 50)
    assert q.delete(2)
    assert [r.columns for r in q.select(0, 0, [1] * 5)] == [
        [0, {"z": 0}, ["t"], bytearray([0]), 0]
    ]
    assert [r.key for r in q.select({"z": 0}, 1, [1, 0, 0, 0, 0])] == [0]
    assert q.select({"a": 0}, 1, [1, 0, 0, 0, 0]) == []
    assert [r.key for r in q.select(["x", "y"], 2, [1, 0, 0, 0, 0])] == [1]
    assert [r.key for r in q.select(bytearray([1]), 3, [1, 0, 0, 0, 0])] == [1]
    t.flush()
    want = [
        (0, {"z": 0}, ["t"], bytearray([0]), 0),
        (1, {"a": 1}, ["x", "y"], bytearray([1]), 10),
        (5, {"n": 5}, [], bytearray([5]), 50),
    ]
    got = sorted((r["k"], r["m"], r["tags"], r["b"], r["v"]) for r in t.current_view().collect())
    assert got == want
    q2 = Query(_reopen(t, "qmaps"))
    assert [r.key for r in q2.select({"n": 5}, 1, [1, 0, 0, 0, 0])] == [5]
