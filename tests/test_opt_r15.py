"""Round-15 optimization regressions: the rewrites must be
value-identical AND the new cache discipline must actually bound the
session's persisted state.

1. plan_scoped_persist: repeated operator invocations hold at most
   one cached frame per slot (VERDICT r14 #3 done-criterion: no net
   growth in getPersistentRDDs after N calls), also when threads race
   one slot.
2. version_view's single-window version rewind (one tail scan, window
   partitioned like the fold's grouping) equals the two-scan
   row_number+union reference on histories with multi-delta rids,
   interleaved deletes, and clamping.
3. bm25_topk with an empty query list returns an empty (id, bm25)
   frame instead of failing analysis (ADVICE r14).
4. apply_corpus_changes must not drop (or double-persist) a
   change-set frame the CALLER already persisted (ADVICE r14).
5. The keyed tail REBALANCE still coalesces to O(1) files with
   identical values (extends the r14 regression to the _rid-keyed
   form — covered by test_opt_r14's value-identity test, which runs
   against the same code path).
6. _estimate_plan_bytes answers through public API for both file and
   in-memory sources (ingest floor, VERDICT r14 #7).
"""

import glob
import os

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import (
    dedup,
    textops,
)


def _n_persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_plan_scoped_persist_bounded(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} {i % 7} zz{i % 3}") for i in range(200)],
        "doc_id long, text string",
    )
    base = _n_persisted(spark)
    for _ in range(4):
        dedup.minhash_lsh_candidates(docs, "doc_id", "text").count()
        textops.bm25_topk(docs, "doc_id", "text", ["alpha", "zz1"], k=5).count()
        textops.tfidf_top_terms(
            docs.withColumn("grp", F.col("doc_id") % 3), "doc_id", "text", "grp"
        ).count()
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text").count()
    # one live slot per operator family, not one per call
    grown = _n_persisted(spark) - base
    assert grown <= 5, grown


def test_plan_scoped_persist_slot_swap_is_atomic():
    """Threads racing one slot must leave at most one frame cached:
    each persist sleeps, which without the slot lock lets every
    thread pop an empty slot and persist, leaking all but the frame
    stored last."""
    import threading
    import time

    from lineage_store_database_management_system_spark.operators import _util

    class _Frame:
        sparkSession = None  # no session: the slot key falls back to ("", slot)

        def __init__(self):
            self.cached = False

        def persist(self):
            time.sleep(0.2)  # widen the pop -> store window
            self.cached = True
            return self

        def unpersist(self, blocking=False):
            self.cached = False

    frames = [_Frame() for _ in range(4)]
    start = threading.Barrier(len(frames))

    def run(f):
        start.wait(timeout=10)
        _util.plan_scoped_persist(f, "race-test-slot")

    threads = [threading.Thread(target=run, args=(f,)) for f in frames]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=30)
    try:
        assert not any(th.is_alive() for th in threads)
        assert sum(f.cached for f in frames) == 1
    finally:
        _util._PLAN_PERSIST_SLOTS.pop(("", "race-test-slot"), None)


def test_version_view_single_window_matches_two_scan_reference(spark, tmp_db):
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "k int, v double"
    )
    t = tmp_db.create_table_typed("vv", src.schema, "k")
    t.ingest_dataframe(src)
    # build per-rid histories of varying depth, with deletes both
    # before and after updates
    t.bulk_update(src.where("k % 2 = 0").select("k", (F.col("v") + 1).alias("v")))
    t.bulk_delete(src.where("k % 11 = 3").select("k"))
    t.bulk_update(src.where("k % 4 = 0").select("k", (F.col("v") * 10).alias("v")))
    t.bulk_update(src.where("k % 8 = 0").select("k", (F.col("v") - 5).alias("v")))
    t.bulk_delete(src.where("k % 13 = 1").select("k"))

    def reference(k_back: int) -> dict:
        # the pre-r15 two-scan shape, computed independently
        from pyspark.sql import Window

        tail = t.tail_df()
        w = Window.partitionBy("_rid").orderBy(F.desc("_seq"))
        upd = (
            tail.where(F.col("_op") == "U")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > k_back)
            .drop("_rn")
        )
        dels = tail.where(F.col("_op") == "D")
        folded = t._fold_tail(t.base_df(), upd.unionByName(dels))
        return {
            r["k"]: r["v"] for r in folded.select("k", "v").collect()
        }

    for k_back in (1, 2, 3, 5):
        got = {
            r["k"]: r["v"]
            for r in t.version_view(-k_back).select("k", "v").collect()
        }
        assert got == reference(k_back), f"mismatch at -{k_back}"


def test_bm25_topk_empty_terms_returns_empty(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    out = textops.bm25_topk(docs, "doc_id", "text", [], k=5)
    assert out.columns == ["doc_id", "bm25"]
    assert out.count() == 0


def test_corpus_changes_respect_caller_persisted_frames(spark, tmp_path):
    from pyspark import StorageLevel

    from lineage_store_database_management_system_spark.operators import (
        corpus,
        textsearch,
    )

    docs = spark.createDataFrame(
        [(i, f"text body {i} common words") for i in range(50)],
        "doc_id long, text string",
    )
    idx = os.path.join(str(tmp_path), "bm25")
    textsearch.write_bm25_index(docs, idx)
    deletes = docs.where("doc_id % 10 = 0").select("doc_id")
    deletes.persist(StorageLevel.DISK_ONLY)
    try:
        updates = spark.createDataFrame(
            [(100, "brand new body")], "doc_id long, text string"
        )
        corpus.apply_corpus_changes(
            change_id=1,
            deletes=deletes,
            updates=updates,
            bm25_dir=idx,
        )
        # caller's cache must survive at the caller's chosen level
        assert deletes.storageLevel.useDisk and not deletes.storageLevel.useMemory
    finally:
        deletes.unpersist()


def test_estimate_plan_bytes_public_api(spark, tmp_path):
    from lineage_store_database_management_system_spark.lineage import (
        _estimate_plan_bytes,
    )

    p = os.path.join(str(tmp_path), "t.parquet")
    spark.range(0, 10_000).select(
        F.col("id"), F.lit("x" * 50).alias("pad")
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    est = _estimate_plan_bytes(df)
    real = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
    )
    assert est is not None and abs(est - real) <= max(4096, real * 0.1), (est, real)
    # in-memory source: explain-cost fallback answers (roughly 8B/row+)
    mem = spark.range(0, 1000).select(F.col("id"))
    est2 = _estimate_plan_bytes(mem)
    assert est2 is not None and est2 > 0


def test_estimate_plan_bytes_keeps_concurrent_prints(spark, capsys):
    """The estimate reads the plan as a result row, so it never swaps
    the process-global ``sys.stdout``: lines another thread prints
    while estimates run all reach the real stdout."""
    import threading
    import time

    from lineage_store_database_management_system_spark.lineage import (
        _estimate_plan_bytes,
    )

    n = 200
    started = threading.Event()

    def printer():
        started.set()
        for i in range(n):
            print(f"concurrent-line-{i}")
            time.sleep(0.002)

    th = threading.Thread(target=printer)
    th.start()
    started.wait()
    df = spark.range(0, 1000).select(F.col("id"))
    while th.is_alive():
        assert _estimate_plan_bytes(df) > 0
    th.join()
    out = capsys.readouterr().out.splitlines()
    assert [ln for ln in out if ln.startswith("concurrent-line-")] == [
        f"concurrent-line-{i}" for i in range(n)
    ]


def test_plan_scoped_persist_sweeps_dead_application_slots():
    """A slot left by another (stopped) application is unpersisted and
    dropped by the next swap: the registry is keyed by application,
    so without the sweep a restarted session pins every dead frame."""
    from types import SimpleNamespace

    from lineage_store_database_management_system_spark.operators import _util

    class _Frame:
        def __init__(self, app):
            self.sparkSession = SimpleNamespace(
                sparkContext=SimpleNamespace(applicationId=app)
            )
            self.cached = False

        def persist(self):
            self.cached = True
            return self

        def unpersist(self, blocking=False):
            self.cached = False

    stale = _Frame("app-stopped").persist()
    _util._PLAN_PERSIST_SLOTS[("app-stopped", "sweep-test-slot")] = stale
    live = _Frame("app-live")
    try:
        _util.plan_scoped_persist(live, "sweep-test-slot")
        assert ("app-stopped", "sweep-test-slot") not in _util._PLAN_PERSIST_SLOTS
        assert not stale.cached
        assert _util._PLAN_PERSIST_SLOTS[("app-live", "sweep-test-slot")] is live
        # a frame whose applicationId cannot be read keys under "" and
        # must not sweep the live application's slots
        unknown = _Frame(None)
        del unknown.sparkSession
        _util.plan_scoped_persist(unknown, "sweep-test-slot")
        assert _util._PLAN_PERSIST_SLOTS[("app-live", "sweep-test-slot")] is live
        assert live.cached
    finally:
        _util._PLAN_PERSIST_SLOTS.pop(("app-stopped", "sweep-test-slot"), None)
        _util._PLAN_PERSIST_SLOTS.pop(("app-live", "sweep-test-slot"), None)
        _util._PLAN_PERSIST_SLOTS.pop(("", "sweep-test-slot"), None)
