"""Time-travel (as-of) queries over the durable BM25 index (round
14): every mutation — append, delete, update — consumes one slot on
the index's mutation timeline, ``index_asof_marker`` captures a
position on it, and ``bm25_topk_from_index(as_of=marker)`` replays
the ranking against exactly that corpus state. select_version for
the retrieval index (reference lstore/query.py:125,220 gives the
TABLES versioned reads; this extends the same contract to the
extension layer's index). Compaction physically sweeps history, so
pre-compaction markers raise IndexHistoryTruncatedError — the CDC
retention discipline, never a silently wrong answer."""

import json
import os

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import _idxmeta
from lineage_store_database_management_system_spark.operators import textsearch as T

TERMS = ["join", "filter", "merge"]


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["doc_id"])


def _topk(spark, idx, as_of=None, terms=TERMS):
    return sorted(
        (r["doc_id"], r["bm25"])
        for r in T.bm25_topk_from_index(
            spark, idx, terms, k=50, as_of=as_of
        ).collect()
    )


def _scratch(spark, tmp_path, name, rows, terms=TERMS):
    """Ground truth: a fresh index over the snapshot corpus."""
    d = str(tmp_path / f"scratch_{name}")
    T.write_bm25_index(_df(spark, rows), d)
    return _topk(spark, d, terms=terms)


C0 = [
    (1, "join filter merge alpha"),
    (2, "join beta beta"),
    (3, "gamma filter"),
]
C_APPEND = [(4, "join join merge"), (5, "delta")]
C1 = C0 + C_APPEND
C2 = [d for d in C1 if d[0] != 2]  # delete doc 2
C3 = [(1, "epsilon zeta")] + [d for d in C2 if d[0] != 1]  # re-text doc 1


@pytest.fixture()
def mutated(spark, tmp_path):
    """An index taken through the full mutation lifecycle, with the
    marker captured after each step."""
    idx = str(tmp_path / "bm25")
    T.write_bm25_index(_df(spark, C0), idx)
    m0 = T.index_asof_marker(idx)
    T.append_bm25_index(_df(spark, C_APPEND), idx)
    m1 = T.index_asof_marker(idx)
    assert T.delete_from_bm25_index(_ids(spark, [2]), idx) == 1
    m2 = T.index_asof_marker(idx)
    T.update_bm25_index(_df(spark, [(1, "epsilon zeta")]), idx)
    m3 = T.index_asof_marker(idx)
    return idx, (m0, m1, m2, m3)


def test_each_marker_replays_its_snapshot(spark, tmp_path, mutated):
    idx, (m0, m1, m2, m3) = mutated
    for name, marker, corpus in (
        ("m0", m0, C0),
        ("m1", m1, C1),
        ("m2", m2, C2),
        ("m3", m3, C3),
    ):
        assert _topk(spark, idx, as_of=marker) == _scratch(
            spark, tmp_path, name, corpus
        ), name


def test_delete_advances_the_marker(spark, tmp_path, mutated):
    idx, (m0, m1, m2, m3) = mutated
    # the r14 point: a delete between two captures must yield
    # DIFFERENT markers, or the pre-delete marker silently replays
    # the post-delete state
    assert m1 != m2
    pre = _topk(spark, idx, as_of=m1)
    post = _topk(spark, idx, as_of=m2)
    assert 2 in {d for d, _s in pre}
    assert 2 not in {d for d, _s in post}


def test_live_path_equals_newest_marker(spark, mutated):
    idx, (_m0, _m1, _m2, m3) = mutated
    assert _topk(spark, idx) == _topk(spark, idx, as_of=m3)


def test_batch_as_of_equals_single_query_calls(spark, mutated):
    idx, (_m0, m1, _m2, _m3) = mutated
    got = sorted(
        (r["q_id"], r["doc_id"], r["bm25"])
        for r in T.bm25_topk_batch_from_index(
            spark, idx, {10: TERMS, 11: ["filter"]}, k=50, as_of=m1
        ).collect()
    )
    want = sorted(
        [(10, d, s) for d, s in _topk(spark, idx, as_of=m1)]
        + [(11, d, s) for d, s in _topk(spark, idx, as_of=m1, terms=["filter"])]
    )
    assert got == want


def test_marker_validation(spark, mutated):
    idx, (m0, _m1, _m2, _m3) = mutated
    with pytest.raises(ValueError, match="outside the index"):
        _topk(spark, idx, as_of={"epoch": 0, "batch": 99})
    with pytest.raises(ValueError, match="marker from index_asof_marker"):
        _topk(spark, idx, as_of="yesterday")
    with pytest.raises(ValueError, match="marker from index_asof_marker"):
        _topk(spark, idx, as_of={"batch": 0})


def test_compaction_truncates_history_honestly(spark, tmp_path, mutated):
    idx, (m0, m1, _m2, m3) = mutated
    assert T.compact_bm25_index(spark, idx, force=True)["compacted"]
    for stale in (m0, m1, m3):  # m3 too: epoch bumped, numbering reset
        with pytest.raises(T.IndexHistoryTruncatedError):
            _topk(spark, idx, as_of=stale)
    # the post-compaction marker addresses the live state exactly
    m4 = T.index_asof_marker(idx)
    assert m4["epoch"] == 1
    assert _topk(spark, idx, as_of=m4) == _topk(spark, idx)
    assert _topk(spark, idx) == _scratch(spark, tmp_path, "post", C3)


def test_repair_preserves_consumed_slots(spark, tmp_path, mutated):
    """bm25_index_repair re-derives n_batches from the data; a delete
    consumes a slot with NO data generation, so repair must read the
    tombstones' _slot or it shrinks the timeline and invalidates (or
    worse, re-aims) markers captured after the delete."""
    idx, _markers = mutated
    assert T.delete_from_bm25_index(_ids(spark, [3]), idx) == 1
    m = T.index_asof_marker(idx)
    mp = os.path.join(idx, "_meta.json")
    meta = json.load(open(mp))
    meta["postings_rows"] = -1  # torn-sidecar signature
    json.dump(meta, open(mp, "w"))
    assert T.bm25_index_repair(spark, idx)["repaired"]
    assert T.index_asof_marker(idx) == m
    snap = [d for d in C3 if d[0] != 3]
    assert _topk(spark, idx, as_of=m) == _scratch(spark, tmp_path, "rep", snap)


def test_as_of_through_stream_upserts(spark, tmp_path):
    """Markers captured between micro-batches replay mid-stream
    states — the stream maintainer routes through the same slotted
    mutators, so time travel composes with streaming maintenance."""
    idx = str(tmp_path / "sbm25")
    b0 = [(i, f"alpha join body {i}") for i in range(6)]
    b1 = [(i, f"merge rewrite {i}") for i in range(3)]  # upsert 0..2
    assert T.bm25_index_apply_stream_batch(idx, _df(spark, b0), 0) is True
    mid = T.index_asof_marker(idx)
    assert T.bm25_index_apply_stream_batch(idx, _df(spark, b1), 1) is True
    end = T.index_asof_marker(idx)
    assert mid != end
    assert _topk(spark, idx, as_of=mid, terms=["join", "merge"]) == _scratch(
        spark, tmp_path, "smid", b0, terms=["join", "merge"]
    )
    final = b1 + [d for d in b0 if d[0] >= 3]
    assert _topk(spark, idx, as_of=end, terms=["join", "merge"]) == _scratch(
        spark, tmp_path, "send", final, terms=["join", "merge"]
    )


def test_marker_on_empty_index_raises(tmp_path):
    with pytest.raises(ValueError, match="no committed mutations"):
        T.index_asof_marker(str(tmp_path / "nothing_here"))


# ---- trigram index time travel (substring + fuzzy legs) ---------------

TRI_C0 = [
    (1, "alpha needle here"),
    (2, "no match body"),
    (3, "another needle doc"),
    (4, "plain text"),
]


@pytest.fixture()
def tri_mutated(spark, tmp_path):
    idx = str(tmp_path / "tri")
    T.write_trigram_index(_df(spark, TRI_C0), idx)
    m0 = T.index_asof_marker(idx)
    assert T.delete_from_trigram_index(_ids(spark, [3]), idx) == 1
    m1 = T.index_asof_marker(idx)
    T.update_trigram_index(_df(spark, [(2, "now a needle too")]), idx)
    T.write_trigram_index(_df(spark, [(9, "fresh needle append")]), idx)
    m2 = T.index_asof_marker(idx)
    c1 = [d for d in TRI_C0 if d[0] != 3]
    c2 = [(2, "now a needle too")] + [d for d in c1 if d[0] != 2] + [
        (9, "fresh needle append")
    ]
    return idx, (m0, m1, m2), {"m0": TRI_C0, "m1": c1, "m2": c2}


def test_substring_as_of_replays_snapshots(spark, tri_mutated):
    idx, (m0, m1, m2), snaps = tri_mutated
    want = {"m0": {1, 3}, "m1": {1}, "m2": {1, 2, 9}}
    for name, marker in (("m0", m0), ("m1", m1), ("m2", m2)):
        res, info = T.substring_search(
            _df(spark, snaps[name]), "needle", index_dir=idx, as_of=marker,
            scan_fraction=1.0,
        )
        assert info["strategy"] == "index"
        assert {r["doc_id"] for r in res.collect()} == want[name], name


def test_fuzzy_as_of_replays_snapshots(spark, tri_mutated):
    idx, (m0, m1, _m2), snaps = tri_mutated
    res, info = T.fuzzy_similarity_search(
        _df(spark, snaps["m0"]), "nedle", threshold=0.1, index_dir=idx,
        as_of=m0,
    )
    assert info["postings_source"] == "durable-asof"
    assert {r["doc_id"] for r in res.collect()} == {1, 3}
    res, _ = T.fuzzy_similarity_search(
        _df(spark, snaps["m1"]), "nedle", threshold=0.1, index_dir=idx,
        as_of=m1,
    )
    assert {r["doc_id"] for r in res.collect()} == {1}


def test_trigram_as_of_requires_index_dir(spark, tri_mutated):
    _idx, (m0, _m1, _m2), snaps = tri_mutated
    with pytest.raises(ValueError, match="requires index_dir"):
        T.substring_search(_df(spark, snaps["m0"]), "needle", as_of=m0)
    with pytest.raises(ValueError, match="requires index_dir"):
        T.fuzzy_similarity_search(
            _df(spark, snaps["m0"]), "nedle", threshold=0.1, as_of=m0
        )


def test_trigram_compaction_truncates_history(spark, tri_mutated):
    idx, (m0, m1, m2), snaps = tri_mutated
    assert T.compact_trigram_index(spark, idx, force=True)["compacted"]
    with pytest.raises(T.IndexHistoryTruncatedError):
        T.substring_search(
            _df(spark, snaps["m1"]), "needle", index_dir=idx, as_of=m1
        )
    m3 = T.index_asof_marker(idx)
    assert m3["epoch"] == 1
    res, _ = T.substring_search(
        _df(spark, snaps["m2"]), "needle", index_dir=idx, as_of=m3,
        scan_fraction=1.0,
    )
    assert {r["doc_id"] for r in res.collect()} == {1, 2, 9}


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_randomized_mutation_lifecycle(spark, tmp_path, seed):
    """Seeded random walk over the mutation grammar (append / delete
    / update), marker captured after every step; every marker must
    replay exactly the corpus state a from-scratch index over that
    snapshot produces. Catches ordering bugs no hand-written
    sequence was designed around."""
    import random

    rng = random.Random(seed)
    idx = str(tmp_path / f"walk_{seed}")
    words = ["join", "filter", "merge", "scan", "probe", "alpha", "beta"]

    def text(i):
        return " ".join(rng.choice(words) for _ in range(rng.randint(2, 6)))

    corpus = {i: text(i) for i in range(8)}
    T.write_bm25_index(_df(spark, sorted(corpus.items())), idx)
    history = [(T.index_asof_marker(idx), dict(corpus))]
    next_id = 8
    for _step in range(5):
        op = rng.choice(["append", "delete", "update"])
        if op == "append":
            new = {next_id + j: text(next_id + j) for j in range(2)}
            next_id += 2
            T.append_bm25_index(_df(spark, sorted(new.items())), idx)
            corpus.update(new)
        elif op == "delete" and corpus:
            victim = rng.choice(sorted(corpus))
            assert T.delete_from_bm25_index(_ids(spark, [victim]), idx) == 1
            del corpus[victim]
        else:
            if not corpus:
                continue
            victim = rng.choice(sorted(corpus))
            corpus[victim] = text(victim) + " rewritten"
            T.update_bm25_index(_df(spark, [(victim, corpus[victim])]), idx)
        history.append((T.index_asof_marker(idx), dict(corpus)))
    # every marker in one distinct-marker timeline...
    assert len({str(m) for m, _c in history}) == len(history)
    # ...replays its exact snapshot
    for i, (marker, snap) in enumerate(history):
        got = _topk(spark, idx, as_of=marker, terms=["join", "merge"])
        want = _scratch(
            spark, tmp_path, f"w{seed}_{i}", sorted(snap.items()),
            terms=["join", "merge"],
        )
        assert got == want, f"seed {seed} step {i}"


# ---- change-id -> marker mapping (commit-consistent time travel) ------

from lineage_store_database_management_system_spark.operators import corpus as C  # noqa: E402


def test_change_markers_recorded_and_replayable(spark, tmp_path):
    """apply_corpus_changes records each index's post-apply position
    under the change id, atomically with the completion marker;
    asof_markers_for_change hands the pair back so one change id
    addresses one consistent retrieval-stack state."""
    bidx = str(tmp_path / "cm_bm25")
    docs = [(i, f"alpha join body {i}") for i in range(12)]
    T.write_bm25_index(_df(spark, docs), bidx)
    C.apply_corpus_changes(7, deletes=_ids(spark, [0, 1]), bm25_dir=bidx)
    C.apply_corpus_changes(
        9,
        updates=_df(spark, [(2, "merge rewrite"), (3, "merge rewrite")]),
        bm25_dir=bidx,
    )
    m7 = C.asof_markers_for_change(7, bm25_dir=bidx)["bm25"]
    m9 = C.asof_markers_for_change(9, bm25_dir=bidx)["bm25"]
    r7 = {d for d, _s in _topk(spark, bidx, as_of=m7, terms=["join"])}
    r9 = {d for d, _s in _topk(spark, bidx, as_of=m9, terms=["join"])}
    assert r7 == set(range(2, 12))
    assert r9 == set(range(4, 12))
    assert _topk(spark, bidx, terms=["join"]) == _topk(
        spark, bidx, as_of=m9, terms=["join"]
    )
    # unknown change id -> honest retention error, never a wrong marker
    with pytest.raises(KeyError, match="no as-of marker"):
        C.asof_markers_for_change(99, bm25_dir=bidx)


def test_change_marker_cap_trims_oldest(spark, tmp_path):
    import json

    bidx = str(tmp_path / "cm_cap")
    T.write_bm25_index(_df(spark, [(1, "alpha")]), bidx)
    cap = _idxmeta._CHANGE_MARKER_CAP
    # simulate a long-running sync cadence without paying cap Spark
    # jobs: seed the map to the cap, then one real apply must evict
    # exactly the oldest entry
    mp = os.path.join(bidx, "_meta.json")
    meta = json.load(open(mp))
    meta["change_markers"] = {
        "corpus_changes": {
            str(i): {"epoch": 0, "batch": 0} for i in range(cap)
        }
    }
    meta["stream_appends"] = {
        "corpus_changes": {"stream_batch": cap - 1, "completed": True}
    }
    json.dump(meta, open(mp, "w"))
    C.apply_corpus_changes(cap, deletes=_ids(spark, [99]), bm25_dir=bidx)
    hist = json.load(open(mp))["change_markers"]["corpus_changes"]
    assert len(hist) == cap
    assert "0" not in hist and str(cap) in hist
    with pytest.raises(KeyError):
        C.asof_markers_for_change(0, bm25_dir=bidx)


def test_full_stack_commit_consistent_time_travel(spark, tmp_path):
    """The round-14 capstone composition end to end: a lineage table
    is the corpus of record, CDC syncs keep a trigram index
    following it, and ONE table commit id addresses one consistent
    state of BOTH — snapshot_at_commit for the text,
    asof_markers_for_change -> as_of for the index. The as-of
    substring search over the versioned frame must equal contains()
    over that same frame, even though table and index have both
    moved on (a post-commit delete must resurrect, a post-commit
    injected pattern must not leak)."""
    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark.catalog import Database

    rows = [
        (1, "alpha needle here"),
        (2, "no match body"),
        (3, "another needle doc"),
        (4, "plain text"),
    ]
    db = Database(spark).open(str(tmp_path / "db"))
    t = db.create_table_typed(
        "docs_fs", _df(spark, rows).schema, "doc_id"
    )
    t.ingest_dataframe(_df(spark, rows))
    k0 = t.filelog.replayable_range()[1]
    idx = str(tmp_path / "fs_tri")
    T.write_trigram_index(t.current_view().select("doc_id", "text"), idx)
    # wave 1: delete doc 3
    t.bulk_delete(_ids(spark, [3]))
    rep1 = C.sync_indexes_from_table(t, trigram_dir=idx, built_at_commit=k0)
    assert rep1["applied"]["trigram"] is True
    c1 = rep1["synced_to"]
    # wave 2: doc 2 now contains the pattern, doc 1 loses it
    t.bulk_update(_df(spark, [(2, "now a needle too"), (1, "scrubbed")]))
    rep2 = C.sync_indexes_from_table(t, trigram_dir=idx, built_at_commit=k0)
    assert rep2["applied"]["trigram"] is True
    # one commit id -> one consistent (text, index) state
    snap = t.snapshot_at_commit(c1).select("doc_id", "text")
    marker = C.asof_markers_for_change(c1, trigram_dir=idx)["trigram"]
    res, info = T.substring_search(
        snap, "needle", index_dir=idx, as_of=marker, scan_fraction=1.0
    )
    assert info["strategy"] == "index"
    assert {r["doc_id"] for r in res.collect()} == {1}
    # and the live pair agrees with the live state
    res2, _ = T.substring_search(
        t.current_view().select("doc_id", "text"),
        "needle",
        index_dir=idx,
        scan_fraction=1.0,
    )
    assert {r["doc_id"] for r in res2.collect()} == {2}


# ---- ANN index time travel (same contract, vector leg) ----------------

from lineage_store_database_management_system_spark.operators import similarity as S  # noqa: E402


def _vecs(lo, hi, shift=0.0):
    import random

    return [
        (i, [random.Random(i * 31 + j).random() + shift for j in range(8)])
        for i in range(lo, hi)
    ]


def _vdf(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _ann_topk(spark, idx, as_of=None):
    q = [0.5] * 8
    return sorted(
        (r["vec_id"], round(r["cosine"], 6))
        for r in S.ivf_pq_topk_from_index(
            spark, idx, q, k=100, nprobe=4, n_candidates=1000, as_of=as_of
        ).collect()
    )


def _ann_scratch(spark, tmp_path, name, rows):
    d = str(tmp_path / f"ann_scratch_{name}")
    S.ivf_pq_write_index(_vdf(spark, rows), d, n_lists=4, m=4, nbits=4)
    return _ann_topk(spark, d)


@pytest.fixture()
def ann_mutated(spark, tmp_path):
    idx = str(tmp_path / "ann")
    base = _vecs(0, 60)
    S.ivf_pq_write_index(_vdf(spark, base), idx, n_lists=4, m=4, nbits=4)
    m0 = S.ann_index_asof_marker(idx)
    add = _vecs(60, 80)
    S.ivf_pq_append_index(_vdf(spark, add), idx)
    m1 = S.ann_index_asof_marker(idx)
    dead = spark.createDataFrame([(i,) for i in range(10)], ["vec_id"])
    assert S.ivf_pq_delete_from_index(dead, idx) == 10
    m2 = S.ann_index_asof_marker(idx)
    upd = _vecs(10, 15, shift=0.5)
    S.ivf_pq_update_index(_vdf(spark, upd), idx)
    m3 = S.ann_index_asof_marker(idx)
    snaps = {
        "m0": base,
        "m1": base + add,
        "m2": [r for r in base + add if r[0] >= 10],
    }
    snaps["m3"] = upd + [r for r in snaps["m2"] if not (10 <= r[0] < 15)]
    return idx, (m0, m1, m2, m3), snaps


def test_ann_markers_replay_snapshots(spark, tmp_path, ann_mutated):
    idx, (m0, m1, m2, m3), snaps = ann_mutated
    # nprobe = n_lists and n_candidates >= corpus make both the as-of
    # read and the scratch ground truth EXACT, so retrained scratch
    # centroids can't change the comparison
    assert len({str(m) for m in (m0, m1, m2, m3)}) == 4
    for name, marker in (("m0", m0), ("m1", m1), ("m2", m2), ("m3", m3)):
        assert _ann_topk(spark, idx, as_of=marker) == _ann_scratch(
            spark, tmp_path, name, snaps[name]
        ), name
    assert _ann_topk(spark, idx) == _ann_topk(spark, idx, as_of=m3)


def test_ann_batch_as_of_matches_single(spark, ann_mutated):
    idx, (_m0, m1, _m2, _m3), _snaps = ann_mutated
    q = [0.5] * 8
    qdf = spark.createDataFrame([(1, q)], ["q_id", "q_embedding"])
    got = sorted(
        (r["vec_id"], round(r["cosine"], 6))
        for r in S.ivf_pq_topk_batch_from_index(
            spark, idx, qdf, k=100, nprobe=4, as_of=m1
        ).collect()
    )
    assert got == _ann_topk(spark, idx, as_of=m1)


def test_ann_compaction_truncates_history(spark, tmp_path, ann_mutated):
    idx, (m0, _m1, _m2, m3), snaps = ann_mutated
    assert S.ivf_pq_compact_index(spark, idx, force=True)["compacted"]
    for stale in (m0, m3):
        with pytest.raises(T.IndexHistoryTruncatedError):
            _ann_topk(spark, idx, as_of=stale)
    m4 = S.ann_index_asof_marker(idx)
    assert m4["epoch"] == 1
    assert _ann_topk(spark, idx, as_of=m4) == _ann_topk(spark, idx)
    assert _ann_topk(spark, idx) == _ann_scratch(
        spark, tmp_path, "post", snaps["m3"]
    )


def test_ann_repair_preserves_consumed_slots(spark, ann_mutated):
    """ivf_pq_index_repair re-derives n_batches from max(_gen); a
    delete's consumed slot has no data generation, so the repair must
    read the tombstones' _slot or markers taken after the delete
    re-aim at the wrong state."""
    import json

    idx, _markers, _snaps = ann_mutated
    dead = spark.createDataFrame([(20,)], ["vec_id"])
    assert S.ivf_pq_delete_from_index(dead, idx) == 1
    m = S.ann_index_asof_marker(idx)
    before = _ann_topk(spark, idx, as_of=m)
    mp = os.path.join(idx, "_ann_meta.json")
    meta = json.load(open(mp))
    meta["data_rows"] = -1  # torn-sidecar signature
    json.dump(meta, open(mp, "w"))
    assert S.ivf_pq_index_repair(spark, idx)["repaired"]
    assert S.ann_index_asof_marker(idx) == m
    assert _ann_topk(spark, idx, as_of=m) == before
