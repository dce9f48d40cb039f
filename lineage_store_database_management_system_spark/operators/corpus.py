"""Coordinated corpus mutation across the durable retrieval indexes
(VERDICT r13 next-steps #5): one call applies the same change set —
deletes + re-indexed documents/vectors — to the BM25, trigram, and
ANN indexes, and is itself crash-convergent, so hybrid retrieval can
never silently fuse one mutated leg with one stale leg.

The reference has no retrieval surface at all (its closest analogue
is the single-column key index, reference query.py:34); this is the
extension layer's multi-index transaction-ish primitive. True
cross-index atomicity is not claimed — a reader between two index
applies sees one index ahead of the other, same as any pair of
independently maintained systems — what IS guaranteed is
CONVERGENCE: every index reaches the post-change state after enough
retries, a crash anywhere included, because each index application
runs under its own reservation-marker discipline
(_idxmeta.IndexFamily.apply_stream_batch): already-applied indexes skip
on retry, a torn apply repairs (markers-vs-footers) and re-applies
through update semantics, so exactly one live generation of each
changed id survives however many attempts ran."""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "apply_corpus_changes",
    "asof_markers_for_change",
    "sync_indexes_from_table",
]


def asof_markers_for_change(
    change_id: int,
    bm25_dir: str | None = None,
    trigram_dir: str | None = None,
    ann_dir: str | None = None,
    stream_id: str = "corpus_changes",
) -> dict:
    """The CONSISTENT as-of marker set recorded when ``change_id``
    completed on each supplied index — the bridge between the lineage
    table's commit timeline and the indexes' mutation timelines (r14
    time travel). :func:`apply_corpus_changes` (and therefore
    :func:`sync_indexes_from_table`, which keys changes by the
    table's commit id) records each index's post-apply position under
    the change id in the same atomic meta publish as the completion
    marker, so the pair can never drift. Feed the returned markers to
    ``as_of=`` on the index query operators — combined with the
    table's own ``snapshot_at_commit``, the WHOLE stack (store +
    retrieval) replays one commit-consistent state.

    Raises ``KeyError`` when an index has no marker for the change id
    (never applied, or older than the retention cap / last
    compaction) — like the CDC retention error, never a silently
    wrong marker. Metadata-plane only."""
    from ._idxmeta import read_raw_meta

    out = {}
    for key, d, fam in _families(bm25_dir, trigram_dir, ann_dir):
        hist = (read_raw_meta(d, fam.meta_name).get("change_markers") or {}).get(
            stream_id
        ) or {}
        m = hist.get(str(int(change_id)))
        if m is None:
            raise KeyError(
                f"{key} index has no as-of marker for change "
                f"{change_id}: the change was never applied there, or "
                "the marker aged past the retention cap "
                "(_idxmeta._CHANGE_MARKER_CAP) or the last "
                "compaction"
            )
        out[key] = {"epoch": int(m["epoch"]), "batch": int(m["batch"])}
    if not out:
        raise ValueError("asof_markers_for_change needs at least one index dir")
    return out


def apply_corpus_changes(
    change_id: int,
    deletes: DataFrame | None = None,
    updates: DataFrame | None = None,
    bm25_dir: str | None = None,
    trigram_dir: str | None = None,
    ann_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> dict:
    """Apply one corpus change set to every supplied index.

    ``change_id`` is the idempotence key: a monotonically increasing
    integer per index set (a CDC batch id, a commit sequence). Reusing
    an applied id is a recorded no-op; replaying a crashed id
    converges. ``deletes`` is a one-column id frame; ``updates``
    carries ``id_col`` plus ``text_col`` (re-indexed into BM25 +
    trigram) and/or ``vec_col`` (re-indexed into ANN) — an id in
    ``updates`` that was also in ``deletes`` ends up LIVE under its
    new content (delete applies first, update re-inserts).

    Returns ``{"bm25": bool, "trigram": bool, "ann": bool}`` — True
    where THIS call applied the change, False where the index had
    already absorbed it (or was not supplied). Concurrent maintainers
    are fenced per index by the sidecar CAS (operators/_idxmeta.py);
    a conflict aborts that index's apply with
    ``IndexConcurrentWriteError`` before any write, and the retry
    skips the indexes that already completed."""
    from . import similarity, textsearch

    stream_id = "corpus_changes"
    applied = {"bm25": False, "trigram": False, "ann": False}

    # The change-set frames are typically DERIVED (a CDC feed joined
    # through the table's current-view fold — see
    # sync_indexes_from_table) and every index family consumes them
    # again: delete + re-index per family re-ran the whole derivation
    # up to ~6x per sync. Persist them for the duration of the apply —
    # lazily, so an all-indexes-already-applied retry (the skip path)
    # never computes them at all; unpersisted before returning.
    # Only pin frames the CALLER has not persisted: persist() on a
    # frame already cached at a non-default level raises, and the
    # finally below must not silently drop a caller's own cache
    # (ADVICE r14). StorageLevel NONE <=> not persisted.
    pinned = [
        f
        for f in (deletes, updates)
        if f is not None
        and not f.storageLevel.useMemory
        and not f.storageLevel.useDisk
    ]
    for f in pinned:
        f.persist()

    def _text_update(kind: str, index_dir: str):
        delete = (
            textsearch.delete_from_bm25_index
            if kind == "bm25"
            else textsearch.delete_from_trigram_index
        )
        reindex = (
            textsearch.update_bm25_index
            if kind == "bm25"
            else textsearch.update_trigram_index
        )

        def _fn():
            if deletes is not None:
                delete(deletes.select(deletes.columns[0]), index_dir)
            if updates is not None and text_col in updates.columns:
                reindex(
                    updates.select(id_col, text_col), index_dir,
                    id_col, text_col,
                )

        return _fn

    def _ann_update(index_dir: str):
        def _fn():
            if deletes is not None:
                similarity.ivf_pq_delete_from_index(
                    deletes.select(deletes.columns[0]), index_dir
                )
            if updates is not None and vec_col in updates.columns:
                meta = similarity.IVF_PQ.read_meta(index_dir)
                similarity.ivf_pq_update_index(
                    updates.select(
                        updates[id_col].alias(meta["id_col"]),
                        updates[vec_col].alias(meta["vec_col"]),
                    ),
                    index_dir,
                )

        return _fn

    try:
        for key, d, fam in _families(bm25_dir, trigram_dir, ann_dir):
            update = _ann_update(d) if key == "ann" else _text_update(key, d)
            applied[key] = fam.apply_stream_batch(
                _session(deletes, updates), d, change_id, stream_id, update
            )
    finally:
        for f in pinned:
            f.unpersist()
    return applied


def _families(bm25_dir, trigram_dir, ann_dir):
    """(key, index dir, lifecycle family) of every supplied index."""
    from . import similarity, textsearch

    return [
        (key, d, fam)
        for key, d, fam in (
            ("bm25", bm25_dir, textsearch.BM25),
            ("trigram", trigram_dir, textsearch.TRIGRAM),
            ("ann", ann_dir, similarity.IVF_PQ),
        )
        if d is not None
    ]


def _session(*frames):
    for f in frames:
        if f is not None:
            return f.sparkSession
    raise ValueError(
        "apply_corpus_changes needs at least one of deletes/updates"
    )


def sync_indexes_from_table(
    table,
    bm25_dir: str | None = None,
    trigram_dir: str | None = None,
    ann_dir: str | None = None,
    text_col: str = "text",
    vec_col: str = "embedding",
    built_at_commit: int = 0,
) -> dict:
    """Bring the retrieval indexes up to date with a lineage TABLE —
    the store is the source of truth, search follows it. One call:
    read the table's CDC feed since the indexes' watermark
    (:meth:`LineageTable.changes_between_commits` — opens exactly the
    files those commits added), resolve the touched keys against the
    CURRENT view (an update delta may carry only the changed columns;
    re-indexing needs the full row), and push one change set through
    :func:`apply_corpus_changes` with the table's commit id as the
    idempotence key.

    The watermark is the per-index ``corpus_changes`` marker itself
    (the minimum over the supplied indexes; an index mid-crash counts
    from its last COMPLETED commit), so no separate sync-state file
    can drift from what the indexes actually absorbed. Indexes built
    from a snapshot of the table pass ``built_at_commit`` (the
    commit they were built at) so the first sync doesn't replay
    history they already contain — replaying it anyway would still
    CONVERGE (change sets are derived from the current view, so
    re-applying is delete-noop + same-value re-index), just
    wastefully. Crash anywhere and re-call: completed indexes skip,
    torn ones repair and re-apply. Windows beyond the table's CDC
    retention raise the table's standard retention error. Returns
    ``{"synced_from", "synced_to", "applied"}``."""
    from pyspark.sql import functions as F

    from ._idxmeta import read_raw_meta

    id_col = table.key
    lo = None
    for _key, d, fam in _families(bm25_dir, trigram_dir, ann_dir):
        m = (read_raw_meta(d, fam.meta_name).get("stream_appends") or {}).get(
            "corpus_changes"
        )
        if m is None:
            w = int(built_at_commit)
        elif m.get("completed"):
            w = int(m["stream_batch"])
        else:
            w = int(m["stream_batch"]) - 1
        lo = w if lo is None else min(lo, w)
    if lo is None:
        raise ValueError(
            "sync_indexes_from_table needs at least one index dir"
        )
    rng = table.filelog.replayable_range()
    hi = rng[1] if rng else 0
    noop = {"bm25": False, "trigram": False, "ann": False}
    if hi <= lo:
        return {"synced_from": lo, "synced_to": lo, "applied": noop}
    ch = table.changes_between_commits(lo, hi)
    touched = ch.select(F.col(id_col)).distinct()
    cur = table.current_view().join(touched, on=id_col, how="left_semi")
    cols = [id_col] + [
        c for c in (text_col, vec_col) if c in table.user_cols
    ]
    updates = cur.select(*cols)
    deletes = touched.join(
        cur.select(id_col), on=id_col, how="left_anti"
    )
    applied = apply_corpus_changes(
        hi,
        deletes,
        updates,
        bm25_dir=bm25_dir,
        trigram_dir=trigram_dir,
        ann_dir=ann_dir,
        id_col=id_col,
        text_col=text_col,
        vec_col=vec_col,
    )
    return {"synced_from": lo, "synced_to": hi, "applied": applied}
