"""The durable retrieval indexes' shared lifecycle (BM25, trigram,
IVF-PQ): one sidecar compare-and-swap, one tombstone discipline, one
as-of replay, one matched-live delete, one set of footer markers, one
repair, one compaction trigger and swap, and one exactly-once stream
apply. The kernel modules (``textsearch``, ``similarity``) keep only
what differs per family — tokenize/score, trigram extraction, PQ
assign/encode/ADC — and describe their layout with an
:class:`IndexFamily` subclass.

This is L-Store's change mechanism applied to the indexes: immutable
generations (``_batch``/``_gen`` stamped on every row), a tail of
deletes (tombstones ``(id, _upto, _slot)``), and one consolidation
step (compaction) that rewrites the live rows into a fresh directory
and swaps it in whole.

Sidecar discipline (the lineage tables' ``_ManifestLock`` /
``ConcurrentWriteError`` protocol ported to the indexes):

- every meta carries a monotonically increasing ``commit_seq``;
- a mutation RESERVES before its first data write
  (:func:`reserve_meta`): under the lock-file mutex, the disk
  ``commit_seq`` must equal the snapshot the mutator read — a loser
  aborts with :class:`IndexConcurrentWriteError` BEFORE publishing
  anything, the winner's files untouched; the reservation publishes
  a ``_pending`` lease (writer token + wall-clock) so a second
  writer conflicts for the whole data-write window, not just the
  meta rewrite (index mutations, unlike lineage appends, do not
  commute: generation ids and additive counters both collide);
- the final counter rewrite PUBLISHES (:func:`publish_meta`): the
  disk lease must still be ours, and the pending marker is cleared
  in the same atomic rename;
- marker-only rewrites that must not clobber or be clobbered (the
  stream-batch reservation markers) go through
  :func:`update_meta_atomic` — a read-modify-write under the same
  mutex that also conflicts with a foreign active lease;
- the repair functions bypass the lease (``heal=True``): they are
  the designated owners of a torn state, including one left by a
  writer that died holding its lease.

A crashed writer's lease expires after :data:`PENDING_STALE_S`;
the next reservation clears it but still aborts with a retry
error, because the dead writer may have landed parquet without its
counters — the caller (or the maintenance cadence) runs the family
repair and retries on fresh state. Locks are ``O_CREAT|O_EXCL``
files — atomic on POSIX local filesystems; on HDFS/ABFS the same
role is played by atomic rename-without-overwrite."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import functions as F

__all__ = [
    "IndexConcurrentWriteError",
    "read_raw_meta",
    "reserve_meta",
    "publish_meta",
    "abandon_meta",
    "update_meta_atomic",
    "retry_on_conflict",
    "IndexHistoryTruncatedError",
    "IndexFamily",
    "footer_rows",
    "recover",
    "swap_in",
]

# A crashed writer's lease is clearable after this long. Generous on
# purpose: the lease spans the mutation's DATA writes, which are real
# Spark jobs at scale — breaking a healthy slow writer is worse than
# waiting (the lineage lock can stay at 60 s because it only guards
# the tiny manifest CAS, never a data write).
PENDING_STALE_S = 1800.0


class IndexConcurrentWriteError(RuntimeError):
    """Another writer reserved or committed this index since our
    sidecar snapshot was read. The losing mutation is aborted BEFORE
    any of its files are published (every index mutation reserves —
    and therefore CASes the sidecar — before writing data), so no
    committed data is ever lost or mixed. Re-read the index state
    and retry."""


class _MetaLock:
    """Filesystem mutex guarding a sidecar's read-compare-write —
    the lineage ``_ManifestLock`` shape (lineage.py:138). Held only
    for the tiny JSON read/write, never across a data job."""

    STALE_AFTER_S = 60.0
    TIMEOUT_S = 30.0

    def __init__(self, index_dir: str, meta_name: str):
        self.path = os.path.join(index_dir, meta_name + ".lock")

    def __enter__(self):
        deadline = time.monotonic() + self.TIMEOUT_S
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.path)
                    if age > self.STALE_AFTER_S:
                        os.unlink(self.path)  # crashed writer; reclaim
                        continue
                except OSError:
                    continue  # lock vanished between checks; retry
                if time.monotonic() > deadline:
                    raise TimeoutError(f"could not acquire {self.path}")
                time.sleep(0.02)

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except OSError:
            pass


def read_raw_meta(index_dir: str, meta_name: str) -> dict:
    try:
        with open(os.path.join(index_dir, meta_name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _atomic_dump(index_dir: str, meta_name: str, meta: dict) -> None:
    path = os.path.join(index_dir, meta_name)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def _check_foreign_lease(disk: dict, token: str | None, where: str) -> None:
    p = disk.get("_pending")
    if not p or (token is not None and p.get("token") == token):
        return
    age = time.time() - float(p.get("ts", 0))
    if age <= PENDING_STALE_S:
        raise IndexConcurrentWriteError(
            f"{where}: another writer holds this index's write lease "
            f"(age {age:.0f}s); abort and retry"
        )


def reserve_meta(
    index_dir: str, meta: dict, meta_name: str = "_meta.json"
) -> None:
    """CAS-claim the index for one mutation, BEFORE any data write.

    ``meta`` is the mutator's sidecar snapshot (it will carry the
    granted lease token through to :func:`publish_meta`). Raises
    :class:`IndexConcurrentWriteError` — with nothing published —
    when the disk sidecar advanced past the snapshot, or when
    another writer's unexpired lease is active. An EXPIRED lease
    (crashed writer) is cleared, but the reservation still aborts
    with a retry error: the dead writer may have landed parquet
    without its counters, so the caller must re-read (the family
    repair heals any torn state on the maintenance cadence)."""
    os.makedirs(index_dir, exist_ok=True)
    with _MetaLock(index_dir, meta_name):
        disk = read_raw_meta(index_dir, meta_name)
        if int(disk.get("commit_seq", 0)) != int(meta.get("commit_seq", 0)):
            raise IndexConcurrentWriteError(
                f"index {index_dir!r}: sidecar advanced to commit_seq="
                f"{disk.get('commit_seq', 0)} (we hold "
                f"{meta.get('commit_seq', 0)}); re-read and retry"
            )
        p = disk.get("_pending")
        if p is not None:
            age = time.time() - float(p.get("ts", 0))
            if age <= PENDING_STALE_S:
                raise IndexConcurrentWriteError(
                    f"index {index_dir!r}: another writer holds the "
                    f"write lease (age {age:.0f}s); abort and retry"
                )
            disk.pop("_pending", None)
            disk["commit_seq"] = int(disk.get("commit_seq", 0)) + 1
            _atomic_dump(index_dir, meta_name, disk)
            raise IndexConcurrentWriteError(
                f"index {index_dir!r}: cleared a stale write lease "
                f"(writer died {age:.0f}s ago, possibly mid-write) — "
                "run the index repair, re-read, and retry"
            )
        lease = {"token": uuid.uuid4().hex, "ts": time.time()}
        out = dict(disk)
        out["_pending"] = lease
        out["commit_seq"] = int(disk.get("commit_seq", 0)) + 1
        _atomic_dump(index_dir, meta_name, out)
        meta["_pending"] = lease
        meta["commit_seq"] = out["commit_seq"]


def publish_meta(
    index_dir: str,
    meta: dict,
    meta_name: str = "_meta.json",
    heal: bool = False,
) -> None:
    """Commit the mutator's final counters, clearing its lease.

    With a lease in ``meta`` (the normal reserve->publish pair), the
    disk lease must still be ours — a broken/cleared lease raises,
    because another writer may have acted on our torn state.
    ``heal=True`` is the repair functions' door: they own torn
    states by definition, so they publish unconditionally and clear
    whatever lease remains."""
    with _MetaLock(index_dir, meta_name):
        disk = read_raw_meta(index_dir, meta_name)
        mine = meta.pop("_pending", None)
        if heal:
            pass  # repairs own torn states, lease included
        elif mine is not None:
            p = disk.get("_pending")
            if not p or p.get("token") != mine.get("token"):
                raise IndexConcurrentWriteError(
                    f"index {index_dir!r}: our write lease was broken "
                    "mid-mutation (exceeded PENDING_STALE_S?); the "
                    "index may hold our unpublished rows — run the "
                    "index repair"
                )
        else:
            _check_foreign_lease(disk, None, f"index {index_dir!r} publish")
        out = dict(meta)
        out.pop("_pending", None)
        out["commit_seq"] = int(disk.get("commit_seq", 0)) + 1
        _atomic_dump(index_dir, meta_name, out)


def abandon_meta(
    index_dir: str, meta: dict, meta_name: str = "_meta.json"
) -> None:
    """Release a reservation whose mutation turned out to be a no-op
    (e.g. a delete that matched nothing): clears our lease without
    changing any counters."""
    with _MetaLock(index_dir, meta_name):
        disk = read_raw_meta(index_dir, meta_name)
        mine = meta.pop("_pending", None)
        p = disk.get("_pending")
        if mine is not None and p and p.get("token") == mine.get("token"):
            disk.pop("_pending", None)
            disk["commit_seq"] = int(disk.get("commit_seq", 0)) + 1
            _atomic_dump(index_dir, meta_name, disk)


def update_meta_atomic(
    index_dir: str, fn, meta_name: str = "_meta.json"
) -> dict:
    """Marker-only read-modify-write under the mutex (the stream-
    batch reservation markers): can neither clobber nor be clobbered
    by a concurrent counter publish, and conflicts with a foreign
    active lease like any other writer. ``fn(meta) -> None`` mutates
    in place; returns the written meta."""
    os.makedirs(index_dir, exist_ok=True)
    with _MetaLock(index_dir, meta_name):
        disk = read_raw_meta(index_dir, meta_name)
        _check_foreign_lease(disk, None, f"index {index_dir!r} marker")
        fn(disk)
        disk["commit_seq"] = int(disk.get("commit_seq", 0)) + 1
        _atomic_dump(index_dir, meta_name, disk)
        return disk


def retry_on_conflict(op, max_attempts: int = 8, backoff_s: float = 0.05):
    """Run an index mutation with bounded optimistic-concurrency
    retries — the lineage tables' ``rebase_retry`` (lineage.py:465)
    for the retrieval indexes. Safe for every public index mutation
    (write/append/delete/update/compact for BM25, trigram, and ANN):
    each re-reads its sidecar snapshot internally and reserves before
    any data write, so a conflict aborts with nothing published and
    ``op`` is re-runnable verbatim. Linear backoff bounds livelock
    under contention; the final conflict re-raises. Returns
    ``op()``'s result."""
    last: IndexConcurrentWriteError | None = None
    for attempt in range(max_attempts):
        try:
            return op()
        except IndexConcurrentWriteError as e:
            last = e
            time.sleep(backoff_s * (attempt + 1))
    raise last  # type: ignore[misc]


class IndexHistoryTruncatedError(ValueError):
    """An as-of marker addresses generations the index no longer
    holds: compaction physically swept the dead rows and tombstones
    the marker's reconstruction needs. The retention contract is the
    lineage tables' (filelog.py changes_between_commits raising
    outside its horizon; Delta VACUUM + time travel): history older
    than the last compaction is gone, and asking for it raises
    instead of returning a silently wrong answer."""


#: newest change->marker entries kept per (index, stream) — a meta
#: size bound; compaction's epoch bump is the true retention edge
_CHANGE_MARKER_CAP = 256


def footer_rows(path: str) -> int:
    """Exact row count of a parquet table from FILE FOOTERS alone (no
    Spark job, no data bytes — the LIST + footer-read pass any engine
    pays to plan a scan); 0 for a missing dir. This is the marker
    check's ground truth: a parquet write and its sidecar rewrite are
    two writes, so a crash between them shows as a recorded marker
    that differs from this count. Partition dirs (``_list=N``) are
    walked; other underscore/dot subtrees (the ANN ``_tombstones``,
    Spark's staging dirs) are skipped."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [
            d for d in dirs if d.startswith("_list=") or not d.startswith(("_", "."))
        ]
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, fn)).num_rows
    return int(total)


def recover(index_dir: str, meta_name: str) -> bool:
    """Heal a crash inside a whole-directory swap (rename index_dir ->
    ``_old_{t}``; rename ``_rebuild_{t}`` -> index_dir; rmtree the old):
    a crash between the two renames leaves NOTHING at index_dir, with
    the previous index intact under the ``_old_`` sibling and the
    rebuild under the ``_rebuild_`` sibling. Promote the rebuild if it
    is complete (its sidecar is written last, atomically — presence
    means complete), else restore the old index; then sweep the
    superseded siblings. No-op while index_dir exists. Returns True
    when a recovery happened."""
    base = index_dir.rstrip("/")
    if os.path.isdir(base):
        return False
    candidates = sorted(glob.glob(base + "_rebuild_*")) + sorted(
        glob.glob(base + "_old_*")
    )
    for c in candidates:
        if os.path.isfile(os.path.join(c, meta_name)):
            try:
                os.rename(c, base)
            except OSError:
                if not os.path.isdir(base):
                    raise
            break
    else:
        return False
    for leftover in glob.glob(base + "_rebuild_*") + glob.glob(base + "_old_*"):
        shutil.rmtree(leftover, ignore_errors=True)
    return True


def swap_in(index_dir: str, fresh: str, token: str) -> None:
    """Replace index_dir with the complete sibling ``fresh`` (its
    sidecar already written): one rename out, one rename in, then the
    old tree goes. :func:`recover` heals a crash between the renames."""
    old = f"{index_dir.rstrip('/')}_old_{token}"
    os.rename(index_dir, old)
    os.rename(fresh, index_dir)
    shutil.rmtree(old, ignore_errors=True)


class IndexFamily:
    """One durable index family's layout plus the lifecycle every
    family shares. A subclass names its sidecar, generation column,
    tombstone dir, marker tables and generation-stamped data tables,
    and fills in the kernel hooks (``id_col``, ``members``,
    ``pressure``, ``write``, ``delete_aggs``, ``on_delete``,
    ``rebuild_derived``, ``heal``); everything below the hooks is
    written once.

    Every mutation consumes one SLOT on the index's timeline: appends
    stamp their generation number into their rows, deletes write
    tombstones ``(id, _upto, _slot)`` — ``_upto`` kills the id's
    generations ``<= _upto`` (so a delete-then-append of the same id
    keeps the re-indexed row live) and ``_slot`` records when the
    delete happened, so as-of markers order deletes against appends
    exactly. ``epoch`` counts compactions."""

    meta_name = "_meta.json"
    gen_col = "_batch"
    tomb_sub = "tombstones"
    #: sidecar marker key -> table subdir ("" is the index root)
    markers: dict = {}
    #: generation-stamped tables compaction rewrites
    data_subs: tuple = ()
    #: integer counters every reader may rely on
    counters: tuple = ("n_batches", "n_dead")

    # --- kernel hooks ----------------------------------------------

    def id_col(self, meta: dict, df) -> str:
        raise NotImplementedError

    def tomb_id(self, meta: dict) -> str:
        return "_dead_id"

    def members(self, spark, index_dir: str, meta: dict):
        """(id, generation, ...) rows of every indexed document, or
        None when the index has none yet."""
        raise NotImplementedError

    def pressure(self, meta: dict) -> tuple:
        """(report, total rows) for the compaction trigger."""
        raise NotImplementedError

    def write(self, sub: str, df, path: str, mode: str) -> None:
        df.write.mode(mode).parquet(path)

    def delete_aggs(self) -> tuple:
        """Extra per-id sums over a delete's matched live member rows
        (besides their count, ``rows``)."""
        return ()

    def on_delete(self, meta: dict, agg: dict) -> None:
        """Move the family's counters by a delete's matched rows."""

    def rebuild_derived(self, spark, root: str, meta: dict) -> None:
        """Rebuild tables/sidecar stats derived from the data tables
        under ``root`` (a compaction's fresh tree, or a repair's index
        dir)."""

    def heal(self, spark, index_dir: str, meta: dict) -> None:
        """Repair's structural healing and counter re-derivation."""

    # --- sidecar ---------------------------------------------------

    def path(self, index_dir: str, sub: str) -> str:
        return os.path.join(index_dir, sub) if sub else index_dir

    def read_meta(self, index_dir: str) -> dict:
        """The sidecar (healing an interrupted swap first when the
        index dir is missing), counters as ints; {} counters for an
        index that does not exist yet."""
        meta = read_raw_meta(index_dir, self.meta_name)
        if not meta and recover(index_dir, self.meta_name):
            meta = read_raw_meta(index_dir, self.meta_name)
        for k in self.counters:
            meta[k] = int(meta.get(k, 0))
        return meta

    def reserve(self, index_dir: str, meta: dict) -> None:
        reserve_meta(index_dir, meta, self.meta_name)

    def abandon(self, index_dir: str, meta: dict) -> None:
        abandon_meta(index_dir, meta, self.meta_name)

    def footers(self, index_dir: str) -> dict:
        return {
            k: footer_rows(self.path(index_dir, sub))
            for k, sub in self.markers.items()
        }

    def publish(self, index_dir: str, meta: dict, heal: bool = False) -> None:
        """Record the footer row counts of every marker table, then
        publish the sidecar by CAS — a matching marker set certifies
        the counters were written AFTER the parquet they describe."""
        meta.update(self.footers(index_dir))
        publish_meta(index_dir, meta, self.meta_name, heal=heal)

    # --- reads: tombstones, live filter, as-of ---------------------

    def tombstones(self, spark, index_dir: str, meta: dict):
        """``(_dead_id, _upto, _slot)`` or None when nothing was
        deleted since the last compaction."""
        path = self.path(index_dir, self.tomb_sub)
        if not os.path.isdir(path):
            return None
        tomb = spark.read.parquet(path)
        tid = self.tomb_id(meta)
        return tomb if tid == "_dead_id" else tomb.withColumnRenamed(tid, "_dead_id")

    def filtered(self, df, tomb, idc: str, upto: int | None = None):
        """``df``'s rows that are live — or, with ``upto``, were live
        at that slot: generations after it are dropped and only
        tombstones whose slot is ``<= upto`` apply, so a later delete
        cannot reach back and a doc dead at the marker stays dead. The
        anti-join is on id equality BOUNDED by generation, against the
        tombstones broadcast (small by the compaction contract);
        partition and clustering pruning on ``df`` survive below it."""
        gen = F.col(self.gen_col)
        if upto is not None:
            df = df.where(gen <= F.lit(upto))
            if tomb is not None:
                tomb = tomb.where(F.col("_slot") <= F.lit(upto))
        if tomb is None:
            return df
        return df.join(
            F.broadcast(tomb.select("_dead_id", "_upto")),
            on=(F.col(idc) == F.col("_dead_id")) & (gen <= F.col("_upto")),
            how="left_anti",
        )

    def live(self, spark, index_dir: str, meta: dict, *subs, as_of=None) -> list:
        """Live frames of tables ``subs`` — or, with an ``as_of``
        marker (:meth:`asof_marker`), their rows as of that slot —
        sharing one tombstone read."""
        upto = None if as_of is None else self.asof_upto(meta, as_of)
        tomb = self.tombstones(spark, index_dir, meta)
        out = []
        for sub in subs:
            df = spark.read.parquet(self.path(index_dir, sub))
            out.append(self.filtered(df, tomb, self.id_col(meta, df), upto))
        return out

    def asof_marker(self, index_dir: str) -> dict:
        """The index's current position on its mutation timeline —
        the handle the ``as_of=`` readers replay (select_version for a
        retrieval index). Metadata-plane only."""
        meta = self.read_meta(index_dir)
        if meta["n_batches"] <= 0:
            raise ValueError("index has no committed mutations to mark")
        return {"epoch": int(meta.get("epoch", 0)), "batch": meta["n_batches"] - 1}

    def asof_upto(self, meta: dict, as_of) -> int:
        """Resolve an as-of marker against the sidecar: wrong shape and
        out-of-range slots are caller errors (ValueError); an epoch
        mismatch is history a compaction swept
        (:class:`IndexHistoryTruncatedError`)."""
        try:
            epoch = int(as_of["epoch"])
            batch = int(as_of["batch"])
        except (TypeError, KeyError, ValueError) as exc:
            raise ValueError(
                "as_of must be a marker from index_asof_marker(): a dict "
                f"with integer 'epoch' and 'batch' keys, got {as_of!r}"
            ) from exc
        cur = int(meta.get("epoch", 0))
        if epoch != cur:
            raise IndexHistoryTruncatedError(
                f"as-of marker epoch {epoch} != index epoch {cur}: a "
                "compaction since the marker was captured physically "
                "removed the tombstones and dead generations its replay "
                "needs — as-of history only reaches back to the last "
                "compaction"
            )
        if not (0 <= batch < meta["n_batches"]):
            raise ValueError(
                f"as-of batch {batch} outside the index's committed "
                f"range [0, {meta['n_batches']})"
            )
        return batch

    # --- mutations -------------------------------------------------

    def delete(self, ids, index_dir: str) -> int:
        """Remove documents WITHOUT rewriting data: tombstone the ids
        of ``ids`` (a one-column frame) that are LIVE members of the
        index, in its own mutation slot. Counters move by the matched
        live count — unknown and already-deleted ids are a counted
        no-op, so n_dead (and the families' live counters) can neither
        skew nor go negative. Returns the number of documents
        removed."""
        spark = ids.sparkSession
        meta = self.read_meta(index_dir)
        self.reserve(index_dir, meta)
        members = self.members(spark, index_dir, meta)
        if members is None:
            self.abandon(index_dir, meta)
            return 0
        idc = self.id_col(meta, members)
        matched = (
            self.filtered(members, self.tombstones(spark, index_dir, meta), idc)
            .join(F.broadcast(ids.select(F.col(ids.columns[0]).alias(idc))), on=idc)
            .groupBy(idc)
            .agg(F.count(F.lit(1)).alias("rows"), *self.delete_aggs())
            # the write below appends into the tombstone dir this
            # frame's lineage reads: materialize (O(deleted ids)) first
            .localCheckpoint(eager=True)
        )
        agg = matched.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c).alias(c) for c in matched.columns if c != idc],
        ).first().asDict()
        n = int(agg["n"])
        if n == 0:
            self.abandon(index_dir, meta)
            return 0
        slot = meta["n_batches"]
        (
            matched.select(
                F.col(idc).alias(self.tomb_id(meta)),
                F.lit(slot - 1).alias("_upto"),
                F.lit(slot).alias("_slot"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path(index_dir, self.tomb_sub))
        )
        meta["n_batches"] = slot + 1
        meta["n_dead"] += n
        self.on_delete(meta, agg)
        self.publish(index_dir, meta)
        return n

    def staleness(self, index_dir: str) -> dict:
        """Dead-row pressure from the sidecar alone (no Spark job):
        the family's counters plus the dead fraction that drives the
        compaction trigger."""
        meta = self.read_meta(index_dir)
        rep, total = self.pressure(meta)
        return {**rep, "dead_fraction": (meta["n_dead"] / total) if total else 0.0}

    def compact(
        self, spark, index_dir: str, tombstone_fraction: float = 0.2,
        force: bool = False,
    ) -> dict:
        """Sweep tombstoned rows once their fraction crosses the
        threshold (below it: a zero-job sidecar check). The live rows
        of every data table are rewritten at generation 0 into a fresh
        sibling directory, derived tables/stats are rebuilt there, and
        :meth:`publish_rebuild` swaps it in — :func:`recover` heals a
        crash between the renames."""
        rep = self.staleness(index_dir)
        if not force and rep["dead_fraction"] < tombstone_fraction:
            return {**rep, "compacted": False}
        meta = self.read_meta(index_dir)
        self.reserve(index_dir, meta)  # a racing upsert/delete aborts cleanly
        tomb = self.tombstones(spark, index_dir, meta)
        token = uuid.uuid4().hex[:8]
        fresh = f"{index_dir.rstrip('/')}_rebuild_{token}"
        os.makedirs(fresh, exist_ok=True)
        for sub in self.data_subs:
            df = spark.read.parquet(self.path(index_dir, sub))
            live = self.filtered(df, tomb, self.id_col(meta, df))
            self.write(
                sub, live.withColumn(self.gen_col, F.lit(0)),
                self.path(fresh, sub), "overwrite",
            )
        self.rebuild_derived(spark, fresh, meta)
        meta["n_dead"] = 0
        meta["n_batches"] = 1
        self.publish_rebuild(index_dir, fresh, token, meta, meta)
        return {**rep, "compacted": True}

    def publish_rebuild(
        self, index_dir: str, fresh: str, token: str, meta: dict, new: dict
    ) -> None:
        """Publish the complete rebuild under ``fresh`` (a compaction,
        or IVF-PQ's drift retrain) over the index whose reserved
        sidecar is ``meta``: the rebuild's sidecar ``new`` carries the
        stream and change markers forward, stamps the reserved
        commit_seq (a stale snapshot cannot CAS past the rebuild) and
        bumps the epoch (pre-rebuild as-of markers raise), records the
        fresh tree's footer markers, and is written LAST; one
        whole-directory swap then publishes it."""
        new = dict(new)
        new.pop("_pending", None)
        for k in ("stream_appends", "change_markers"):
            if k in meta:
                new[k] = meta[k]
        new["commit_seq"] = int(meta.get("commit_seq", 0)) + 1
        new["epoch"] = int(meta.get("epoch", 0)) + 1
        new.update(self.footers(fresh))
        _atomic_dump(fresh, self.meta_name, new)
        swap_in(index_dir, fresh, token)

    def repair(self, spark, index_dir: str) -> dict:
        """Detect and heal a torn sidecar — a crash between a parquet
        write (append, tombstone, stats) and the counter publish that
        should follow it. Detection is metadata-plane: the footer row
        counts of the marker tables against the markers every publish
        records. On mismatch the family heals its structure and
        re-derives its counters (:meth:`heal`), then ``n_dead`` is the
        tombstone row count and ``n_batches`` clears every landed
        generation AND every consumed delete slot — a replayed upsert
        tombstones at ``n_batches - 1``, so it must reach a crashed
        attempt's orphan rows, and the next delete must not reuse a
        taken slot. An interrupted compaction swap is recovered
        first. Idempotent. Returns ``{"repaired": bool, **markers}``."""
        recover(index_dir, self.meta_name)
        meta = self.read_meta(index_dir)
        actual = self.footers(index_dir)
        if all(int(meta.get(k, -1)) == v for k, v in actual.items()):
            return {"repaired": False, **actual}
        self.heal(spark, index_dir, meta)
        self.rebuild_derived(spark, index_dir, meta)
        top = -1
        for sub, col in [(s, self.gen_col) for s in self.data_subs] + [
            (self.tomb_sub, "_slot")
        ]:
            path = self.path(index_dir, sub)
            if os.path.isdir(path):
                mx = spark.read.parquet(path).agg(F.max(col)).first()[0]
                top = max(top, -1 if mx is None else int(mx))
        meta["n_batches"] = top + 1
        meta["n_dead"] = footer_rows(self.path(index_dir, self.tomb_sub))
        self.publish(index_dir, meta, heal=True)
        return {"repaired": True, **{k: meta[k] for k in actual}}

    def apply_stream_batch(
        self, spark, index_dir: str, batch_id: int, stream_id: str, update_fn
    ) -> bool:
        """Exactly-once-OBSERVABLE micro-batch upsert. ``foreachBatch``
        alone is at-least-once; the lineage tables solve replay with a
        manifest marker (streaming/stream_ops.py) — this is the same
        discipline on the index sidecar:

        1. marker check: past batches skip; a COMPLETED marker for this
           batch id skips; a reservation WITHOUT the completed flag
           means the previous attempt crashed mid-apply — run the
           repair first so the counters match whatever parquet landed,
           then fall through to re-apply.
        2. reserve: write the marker (completed=False) atomically
           BEFORE any data write.
        3. apply through UPDATE semantics (``update_fn`` = delete prior
           generations of the batch's ids + write a fresh generation):
           a replay first tombstones EVERY landed generation of these
           ids — including a crashed attempt's orphans, which is why
           the repair re-derives n_batches — so however many attempts
           ran, exactly one live generation survives.
        4. complete: rewrite the marker with completed=True, recording
           the index's as-of position under the caller's change id.

        Concurrent writers are fenced by the sidecar CAS: the inner
        mutations reserve before their data writes, so a race aborts
        one side with ``IndexConcurrentWriteError`` and the retry
        replays through this same path. Returns True iff THIS call
        applied the batch."""
        marker = (self.read_meta(index_dir).get("stream_appends") or {}).get(
            stream_id
        )
        if marker is not None:
            if int(marker["stream_batch"]) > batch_id:
                return False
            if int(marker["stream_batch"]) == batch_id:
                if marker.get("completed"):
                    return False
                self.repair(spark, index_dir)  # dirty replay: true-up counters

        def _mark(completed: bool):
            def fn(meta: dict) -> None:
                meta.setdefault("stream_appends", {})[stream_id] = {
                    "stream_batch": int(batch_id),
                    "completed": bool(completed),
                }
                if completed:
                    # the change id -> as-of marker map lets
                    # corpus.asof_markers_for_change hand back a
                    # CONSISTENT marker set for a table commit; capped
                    # (entries older than the last compaction are
                    # useless anyway: their epoch raises)
                    hist = meta.setdefault("change_markers", {}).setdefault(
                        stream_id, {}
                    )
                    hist[str(int(batch_id))] = {
                        "epoch": int(meta.get("epoch", 0)),
                        "batch": int(meta.get("n_batches", 1)) - 1,
                    }
                    for k in sorted(hist, key=int)[: -_CHANGE_MARKER_CAP]:
                        del hist[k]

            return fn

        update_meta_atomic(index_dir, _mark(False), meta_name=self.meta_name)
        update_fn()
        update_meta_atomic(index_dir, _mark(True), meta_name=self.meta_name)
        return True
