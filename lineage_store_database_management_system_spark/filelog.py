"""File-level manifest log — Delta-style scan planning without
directory listing.

The table ``Manifest`` (lineage.py) holds O(1) watermarks; this module
adds the missing piece for 100 TB object storage: a per-commit
**add/remove file log** under ``<table>/_filelog/`` so that
``base_df``/``tail_df`` plan their Parquet scans from a handful of
small JSON reads instead of a recursive directory listing (the known
weak operation on S3/GCS — O(files) LIST calls with high tail
latency). Each logged file carries per-file statistics (row count,
byte size, min/max of the rid/seq/primary-key columns) so point and
range reads can **skip whole files** driver-side before Spark ever
opens a footer — the same pruning a lakehouse format gets from its
checkpoint stats.

Layout (all paths relative to the table root):

- ``_filelog/{idx:012d}.json`` — one commit's actions::

      {"actions": [
        {"op": "add",    "dir": "base", "files": [ENTRY, ...]},
        {"op": "remove", "dir": "base", "paths": ["k=3/f.parquet"]},
        {"op": "reset",  "dir": "tail", "files": [ENTRY, ...]},
        {"op": "drop",   "dir": "compacted/v1"}
      ]}

  ENTRY = ``{"path": rel-to-dir, "rows": n, "bytes": n,
  "stats": {"physical_col": [min, max], ...}}``. Stats are keyed by
  PHYSICAL column name (rename_column is metadata-only; files keep
  their birth names) and recorded only for losslessly JSON-comparable
  types (int/float/str).

- ``_filelog/ckpt-{idx:012d}.json`` — full live-file state after
  applying entries ``<= idx``; written every CHECKPOINT_EVERY commits,
  after which the covered per-commit files are deleted. A reader
  loads the newest checkpoint and replays the few entries past it —
  bounded metadata I/O regardless of table age.

Crash discipline: data files move into place FIRST, then the log
entry publishes them (files-then-log, the standard lakehouse commit
order). A writer crash between the two leaves orphan data files that
log-planned scans never see; ``LineageTable.repair_staging`` re-syncs
the log from a listing. Log appends serialize under the same
``_ManifestLock`` as manifest CAS, so concurrent writers cannot
interleave log indices.

Reference parity note: the reference engine keeps no file-level
metadata at all (its ``table_info.txt``, db.py:163-166, stores only
counters; pages are addressed positionally). This module is the
scale-out replacement for that positional addressing.
"""

from __future__ import annotations

import json
import os
import tempfile

CHECKPOINT_EVERY = 64

_LOG_W = 12  # zero-pad width for log indices

# Pseudo-tag holding table-level metadata (compaction watermarks) as
# part of the logged state, so state_at(idx) reconstructs not just the
# file sets but HOW to fold them (see lineage.compact's setmeta).
TABLE_META_TAG = "::table::"
CDC_ADDS_TAG = "::cdc_adds::"  # per-(tag, commit) first-published row ledger


def _atomic_json(path: str, obj) -> None:
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


# Commit-mode switch for the log write side. "rename" (default) is the
# HDFS/POSIX path: atomic os.replace under the table's manifest lock.
# "put" is the object-store path: write-once log files committed with
# put-if-absent semantics and NO lock — losers rescan and retry at the
# next index, the same optimistic-concurrency loop as Delta on S3 (and
# as lineage.rebase_retry for data commits). Locally the conditional
# PUT is modeled by os.link(tmp, final): the content is fully written
# and fsynced before the name appears, the link is atomic, and it
# fails with FileExistsError when a concurrent writer won the index —
# exactly S3's `If-None-Match: *` contract, with no rename anywhere.
COMMIT_MODE_ENV = "SPARK_GRAFT_LOG_COMMIT"


def _put_if_absent_json(path: str, obj) -> None:
    """Publish ``obj`` at ``path`` iff no object exists there yet;
    raises FileExistsError when a concurrent writer already committed
    the name. Write-once: the name never changes content afterwards."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, path)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _jsonable_stat(v):
    """Stat value if losslessly JSON-comparable, else None (dropped).
    bool is excluded: it json-roundtrips but min/max pruning on a
    bool column is worthless and pyarrow stats for it are unreliable
    across writers. NaN is excluded: parquet-mr writes a NaN-poisoned
    max for float chunks containing NaN while other writers omit NaN
    from stats entirely (the reason Delta special-cases float data
    skipping) — dropping the stat makes a NaN-bearing file
    self-exclude from pruning, so it always scans and stats-driven
    answers stay exact under Spark's NaN-greatest ordering."""
    if isinstance(v, bool):
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def file_entry(abs_path: str, rel_path: str, stat_cols: list[str]) -> dict:
    """Build one log ENTRY for a parquet file: a footer-only metadata
    read (pyarrow), never data pages. On a real cluster these stats
    come back from the write tasks themselves (Spark's commit
    protocol); the footer read is the driver-side equivalent and is
    O(KB) per file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    entry: dict = {
        "path": rel_path,
        "rows": md.num_rows,
        "bytes": os.path.getsize(abs_path),
        "stats": {},
    }
    if not stat_cols or md.num_row_groups == 0:
        return entry
    name_to_idx = {}
    for i in range(md.num_columns):
        # column(i).path_in_schema is dotted for nested cols; our stat
        # columns are top-level scalars so exact match is correct
        name_to_idx[md.row_group(0).column(i).path_in_schema] = i
    for c in stat_cols:
        i = name_to_idx.get(c)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = _jsonable_stat(st.min)
            mx = _jsonable_stat(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            entry["stats"][c] = [lo, hi]
    return entry


def prune_entries(entries: list[dict], bounds: dict[str, tuple]) -> list[dict]:
    """Keep entries whose per-file [min,max] could intersect every
    ``col -> (lo, hi)`` bound (None = unbounded on that side). Files
    with no stats for a column are always kept (pruning is an
    optimization, never a filter); mismatched types (e.g. str stats
    vs int bound) also keep — correctness first."""
    out = []
    for e in entries:
        keep = True
        for col, (lo, hi) in bounds.items():
            st = e.get("stats", {}).get(col)
            if not st:
                continue
            mn, mx = st
            try:
                if lo is not None and mx < lo:
                    keep = False
                    break
                if hi is not None and mn > hi:
                    keep = False
                    break
            except TypeError:
                continue  # incomparable types: keep the file
        if keep:
            out.append(e)
    return out


def file_entries(
    pairs: list[tuple[str, str]], stat_cols: list[str], max_workers: int = 8
) -> list[dict]:
    """Batch :func:`file_entry` over (abs_path, rel_path) pairs with a
    small thread pool — footer reads are I/O-bound, and on object
    storage each is a GET round-trip; 8-way overlap keeps a 32-file
    commit's stat collection at ~4 RTTs instead of 32. Order of the
    returned entries follows the input."""
    if len(pairs) <= 1:
        return [file_entry(a, r, stat_cols) for a, r in pairs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(pairs))) as ex:
        return list(
            ex.map(lambda p: file_entry(p[0], p[1], stat_cols), pairs)
        )


class FileLog:
    """Live-file tracking for one lineage table. Cheap to construct;
    all state lives on disk + a per-instance replay cache."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.root = os.path.join(table_path, "_filelog")
        self._cache_idx = -1
        self._cache: dict[str, dict[str, dict]] = {}

    # -- presence -----------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self.root)

    def init(self) -> None:
        os.makedirs(self.root, exist_ok=True)

    # -- write side ---------------------------------------------------
    @staticmethod
    def commit_mode() -> str:
        """'rename' (POSIX/HDFS: atomic replace under the manifest
        lock) or 'put' (object-store: write-once put-if-absent commits
        with loser-retries, no lock) — see COMMIT_MODE_ENV."""
        return os.environ.get(COMMIT_MODE_ENV, "rename")

    def append(self, actions: list[dict]) -> int:
        """Publish one commit's actions. Caller must have already made
        the data files visible (files-then-log). Returns the log index
        written. In 'rename' mode appends serialize under the table's
        manifest lock; in 'put' mode the index name itself is the
        coordination point (put-if-absent; collision -> rescan and
        retry at the next index), so no lock service is needed — the
        Delta-on-S3 commit shape."""
        if not actions:
            return -1
        if self.commit_mode() == "put":
            return self._append_put(actions)
        from .lineage import _ManifestLock

        with _ManifestLock(self.table_path):
            ck, idxs = self._scan_log_dir()
            last = max([ck if ck is not None else -1] + idxs)
            idx = last + 1
            _atomic_json(
                os.path.join(self.root, f"{idx:0{_LOG_W}d}.json"),
                {"actions": actions},
            )
            # Checkpoint: bound replay length AND metadata-file count.
            if len(idxs) + 1 >= CHECKPOINT_EVERY:
                self._refresh_locked()
                _atomic_json(
                    os.path.join(self.root, f"ckpt-{idx:0{_LOG_W}d}.json"),
                    {"state": self._cache},
                )
                self._cleanup_covered(ck, idxs + [idx])
        return idx

    def _append_put(self, actions: list[dict]) -> int:
        """Lock-free commit: claim the next index with a put-if-absent
        publish; a FileExistsError means a concurrent writer won that
        index — rescan and retry (bounded; the loop makes progress
        because every collision implies someone ELSE committed)."""
        for _ in range(512):
            ck, idxs = self._scan_log_dir()
            last = max([ck if ck is not None else -1] + idxs)
            idx = last + 1
            try:
                _put_if_absent_json(
                    os.path.join(self.root, f"{idx:0{_LOG_W}d}.json"),
                    {"actions": actions},
                )
            except FileExistsError:
                continue
            if len(idxs) + 1 >= CHECKPOINT_EVERY:
                # Checkpoint from an explicit replay pinned at OUR idx:
                # a concurrent commit at idx+1 must not leak into a
                # checkpoint named ckpt-{idx} (the instance cache may
                # already have replayed past it).
                try:
                    state = self._replay_raw(idx)
                    _put_if_absent_json(
                        os.path.join(self.root, f"ckpt-{idx:0{_LOG_W}d}.json"),
                        {"state": state},
                    )
                    self._cleanup_covered(ck, idxs + [idx])
                except (FileExistsError, FileNotFoundError):
                    pass  # raced another checkpointer; theirs covers us
            return idx
        raise RuntimeError(
            "put-if-absent log commit failed 512 consecutive index races"
        )

    def _cleanup_covered(self, prev_ck: int | None, covered: list[int]) -> None:
        """Delete per-commit files folded into a just-written
        checkpoint, plus the superseded checkpoint. Readers tolerate
        the race (FileNotFoundError -> the newer checkpoint covers)."""
        for i in covered:
            try:
                os.unlink(os.path.join(self.root, f"{i:0{_LOG_W}d}.json"))
            except OSError:
                pass
        if prev_ck is not None:
            try:
                os.unlink(
                    os.path.join(self.root, f"ckpt-{prev_ck:0{_LOG_W}d}.json")
                )
            except OSError:
                pass

    def _replay_raw(self, idx: int) -> dict[str, dict[str, dict]]:
        """State dict (tag -> path -> entry) as of commit ``idx``,
        replayed fresh from disk without touching the instance cache —
        the checkpoint builder for 'put' mode. Raises
        FileNotFoundError when the newest checkpoint already exceeds
        the pin — a concurrent checkpointer superseded ``idx`` and may
        have compacted its per-commit files, so replaying from empty
        would fabricate a stale, near-empty state (and _append_put
        would leak it as a never-cleaned ckpt-{idx})."""
        ck, idxs = self._scan_log_dir()
        if ck is not None and ck > idx:
            raise FileNotFoundError(
                f"checkpoint {ck} supersedes replay pin {idx}"
            )
        state: dict[str, dict[str, dict]] = {}
        if ck is not None and ck <= idx:
            with open(os.path.join(self.root, f"ckpt-{ck:0{_LOG_W}d}.json")) as f:
                state = json.load(f)["state"]
        for i in idxs:
            if (ck is not None and i <= ck) or i > idx:
                continue
            with open(os.path.join(self.root, f"{i:0{_LOG_W}d}.json")) as f:
                self._apply(json.load(f)["actions"], state, idx=i)
        return state

    # -- read side ----------------------------------------------------
    def _scan_log_dir(self) -> tuple[int | None, list[int]]:
        """(newest checkpoint idx or None, sorted per-commit idxs)."""
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return None, []
        ck = None
        idxs = []
        for n in names:
            if not n.endswith(".json"):
                continue
            if n.startswith("ckpt-"):
                try:
                    v = int(n[5:-5])
                except ValueError:
                    continue
                ck = v if ck is None or v > ck else ck
            else:
                try:
                    idxs.append(int(n[:-5]))
                except ValueError:
                    continue
        return ck, sorted(idxs)

    def _apply(
        self,
        actions: list[dict],
        state: dict[str, dict[str, dict]] | None = None,
        idx: int | None = None,
    ) -> None:
        """Apply one commit's actions. ``idx`` (the commit's log
        index) is stamped onto each added entry as ``_idx`` — the
        file -> adding-commit mapping behind row provenance
        (lineage.provenance_view). Checkpoints serialize the stamped
        entries, so provenance survives log compaction; entries from
        pre-stamping logs or import_dir bootstrap simply lack the key
        (provenance reads them as NULL)."""
        state = self._cache if state is None else state

        def _record_add(tag: str, e: dict, first: bool) -> None:
            # CDC completeness ledger: cumulative rows FIRST-published
            # per (tag, commit). Re-adds that carry an explicit _idx
            # (optimize packs, repair re-imports) are re-homed copies
            # of already-counted rows and must not inflate it. Lives
            # inside ``state`` so checkpoints persist it.
            if not first or e.get("_idx") is None:
                return
            rows = e.get("rows")
            if not rows:
                return
            led = state.setdefault(CDC_ADDS_TAG, {})
            key = f"{tag}@{e['_idx']}"
            cur = led.get(key) or {"rows": 0}
            led[key] = {"rows": cur["rows"] + int(rows)}

        for a in actions:
            op, tag = a["op"], a["dir"]
            if op == "add":
                d = state.setdefault(tag, {})
                for e in a["files"]:
                    first = "_idx" not in e
                    if idx is not None:
                        e.setdefault("_idx", idx)
                    _record_add(tag, e, first)
                    d[e["path"]] = e
            elif op == "remove":
                d = state.get(tag, {})
                for p in a["paths"]:
                    d.pop(p, None)
            elif op == "reset":
                if idx is not None:
                    for e in a["files"]:
                        first = "_idx" not in e
                        e.setdefault("_idx", idx)
                        _record_add(tag, e, first)
                state[tag] = {e["path"]: e for e in a["files"]}
            elif op == "drop":
                state.pop(tag, None)
                led = state.get(CDC_ADDS_TAG)
                if led:
                    for k in [k for k in led if k.startswith(f"{tag}@")]:
                        del led[k]
            elif op == "setmeta":
                state[tag] = {"::meta::": dict(a["meta"])}

    def added_rows(self, tag: str) -> dict[int, int]:
        """CDC completeness ledger for ``tag``: commit idx -> rows
        first-published by that commit (cumulative, never decremented
        by removals — that asymmetry is exactly what lets a reader
        detect that a commit's rows no longer survive in the live
        set). Commits older than the ledger's introduction (or whose
        per-commit log files were checkpoint-compacted before any
        replay under a ledger-aware build) are simply absent — callers
        treat absent as unauditable and serve the feed (grandfather)."""
        self._refresh_locked()
        out: dict[int, int] = {}
        for key, v in (self._cache.get(CDC_ADDS_TAG) or {}).items():
            t, _, i = key.rpartition("@")
            if t == tag:
                out[int(i)] = v["rows"]
        return out

    def _refresh_locked(self) -> None:
        # A FileNotFoundError on any log file means a concurrent
        # checkpointer compacted it AFTER our directory scan — the
        # covering checkpoint is already durable (cleanup only ever
        # runs after the checkpoint put succeeds). Skipping the file
        # and applying later commits would advance _cache_idx PAST
        # that checkpoint without loading it, silently dropping every
        # checkpoint-covered commit from this handle's view (up to
        # CHECKPOINT_EVERY commits) — so on any miss, restart the
        # whole refresh from a fresh scan; the rescan resolves to the
        # superseding checkpoint. Bounded: each restart implies
        # another CHECKPOINT_EVERY-commit checkpoint landed mid-read.
        for _ in range(64):
            ck, idxs = self._scan_log_dir()
            try:
                if ck is not None and ck > self._cache_idx:
                    p = os.path.join(self.root, f"ckpt-{ck:0{_LOG_W}d}.json")
                    with open(p) as f:
                        self._cache = json.load(f)["state"]
                    self._cache_idx = ck
                for i in idxs:
                    if i <= self._cache_idx:
                        continue
                    with open(os.path.join(self.root, f"{i:0{_LOG_W}d}.json")) as f:
                        self._apply(json.load(f)["actions"], idx=i)
                    self._cache_idx = i
            except FileNotFoundError:
                continue
            return
        raise RuntimeError(
            "file log refresh lost 64 consecutive races against "
            "checkpoint cleanup"
        )

    def live(self, tag: str) -> list[dict]:
        """Live entries for one directory tag."""
        self._refresh_locked()
        return list(self._cache.get(tag, {}).values())

    def live_state(self) -> dict[str, list[dict]]:
        """The whole live state (tag -> entries) from ONE refresh — the
        shape :meth:`state_at` returns for a past commit, so a reader
        folds the live table and a historical one alike. The CDC
        ledger is bookkeeping, not a file set, and stays out."""
        self._refresh_locked()
        return {
            tag: list(d.values())
            for tag, d in self._cache.items()
            if tag != CDC_ADDS_TAG
        }

    def replayable_range(self) -> tuple[int, int] | None:
        """Inclusive (lo, hi) of log indexes :meth:`state_at` can
        reconstruct, or None when the log is empty/absent. lo is the
        newest checkpoint (checkpointing compacts the per-commit files
        it supersedes, so pre-checkpoint states are unreachable — the
        log's own retention horizon); hi is the newest commit."""
        ck, idxs = self._scan_log_dir()
        if ck is None and not idxs:
            return None
        hi = max([ck if ck is not None else -1] + idxs)
        lo = ck if ck is not None else min(idxs)
        return lo, hi

    def state_at(self, idx: int) -> dict[str, list[dict]]:
        """Live-file sets (tag -> entries) as of log index ``idx``,
        inclusive — commit-pinned time travel over table METADATA.
        Replays from the newest checkpoint forward without touching
        the instance cache. Raises ValueError outside
        :meth:`replayable_range` (pre-checkpoint history is compacted
        away; that is the retention contract, same as Delta VACUUM +
        checkpoint cleanup)."""
        for _ in range(4):
            rng = self.replayable_range()
            if rng is None or not (rng[0] <= idx <= rng[1]):
                raise ValueError(
                    f"commit {idx} is outside the replayable log range "
                    f"{rng}: pre-checkpoint commits are compacted away"
                )
            try:
                return {
                    tag: list(d.values())
                    for tag, d in self._replay_raw(idx).items()
                }
            except FileNotFoundError:
                # concurrent checkpoint cleanup raced the replay;
                # rescan — either idx is still replayable (retry) or
                # it fell out of retention (the range check raises)
                continue
        raise ValueError(
            f"commit {idx} fell out of the replayable range during replay"
        )

    # -- import / resync ----------------------------------------------
    def import_dir(
        self, tag: str, abs_dir: str, stat_cols: list[str]
    ) -> list[dict]:
        """Full listing + footer stats of ``abs_dir`` -> entry list
        (the one place directory listing is still used: bootstrap of a
        pre-filelog table and post-crash resync)."""
        pairs = []
        if os.path.isdir(abs_dir):
            for root, _dirs, files in os.walk(abs_dir):
                for name in files:
                    if not name.endswith(".parquet") or name.startswith("_"):
                        continue
                    p = os.path.join(root, name)
                    pairs.append((p, os.path.relpath(p, abs_dir)))
        return file_entries(pairs, stat_cols)
