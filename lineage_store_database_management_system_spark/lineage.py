"""Lineage table format: immutable base + append-only tail, Spark-first.

This is the PySpark-native re-expression of the reference's L-Store
storage engine (reference: /root/reference/lstore/table.py). The
reference keeps columnar base pages (table.py:104-133), append-only
tail pages holding update deltas (table.py:135-158), an indirection
chain resolving the latest version (table.py:162-170), a schema-
encoding bitmap marking changed columns (query.py:141), and a merge
process that lazily consolidates tail into base past a TPS watermark
(table.py:186-225).

Spark mapping (SURVEY.md §1.5):

- **base**   -> append-only Parquet directory (``base/``) of original
  inserted records: ``(_rid, _ts, <user columns>)``. Never rewritten;
  this preserves full lineage for version travel.
- **tail**   -> append-only Parquet directory (``tail/``) of deltas:
  ``(_rid, _seq, _op, _ts, <user columns, NULL = unchanged>)``.
  The reference's *indirection* column becomes "max _seq per _rid";
  its *schema-encoding bitmap* becomes per-column NULL-ness.
- **merge**  -> :meth:`LineageTable.compact`: one join+rewrite job that
  materializes the current view into ``compacted/v{N}/`` and advances
  the TPS watermark in the manifest. Purely physical — query answers
  are invariant under compaction (the reference's intent per the
  L-Store paper; merge keeps tail pages so version queries still work).
- **page_directory** (the reference's eagerly-maintained rid->Record
  dict, table.py:37) -> the *current view*, computed lazily by
  ``base LEFT JOIN latest-tail`` + per-column ``coalesce``.

Scale notes (100 TB design):

- The current view's only shuffle is the groupBy(_rid) over the
  *tail*, which compaction keeps small relative to base; AQE then
  broadcasts the aggregated tail into the base join, so the base scan
  is shuffle-free. Filters and projections on the view push down to
  the base Parquet scan through the join.
- RIDs and seqs are allocated as ``(batch << 48) | monotonic`` so bulk
  ingest needs no driver-side loop, no zipWithIndex, and no shuffle:
  ``monotonically_increasing_id`` is computed per-partition on
  executors. Batch ids increase per commit, making (rid, seq) globally
  unique and commit-ordered across arbitrarily many executors.
- Writes are append-only Parquet (true columnar + min/max stats +
  dictionary/bloom pushdown), replacing the reference's hand-rolled
  per-column text files (db.py:89-140).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filelog import TABLE_META_TAG, FileLog, file_entry, prune_entries

# Metadata columns. Base rows carry (_rid, _ts); tail rows carry
# (_rid, _seq, _op, _ts). The reference's 4 hidden base columns /
# 5 hidden tail columns (table.py:116, table.py:142) map onto these:
# RID->_rid, indirection->max(_seq), schema_encoding->NULL-ness,
# timestamp->_ts, BaseID->_rid.
RID = "_rid"
SEQ = "_seq"
OP = "_op"
TS = "_ts"
META_BASE = [RID, TS]
META_TAIL = [RID, SEQ, OP, TS]

OP_UPDATE = "U"
OP_DELETE = "D"

# Driver-side rid-list cap for folded CHECK validation (mirrors
# indexing.ISIN_CAP): below it the touched-rid set is pushed into the
# base/tail scans as ``_rid IN (...)``; above it, broadcast semi-join.
_CHECK_ISIN_CAP = 100_000

# rid/seq encoding: high 15 bits = commit batch, low 48 bits =
# within-batch monotonic id (executor-side partition<<33 | row).
_BATCH_SHIFT = 48


def _nan_lt(a, b) -> bool:
    """``a < b`` under Spark's total ordering (NaN greater than every
    value) — footer stats and scan results can carry NaN (grandfathered
    logs; F.min/F.max over NaN-bearing files), and naive Python
    comparisons are always-False against NaN, which would freeze the
    fast_min_max bound-tightening loop on the wrong value."""
    if isinstance(a, float) and a != a:
        return False  # NaN is never smaller
    if isinstance(b, float) and b != b:
        return True  # anything non-NaN is smaller than NaN
    return a < b


def _nan_gt(a, b) -> bool:
    """``a > b`` under Spark's NaN-greatest total ordering."""
    if isinstance(b, float) and b != b:
        return False  # nothing beats NaN
    if isinstance(a, float) and a != a:
        return True
    return a > b


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed to this table since our manifest was
    read. The losing commit is aborted BEFORE any of its files are
    published (every mutation reserves its batch id — and therefore
    CASes the manifest — before writing data), so no committed data is
    ever lost or mixed. Call :meth:`LineageTable.refresh` and retry."""


class CheckViolation(ValueError):
    """A write (or add_check_constraint over existing data) violated a
    registered CHECK constraint. Writes abort BEFORE publishing: the
    violation count is observed on the staged files, which are
    discarded — the table is untouched."""


class UniqueViolation(CheckViolation):
    """A write would duplicate a value in a UNIQUE-constrained column
    (within the batch, or against a live row). Subclasses
    CheckViolation so existing abort handling applies unchanged."""


class _ManifestLock:
    """Filesystem mutex guarding the manifest compare-and-swap.

    ``open(O_CREAT|O_EXCL)`` is atomic on POSIX local filesystems; on
    HDFS/ABFS the same role is played by atomic rename-without-
    overwrite (what Delta's LogStore does). The lock only protects the
    read-compare-write of the tiny manifest file — data file writes
    never hold it."""

    STALE_AFTER_S = 60.0  # break locks left by crashed writers
    TIMEOUT_S = 30.0

    def __init__(self, table_path: str):
        self.path = os.path.join(table_path, "_manifest.lock")

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


def _schema_to_json(schema: T.StructType) -> str:
    return schema.json()


def _schema_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(s))


def _parse_size_bytes(v) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '-1') to
    bytes; -1 (or unparseable) means 'disabled'."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                   ("tb", 1024**4), ("k", 1024), ("m", 1024**2),
                   ("g", 1024**3), ("b", 1)):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return -1


_log = logging.getLogger(__name__)

_EXPLAIN_SIZE_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "PiB": 1024**5,
    "EiB": 1024**6,
}


def _estimate_plan_bytes(df: DataFrame) -> int | None:
    """Best-effort size estimate of a frame's OUTPUT, via public API
    only (r14's ``df._jdf.queryExecution()...stats().sizeInBytes()``
    was a Spark-version coupling point — VERDICT r14 #7): the
    optimizer's own estimate parsed from ``EXPLAIN COST`` (the
    documented surface for logical-plan statistics), read as a result
    row over a uniquely named temp view — ``df.explain`` only prints,
    and capturing it would mean swapping the process-global
    ``sys.stdout`` under every other thread's prints. For a bare file
    scan this equals the on-disk byte total; for derived plans it
    carries the optimizer's expansion estimates (explode/join), so a
    row-expanding ingest is not under-sized to its seed file (an
    inputFiles byte-sum variant had exactly that failure and was
    dropped in review). Same cost class as the r14 private call —
    both force one analysis+optimization pass. ``None`` when the
    parse fails — callers keep their pre-estimate behavior and should
    log the fallback."""
    import re

    spark = df.sparkSession
    view = f"_lss_estimate_{uuid.uuid4().hex}"
    try:
        df.createTempView(view)
        plan = spark.sql(f"EXPLAIN COST SELECT * FROM {view}").first()[0]
        m = re.search(r"sizeInBytes=([0-9.]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)", plan)
        if m:
            return int(float(m.group(1)) * _EXPLAIN_SIZE_UNITS[m.group(2)])
    except Exception:
        pass
    finally:
        spark.catalog.dropTempView(view)
    return None


# Session-global SQL confs flipped for the duration of one engine
# operation (commit planning, rebalanced writes). Refcounted per
# (session, key): concurrent operations that want the same flip nest
# instead of racing — the FIRST setter records the user's original
# value and the LAST restorer puts it back, so an interleaved
# save/set/restore can never leave the flip permanent. The flipped
# values are results-neutral (optimizer/AQE behavior only), so a
# concurrent query planned inside the window is slower-or-equal,
# never wrong.
_CONF_FLIPS: dict[tuple[int, str], list] = {}
_CONF_FLIP_LOCK = __import__("threading").Lock()


class _scoped_conf:
    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value
        self._k = (id(spark), key)

    def __enter__(self):
        with _CONF_FLIP_LOCK:
            ent = _CONF_FLIPS.get(self._k)
            if ent is None:
                try:
                    orig = self.spark.conf.get(self.key)
                except Exception:
                    orig = None
                self.spark.conf.set(self.key, self.value)
                _CONF_FLIPS[self._k] = [1, orig]
            else:
                ent[0] += 1
        return self

    def __exit__(self, *exc):
        with _CONF_FLIP_LOCK:
            ent = _CONF_FLIPS[self._k]
            ent[0] -= 1
            if ent[0] == 0:
                del _CONF_FLIPS[self._k]
                if ent[1] is None:
                    self.spark.conf.unset(self.key)
                else:
                    self.spark.conf.set(self.key, ent[1])
        return False


def _opt_unhide(p: str) -> str:
    """Visible name for a hidden ``_opt_*`` packed file. Substitutes in
    the basename ONLY — ``str.replace`` on the full path would rewrite a
    partition DIRECTORY whose (user-data) value contains ``_opt_``,
    producing a nonexistent rename target."""
    return os.path.join(
        os.path.dirname(p),
        os.path.basename(p).replace("_opt_", "opt-", 1) + ".parquet",
    )


class _StateFiles(NamedTuple):
    """One table state's fold inputs, classified by the watermark rule
    (:meth:`LineageTable._state_files`): file-log entries under
    ``root``, and the row filters the fold still owes them."""

    root: str  # directory holding the tag directories
    snap_tag: str | None  # compacted snapshot tag; None = raw history
    snap: list[dict]
    fresh: list[dict]  # base files past the rid watermark (or all)
    tail: list[dict]  # tail files past TPS (or all)
    rid_hi: int | None  # fresh rows need _rid > rid_hi
    tps: int | None  # tail rows need _seq > tps
    key_range: tuple | None  # base rows need lo <= key <= hi

    def straddling(self) -> list[dict]:
        """Fresh files that may still hold rows at or below the rid
        watermark (no rid stats, or a logged range across it): only
        these need the ``_rid > rid_hi`` row filter to be exact."""
        if self.rid_hi is None:
            return []
        return [
            e
            for e in self.fresh
            if (st := e.get("stats", {}).get(RID)) is None or st[0] <= self.rid_hi
        ]


@dataclass
class Manifest:
    """Durable table metadata — replaces the reference's
    ``table_info.txt`` (db.py:163-166) plus its implicit in-memory
    counters (next rid, table.py:39-40; TPS, table.py:53)."""

    name: str
    schema_json: str
    key: str
    next_batch: int = 0
    tps: int = -1  # highest tail _seq folded into the compacted snapshot
    compact_version: int = -1  # -1 = no compacted snapshot yet
    compact_rid_hi: int = -1  # highest base _rid covered by the snapshot
    commit_seq: int = 0  # optimistic-concurrency version; bumps on every CAS
    extra: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "schema_json": self.schema_json,
            "key": self.key,
            "next_batch": self.next_batch,
            "tps": self.tps,
            "compact_version": self.compact_version,
            "compact_rid_hi": self.compact_rid_hi,
            "commit_seq": self.commit_seq,
            "extra": self.extra,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Manifest":
        return cls(**d)


class LineageTable:
    """One lineage table = base dir + tail dir + manifest + pending
    in-memory buffers (rows accepted but not yet flushed to Parquet —
    the Spark analogue of the reference's open base/tail page)."""

    # Flush pending row buffers to Parquet past this many rows.
    FLUSH_THRESHOLD = 100_000
    # compact() when the flushed tail exceeds this many rows; the
    # reference merges every 100 tail inserts (table.py:155) — ours is
    # proportional, sized so the tail-side shuffle stays broadcastable.
    AUTO_COMPACT_TAIL_ROWS = 500_000
    # cheap auto-compact trigger checked after every bulk mutation:
    # tail PARQUET FILE count (a filesystem listing, no Spark job).
    # Every commit appends files, so this fires roughly every N
    # commits — the reference's merge-every-100-updates intent
    # (table.py:154-158) at commit granularity. None disables.
    AUTO_COMPACT_TAIL_FILES: int | None = 256

    def __init__(self, spark: SparkSession, path: str, manifest: Manifest):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self.schema: T.StructType = _schema_from_json(manifest.schema_json)
        self.key = manifest.key
        self.user_cols = [f.name for f in self.schema.fields]
        if self.key not in self.user_cols:
            raise ValueError(f"key column {self.key!r} not in schema")
        # pending rows: lists of python tuples matching base/tail schemas
        self._pending_base: list[tuple] = []
        self._pending_tail: list[tuple] = []
        self._open_batch: int | None = None
        self._batch_counter = 0
        # file-level manifest log (filelog.py): live-file sets + per-
        # file stats so scans plan without directory listing
        self.filelog = FileLog(path)

    @property
    def _stat_cols(self) -> list[str]:
        """PHYSICAL column names whose per-file min/max go into the
        file log: rid (prunes the fresh-base read above the compaction
        watermark), seq (prunes the tail read above TPS / CDC ranges),
        the primary key (prunes point/range lookups), then EVERY other
        top-level scalar user column up to a 32-column cap (the Delta
        ``dataSkippingNumIndexedCols`` shape) — the extra min/max ride
        the same per-file footer read at commit time, and any scalar
        column can then drive file skipping and the stats-only
        :meth:`fast_min_max`. Non-scalar / non-JSON-comparable types
        (arrays, decimals, dates) are skipped — ``filelog
        ._jsonable_stat`` would drop their values anyway."""
        m = self._phys_map
        out = [RID, SEQ, m.get(self.key, self.key)]
        scalar = (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.StringType,
        )
        for f in self.base_schema.fields:
            ph = m.get(f.name, f.name)
            if ph in out or not isinstance(f.dataType, scalar):
                continue
            out.append(ph)
            if len(out) >= 32:
                break
        return out

    def _log_tag(self, abs_dir: str) -> str:
        return os.path.relpath(abs_dir, self.path)

    # ------------------------------------------------------------------
    # paths / schemas
    # ------------------------------------------------------------------
    @property
    def base_dir(self) -> str:
        return os.path.join(self.path, "base")

    @property
    def tail_dir(self) -> str:
        return os.path.join(self.path, "tail")

    def compacted_dir(self, version: int | None = None) -> str:
        v = self.manifest.compact_version if version is None else version
        return os.path.join(self.path, "compacted", f"v{v}")

    @property
    def base_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(RID, T.LongType(), False),
                T.StructField(TS, T.TimestampType(), True),
            ]
            + [T.StructField(f.name, f.dataType, True) for f in self.schema.fields]
        )

    @property
    def tail_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(RID, T.LongType(), False),
                T.StructField(SEQ, T.LongType(), False),
                T.StructField(OP, T.StringType(), False),
                T.StructField(TS, T.TimestampType(), True),
            ]
            + [T.StructField(f.name, f.dataType, True) for f in self.schema.fields]
        )

    # ------------------------------------------------------------------
    # logical <-> physical column names (rename_column support)
    #
    # On-disk parquet ALWAYS carries a column's PHYSICAL name — the
    # name it had when first added. rename_column is metadata-only: it
    # changes the LOGICAL name in the manifest schema and records
    # {logical: physical} in extra["physical_names"]. The two seams
    # below translate: every raw file read maps physical -> logical,
    # every file write maps logical -> physical. Everything between
    # the seams (views, folds, validation, queries) sees logical names
    # only. This is the field-mapping idea from Iceberg/Delta column
    # mapping, keyed by stable name instead of field id.
    # ------------------------------------------------------------------
    @property
    def _phys_map(self) -> dict:
        """logical -> physical, entries only for renamed columns."""
        return self.manifest.extra.get("physical_names", {})

    def _physical_schema(self, schema: T.StructType) -> T.StructType:
        m = self._phys_map
        if not m:
            return schema
        return T.StructType(
            [
                T.StructField(m.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _df_to_physical(self, df: DataFrame) -> DataFrame:
        """Rename logical -> physical for a frame about to be written.
        One simultaneous select (not chained withColumnRenamed, which
        would mis-fire on swap-shaped mappings)."""
        m = self._phys_map
        if not m:
            return df
        return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])

    # ------------------------------------------------------------------
    # id allocation
    # ------------------------------------------------------------------
    def _reserve_batches(self, n: int) -> int:
        """Reserve ``n`` consecutive commit batch ids (the high bits of
        every rid/seq a write assigns) with ONE manifest CAS —
        before any data file is written, so a stale writer aborts with
        nothing published. Returns the first id."""
        first = self.manifest.next_batch
        self.manifest.next_batch += n
        self._save_manifest()
        return first

    def _ensure_batch(self) -> int:
        if self._open_batch is None:
            self._open_batch = self._reserve_batches(1)
            self._batch_counter = 0
        return self._open_batch

    def _next_local_id(self) -> int:
        batch = self._ensure_batch()
        i = self._batch_counter
        self._batch_counter += 1
        return (batch << _BATCH_SHIFT) | i

    def _save_manifest(self) -> None:
        """Publish the manifest via compare-and-swap.

        Every mutation reserves its batch id (and thus calls this)
        BEFORE writing any data file, so optimistic concurrency falls
        out of the existing commit discipline: the first writer to CAS
        wins; a writer holding a stale manifest raises
        :class:`ConcurrentWriteError` here, before it has published
        anything. The loser calls :meth:`refresh` and retries. Single-
        writer callers never see a conflict and pay only one extra
        ~100-byte read per commit — negligible next to the Parquet
        write it fronts."""
        mpath = os.path.join(self.path, "_manifest.json")
        with _ManifestLock(self.path):
            if os.path.isfile(mpath):
                with open(mpath) as f:
                    disk_seq = json.load(f).get("commit_seq", 0)
                if disk_seq != self.manifest.commit_seq:
                    raise ConcurrentWriteError(
                        f"table {self.manifest.name!r}: manifest advanced to "
                        f"commit_seq={disk_seq} (we hold "
                        f"{self.manifest.commit_seq}); refresh() and retry"
                    )
            self.manifest.commit_seq += 1
            _atomic_write_json(mpath, self.manifest.to_dict())

    def refresh(self) -> None:
        """Reload the manifest from disk after a ConcurrentWriteError
        (or to observe another writer's commits). Discards only
        manifest state — pending row buffers are kept and will commit
        under freshly reserved batch ids."""
        with open(os.path.join(self.path, "_manifest.json")) as f:
            self.manifest = Manifest.from_dict(json.load(f))
        self.schema = _schema_from_json(self.manifest.schema_json)
        self.key = self.manifest.key
        self.user_cols = [f.name for f in self.schema.fields]
        self._open_batch = None
        self._batch_counter = 0

    def rebase_retry(self, op, max_attempts: int = 8):
        """Run an APPEND-SHAPED write op with bounded optimistic-
        concurrency retries: on :class:`ConcurrentWriteError`,
        :meth:`refresh` (rebase onto the other writer's commit) and
        re-run. Returns ``op()``'s result.

        Safe for every append-shaped mutation (``ingest_dataframe``,
        ``bulk_update`` / ``bulk_delete`` / ``delete_where``,
        ``merge_into``, point ops, ``flush``): each reserves its batch
        id — the CAS commit point — BEFORE writing any data file
        (:meth:`_save_manifest` contract), so a conflict aborts with
        nothing published and the op is re-runnable verbatim; lineage
        appends from different writers commute (fresh batch id spaces,
        deltas totally ordered by ``_seq``). This is the Delta-style
        blind-append auto-resolution: concurrent appenders never need
        hand-written retry loops. Do NOT wrap :meth:`compact` — a
        conflicting compaction must re-read state, and blindly
        re-running one under churn can livelock; call it from a single
        maintenance owner instead (its own conflict check makes it
        abort cleanly either way).

        ``max_attempts`` bounds livelock under pathological contention
        (the sandbox measured ~1 extra manifest read per retry; see
        tests/test_cross_process_scale.py for the bounded-retry
        evidence). Re-raises the final conflict when exhausted."""
        last: ConcurrentWriteError | None = None
        for _ in range(max_attempts):
            try:
                return op()
            except ConcurrentWriteError as e:
                last = e
                self.refresh()
        raise last  # type: ignore[misc]

    @property
    def partition_by(self) -> list[str]:
        """Hive-style partition columns of the base/compacted layout
        (tail is never partitioned: it is small by compaction contract
        and always folded whole). At 100 TB the base MUST be
        partitioned — this is what lets a filtered current view read
        a fraction of the table (PartitionFilters on the scan)."""
        return list(self.manifest.extra.get("partition_by", []))

    @property
    def tail_keyed(self) -> bool:
        """Whether tail deltas physically carry the (immutable) key and
        partition columns. New tables always do: the fold then joins
        base↔tail on (rid, key, partitions) and Catalyst's constraint
        inference pushes key/partition predicates into the TAIL scan
        too — a point query on a 100 TB table prunes both sides
        instead of folding the whole tail. Tables written by older
        versions (flag absent) keep the rid-only fold."""
        return bool(self.manifest.extra.get("tail_keyed", False))

    # ------------------------------------------------------------------
    # CHECK constraints (extension — the reference validates nothing)
    # ------------------------------------------------------------------
    def add_check_constraint(self, name: str, expr_sql: str) -> None:
        """Register a CHECK constraint (a boolean SQL expression over
        the user columns) enforced on every subsequent write. ANSI
        semantics: a row passes when the expression is TRUE **or
        UNKNOWN**. Inserts are checked on the full row as written;
        update deltas are checked on the FOLDED post-update row
        (delta coalesced over the current view —
        :meth:`_validate_folded_updates`), because the tail encoding's
        NULL = 'unchanged' would otherwise let a multi-column check
        evaluate UNKNOWN and pass rows whose visible folded state
        violates it. Existing data is validated once (one count job)
        before the constraint is accepted."""
        checks = self.manifest.extra.setdefault("checks", {})
        if name in checks:
            raise ValueError(f"check {name!r} already exists")
        bad = (
            self.current_view()
            .where(~F.coalesce(F.expr(expr_sql), F.lit(True)))
            .count()
        )
        if bad:
            raise CheckViolation(
                f"existing data violates check {name!r} ({expr_sql}): {bad} rows"
            )
        checks[name] = expr_sql
        self._save_manifest()

    def drop_check_constraint(self, name: str) -> None:
        checks = self.manifest.extra.get("checks", {})
        if name not in checks:
            raise ValueError(f"no such check: {name!r}")
        del checks[name]
        self._save_manifest()

    # ------------------------------------------------------------------
    # UNIQUE constraints (extension; SQL semantics — NULLs exempt)
    # ------------------------------------------------------------------
    def add_unique_constraint(self, column: str) -> None:
        """Register a UNIQUE constraint on a user column, enforced on
        every subsequent write path (bulk ingest, buffered point
        inserts, folded updates, merge_into). SQL semantics: NULLs
        don't conflict. Existing data is validated once (one aggregate
        job) before the constraint is accepted.

        Enforcement cost is zero with no constraints registered; with
        one, an insert batch pays one aggregate over the batch plus
        one value-pruned probe of the current view (the probe values
        push down as an IN-list below the same cap the CHECK fold
        uses, so the live-side scan prunes instead of full-scanning).
        Like every other write guarantee here this is single-writer:
        two racing SESSIONS are serialized by the manifest CAS, but
        uniqueness is check-then-act within one commit."""
        if column not in self.user_cols:
            raise ValueError(f"no such column: {column!r}")
        uniques = self.manifest.extra.setdefault("uniques", [])
        if column in uniques:
            raise ValueError(f"unique constraint on {column!r} already exists")
        dup = (
            self.current_view()
            .where(F.col(column).isNotNull())
            .groupBy(column)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise UniqueViolation(
                f"existing data has duplicate values in {column!r}"
            )
        uniques.append(column)
        self._save_manifest()

    def drop_unique_constraint(self, column: str) -> None:
        uniques = self.manifest.extra.get("uniques", [])
        if column not in uniques:
            raise ValueError(f"no unique constraint on: {column!r}")
        uniques.remove(column)
        self._save_manifest()

    def _validate_unique_inserts(self, batch: DataFrame) -> None:
        """Reject an insert batch that would duplicate a UNIQUE value
        — within the batch (count vs distinct in ONE aggregate over
        all constrained columns) or against a live row (batch values
        collected up to the CHECK cap and pushed into the view scan as
        an IN-list; broadcast semi-join above it). Runs only when
        constraints are registered."""
        uniques = [
            c for c in self.manifest.extra.get("uniques", []) if c in batch.columns
        ]
        if not uniques:
            return
        aggs = []
        for c in uniques:
            aggs.append(F.count(F.col(c)).alias(f"_n_{c}"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        row = batch.agg(*aggs).collect()[0].asDict()
        dups = [c for c in uniques if row[f"_n_{c}"] != row[f"_d_{c}"]]
        if dups:
            raise UniqueViolation(
                f"insert batch contains duplicate values for unique column(s) {dups}"
            )
        cur = self.current_view()
        for c in uniques:
            vals_df = batch.select(c).where(F.col(c).isNotNull()).distinct()
            vals = [r[c] for r in vals_df.limit(_CHECK_ISIN_CAP + 1).collect()]
            if not vals:
                continue
            if len(vals) <= _CHECK_ISIN_CAP:
                probe = cur.where(F.col(c).isin(vals))
            else:  # pragma: no cover - >cap distinct values in one batch
                probe = cur.join(F.broadcast(vals_df), on=c, how="left_semi")
            if probe.limit(1).count():
                raise UniqueViolation(
                    f"insert would duplicate live value(s) in unique column {c!r}"
                )

    def _validate_folded_updates(self, delta: DataFrame) -> None:
        """A CHECK must hold on the POST-update row, not on the delta
        encoding: NULL = 'column unchanged', so a multi-column check
        (``a <= b``) evaluates UNKNOWN against a delta that sets only
        ``a`` and passes vacuously even when the folded row violates
        it. Before an update delta publishes, fold it over the current
        view (touched rids only — one bounded join + count job, and
        only when checks are registered) and reject on any violation.
        Rids the same batch also tombstones are exempt: the folded row
        never becomes visible. Insert paths check full rows on the
        write itself; delete deltas carry no values.

        UNIQUE constraints validate on the same folded rows: the
        post-update values must not collide within the batch nor with
        any UNTOUCHED live row (touched rids are excluded — they are
        being replaced)."""
        checks = self.manifest.extra.get("checks", {})
        uniq_cols = [
            c
            for c in self.manifest.extra.get("uniques", [])
            if c != self.key and c not in self.partition_by
        ]
        if not checks and not uniq_cols:
            return
        mutable = [
            c for c in self.user_cols
            if c != self.key and c not in self.partition_by
        ]
        aggs = [F.max(F.when(F.col(OP) == OP_DELETE, F.col(SEQ))).alias("_del_seq")]
        for c in mutable:
            aggs.append(
                F.max(
                    F.when(
                        (F.col(OP) == OP_UPDATE) & F.col(c).isNotNull(),
                        F.struct(F.col(SEQ).alias("s"), F.col(c).alias("v")),
                    )
                ).alias(f"__u_{c}")
            )
        folded = (
            delta.groupBy(RID)
            .agg(*aggs)
            .where(F.col("_del_seq").isNull())
        )
        cur = self.current_view(include_meta=True).select(
            F.col(RID), *[F.col(c) for c in self.user_cols]
        )
        # Touched-rids-only for real: the fold must prune the BASE and
        # TAIL scans, not just filter after a full-table fold. Below
        # the cap the rid set becomes a pushed-down ``_rid IN (...)``
        # on the view (same fast path as indexing.ISIN_CAP); above it,
        # a broadcast semi-join prunes the view before the inner join
        # — never an O(table) fold for an O(delta) validation.
        rids = [r[RID] for r in folded.select(RID).limit(_CHECK_ISIN_CAP + 1).collect()]
        if not rids:
            return
        if len(rids) <= _CHECK_ISIN_CAP:
            cur = cur.where(F.col(RID).isin(rids))
        else:  # pragma: no cover - >100k rids in one delta batch
            cur = cur.join(
                F.broadcast(folded.select(RID)), on=RID, how="left_semi"
            )
        post = folded.join(cur, on=RID, how="inner").select(
            F.col(RID),
            *[
                (
                    F.coalesce(F.col(f"__u_{c}.v"), F.col(c))
                    if c in mutable
                    else F.col(c)
                ).alias(c)
                for c in self.user_cols
            ]
        )
        if checks:
            bad_aggs = [
                F.sum(F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)).alias(n)
                for n, e in checks.items()
            ]
            row = post.agg(*bad_aggs).collect()[0].asDict()
            bad = {n: v for n, v in row.items() if v}
            if bad:
                raise CheckViolation(
                    f"check constraint(s) violated by folded post-update rows: {bad}"
                )
        for c in uniq_cols:
            vals_rows = post.select(F.col(RID), F.col(c)).where(
                F.col(c).isNotNull()
            )
            agg = vals_rows.agg(
                F.count(c).alias("_n"), F.count_distinct(F.col(c)).alias("_d")
            ).collect()[0]
            if agg["_n"] != agg["_d"]:
                raise UniqueViolation(
                    f"update batch folds to duplicate values in unique column {c!r}"
                )
            vals = [
                r[c]
                for r in vals_rows.select(c)
                .distinct()
                .limit(_CHECK_ISIN_CAP + 1)
                .collect()
            ]
            if not vals:
                continue
            live = self.current_view(include_meta=True).select(
                F.col(RID), F.col(c)
            )
            if len(vals) <= _CHECK_ISIN_CAP:
                probe = live.where(F.col(c).isin(vals))
            else:  # pragma: no cover - >cap distinct values in one batch
                probe = live.join(
                    F.broadcast(vals_rows.select(c).distinct()), on=c, how="left_semi"
                )
            if len(rids) <= _CHECK_ISIN_CAP:
                probe = probe.where(~F.col(RID).isin(rids))
            else:  # pragma: no cover
                probe = probe.join(
                    F.broadcast(folded.select(RID)), on=RID, how="left_anti"
                )
            if probe.limit(1).count():
                raise UniqueViolation(
                    f"update would duplicate a live value in unique column {c!r}"
                )

    def _check_aggs(self) -> dict[str, Any]:
        """One violation-counting aggregate per registered check —
        attached to write jobs via ``Observation`` so enforcement
        costs ZERO extra passes: the counts ride the staged write
        itself, and a violation aborts before anything publishes."""
        return {
            n: F.sum(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
            ).alias(n)
            for n, e in self.manifest.extra.get("checks", {}).items()
        }

    def _append_via_staging(
        self,
        df: DataFrame,
        target_dir: str,
        partition_by: list[str] | None = None,
        txn_hidden: str | None = None,
        rebalance: bool = False,
    ) -> dict | None:
        """Commit-protocol append: write to a staging dir, then move
        the finished part-files into the table dir (preserving
        Hive partition subdirectories). Two reasons this exists
        instead of a plain ``mode('append')``:

        1. Deltas are often *derived from the table's own current
           view* (e.g. bulk_update values computed from existing
           rows) — appending to a directory the same job is scanning
           is undefined behavior; staging decouples read from publish.
        2. It is the single-writer commit point: readers never see a
           partial append (files appear only after they are complete),
           which is the same files-then-manifest discipline a real
           lakehouse format uses.

        With ``txn_hidden`` (a transaction id) the files land under
        HIDDEN names (``_txn_<id>_...``: Spark scans skip ``_``
        prefixes and the repair resync imports only ``*.parquet``
        without it) and the log append is DEFERRED — the method
        returns the publish intent (renames + log action) for
        :func:`commit_tables_atomically` to publish under one shared
        commit marker. Footer stats are read from the hidden files;
        the entries carry the visible (post-rename) paths."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:8]}")
        aggs = self._check_aggs()
        obs = None
        if aggs:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, *aggs.values())
        df = self._df_to_physical(df)
        if rebalance:
            # Right-size TAIL delta files (guide: coalesce on write /
            # REBALANCE before the write). Delta frames are computed
            # through broadcast joins, so their output partitioning is
            # the BASE SCAN's — a sparse delta inherits one output
            # file per scan task (measured: a 3-round mutation batch at
            # 32 cores wrote 96 tiny files; at 100 TB a scan-shaped
            # delta write would emit one near-empty file per scan
            # split). The AQE rebalance shuffles only the delta bytes
            # themselves and coalesces to advisoryPartitionSizeInBytes
            # — scale-adaptive, not tuned to the local core count. Row
            # VALUES are unchanged (the _seq projection stays below the
            # added exchange); only file placement changes. Never used
            # for base/compacted writes, whose key-clustered layout
            # feeds per-file min/max skipping (r10 regression).
            # Keyed on _rid (r15, ADVICE r14): a keyless rebalance is
            # round-robin, whose retry-deterministic placement relies
            # on sorting the input rows — but delta rows carry a
            # monotonically_increasing_id-derived _seq, which a
            # re-executed map task can recompute differently, so a
            # partial map-stage retry at cluster scale could place a
            # recomputed row on a different reducer than its lost
            # twin (duplicate/lost rows). Hashing on the rid makes
            # row->reducer placement a pure function of a
            # deterministic column; AQE still sizes the output files
            # from the data exactly as before.
            df = df.hint("rebalance", F.col(RID))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if rebalance:
            # AQE's coalescer by default "respects parallelism first"
            # (spark.sql.adaptive.coalescePartitions.parallelismFirst),
            # i.e. it stops merging at total/cores and ignores the
            # advisory size — right for MID-QUERY stages that still
            # feed compute, wrong for this FINAL write stage, where it
            # re-plants the small-file problem as one file per core:
            # measured at sf10, the 117 MB 3-round tail delta wrote 32
            # x 3.65 MB files; with parallelism-first off it writes 3
            # files of 21-45 MB (the advisory target). Scoped to the
            # rebalanced write only — read-side and mid-query
            # coalescing keep the parallelism-friendly default
            # (refcounted flip: concurrent writers nest, never race).
            with _scoped_conf(
                self.spark,
                "spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false",
            ):
                writer.parquet(staging)
        else:
            writer.parquet(staging)
        if obs is not None:
            viol = {n: v for n, v in obs.get.items() if v}
            if viol:
                # nothing has been published — drop the staging dir and
                # the write never happened
                shutil.rmtree(staging, ignore_errors=True)
                raise CheckViolation(f"check constraint(s) violated: {viol}")
        moved: list[str] = []  # visible dests ('rename' path) or hidden abs
        renames: list[tuple[str, str]] = []  # (hidden rel, visible rel) to table
        for root, _dirs, files in os.walk(staging):
            rel = os.path.relpath(root, staging)
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                dest_dir = target_dir if rel == "." else os.path.join(target_dir, rel)
                os.makedirs(dest_dir, exist_ok=True)
                vis = f"{uuid.uuid4().hex[:8]}-{name}"
                if txn_hidden is not None:
                    hid = os.path.join(dest_dir, f"_txn_{txn_hidden}_{vis}")
                    os.rename(os.path.join(root, name), hid)
                    renames.append(
                        (
                            os.path.relpath(hid, self.path),
                            os.path.relpath(os.path.join(dest_dir, vis), self.path),
                        )
                    )
                    moved.append(hid)
                else:
                    dest = os.path.join(dest_dir, vis)
                    os.rename(os.path.join(root, name), dest)
                    moved.append(dest)
        shutil.rmtree(staging, ignore_errors=True)
        if txn_hidden is not None:
            if not moved:
                return None
            from .filelog import file_entries

            # entries: stats from the hidden bytes, visible rel path
            ents = file_entries(
                [
                    (
                        hid,
                        os.path.relpath(
                            os.path.join(self.path, vis_rel), target_dir
                        ),
                    )
                    for hid, (_h, vis_rel) in zip(moved, renames)
                ],
                self._stat_cols,
            )
            return {
                "renames": renames,
                "action": {
                    "op": "add",
                    "dir": self._log_tag(target_dir),
                    "files": ents,
                },
            }
        # files-then-log: the commit becomes visible to log-planned
        # scans here (one footer read per new file for stats)
        if moved:
            from .filelog import file_entries

            self.filelog.append(
                [
                    {
                        "op": "add",
                        "dir": self._log_tag(target_dir),
                        "files": file_entries(
                            [
                                (p, os.path.relpath(p, target_dir))
                                for p in moved
                            ],
                            self._stat_cols,
                        ),
                    }
                ]
            )
        return None

    # ------------------------------------------------------------------
    # write path (Q1 insert / Q4 update / Q5 delete — bulk + row-at-a-time)
    # ------------------------------------------------------------------
    def insert_rows(self, rows: Iterable[tuple]) -> list[int]:
        """Row-at-a-time / small-batch insert (reference Q1,
        query.py:57-75). Returns assigned rids. Rows buffer in memory
        and flush to Parquet past FLUSH_THRESHOLD or on close/compact."""
        now = _now()
        rids = []
        for row in rows:
            if len(row) != len(self.user_cols):
                raise ValueError(f"expected {len(self.user_cols)} columns, got {len(row)}")
            rid = self._next_local_id()
            rids.append(rid)
            self._pending_base.append((rid, now, *row))
        self._maybe_flush()
        return rids

    def append_tail_rows(self, rows: Iterable[tuple[int, str, tuple]]) -> list[int]:
        """Append (rid, op, values) deltas; values use None = unchanged
        (the reference's schema-encoding bitmap, query.py:141).
        Returns assigned seqs."""
        now = _now()
        seqs = []
        for rid, op, values in rows:
            seq = self._next_local_id()
            seqs.append(seq)
            self._pending_tail.append((rid, seq, op, now, *values))
        self._maybe_flush()
        return seqs

    def ingest_dataframe(self, df: DataFrame) -> None:
        """Bulk ingest: assign rids executor-side (no driver loop, no
        shuffle) and append to the base Parquet dir. This is the 100 TB
        write path — ``monotonically_increasing_id`` is per-partition,
        the batch id comes from one manifest bump on the driver."""
        self.flush()  # keep rid ordering: buffered rows commit first
        self._validate_unique_inserts(df)
        batch = self._reserve_batches(1)
        # Parallelism floor: a source that arrives as a handful of
        # splits (e.g. one small single-row-group parquet file) would
        # otherwise become a single-file base table, serializing every
        # later scan on one core. At real scale inputs carry >= session
        # parallelism splits and this is a no-op; when it does fire,
        # the shuffle moves exactly the bytes being written anyway.
        # Data-derived width, not a core-count constant: the floor
        # targets a minimum bytes-per-file (conf below, default 8 MiB,
        # local and cluster alike), capped at the session parallelism.
        # The size estimate comes first (public-API, driver-cheap —
        # inputFiles byte sum / explain-cost) so that when it already
        # decides target=1, the exact partition-count probe (df.rdd,
        # which forces a plan->RDD conversion) is skipped outright;
        # the probe must be exact when it does run — an unconditional
        # round-robin repartition here would scatter naturally-
        # contiguous keys across every output file and destroy the
        # tight per-file key stats that file skipping plans from (r10
        # regression caught by test_filelog). When the size estimate
        # is unavailable the old core-count floor stands (logged —
        # ADVICE r14: a silent revert after a Spark upgrade would
        # flip file layout without a trace).
        floor = df.sparkSession.sparkContext.defaultParallelism
        # At-scale fast path: a source already carrying >= floor input
        # files needs no widening (its write is at least floor-wide or
        # packs into >= advisory-sized splits either way), and it must
        # not pay ANY estimation work per ingest — one inputFiles()
        # call is the entire at-scale cost. The estimate below runs
        # only on the small/in-memory corner the floor exists for.
        try:
            many_files = len(df.inputFiles()) >= floor
        except Exception:
            many_files = False
        if not many_files:
            target = floor
            est = _estimate_plan_bytes(df)
            if est is not None:
                min_file = _parse_size_bytes(
                    df.sparkSession.conf.get(
                        "spark.lineage_store.ingest.minFileBytes", "8m"
                    )
                )
                target = max(1, min(floor, -(-est // max(1, min_file))))
            else:
                _log.warning(
                    "ingest size estimate unavailable; falling back to "
                    "core-count parallelism floor (%d) for %s",
                    floor,
                    self.path,
                )
            if target > 1:
                cur = df.rdd.getNumPartitions()
                if cur < target:
                    df = df.repartition(target)
        out = df.select(
            (F.lit(batch << _BATCH_SHIFT) + F.monotonically_increasing_id()).alias(RID),
            F.current_timestamp().alias(TS),
            *[F.col(c).cast(self.schema[c].dataType).alias(c) for c in self.user_cols],
        )
        self._append_via_staging(out, self.base_dir, partition_by=self.partition_by)

    def bulk_update(self, changes: DataFrame) -> None:
        """Bulk update by primary key: ``changes`` has the key column
        plus any subset of user columns holding new values (reference
        Q4 semantics, vectorized). One broadcast-able join against the
        live key map resolves key -> rid; the deltas append to tail.
        Columns not present in ``changes`` are recorded as NULL =
        unchanged. A one-round :meth:`mutation_batch`."""
        self._commit_mutation_batch([("U", changes)])

    def bulk_delete(self, keys: DataFrame) -> None:
        """Bulk tombstone by primary key (reference Q5, query.py:27-49).
        A one-round :meth:`mutation_batch`."""
        self._commit_mutation_batch([("D", keys)])

    def merge_into(
        self,
        source: DataFrame,
        when_matched_delete: Column | None = None,
        when_matched_update: Column | None = None,
        when_not_matched_insert: bool = True,
    ) -> None:
        """MERGE INTO by primary key — the full lakehouse MERGE shape
        (Delta/Iceberg ``WHEN MATCHED [AND cond] THEN UPDATE/DELETE,
        WHEN NOT MATCHED THEN INSERT``) on the lineage format: ONE
        join against the 2-column live-key map classifies every source
        row, then each branch is a plain append — no base rewrite, no
        per-row driver work. Default arguments give the classic upsert.

        - ``when_matched_delete``: matched source rows satisfying this
          predicate (evaluated over the source row; NULL counts as
          false, the SQL MERGE convention) become tombstones instead
          of update deltas.
        - ``when_matched_update``: if given, only matched rows
          satisfying it (and not deleted) update; others are left
          untouched.
        - ``when_not_matched_insert=False`` drops the insert branch.

        Update and delete deltas publish in ONE tail append (a single
        ``_seq`` batch — one commit); the insert branch is a second
        commit, with ALL branches validated before either publishes
        (the inherited CheckViolation contract).

        ``source`` must be key-unique: duplicate keys would emit
        several update deltas for one rid in a single batch, and which
        survives would depend on partition layout (monotonic seq
        assignment) — nondeterministic. Asserted here; pre-aggregate
        (e.g. ``max_by`` over an ordering column) before merging."""
        self.flush()
        cur = self._live_key_rid_map()
        src = source.persist()
        try:
            # one job; the struct makes a NULL key count as a value,
            # like DISTINCT does
            n_rows, n_keys = src.agg(
                F.count(F.lit(1)), F.count_distinct(F.struct(self.key))
            ).first()
            if n_rows != n_keys:
                raise ValueError(
                    f"merge_into source has duplicate keys ({n_rows} rows, "
                    f"{n_keys} distinct {self.key!r}); deduplicate first — "
                    "the surviving delta would otherwise be partition-layout "
                    "dependent"
                )
            # live map's partition values are authoritative for the
            # delta (aliased to dodge collisions with the source
            # columns, which the branch predicates still see)
            cur_aliased = cur.select(
                F.col(self.key),
                F.col(RID),
                *[F.col(c).alias(f"__live_{c}") for c in self.partition_by],
            )
            matched = src.join(cur_aliased, on=self.key, how="inner")

            def matched_live(df):
                # the delta's partition values: the live map's, not the source's
                if not self.partition_by:
                    return df
                return df.drop(*self.partition_by).withColumnsRenamed(
                    {f"__live_{c}": c for c in self.partition_by}
                )

            unmatched = src.join(cur.select(self.key), on=self.key, how="left_anti")
            if not when_not_matched_insert:
                unmatched = unmatched.limit(0)
            # deletes get their OWN seq batch: monotonic ids restart
            # per frame, so sharing the update batch could collide.
            # One rid never appears in both branches (disjoint WHERE),
            # so cross-branch seq order is irrelevant.
            batch = self._reserve_batches(1 if when_matched_delete is None else 2)
            present = [c for c in source.columns if c in self.user_cols]
            # NULL predicate = false, the SQL MERGE convention
            del_cond = (
                F.coalesce(when_matched_delete, F.lit(False))
                if when_matched_delete is not None
                else F.lit(False)
            )
            to_upd = matched.where(~del_cond)
            if when_matched_update is not None:
                to_upd = to_upd.where(
                    F.coalesce(when_matched_update, F.lit(False))
                )
            upd = self._tail_delta(matched_live(to_upd), OP_UPDATE, batch, present)
            tail_out = upd
            if when_matched_delete is not None:
                dels = self._tail_delta(
                    matched_live(matched.where(del_cond)), OP_DELETE, batch + 1
                )
                tail_out = upd.unionByName(dels)
            ins_cols = [
                (
                    F.col(c).cast(self.schema[c].dataType)
                    if c in present
                    else F.lit(None).cast(self.schema[c].dataType)
                ).alias(c)
                for c in self.user_cols
            ]
            ins_proj = unmatched.select(*ins_cols)
            # ALL branches validate before ANY publishes — an aborted
            # merge must leave the table untouched (the inherited
            # CheckViolation contract); the update deltas validate in
            # _publish_tail, ahead of their append. Validating only
            # inside ingest_dataframe would publish the update deltas
            # first and then raise, leaving a half-applied merge.
            # Semantics note: inserts validate against the PRE-merge
            # snapshot, so an insert that is only legal because a
            # same-merge update vacates the value is (conservatively)
            # rejected — split it into two calls.
            self._validate_unique_inserts(ins_proj)
            checks = self._check_aggs()
            if checks:
                row = ins_proj.agg(*checks.values()).collect()[0].asDict()
                bad = {n: v for n, v in row.items() if v}
                if bad:
                    raise CheckViolation(f"check constraint(s) violated: {bad}")
            # cross-branch uniqueness: an update may set a value that
            # collides with an insert in the SAME merge; neither
            # branch's own validation sees the other, and catching it
            # at ingest time would again be post-update-publish.
            for c in self.manifest.extra.get("uniques", []):
                if c not in present or c == self.key:
                    continue
                collide = (
                    ins_proj.select(c)
                    .where(F.col(c).isNotNull())
                    .join(
                        upd.select(c).where(F.col(c).isNotNull()),
                        on=c,
                        how="left_semi",
                    )
                )
                if collide.limit(1).count():
                    raise UniqueViolation(
                        f"merge would duplicate value(s) in unique column {c!r} "
                        "between its update and insert branches"
                    )
            self._publish_tail(
                tail_out, inserts=ins_proj if when_not_matched_insert else None
            )
        finally:
            src.unpersist()

    def mutation_batch(self):
        """Context manager batching DEPENDENT update/delete rounds into
        ONE staged tail commit::

            with t.mutation_batch() as b:
                b.update(changes_df)                       # round 1
                b.update(lambda v: v.where(...).select(...))  # sees round 1
                b.delete(keys_df)

        Each round sees the in-flight state: callables receive the
        pending current view (base folded with every earlier round's
        deltas — all lazy, one DAG). Every round gets its own commit
        batch id, so seq ordering between rounds is exact; but there is
        only ONE staged Parquet append and one manifest bump instead of
        one per round. This is the bulk-write analogue of the
        reference's transaction batching — and at any scale it cuts
        commit latency to a single write job.

        Like :meth:`bulk_update`, each round's changes must be
        key-unique within the round."""
        return _MutationBatchCM(self)

    def _commit_mutation_batch(self, rounds: list[tuple[str, Any]]) -> None:
        if not rounds:
            return
        # The commit is driver-planning-heavy: the staged write is a
        # union of per-round delta plans, each a join against the
        # resolver over the (cached) earlier rounds, and Catalyst's
        # constraint propagation is super-linear in the constraint
        # set such a union-of-joins accumulates. The inferences it
        # would add (IsNotNull on equi-join keys) are worthless here
        # — every join is on the primary key / rid, null keys match
        # nothing either way — so turn the rule off for the commit's
        # scope only (results-neutral by construction: constraint
        # propagation only licenses optimizer rewrites). Measured
        # (sf0.1, warm, min-of-4): commit 1.34-1.62 s -> 1.20-1.26 s.
        # Re-measured once every bulk commit ran through here
        # (perfbench lineage_rw, 10 alternating traced pairs, 4 vCPU):
        # driver time within noise, but one Spark job fewer per
        # update/delete batch on every run (bulk_update 4 -> 3.5,
        # mutation_batch 13 -> 12 jobs per call, medians).
        # Refcounted flip (see _scoped_conf): concurrent commits on
        # other tables of the same session nest instead of racing the
        # save/restore.
        with _scoped_conf(
            self.spark, "spark.sql.constraintPropagation.enabled", "false"
        ):
            self._commit_mutation_batch_rounds(rounds)

    def _commit_mutation_batch_rounds(self, rounds: list[tuple[str, Any]]) -> None:
        self.flush()
        first_batch = self._reserve_batches(len(rounds))
        base, tail, tail_empty = self._read_live()
        deltas: list[DataFrame] = []
        cur_tail = tail
        # liveness changes only via DELETE rounds; track their rids so
        # each round's resolver is base ∖ tombstones — never a full
        # value fold
        tomb = tail.where(F.col(OP) == OP_DELETE).select(F.col(RID))
        for i, (kind, payload) in enumerate(rounds):
            resolver = self._live_key_rid_map(base, tomb)
            if callable(payload):
                # the round's transform sees the pending CURRENT VIEW
                # (all earlier rounds' effects folded in, lazily)
                pending = self._fold_tail(
                    base,
                    cur_tail,
                    # flushed above, nothing published since
                    tail_known_empty=i == 0 and tail_empty,
                )
                changes = payload(pending.select(*self.user_cols))
            else:
                changes = payload
            if kind == "U":
                changed = [c for c in changes.columns if c != self.key and c in self.user_cols]
                bad = [c for c in changed if c in self.partition_by]
                if bad:
                    raise ValueError(
                        f"partition columns are immutable per rid (delete+reinsert "
                        f"to move a record): {bad}"
                    )
                joined = changes.join(resolver, on=self.key, how="inner")
                delta = self._tail_delta(joined, OP_UPDATE, first_batch + i, changed)
            else:
                joined = changes.select(self.key).join(resolver, on=self.key, how="inner")
                delta = self._tail_delta(joined, OP_DELETE, first_batch + i)
            later = rounds[i + 1 :]
            if any(callable(p) for _k, p in later) or (kind == "D" and later):
                # This delta is re-read by later rounds — update deltas
                # through the pending-view fold of any later CALLABLE
                # round, delete deltas through every later round's
                # tombstone resolver; persist + materialize so it is
                # computed once, not once per downstream plan. A delta
                # referenced only by the final write (the common tail
                # of a batch: trailing literal updates/deletes) skips
                # the extra job.
                delta = delta.persist()
                delta.count()
            deltas.append(delta)
            cur_tail = cur_tail.unionByName(delta)
            if kind == "D":
                tomb = tomb.unionByName(delta.select(F.col(RID)))
        out = deltas[0]
        for d in deltas[1:]:
            out = out.unionByName(d)
        try:
            # delete-only batches carry no values to check
            self._publish_tail(out, validate=any(k == "U" for k, _p in rounds))
        finally:
            for d in deltas[:-1]:
                d.unpersist()

    def _tail_delta(
        self, joined: DataFrame, op: str, batch: int, changed: Iterable[str] = ()
    ) -> DataFrame:
        """The one tail-delta projection of every bulk commit — L-Store's
        single write primitive. ``joined`` holds ``_rid`` plus the key
        and partition columns (from the live map) and the ``changed``
        columns' new values. The immutable key/partition values ride
        along so tail scans prune on them; every other user column is
        NULL = unchanged (always, for a tombstone)."""
        keep = {self.key, *self.partition_by, *changed}
        return joined.select(
            F.col(RID),
            (F.lit(batch << _BATCH_SHIFT) + F.monotonically_increasing_id()).alias(SEQ),
            F.lit(op).alias(OP),
            F.current_timestamp().alias(TS),
            *[
                (F.col(c) if c in keep else F.lit(None))
                .cast(self.schema[c].dataType)
                .alias(c)
                for c in self.user_cols
            ],
        )

    def _publish_tail(
        self, out: DataFrame, validate: bool = True, inserts: DataFrame | None = None
    ) -> None:
        """The one publish step of every bulk tail commit: validate the
        folded updates, append the deltas in one rebalanced staged
        write, ingest ``inserts`` (merge_into's second commit, before
        any compaction can swap the snapshot its plan reads), then
        compact if the tail has grown past AUTO_COMPACT_TAIL_FILES."""
        if validate:
            self._validate_folded_updates(out)
        self._append_via_staging(out, self.tail_dir, rebalance=True)
        if inserts is not None:
            self.ingest_dataframe(inserts)
        self._maybe_auto_compact()

    def delete_where(self, condition) -> None:
        """Predicate delete: tombstone every live record matching
        ``condition`` (a Column or SQL string over the user columns) —
        resolved through the current view (so predicates on updated
        values see post-update state), appended as delete deltas."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        keys = self.current_view().where(cond).select(self.key)
        self.bulk_delete(keys)

    def _live_key_rid_map(
        self, base: DataFrame | None = None, tomb: DataFrame | None = None
    ) -> DataFrame:
        """(rid, key, <partition cols>) for every LIVE record — the
        cheap resolver behind every bulk commit. The primary key is immutable (key
        changes are delete+reinsert, see Query.update) and a delete
        tombstone is terminal per rid (reinserts allocate a fresh rid),
        so the map is just base(rid, key) MINUS tombstoned rids: a
        2-column scan + left-anti join on a set of longs, instead of
        folding every user column through the current view. The anti
        side is only tombstone rids — broadcastable at any realistic
        delete rate.

        With a compacted snapshot, liveness comes from (snapshot ∪
        fresh base) minus POST-TPS tombstones: the snapshot already
        excludes records deleted before the watermark, which keeps
        this correct after :meth:`vacuum_tail` removes those
        tombstone rows (and shrinks the anti side besides). A mutation
        batch passes its own ``base`` and ``tomb`` (the tombstone rids,
        in-flight rounds included)."""
        if base is None:
            base, tail, _ = self._read_live()
            tomb = tail.where(F.col(OP) == OP_DELETE).select(F.col(RID))
        live_cols = [F.col(RID), F.col(self.key), *[F.col(c) for c in self.partition_by]]
        return base.select(*live_cols).join(tomb, on=RID, how="left_anti")

    def _maybe_auto_compact(self) -> None:
        # the tail's file count is the file log's live tail entries —
        # no directory listing on the commit path
        if self.AUTO_COMPACT_TAIL_FILES and len(
            self.filelog.live(self._log_tag(self.tail_dir))
        ) > self.AUTO_COMPACT_TAIL_FILES:
            self.compact()

    def _maybe_flush(self) -> None:
        if len(self._pending_base) + len(self._pending_tail) >= self.FLUSH_THRESHOLD:
            self.flush()

    def flush(self, _txn_id: str | None = None) -> list[dict]:
        """Write pending buffers to Parquet and close the open batch.
        The Spark analogue of the reference's page rollover
        (table.py:104-119). With ``_txn_id`` the files stage HIDDEN
        and the publish intents return instead of the log committing —
        see :meth:`stage_pending` / :func:`commit_tables_atomically`."""
        intents: list[dict] = []
        # A violation aborts the whole buffered batch — nothing
        # publishes, and the buffer is dropped. CHECKs ride the staged
        # write itself (_append_via_staging's Observation).
        if self._pending_base:
            df = self.spark.createDataFrame(self._pending_base, self.base_schema)
            try:
                self._validate_unique_inserts(df)
                it = self._append_via_staging(
                    df.coalesce(1),
                    self.base_dir,
                    partition_by=self.partition_by,
                    txn_hidden=_txn_id,
                )
            except CheckViolation:  # UniqueViolation included
                self._pending_base = []
                raise
            if it:
                intents.append(it)
            self._pending_base = []
        if self._pending_tail:
            df = self.spark.createDataFrame(self._pending_tail, self.tail_schema)
            try:
                # the folded post-update rows, as _publish_tail checks
                # a bulk commit's
                self._validate_folded_updates(df)
                # staged like every other commit: staging is what lets
                # the new files be enumerated for the log entry
                it = self._append_via_staging(
                    df.coalesce(1), self.tail_dir, txn_hidden=_txn_id
                )
            except CheckViolation:  # UniqueViolation included
                self._pending_tail = []
                raise
            if it:
                intents.append(it)
            self._pending_tail = []
        # No manifest save here: the open batch was reserved (and the
        # manifest CAS'd) in _ensure_batch, so the on-disk manifest is
        # already current — saving again would only widen the window in
        # which a stale handle conflicts AFTER publishing files.
        self._open_batch = None
        return intents

    def stage_pending(self, txn_id: str) -> dict | None:
        """Stage this table's pending buffered rows as HIDDEN files
        plus a publish intent — the per-table half of the multi-table
        atomic commit (:func:`commit_tables_atomically`). Runs the
        same constraint/uniqueness validation as :meth:`flush`.
        Returns None when nothing is pending."""
        intents = self.flush(_txn_id=txn_id)
        if not intents:
            return None
        return {
            "path": self.path,
            "renames": [r for it in intents for r in it["renames"]],
            "actions": [it["action"] for it in intents],
        }

    # ------------------------------------------------------------------
    # read path: raw frames
    # ------------------------------------------------------------------
    def _read_or_empty(
        self,
        path: str,
        schema: T.StructType,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Planned scan of one live table directory, from the file
        log's live-file set — no directory listing (the expensive
        operation on object storage). ``prune`` (``physical col ->
        (lo, hi)`` bounds) skips whole files by their logged min/max
        before Spark opens a single footer; files without stats are
        always kept (pruning is an optimization, never a filter)."""
        entries = [
            e for e in self.filelog.live(self._log_tag(path)) if e.get("rows", 1) != 0
        ]
        if prune:
            entries = prune_entries(entries, prune)
        return self._df_from_entries(path, schema, entries)

    def base_df(
        self,
        include_pending: bool = True,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """All original inserted records (full history side). ``prune``
        passes physical-column (lo, hi) bounds for file skipping — the
        caller must ALSO apply the equivalent row filter (skipping is
        an optimization, never a row-level guarantee)."""
        df = self._read_or_empty(self.base_dir, self.base_schema, prune=prune)
        if include_pending and self._pending_base:
            df = df.unionByName(self.spark.createDataFrame(self._pending_base, self.base_schema))
        return df

    def tail_df(
        self,
        include_pending: bool = True,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        df = self._read_or_empty(self.tail_dir, self.tail_schema, prune=prune)
        if include_pending and self._pending_tail:
            df = df.unionByName(self.spark.createDataFrame(self._pending_tail, self.tail_schema))
        return df

    # ------------------------------------------------------------------
    # read path: the one table-state reader
    #
    # L-Store's read rule — the merged base pages, then only the tail
    # records past their TPS watermark — lives here and nowhere else.
    # Every view, time-travel read and maintenance pass hands in a
    # file-log state (live, at a commit, or pinned by a ref) plus the
    # watermarks that state folds under, and gets back the base and
    # tail frames (or, for metadata-plane readers, the classified
    # files themselves).
    # ------------------------------------------------------------------
    def _watermarks(self) -> dict:
        """The manifest's fold watermarks, in the shape compact() logs
        them (``setmeta``) and refs pin them."""
        m = self.manifest
        return {
            "compact_version": m.compact_version,
            "compact_rid_hi": m.compact_rid_hi,
            "tps": m.tps,
        }

    def _state_files(
        self,
        state: dict[str, list[dict]],
        wm: dict | None,
        root: str | None = None,
        key_range: tuple | None = None,
    ) -> _StateFiles:
        """Classify a file-log state (tag -> entries; tags are
        directories under ``root``, default the table) for the fold.

        With watermarks whose ``compact_version`` is set, the fold
        reads the snapshot files, the base files whose logged ``_rid``
        max is above ``compact_rid_hi`` and the tail files whose
        logged ``_seq`` max is above ``tps``; ``wm=None`` (or no
        snapshot) reads raw history: every base and tail file.
        Zero-row part files (Spark writes one per empty output task)
        are dropped. ``key_range=(lo, hi)`` (either side None)
        prunes by the logged key min/max — the tail only when deltas
        carry the key (:attr:`tail_keyed`): un-keyed deltas hold NULL
        there, and parquet min/max ignores nulls, so a file's stats
        could exclude a key whose delta it holds."""

        def nonempty(tag: str) -> list[dict]:
            return [e for e in state.get(tag, []) if e.get("rows", 1) != 0]

        fresh = nonempty(self._log_tag(self.base_dir))
        tail = nonempty(self._log_tag(self.tail_dir))
        snap_tag, snap, rid_hi, tps = None, [], None, None
        if wm is not None and wm.get("compact_version", -1) >= 0:
            snap_tag = self._log_tag(self.compacted_dir(wm["compact_version"]))
            snap = nonempty(snap_tag)
            rid_hi, tps = wm["compact_rid_hi"], wm["tps"]
            fresh = prune_entries(fresh, {RID: (rid_hi + 1, None)})
            tail = prune_entries(tail, {SEQ: (tps + 1, None)})
        if key_range is not None:
            kb = {self._phys_map.get(self.key, self.key): tuple(key_range)}
            snap = prune_entries(snap, kb)
            fresh = prune_entries(fresh, kb)
            if self.tail_keyed:
                tail = prune_entries(tail, kb)
        return _StateFiles(
            self.path if root is None else root,
            snap_tag, snap, fresh, tail, rid_hi, tps, key_range,
        )

    def _state_frames(
        self, files: _StateFiles, include_pending: bool = False
    ) -> tuple[DataFrame, DataFrame, bool]:
        """``(base, tail, tail_known_empty)`` over classified files:
        base = snapshot ∪ fresh rows with ``_rid > rid_hi``, tail =
        rows with ``_seq > tps`` (raw frames without watermarks), the
        key row filter on base, and the buffered rows when
        ``include_pending``. ``tail_known_empty`` lets the fold skip
        its outer join outright."""
        pend_base = include_pending and bool(self._pending_base)
        pend_tail = include_pending and bool(self._pending_tail)
        base = self._df_from_entries(
            os.path.join(files.root, self._log_tag(self.base_dir)),
            self.base_schema,
            files.fresh,
        )
        tail = self._df_from_entries(
            os.path.join(files.root, self._log_tag(self.tail_dir)),
            self.tail_schema,
            files.tail,
        )
        if pend_base:
            base = base.unionByName(
                self.spark.createDataFrame(self._pending_base, self.base_schema)
            )
        if pend_tail:
            tail = tail.unionByName(
                self.spark.createDataFrame(self._pending_tail, self.tail_schema)
            )
        if files.snap_tag is not None:
            snap = self._df_from_entries(
                os.path.join(files.root, files.snap_tag), self.base_schema, files.snap
            )
            base = snap.unionByName(base.where(F.col(RID) > F.lit(files.rid_hi)))
            tail = tail.where(F.col(SEQ) > F.lit(files.tps))
        if files.key_range is not None:
            lo, hi = files.key_range
            kc = F.col(self.key)
            if lo is not None:
                base = base.where(kc >= F.lit(lo))
            if hi is not None:
                base = base.where(kc <= F.lit(hi))
        return base, tail, not files.tail and not pend_tail

    def _read_state(
        self,
        state: dict[str, list[dict]],
        wm: dict | None,
        root: str | None = None,
        key_range: tuple | None = None,
        include_pending: bool = False,
    ) -> tuple[DataFrame, DataFrame, bool]:
        """The shared reader: :meth:`_state_files` then
        :meth:`_state_frames`."""
        return self._state_frames(
            self._state_files(state, wm, root, key_range), include_pending
        )

    def _live_files(self, key_range: tuple | None = None) -> _StateFiles:
        """The live state, classified under the manifest's watermarks
        (one file-log refresh)."""
        return self._state_files(
            self.filelog.live_state(), self._watermarks(), key_range=key_range
        )

    def _read_live(
        self, key_range: tuple | None = None
    ) -> tuple[DataFrame, DataFrame, bool]:
        """The current view's fold inputs, buffered rows included."""
        return self._state_frames(self._live_files(key_range), include_pending=True)

    # ------------------------------------------------------------------
    # read path: views
    # ------------------------------------------------------------------
    def _fold_tail(
        self,
        base: DataFrame,
        tail: DataFrame,
        drop_deleted: bool = True,
        tail_known_empty: bool = False,
        broadcast_tail: bool = False,
    ) -> DataFrame:
        """base ⟕ latest-tail coalesce — the lazily-computed
        page_directory (reference table.py:37, query.py:96).

        The tail is first reduced to ONE row per rid with a single
        map-side-combinable aggregate: for every user column, the value
        at the max _seq among deltas that touched it —
        ``max(struct(_seq, col))`` (struct ordering is by _seq first;
        _seq is globally unique so the column value never decides).
        This replaces the reference's newest-first tail-page scan
        (get_indirection, table.py:162-170) with one shuffle whose
        size is |tail|, independent of |base|; AQE then broadcasts the
        folded tail into the base join when it is small.

        The PRIMARY KEY is taken from the base side directly (never
        coalesced): the lineage encoding treats the key as immutable
        (key-changing updates are executed as delete+reinsert by the
        Query facade). This is what lets Catalyst push key predicates
        through the left-outer join into the base Parquet scan — a
        point/range query on the key reads only matching row groups
        instead of scanning 100 TB (verified by
        tests/test_entry_contract.py::test_filter_pushdown...)."""
        if tail_known_empty:
            # Fresh table / fully-compacted fast path: no deltas means
            # the view IS the base projection — skip the outer join
            # entirely (an RDD-backed empty frame would otherwise force
            # a sort-merge join Catalyst can't eliminate).
            return base.select(F.col(RID), F.col(TS), *self.user_cols)
        # Immutable-per-rid columns are taken from the base side
        # directly (never coalesced): the key by the lineage encoding,
        # and partition columns by layout (changing either executes as
        # delete+reinsert — Query.update / bulk_update contract). This
        # is what lets Catalyst push key predicates AND partition
        # pruning through the left-outer join into the base scan.
        immutable = {self.key, *self.partition_by}
        aggs = [
            F.max(F.when(F.col(OP) == OP_DELETE, F.col(SEQ))).alias("_del_seq"),
            F.max(F.col(SEQ)).alias("_last_seq"),
        ]
        for c in self.user_cols:
            if c in immutable:
                continue
            aggs.append(
                F.max(
                    F.when(
                        (F.col(OP) == OP_UPDATE) & F.col(c).isNotNull(),
                        F.struct(F.col(SEQ).alias("s"), F.col(c).alias("v")),
                    )
                ).alias(f"__u_{c}")
            )
        if self.tail_keyed:
            # Tail deltas carry the immutable key/partition values, so
            # grouping AND joining on them lets Catalyst infer
            # key/partition filters onto the tail Parquet scan (the
            # join output's key is the base's either way — the values
            # are identical by the immutability contract).
            join_cols = [RID, self.key, *self.partition_by]
        else:
            join_cols = [RID]
        folded = tail.groupBy(*join_cols).agg(*aggs)
        if broadcast_tail:
            # Stats-driven (ANALYZE): the folded tail is small enough
            # to broadcast, but Catalyst cannot see through the
            # aggregate to know that statically — without the hint the
            # initial plan is a sort-merge join and only AQE rescues
            # it at runtime. The hint removes both exchanges up front.
            folded = F.broadcast(folded)
        joined = base.join(folded, on=join_cols, how="left")
        if drop_deleted:
            joined = joined.where(F.col("_del_seq").isNull())
        return joined.select(
            F.col(RID),
            F.col(TS),
            *[
                F.col(c)
                if c in immutable
                else F.coalesce(F.col(f"__u_{c}.v"), F.col(c)).alias(c)
                for c in self.user_cols
            ],
        )

    def current_view(
        self,
        include_meta: bool = False,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """Latest version of every live record.

        If a compacted snapshot exists (TPS watermark), only tail rows
        with _seq > TPS are folded, against (snapshot ∪ base rows newer
        than the snapshot) — the reference's merge fast-path intent
        (table.py:186-225) without its addressing bugs.

        ``key_range=(lo, hi)`` (either side None = unbounded) both
        file-skips via the manifest log's per-file key min/max AND
        applies the row filter, so a point/range lookup on the primary
        key opens only the files that can contain it. The watermark
        predicates (``_rid > compact_rid_hi``, ``_seq > tps``) are
        likewise pushed into file skipping — a compacted table's
        current view never opens pre-snapshot base or pre-TPS tail
        files, regardless of row-group pruning."""
        base, tail, known_empty = self._read_live(key_range)
        # ANALYZE-driven planning: stats collected at the CURRENT
        # commit watermark (any write invalidates them) know exactly
        # how many tail rows the fold would process. Zero rows -> skip
        # the outer join entirely (a compacted-and-idle table folds
        # nothing); a small count -> broadcast-hint the folded tail so
        # the initial plan is already the broadcast join AQE would
        # otherwise only discover at runtime.
        broadcast_tail = False
        st = self.manifest.extra.get("stats")
        if not known_empty and st and st.get("watermark") == self.watermark():
            tail_rows = st.get("tail_rows_past_tps")
            if tail_rows == 0 and not self._pending_tail:
                known_empty = True
            elif tail_rows is not None:
                thr = _parse_size_bytes(
                    self.spark.conf.get(
                        "spark.sql.autoBroadcastJoinThreshold", "10485760"
                    )
                )
                # the folded side has one row per DISTINCT rid, however
                # many deltas fold into it
                rids = st.get("tail_rids_past_tps", tail_rows)
                est = rids * (48 + 16 * len(self.user_cols))
                broadcast_tail = 0 < thr and est <= thr
        out = self._fold_tail(
            base, tail, tail_known_empty=known_empty, broadcast_tail=broadcast_tail
        )
        if not include_meta:
            out = out.select(*self.user_cols)
        return out

    def version_view(
        self,
        relative_version: int = 0,
        include_meta: bool = False,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """Record state as of ``relative_version`` updates ago, PER
        RECORD (0 = latest, -1 = previous ...). Contract from the
        reference's select_version docstring (query.py:115-124; the
        reference left the body a stub — SURVEY Appendix A.4).

        Semantics: drop the last |k| update-deltas of each rid, then
        fold as usual; records with fewer than |k| updates clamp to
        their base version. Tombstoned records are invisible at every
        version (the reference removes deleted records from the
        page_directory outright, query.py:40-44).

        Always computed from the ORIGINAL base + full tail (not the
        compacted snapshot): compaction is physical-only and must not
        change any answer. The per-rid window is a shuffle of the tail
        only; version queries are the rare path and stay correct at any
        compaction state.

        After :meth:`vacuum_tail`, pre-snapshot deltas no longer
        exist, so the fold starts from the compacted snapshot and only
        deltas past the TPS watermark are undoable: version travel
        clamps at the snapshot instead of the original base — the
        documented bounded-history trade.
        """
        k = abs(int(relative_version))
        if k == 0 and not include_meta:
            return self.current_view(key_range=key_range)
        vacuumed = self.manifest.extra.get("history_floor") is not None
        base, tail, known_empty = self._read_state(
            self.filelog.live_state(),
            self._watermarks() if vacuumed else None,
            key_range=key_range,
            include_pending=True,
        )
        if k > 0:
            # Drop the last k update-deltas per rid in ONE pass (r15):
            # the old shape scanned the tail twice (updates through a
            # row_number window, deletes separately) and unioned — the
            # union erased the window's partitioning, so the fold's
            # aggregate re-shuffled. Now a single conditional running
            # count ranks updates while delete rows ride through
            # (update-rank of an update row == its row_number among
            # updates at-or-after it in seq order — identical keep
            # set), and the window partitions by the SAME columns the
            # fold groups on, so the fold reuses this exchange and
            # sort outright (guide §2.4: window keyed like the
            # following aggregation needs no second shuffle).
            wcols = [RID, self.key, *self.partition_by] if self.tail_keyed else [RID]
            w = (
                Window.partitionBy(*wcols)
                .orderBy(F.desc(SEQ))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            urank = F.sum(
                F.when(F.col(OP) == OP_UPDATE, 1).otherwise(0)
            ).over(w)
            tail = (
                tail.withColumn("_urn", urank)
                .where((F.col(OP) != OP_UPDATE) | (F.col("_urn") > k))
                .drop("_urn")
            )
        out = self._fold_tail(base, tail, tail_known_empty=known_empty)
        if not include_meta:
            out = out.select(*self.user_cols)
        return out

    # ------------------------------------------------------------------
    # schema evolution (extension — the reference's schema is fixed at
    # create_table, SURVEY §1.4: "no ALTER")
    # ------------------------------------------------------------------
    def add_column(self, name: str, data_type: T.DataType) -> None:
        """ALTER TABLE ADD COLUMN (nullable). Metadata-only: no file is
        rewritten — existing base/tail parquet simply lacks the column
        and the schema-directed read yields NULL for it (exactly the
        lineage encoding's 'never updated' state). Subsequent updates
        set values through the tail; compaction bakes them into the
        next snapshot."""
        if name in self.user_cols or name in META_TAIL:
            raise ValueError(f"column {name!r} already exists")
        if name in self.manifest.extra.get("dropped_columns", []):
            # existing files still hold bytes for the old column; a
            # re-add with a different type would mis-read them
            raise ValueError(f"column name {name!r} was dropped and cannot be reused")
        if name in {self._phys_map.get(c, c) for c in self.user_cols}:
            # a renamed column's files still carry this physical name —
            # a new logical column under it would read THEIR bytes
            raise ValueError(
                f"column name {name!r} is the physical name of a renamed "
                "column and cannot be reused"
            )
        self.flush()
        self.schema = T.StructType(
            list(self.schema.fields) + [T.StructField(name, data_type, True)]
        )
        self.user_cols.append(name)
        self.manifest.schema_json = _schema_to_json(self.schema)
        self._save_manifest()

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — logical: the column leaves the
        schema (reads stop selecting it); bytes in existing files are
        untouched and fall away at the next compaction rewrite."""
        if name == self.key:
            raise ValueError("cannot drop the primary key column")
        if name in self.partition_by:
            raise ValueError("cannot drop a partition column")
        if name not in self.user_cols:
            raise ValueError(f"no such column: {name!r}")
        self.flush()
        self.schema = T.StructType([f for f in self.schema.fields if f.name != name])
        self.user_cols.remove(name)
        self.manifest.schema_json = _schema_to_json(self.schema)
        dropped = self.manifest.extra.setdefault("dropped_columns", [])
        # retire the PHYSICAL name — that's what the surviving files
        # hold bytes under (== logical unless the column was renamed)
        phys = self._phys_map.get(name, name)
        for n in {name, phys}:
            if n not in dropped:
                dropped.append(n)
        self.manifest.extra.get("physical_names", {}).pop(name, None)
        self._save_manifest()

    _WIDEN_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}

    def widen_column(self, name: str, new_type: T.DataType) -> None:
        """ALTER TABLE ALTER COLUMN TYPE — widening only, metadata-only.
        Allowed transitions (the lossless set real lakehouse formats
        ship as 'type widening'): byte -> short -> int -> long along
        the integral chain, float -> double, and byte/short/int ->
        double. No file is rewritten: Spark 4's vectorized Parquet
        reader promotes the narrower on-disk physical type to the
        requested read type natively, so old base/tail/snapshot files
        keep their bytes and the schema-directed scan widens on read;
        post-widen writes (tail deltas, ingests, the next compaction)
        carry the wide type. long -> double is rejected — longs above
        2^53 would silently lose precision, same rule as
        Iceberg/Delta. The reference cannot express this at all: its
        layout is integer-only with the schema frozen at create_table
        (table.py:26-32)."""
        if name not in self.user_cols:
            raise ValueError(f"no such column: {name!r}")
        old = self.schema[name].dataType
        ok = False
        o, n = old.typeName(), new_type.typeName()
        if o in self._WIDEN_RANK and n in self._WIDEN_RANK:
            ok = self._WIDEN_RANK[n] > self._WIDEN_RANK[o]
        elif n == "double":
            ok = o in ("float", "byte", "short", "integer")
        if not ok:
            raise ValueError(
                f"cannot widen {name!r} from {old.simpleString()} to "
                f"{new_type.simpleString()}: only byte->short->int->long, "
                "float->double and byte/short/int->double are lossless"
            )
        self.flush()
        self.schema = T.StructType(
            [
                T.StructField(name, new_type, f.nullable)
                if f.name == name
                else f
                for f in self.schema.fields
            ]
        )
        self.manifest.schema_json = _schema_to_json(self.schema)
        self._save_manifest()

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only via a logical ->
        physical name mapping (the stable-name analogue of
        Iceberg/Delta column mapping). Files on disk keep the column's
        PHYSICAL (creation-time) name forever; reads alias physical ->
        logical at the scan seam and writes alias back, so no file is
        ever rewritten and every snapshot/version-travel read stays
        valid. Restrictions (same as pre-column-mapping Delta): the
        primary key and partition columns cannot be renamed (their
        names are baked into directory layout / manifest identity),
        and a column referenced by a CHECK constraint must have the
        check dropped first (the stored SQL expression would no longer
        resolve)."""
        if old not in self.user_cols:
            raise ValueError(f"no such column: {old!r}")
        if old == self.key:
            raise ValueError("cannot rename the primary key column")
        if old in self.partition_by:
            raise ValueError("cannot rename a partition column")
        if new in self.user_cols or new in META_TAIL:
            raise ValueError(f"column {new!r} already exists")
        if new in self.manifest.extra.get("dropped_columns", []):
            raise ValueError(f"column name {new!r} was dropped and cannot be reused")
        if new in {self._phys_map.get(c, c) for c in self.user_cols}:
            raise ValueError(
                f"column name {new!r} is the physical name of another "
                "column and cannot be reused"
            )
        import re as _re

        pat = _re.compile(rf"\b{_re.escape(old)}\b")
        for cname, expr in self.manifest.extra.get("checks", {}).items():
            if pat.search(expr):
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint "
                    f"{cname!r} — drop the constraint before renaming"
                )
        if old in self.manifest.extra.get("uniques", []):
            raise ValueError(
                f"column {old!r} has a UNIQUE constraint — drop the "
                "constraint before renaming"
            )
        self.flush()
        phys = self._phys_map.get(old, old)
        mapping = self.manifest.extra.setdefault("physical_names", {})
        mapping.pop(old, None)
        if new != phys:
            mapping[new] = phys
        self.schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in self.schema.fields
            ]
        )
        self.user_cols = [f.name for f in self.schema.fields]
        self.manifest.schema_json = _schema_to_json(self.schema)
        self._save_manifest()

    def watermark(self) -> int:
        """Current commit watermark: every id (rid or seq) committed so
        far is <= this value, and every future commit's ids exceed it
        (ids are ``(batch << 48) | n`` and each commit consumes a fresh
        batch). Pass to :meth:`changes_between` as the resume point."""
        return (self.manifest.next_batch << _BATCH_SHIFT) - 1

    def fast_count(self) -> DataFrame:
        """Metadata-only COUNT(*) of the current view (the Delta-Lake
        metadata-count shape; the reference's only count is the
        key-loop ``Query.count``, /root/reference/lstore/query.py:196
        area — it scans every key).

        The BASE side of a count never needs scanning: the file-level
        manifest log records exact per-file row counts at commit time
        (filelog.file_entry), so live base rows are a driver-side sum
        over O(files) logged integers. Updates never change the count,
        so only two corrections exist, and both are bounded by the
        SMALL side of the table:

        * tombstoned rids — one aggregate over the TAIL only (small by
          the compaction contract);
        * base files whose logged ``_rid`` range straddles the
          compaction watermark — only those files are opened, with the
          exact ``_rid > compact_rid_hi`` row filter applied.
          Per-commit writes allocate whole rid batches, so straddlers
          are normally zero.

        At 100 TB a COUNT(*) therefore reads zero base bytes. Returns
        a one-row DataFrame (column ``cnt`` BIGINT) so it composes
        with everything else. Tombstones are counted by FIRST delete
        ``_seq`` per rid, so a double tombstone straddling the
        watermark (impossible under the lock protocol, cheap to
        defend against) never double-subtracts: rids whose first
        tombstone is already folded into the snapshot are excluded."""
        state = self.filelog.live_state()
        files = self._state_files(state, self._watermarks())
        straddlers = files.straddling()
        skip = {id(e) for e in straddlers}
        meta_rows = sum(
            e.get("rows", 0)
            for e in files.snap + files.fresh
            if id(e) not in skip
        )
        meta_rows += len(self._pending_base)
        # Correction 1: live rids killed by a tombstone the snapshot
        # has not folded yet. Full-tail read (raw history, not
        # _seq-skipped): the first-delete-per-rid exclusion needs
        # pre-TPS tombstones to classify straddling histories, and the
        # tail is the small side by contract. The TPS comparison below
        # is that tombstone rule, not a fold watermark — so it stays
        # here rather than in the shared reader.
        _, tail, _ = self._read_state(state, None, include_pending=True)
        tomb = (
            tail.where(F.col(OP) == OP_DELETE)
            .groupBy(F.col(RID))
            .agg(F.min(F.col(SEQ)).alias("_first_del"))
        )
        if files.tps is not None:
            tomb = tomb.where(F.col("_first_del") > F.lit(files.tps))
        corr = tomb.agg((-F.count(F.lit(1))).alias("delta"))
        if straddlers:
            # Correction 2: only the straddling files open, under the
            # reader's exact _rid row filter
            extra, _, _ = self._state_frames(
                files._replace(snap=[], fresh=straddlers, tail=[])
            )
            corr = corr.unionByName(extra.agg(F.count(F.lit(1)).alias("delta")))
        return corr.agg(
            (F.lit(int(meta_rows)) + F.coalesce(F.sum("delta"), F.lit(0)))
            .cast("long")
            .alias("cnt")
        )

    def fast_min_max(self, column: str) -> DataFrame:
        """Stats-driven MIN/MAX of one scalar column over the current
        view (the Delta/Iceberg metadata min-max shape, generalized to
        a merge-on-read lineage table; the reference's min/max is a
        key-at-a-time loop, /root/reference/lstore/query.py:196 area).

        Unlike COUNT, MIN/MAX is *not* purely metadata-derivable under
        mutation: a tail update can overwrite the row holding the
        extreme, and a tombstone can kill it. The algorithm is exact
        anyway, and reads base bytes only when the file stats cannot
        already prove the answer:

        1. TAIL side (small by the compaction contract, one Spark
           job): fold post-TPS deltas per rid — rids with an explicit
           ``column`` delta contribute their latest value (unless
           tombstoned); rids with any post-TPS delete or ``column``
           delta form the DIRTY set whose base values are stale/dead.
        2. BASE side (snapshot + fresh-base file-log entries, with the
           same rid-watermark classification as :meth:`fast_count`):
           progressive file skipping seeded by the tail extremes — a
           file is scanned only while its logged ``[lo, hi]`` could
           still beat the best-known min or max (files without stats
           for the column always scan; scans anti-join the dirty
           set). Each round tightens the bound, so the loop almost
           always terminates after 0 or 1 scan rounds: with a planted
           tail extreme it reads ZERO base bytes; on an idle table it
           opens only the file(s) holding the global min/max.

        Returns a one-row DataFrame ``(mn, mx)`` typed as the column.
        Scan accounting lands in ``self.last_fast_minmax`` (
        ``files_total`` / ``files_scanned`` / ``rounds``) for plan
        audits. Partition columns carry no file stats (their values live in
        directory names), so they take the scan path unpruned."""
        self.flush()
        ph = self._phys_map.get(column, column)
        dt = next(f.dataType for f in self.base_schema.fields if f.name == column)
        files = self._live_files()
        # ---- tail side: ONE aggregate job for the fold + extremes +
        # dirty count (the zero-scan fast path then needs no second
        # tail job at all; the dirty rid SET materializes lazily only
        # when a scan round actually happens)
        _, tail, _ = self._state_frames(files)
        folded = tail.groupBy(F.col(RID)).agg(
            F.max(F.when(F.col(OP) == OP_DELETE, True).otherwise(False)).alias(
                "_dead"
            ),
            F.max(
                F.when(
                    F.col(column).isNotNull(),
                    F.struct(F.col(SEQ).alias("s"), F.col(column).alias("v")),
                )
            ).alias("_uv"),
        )
        live_v = F.when(~F.col("_dead"), F.col("_uv.v"))
        row = folded.agg(
            F.min(live_v).alias("mn"),
            F.max(live_v).alias("mx"),
            F.count(
                F.when(F.col("_dead") | F.col("_uv").isNotNull(), F.lit(1))
            ).alias("nd"),
        ).first()
        best_mn, best_mx, n_dirty = row["mn"], row["mx"], row["nd"]
        dirty = (
            folded.where(F.col("_dead") | F.col("_uv").isNotNull())
            .select(RID)
            .persist()
        )
        try:
            remaining = [("snap", e) for e in files.snap] + [
                ("fresh", e) for e in files.fresh
            ]
            total = len(remaining)
            scanned = rounds = 0
            while remaining:
                need = []
                rest = []
                for d, e in remaining:
                    st = e.get("stats", {}).get(ph)
                    try:
                        if st is None:
                            need.append((d, e))
                        elif (best_mn is not None and _nan_lt(st[0], best_mn)) or (
                            best_mx is not None and _nan_gt(st[1], best_mx)
                        ):
                            need.append((d, e))
                        else:
                            rest.append((d, e, st))
                    except TypeError:
                        need.append((d, e))  # incomparable stat types
                if not need and best_mn is None and rest:
                    # nothing known yet: seed with the argmin-lo and
                    # argmax-hi files
                    lo_seed = min(rest, key=lambda x: x[2][0])
                    hi_seed = max(rest, key=lambda x: x[2][1])
                    need = [(lo_seed[0], lo_seed[1])]
                    if hi_seed[1] is not lo_seed[1]:
                        need.append((hi_seed[0], hi_seed[1]))
                    rest = [x for x in rest if x[1] is not lo_seed[1] and x[1] is not hi_seed[1]]
                if not need:
                    break
                rounds += 1
                scanned += len(need)
                scan = self._scan_base_subset(files, need).select(RID, column)
                if n_dirty:
                    scan = scan.join(F.broadcast(dirty), on=RID, how="left_anti")
                r = scan.agg(
                    F.min(F.col(column)).alias("mn"), F.max(F.col(column)).alias("mx")
                ).first()
                if r["mn"] is not None and (best_mn is None or _nan_lt(r["mn"], best_mn)):
                    best_mn = r["mn"]
                if r["mx"] is not None and (best_mx is None or _nan_gt(r["mx"], best_mx)):
                    best_mx = r["mx"]
                remaining = [(d, e) for d, e, _ in rest]
            self.last_fast_minmax = {
                "files_total": total,
                "files_scanned": scanned,
                "rounds": rounds,
            }
        finally:
            dirty.unpersist()
        return self.spark.range(1).select(
            F.lit(best_mn).cast(dt).alias("mn"), F.lit(best_mx).cast(dt).alias("mx")
        )

    def _scan_base_subset(
        self, files: _StateFiles, picked: list[tuple[str, dict]]
    ) -> DataFrame:
        """The fold's base frame over a subset of ``files``' base side
        — ``("snap" | "fresh", entry)`` pairs picked by a file-skipping
        reader — under the same watermark row filter."""
        base, _, _ = self._state_frames(
            files._replace(
                snap=[e for d, e in picked if d == "snap"],
                fresh=[e for d, e in picked if d == "fresh"],
                tail=[],
            )
        )
        return base

    def scan_with_bounds(self, column: str, lo=None, hi=None) -> DataFrame:
        """Current view filtered to ``lo <= column <= hi`` with EXACT
        file-level data skipping on ANY scalar column's logged per-file
        stats — the general-column data-skipping path that makes
        ``compact(zorder_by=[...])`` pay off: a z-ordered snapshot has
        tight per-file ranges on every clustered column, so a range
        predicate on a non-key column opens only the files that can
        match (the Delta/Iceberg OPTIMIZE ZORDER + stats-skipping
        shape; the reference can only loop keys through its index,
        /root/reference/lstore/query.py:86 area).

        Exactness under merge-on-read (the part plain stats skipping
        gets wrong): a post-watermark tail delta that SETS ``column``
        can move a row INTO the bound even though its base file's
        stats exclude it. Files whose logged rid range intersects any
        such dirty rid are therefore never skipped — the dirty set is
        one distinct-rid projection of the (small) post-TPS tail,
        joined against the O(files) rid ranges. Deletes and
        other-column updates cannot add matches (the key and row
        filter run post-fold), so they never block skipping. The key
        column delegates to :meth:`current_view`'s key_range path
        (keys are immutable — no dirty check needed at all).

        Accounting lands in ``self.last_scan_bounds`` (files_total /
        files_scanned / dirty_rids)."""
        if column == self.key:
            return self.current_view(key_range=(lo, hi))
        return self.scan_with_multi_bounds({column: (lo, hi)})

    def scan_with_multi_bounds(self, bounds: dict) -> DataFrame:
        """Multi-column generalization of :meth:`scan_with_bounds` —
        the read that makes multi-column Z-ORDER pay in full: with
        ``bounds = {colA: (lo, hi), colB: (lo, hi), ...}`` a file is
        skipped when ANY bounded column's logged stats exclude its
        range (conjunctive predicate), so a snapshot clustered on
        (colA, colB) prunes on both axes at once. Exactness discipline
        is per the single-column contract: files holding post-
        watermark dirty rids (a delta setting ANY non-key bounded
        column) never skip; the key column (immutable) participates in
        pruning without a dirty check. Returns the current view
        filtered to all bounds; accounting in ``last_scan_bounds``."""
        self.flush()
        nonkey = [c for c in bounds if c != self.key]
        files = self._live_files()
        _, tail, _ = self._state_frames(files)
        dirty_cond = F.lit(False)
        for c in nonkey:
            dirty_cond = dirty_cond | F.col(c).isNotNull()
        dirty = tail.where(dirty_cond).select(RID).distinct()
        every = [("snap", e) for e in files.snap] + [("fresh", e) for e in files.fresh]
        keep: list[tuple[str, dict]] = []
        prunable: list[tuple[str, dict]] = []
        for d, e in every:
            out_of_bounds = False
            for c, (lo, hi) in bounds.items():
                st = e.get("stats", {}).get(self._phys_map.get(c, c))
                try:
                    if st is not None and (
                        (hi is not None and st[0] > hi)
                        or (lo is not None and st[1] < lo)
                    ):
                        out_of_bounds = True
                        break
                except TypeError:
                    continue  # incomparable stat types: this column
                    # cannot prune the file
            (prunable if out_of_bounds else keep).append((d, e))
        out = self._pruned_scan(files, every, keep, prunable, tail, dirty)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                out = out.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out.where(F.col(c) <= F.lit(hi))
        return out.select(*self.user_cols)

    def _pruned_scan(
        self,
        files: _StateFiles,
        every: list[tuple[str, dict]],
        keep: list[tuple[str, dict]],
        prunable: list[tuple[str, dict]],
        tail: DataFrame,
        dirty: DataFrame,
    ) -> DataFrame:
        """Shared core of the file-skipping scans (stats bounds,
        bloom sidecars): dirty-rid rescue + restricted base fold.

        ``prunable`` files whose logged rid range intersects a dirty
        rid (a post-watermark tail delta that could move a row INTO
        the predicate) are moved back to ``keep`` — this is what
        makes skipping EXACT under merge-on-read. Returns the current
        view over the kept files (caller applies its row predicate);
        accounting lands in ``self.last_scan_bounds``."""
        n_dirty = 0
        if prunable:
            n_dirty = dirty.count()
        if n_dirty:
            # a pruned file whose rid range holds a dirty rid must stay
            ranges = []
            for j, (d, e) in enumerate(prunable):
                st = e.get("stats", {}).get(RID)
                if st is None:
                    keep.append((d, e))  # unknown rid range: keep
                else:
                    ranges.append((j, int(st[0]), int(st[1])))
            if ranges:
                rdf = self.spark.createDataFrame(
                    ranges, "j long, rlo long, rhi long"
                )
                hit = {
                    r["j"]
                    for r in F.broadcast(rdf)
                    .join(
                        dirty,
                        (F.col(RID) >= F.col("rlo")) & (F.col(RID) <= F.col("rhi")),
                    )
                    .select("j")
                    .distinct()
                    .collect()
                }
                for j, rlo, rhi in ranges:
                    if j in hit:
                        keep.append(prunable[j])
        out = self._fold_tail(self._scan_base_subset(files, keep), tail)
        self.last_scan_bounds = {
            "files_total": len(every),
            "files_scanned": len(keep),
            "dirty_rids": n_dirty,
        }
        return out

    # ------------------------------------------------------------------
    # per-file Bloom sidecars — equality file skipping on unordered
    # high-cardinality columns (where min/max stats cannot prune)
    # ------------------------------------------------------------------
    def _bloom_root(self, column: str) -> str:
        return os.path.join(self.path, "bloomskip", column)

    @staticmethod
    def _meta_file_path(abs_path: str) -> str:
        # Spark renders local paths as "file:" + abspath (one slash)
        # in _metadata.file_path; sidecar rows key on that form.
        return "file:" + os.path.abspath(abs_path)

    def _live_file_paths(
        self, files: _StateFiles | None = None
    ) -> list[tuple[str, str, dict]]:
        """[(meta_file_path, dir_kind, entry)] for every base/snapshot
        file the fold reads (default: the live state)."""
        files = self._live_files() if files is None else files
        return [
            (self._meta_file_path(os.path.join(files.root, tag, e["path"])), kind, e)
            for kind, tag, es in (
                ("snap", files.snap_tag, files.snap),
                ("fresh", self._log_tag(self.base_dir), files.fresh),
            )
            for e in es
        ]

    def build_bloom_filters(
        self, column: str, fpp: float = 0.01, max_bits: int = 1 << 24
    ) -> dict:
        """Build per-file Bloom-filter sidecars for ``column`` over
        every live base/snapshot file that does not have one yet (the
        Delta Lake bloom-filter-index shape). Equality lookups on an
        unordered high-cardinality column then skip whole files that
        provably do not contain the value — the case per-file min/max
        stats (:meth:`scan_with_bounds`) cannot prune, because a
        hash-scattered column spans the whole value range in every
        file. The reference can only answer this with its exact
        in-memory secondary index (reference index.py:22-40); at
        100 TB the bloom sidecar costs ~1.2 MB per GB-file instead of
        a full (value, rid) copy of the column.

        Maintenance-free by construction: data files are IMMUTABLE,
        so a sidecar entry is computed once and never refreshed.
        Files committed after the build simply have no entry and are
        never skipped (exactness first, pruning second); compaction /
        optimize produce new files that pick up entries on the next
        build; vacuumed files leave harmless stale rows (pruning
        consults only live files). Incremental: one Spark job over
        only the not-yet-covered files, Arrow-batched bitset fold per
        file, appended to the sidecar Parquet.

        All files of one build share (m, k) sized for the largest
        file at ``fpp``; the probe handles mixed (m, k) across
        builds. Returns {"built", "covered", "m", "k"}."""
        import math

        if column not in self.user_cols:
            raise ValueError(f"no such column: {column!r}")
        if not isinstance(
            self.schema[column].dataType,
            (T.NumericType, T.StringType, T.BooleanType),
        ):
            raise ValueError(
                "bloom sidecars need a scalar column, got "
                f"{self.schema[column].dataType.simpleString()}"
            )
        self.flush()
        live = self._live_file_paths()
        root = self._bloom_root(column)
        covered: set[str] = set()
        if os.path.isdir(root):
            covered = {
                r["file"]
                for r in self.spark.read.parquet(root).select("file").collect()
            }
        need = [(p, e) for p, d, e in live if p not in covered]
        if not need:
            return {"built": 0, "covered": len(live), "m": 0, "k": 0}
        rows_max = max(int(e.get("rows") or 0) for _, e in need) or 1 << 20
        m = min(
            max(64, int(math.ceil(-rows_max * math.log(fpp) / math.log(2) ** 2))),
            int(max_bits),
        )
        k = max(1, min(16, round(m / rows_max * math.log(2))))
        phys = self._phys_map.get(column, column)
        phys_schema = self._physical_schema(self.base_schema)
        src = (
            self.spark.read.schema(phys_schema)
            .parquet(*[p[len("file:"):] for p, _ in need])
            .select(
                F.col("_metadata.file_path").alias("file"),
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col(phys), F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                ).alias("pos"),
            )
        )
        nbytes = (m + 7) // 8

        def _fold(pdf):
            import numpy as np
            import pandas as pd

            bits = np.zeros(nbytes, dtype=np.uint8)
            pos = np.unique(np.concatenate(pdf["pos"].values))
            np.bitwise_or.at(
                bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
            )
            return pd.DataFrame(
                {
                    "file": [pdf["file"].iloc[0]],
                    "m": [m],
                    "k": [k],
                    "nrows": [len(pdf)],
                    "bits": [bits.tobytes()],
                }
            )

        out = src.groupBy("file").applyInPandas(
            _fold, "file string, m long, k long, nrows long, bits binary"
        )
        out.write.mode("append").parquet(root)
        return {"built": len(need), "covered": len(live), "m": m, "k": k}

    def scan_with_bloom(self, column: str, value) -> DataFrame:
        """Current view filtered to ``column = value`` with EXACT
        file-level skipping driven by the per-file Bloom sidecars of
        :meth:`build_bloom_filters`: a file is skipped only when it
        HAS a sidecar entry and the bloom test is negative (no false
        negatives by construction — every value in the file set its
        bits), so files written after the last build are always
        scanned. Exactness under merge-on-read follows the
        :meth:`scan_with_bounds` discipline: files whose rid range
        holds a post-watermark tail delta that SET ``column`` are
        never skipped (the delta could move a row into equality);
        deletes and other-column updates cannot add matches. The
        probe hashes the literal through the SAME Spark expression
        the build used (one trivial job per distinct (m, k)), so
        build and probe can never disagree on hash semantics.
        Accounting (files_total / files_scanned / files_bloomed /
        dirty_rids) lands in ``last_scan_bounds``."""
        if value is None:
            raise ValueError("bloom lookup needs a non-null value")
        if column == self.key:
            return self.current_view(key_range=(value, value))
        self.flush()
        root = self._bloom_root(column)
        if not os.path.isdir(root):
            return (
                self.current_view()
                .where(F.col(column) == F.lit(value))
                .select(*self.user_cols)
            )
        files = self._live_files()
        _, tail, _ = self._state_frames(files)
        dirty = tail.where(F.col(column).isNotNull()).select(RID).distinct()
        lit = F.lit(value).cast(self.schema[column].dataType)
        sidecar = self.spark.read.parquet(root)
        mks = [
            (int(r["m"]), int(r["k"]))
            for r in sidecar.select("m", "k").distinct().collect()
        ]
        pos_by_mk: dict[tuple[int, int], list[int]] = {}
        for bm, bk in mks:
            row = self.spark.range(1).select(
                F.array(
                    *[
                        F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(bm))
                        for i in range(bk)
                    ]
                ).alias("pos")
            ).head()
            pos_by_mk[(bm, bk)] = [int(p) for p in row["pos"]]
        bpos = self.spark.sparkContext.broadcast(pos_by_mk)

        def _test(batches):
            import numpy as np

            for pdf in batches:
                hits = []
                for bits, bm, bk in zip(pdf["bits"], pdf["m"], pdf["k"]):
                    arr = np.frombuffer(bits, dtype=np.uint8)
                    pos = np.asarray(
                        bpos.value[(int(bm), int(bk))], dtype=np.int64
                    )
                    hits.append(
                        bool(
                            ((arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1)
                            .all()
                        )
                    )
                yield pdf.assign(hit=hits)[["file", "hit"]]

        verdicts = {
            r["file"]: bool(r["hit"])
            for r in sidecar.select("file", "m", "k", "bits")
            .mapInPandas(_test, "file string, hit boolean")
            .collect()
        }
        keep: list[tuple[str, dict]] = []
        prunable: list[tuple[str, dict]] = []
        every: list[tuple[str, dict]] = []
        n_bloomed = 0
        for p, d, e in self._live_file_paths(files):
            every.append((d, e))
            v = verdicts.get(p)
            if v is not None:
                n_bloomed += 1
            (keep if v is None or v else prunable).append((d, e))
        out = self._pruned_scan(files, every, keep, prunable, tail, dirty)
        self.last_scan_bounds["files_bloomed"] = n_bloomed
        return out.where(F.col(column) == lit).select(*self.user_cols)

    def _sketch_root(self, column: str) -> str:
        return os.path.join(self.path, "distinctsketch", column)

    def build_distinct_sketches(self, column: str, k: int = 1024) -> dict:
        """Per-file KMV (k-minimum-values) sidecars for ``column``:
        the ``k`` smallest distinct ``xxhash64`` values of each live
        base/snapshot file that does not have an entry yet. Like the
        Bloom sidecars, maintenance-free by construction (data files
        are immutable; files without entries are scanned on demand),
        incremental (one job over uncovered files only), and tiny
        (8k bytes per file vs the column itself). Powers
        :meth:`fast_approx_distinct` — the metadata-plane
        COUNT(DISTINCT col) the way fast_min_max answers MIN/MAX.
        A file with fewer than ``k`` distinct values stores its
        COMPLETE hash set (the estimate degrades to exact)."""
        if column not in self.user_cols:
            raise ValueError(f"no such column: {column!r}")
        if not isinstance(
            self.schema[column].dataType,
            (T.NumericType, T.StringType, T.BooleanType),
        ):
            raise ValueError(
                "distinct sketches need a scalar column, got "
                f"{self.schema[column].dataType.simpleString()}"
            )
        self.flush()
        live = self._live_file_paths()
        root = self._sketch_root(column)
        covered: set[str] = set()
        if os.path.isdir(root):
            covered = {
                r["file"]
                for r in self.spark.read.parquet(root).select("file").collect()
            }
        need = [(p, e) for p, d, e in live if p not in covered]
        if not need:
            return {"built": 0, "covered": len(live), "k": k}
        phys = self._phys_map.get(column, column)
        phys_schema = self._physical_schema(self.base_schema)
        src = (
            self.spark.read.schema(phys_schema)
            .parquet(*[p[len("file:"):] for p, _ in need])
            .where(F.col(phys).isNotNull())
            .select(
                F.col("_metadata.file_path").alias("file"),
                F.xxhash64(F.col(phys)).alias("h"),
            )
        )

        def _fold(pdf):
            import numpy as np
            import pandas as pd

            hs = np.unique(pdf["h"].values)  # sorted ascending
            return pd.DataFrame(
                {
                    "file": [pdf["file"].iloc[0]],
                    "k": [k],
                    "hashes": [hs[:k].tolist()],
                }
            )

        out = src.groupBy("file").applyInPandas(
            _fold, "file string, k long, hashes array<long>"
        )
        out.write.mode("append").parquet(root)
        return {"built": len(need), "covered": len(live), "k": k}

    def fast_approx_distinct(self, column: str, k: int = 1024) -> dict:
        """COUNT(DISTINCT ``column``) from the KMV sidecars without
        scanning covered base bytes: per-file KMVs union driver-side
        (the union of per-file k-minima is a superset of the k minima
        of the union, so the merged sketch is a valid KMV of the whole
        table), uncovered files get their KMV computed on the fly (one
        job over just those files — the incremental-coverage
        discipline the Bloom sidecars use).

        Exactness contract (the drop_partition refusal shape): any
        post-watermark tail DELETE, or UPDATE that SET this column,
        changes the live value multiset in ways an immutable-file
        sketch cannot see (the stale value still counts) — the method
        REFUSES with the compact() remedy rather than silently
        over-counting. Updates to other columns cannot change this
        column's distinct set and pass. When the merged hash set holds
        fewer than ``k`` values it IS the complete distinct set and
        the answer is exact (collision probability ~n^2/2^64)."""
        self.flush()
        files = self._live_files()
        _, tail, _ = self._state_frames(files)
        hazard = tail.agg(
            F.sum(F.when(F.col(OP) == OP_DELETE, 1).otherwise(0)).alias("_d"),
            F.sum(
                F.when(
                    (F.col(OP) == OP_UPDATE) & F.col(column).isNotNull(), 1
                ).otherwise(0)
            ).alias("_u"),
        ).first()
        if (hazard["_d"] or 0) or (hazard["_u"] or 0):
            raise ValueError(
                f"fast_approx_distinct({column!r}) is not answerable from "
                f"immutable-file sketches: the un-folded tail holds "
                f"{hazard['_d'] or 0} delete(s) and {hazard['_u'] or 0} "
                f"update(s) touching the column — run compact() first"
            )
        live = self._live_file_paths(files)
        root = self._sketch_root(column)
        entries: dict[str, tuple[list[int], int]] = {}
        if os.path.isdir(root):
            entries = {
                r["file"]: (list(r["hashes"]), int(r["k"]))
                for r in self.spark.read.parquet(root).collect()
            }
        # A sidecar row built with a smaller k than the caller's holds
        # only its own k minima: treating it as complete would silently
        # undercount and claim exact. Truncation is judged against the
        # STORED per-row k, and every truncated sketch caps the merged
        # estimator at its build k (the union of per-file minima is only
        # a valid KMV of the whole table up to the smallest truncated k).
        merged: set[int] = set()
        sketch_complete = True
        k_eff = k
        for p, _d, _e in live:
            ent = entries.get(p)
            if ent is None:
                continue
            hs, row_k = ent
            merged.update(hs)
            if len(hs) >= row_k:
                sketch_complete = False
                k_eff = min(k_eff, row_k)
        uncovered = [p for p, _d, _e in live if p not in entries]
        if uncovered:
            phys = self._phys_map.get(column, column)
            phys_schema = self._physical_schema(self.base_schema)
            rows = (
                self.spark.read.schema(phys_schema)
                .parquet(*[p[len("file:"):] for p in uncovered])
                .where(F.col(phys).isNotNull())
                .select(F.xxhash64(F.col(phys)).alias("h"))
                .distinct()
                .orderBy("h")
                .limit(k_eff)
                .collect()
            )
            merged.update(r["h"] for r in rows)
            if len(rows) >= k_eff:
                sketch_complete = False
        n_files = len(live)
        if sketch_complete or len(merged) < k_eff:
            return {
                "distinct_estimate": len(merged),
                "exact": True,
                "files_total": n_files,
                "files_covered": n_files - len(uncovered),
                "k": k,
                "k_effective": k_eff,
            }
        kth = sorted(merged)[k_eff - 1]
        u = (kth + (1 << 63)) / float(1 << 64)
        return {
            "distinct_estimate": (k_eff - 1) / u if u > 0 else float(len(merged)),
            "exact": False,
            "files_total": n_files,
            "files_covered": n_files - len(uncovered),
            "k": k,
            "k_effective": k_eff,
        }

    def files_df(self) -> DataFrame:
        """The live file inventory as a DataFrame (the Iceberg
        ``table.files`` / Delta ``DESCRIBE DETAIL`` inspection shape;
        the reference exposes no physical metadata at all): one row
        per live file — (dir, path, rows, bytes, commit_idx, plus the
        logged key min/max) — built driver-side from the file log
        (O(files) JSON state, zero data I/O, zero Spark jobs to
        plan). The ops surface for OPTIMIZE targeting ("which
        partitions are fragmented"), retention review, and skew
        diagnosis."""
        entries = []
        kp = self._phys_map.get(self.key, self.key)
        for tag in (
            self._log_tag(self.base_dir),
            self._log_tag(self.tail_dir),
            *(
                [self._log_tag(self.compacted_dir())]
                if self.manifest.compact_version >= 0
                else []
            ),
        ):
            for e in self.filelog.live(tag):
                ks = e.get("stats", {}).get(kp)
                entries.append(
                    (
                        tag,
                        e["path"],
                        int(e.get("rows", 0)),
                        int(e.get("bytes", 0)),
                        e.get("_idx"),
                        str(ks[0]) if ks else None,
                        str(ks[1]) if ks else None,
                    )
                )
        schema = T.StructType(
            [
                T.StructField("dir", T.StringType()),
                T.StructField("path", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("commit_idx", T.LongType()),
                T.StructField("key_min", T.StringType()),
                T.StructField("key_max", T.StringType()),
            ]
        )
        return self.spark.createDataFrame(entries, schema)

    def provenance_view(self, include_meta: bool = False) -> DataFrame:
        """Current view + ``_commit``: the file-log commit index that
        INSERTED each live row (the Iceberg snapshot-lineage /
        Delta-row-tracking shape; the reference has no notion of
        which write produced a row — its pages are positional,
        /root/reference/lstore/table.py:116 area).

        The mapping is file-granular and survives maintenance: every
        file-log add action stamps its entries with the commit index
        (filelog._apply ``_idx``), compaction never rewrites the base
        dir (snapshots are a separate tag), and :meth:`optimize_files`
        packs only within one source commit, carrying ``_idx``
        forward — so a row's provenance is stable from ingest to
        retirement. Plan shape: base scan projecting (rid,
        ``_metadata.file_path``) joined to a broadcast file->commit
        map (O(files) rows, driver-built from the log), then a rid
        join onto the folded view — the provenance join shuffles on
        rid, the same key the fold already uses. Rows from
        pre-filelog bootstrap files read ``_commit`` as NULL."""
        self.flush()
        entries = self.filelog.live(self._log_tag(self.base_dir))
        # Spark renders local paths as "file:" + abspath (one slash)
        pairs = [
            (
                "file:" + os.path.abspath(os.path.join(self.base_dir, e["path"])),
                e.get("_idx"),
            )
            for e in entries
            if e.get("rows", 1) != 0
        ]
        fmap = self.spark.createDataFrame(
            pairs or [("", None)],
            T.StructType(
                [
                    T.StructField("_fp", T.StringType()),
                    T.StructField("_commit", T.LongType()),
                ]
            ),
        )
        rid_map = (
            self.base_df(include_pending=False)
            .select(F.col(RID), F.col("_metadata.file_path").alias("_fp"))
            .join(F.broadcast(fmap), on="_fp", how="left")
            .select(RID, "_commit")
        )
        out = self.current_view(include_meta=True).join(
            rid_map, on=RID, how="left"
        )
        if not include_meta:
            out = out.select(*self.user_cols, "_commit")
        return out

    # ------------------------------------------------------------------
    # statistics (ANALYZE) — extension; the reference keeps no stats
    # ------------------------------------------------------------------
    def analyze(self, columns: list[str] | None = None, exact: bool = False) -> dict:
        """Collect table statistics in ONE aggregate pass over the
        current view and persist them in the manifest (CAS-published,
        versioned by the collection watermark): row count, and per
        atomic column min / max / null count / distinct count (HLL++
        by default; ``exact=True`` for the oracle-checkable variant).

        Uses: layout decisions (``compact(zorder_by=...)`` scales its
        bit-normalization from these min/max instead of an extra
        pass), join-side sizing on engines without fresh relation
        stats, and data-quality monitoring. At 100 TB one pass is the
        cost ceiling — everything is a single multi-aggregate job."""
        atomic = (T.NumericType, T.StringType, T.DateType, T.TimestampType,
                  T.TimestampNTZType, T.BooleanType)
        cols = columns or [
            f.name for f in self.schema.fields if isinstance(f.dataType, atomic)
        ]
        bad = [c for c in cols if c not in self.user_cols]
        if bad:
            raise ValueError(f"no such columns: {bad}")
        aggs = [F.count(F.lit(1)).alias("__n")]
        str_cols = {
            c for c in cols if isinstance(self.schema[c].dataType, T.StringType)
        }
        for c in cols:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
            aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
            aggs.append(
                (F.count_distinct(F.col(c)) if exact
                 else F.approx_count_distinct(c)).alias(f"__ndv_{c}")
            )
            if c in str_cols:
                # avg byte width feeds driver-side memory estimates
                # (point-op directory cap) and join-side sizing
                aggs.append(F.avg(F.length(c)).alias(f"__len_{c}"))
        row = self.current_view().agg(*aggs).collect()[0]

        def _json_safe(v):
            import datetime

            if isinstance(v, (datetime.datetime, datetime.date)):
                return v.isoformat()
            return v

        # One extra tiny agg: how many tail rows the current-view fold
        # would process (seq > TPS), and how many DISTINCT rids they
        # touch — the latter IS the folded side's output size, which
        # Catalyst cannot estimate through the aggregate (it sees only
        # the tail file bytes). current_view() consumes both while
        # these stats stay fresh: 0 rows skips the fold join entirely,
        # a small rid count broadcast-hints the folded side.
        _, tail, tail_empty = self._read_live()
        if not tail_empty:
            trow = (
                tail.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct(RID).alias("d"),
                )
                .collect()[0]
            )
            tail_past, tail_rids = int(trow["n"]), int(trow["d"])
        else:
            tail_past, tail_rids = 0, 0

        stats = {
            "n_rows": row["__n"],
            "watermark": self.watermark(),
            "exact_ndv": bool(exact),
            "tail_rows_past_tps": tail_past,
            "tail_rids_past_tps": tail_rids,
            "columns": {
                c: {
                    "min": _json_safe(row[f"__min_{c}"]),
                    "max": _json_safe(row[f"__max_{c}"]),
                    "nulls": row[f"__nulls_{c}"],
                    "ndv": row[f"__ndv_{c}"],
                    **(
                        {"avg_len": row[f"__len_{c}"]}
                        if c in str_cols
                        else {}
                    ),
                }
                for c in cols
            },
        }
        self.manifest.extra["stats"] = stats
        self._save_manifest()
        return stats

    def table_stats(self) -> dict | None:
        """Last :meth:`analyze` result (None if never analyzed). The
        recorded watermark tells the consumer how stale it is."""
        return self.manifest.extra.get("stats")

    def record_history(self) -> DataFrame:
        """EVERY version of every record as rows: version 0 is the
        base insert, version k the state after the k-th delta (per
        rid, commit order). The reference's indirection-chain walk
        (get_indirection, table.py:162-170) materialized as ONE
        window computation: running ``last(col, ignorenulls=True)``
        over the per-rid seq order folds each delta onto the state
        before it. Delete deltas appear as terminal ``_op = 'D'``
        rows. Requires un-vacuumed history (version travel contract,
        :meth:`vacuum_tail`). The per-rid window shuffles base+tail
        once — this is the audit/debug query, not the hot path."""
        from pyspark.sql import Window

        # Vacuumed history would silently shift version numbers and
        # fabricate intermediate states (the early deltas are gone) —
        # fail loudly, like refresh_aggregate_mv's rebuild check.
        if self.manifest.extra.get("history_floor") is not None:
            raise ValueError(
                "record_history() needs un-vacuumed history: vacuum_tail() "
                f"folded deltas below seq floor "
                f"{self.manifest.extra['history_floor']} into the snapshot, "
                "so version numbering from the base insert is no longer "
                "reconstructible"
            )

        base, tail, _ = self._read_state(
            self.filelog.live_state(), None, include_pending=True
        )
        b = base.select(
            F.col(RID),
            F.lit(-1).cast("long").alias(SEQ),  # before any real seq (ids >= 0)
            F.lit("I").alias(OP),
            F.col(TS),
            *[F.col(c) for c in self.user_cols],
        )
        u = b.unionByName(tail.select(b.columns))
        w = (
            Window.partitionBy(RID)
            .orderBy(SEQ)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return u.select(
            F.col(RID),
            (F.row_number().over(Window.partitionBy(RID).orderBy(SEQ)) - 1)
            .cast("long")
            .alias("version_no"),
            F.col(OP).alias("_op"),
            F.col(TS),
            *[
                F.last(F.col(c), ignorenulls=True).over(w).alias(c)
                for c in self.user_cols
            ],
        )

    def snapshot_as_of(self, ts, include_meta: bool = False) -> DataFrame:
        """Absolute-time travel: the table as it stood at wall-clock
        ``ts`` (a datetime or ISO string). Complements the reference's
        RELATIVE version travel (select_version, query.py:115-124) —
        base rows inserted after ``ts`` are invisible, tail deltas
        after ``ts`` are unapplied. One filter on each side, then the
        usual fold. Compaction alone cannot change any answer (the
        fold runs over original base + full tail); after
        :meth:`vacuum_tail` the pre-TPS deltas no longer exist, so the
        fold starts from a live snapshot instead and ``ts`` must not
        predate the recorded history floor. The fold base is the
        newest live snapshot at or past the floor (tps >=
        ``history_floor``) that folded no delta stamped after ``ts``:
        the deltas past the floor stay in the tail until the next
        vacuum, so one aggregate over them finds the first post-floor
        delta after ``ts``, and any snapshot whose tps lies below it is
        exact. Asking for a state whose deltas were vacuumed, or for
        which every exact fold base has been reclaimed, raises rather
        than silently returning stale or too-new values."""
        t = F.lit(ts).cast(T.TimestampType())
        # The time floor, not history_floor: a vacuum that dropped no
        # delta records none, and the raw history is then still whole
        # (a later compaction's snapshot would fold deltas past ``ts``).
        floor = self.manifest.extra.get("history_floor_ts")
        if floor is not None:
            ts_str = (
                ts.strftime("%Y-%m-%d %H:%M:%S.%f")
                if hasattr(ts, "strftime")
                else str(ts).replace("T", " ")
            )
            if ts_str < floor:
                raise ValueError(
                    f"as-of {ts_str} predates the vacuumed history floor "
                    f"{floor}; pre-floor deltas were removed by vacuum_tail"
                )
        state = self.filelog.live_state()
        wm = None
        if floor is not None:
            floor_tps = int(self.manifest.extra["history_floor"])
            snaps = self.manifest.extra.get("snapshots", {})
            tps_of = {
                int(v): int(d["tps"])
                for v, d in snaps.items()
                if int(d["tps"]) >= floor_tps
                and self._log_tag(self.compacted_dir(int(v))) in state
            }
            if tps_of and max(tps_of.values()) > floor_tps:
                # the first post-floor delta stamped after ``ts``: a
                # snapshot at or past it folded a change ``ts`` must
                # not see
                tail_tag = self._log_tag(self.tail_dir)
                after = (
                    self._df_from_entries(
                        os.path.join(self.path, tail_tag),
                        self.tail_schema,
                        prune_entries(
                            state.get(tail_tag, []), {SEQ: (floor_tps + 1, None)}
                        ),
                    )
                    .where((F.col(SEQ) > F.lit(floor_tps)) & (F.col(TS) > t))
                    .agg(F.min(SEQ).alias("s"))
                    .collect()[0]["s"]
                )
                if after is not None:
                    tps_of = {v: p for v, p in tps_of.items() if p < after}
            if not tps_of:
                raise ValueError(
                    f"as-of {ts} needs a snapshot at or past the history "
                    f"floor (tps {floor_tps}, vacuumed at {floor}) that "
                    "folded no later delta, and every such snapshot has "
                    "been reclaimed; only later states remain "
                    "reconstructable"
                )
            v = max(tps_of)
            wm = {
                "compact_version": v,
                "compact_rid_hi": int(snaps[str(v)]["rid_hi"]),
                "tps": tps_of[v],
            }
        base, tail, _ = self._read_state(state, wm, include_pending=True)
        out = self._fold_tail(base.where(F.col(TS) <= t), tail.where(F.col(TS) <= t))
        if not include_meta:
            out = out.select(*self.user_cols)
        return out

    def snapshot_at_commit(self, log_idx: int, include_meta: bool = False) -> DataFrame:
        """Commit-pinned time travel (the Iceberg/Delta ``VERSION AS
        OF`` shape, complementing :meth:`snapshot_as_of`'s ``TIMESTAMP
        AS OF``): the table exactly as of file-log commit ``log_idx``
        — no wall-clock in the contract, so concurrent commits in the
        same microsecond are still totally ordered.

        The file log replays to the live-file set at that commit
        (driver-side, O(commits since checkpoint) JSON reads — zero
        Spark jobs for planning), then the fold runs over THAT state —
        SNAPSHOT-AWARE: ``compact()`` logs its watermarks into the
        state (the ``setmeta`` action), so a commit landing after a
        compaction folds (snapshot ∪ fresh base rows past the rid
        watermark) with the post-TPS tail, exactly like current_view.
        This is load-bearing once ``vacuum_tail`` has dropped pre-TPS
        deltas: base+tail alone no longer reconstruct state (the
        round-9 soak catch — a plain base+tail fold silently resurrects
        pre-TPS tombstoned rows). Retention contract: commits older
        than the newest log checkpoint are unreachable (ValueError),
        and a file physically reclaimed by ``vacuum_tail``/
        ``vacuum_snapshots``/``vacuum_dropped`` since then raises with
        the horizon named rather than silently returning partial
        history. Uncommitted (pending) rows are invisible — travel
        reads commits."""
        st = self.filelog.state_at(log_idx)  # raises outside retention
        meta_rows = st.get(TABLE_META_TAG, [])
        meta = meta_rows[0] if meta_rows else None
        cv = meta["compact_version"] if meta else -1
        if cv < 0 and any(k.startswith("compacted/") for k in st):
            # pre-setmeta log with a snapshot in the state: the plain
            # fold is exact only while the tail retains full history —
            # refuse when the manifest says vacuum has run since
            if self.manifest.extra.get("history_floor") is not None:
                raise ValueError(
                    f"commit {log_idx} predates watermark metadata and "
                    "the tail has been vacuumed; state is beyond the "
                    "reconstructable horizon"
                )
        files = self._state_files(st, meta)
        missing = [
            p
            for tag, es in (
                (files.snap_tag, files.snap),
                (self._log_tag(self.base_dir), files.fresh),
                (self._log_tag(self.tail_dir), files.tail),
            )
            for e in es
            if not os.path.isfile(p := os.path.join(self.path, tag, e["path"]))
        ]
        if missing:
            raise ValueError(
                f"commit {log_idx} references {len(missing)} file(s) "
                f"reclaimed by vacuum (first: {missing[0]}); state is "
                "beyond the physical retention horizon"
            )
        base, tail, tail_empty = self._state_frames(files)
        out = self._fold_tail(base, tail, tail_known_empty=tail_empty)
        if not include_meta:
            out = out.select(*self.user_cols)
        return out

    def _df_from_entries(
        self, path: str, schema: T.StructType, entries: list[dict]
    ) -> DataFrame:
        """Scan exactly the given log entries under ``path`` — the one
        scan builder under every reader. ``basePath`` keeps Hive
        partition-column derivation identical to a directory read."""
        if not entries:
            # Known-empty relation, NOT createDataFrame([], schema): the
            # latter is a LogicalRDD whose emptiness Catalyst cannot
            # see, so every join against it plans as a real shuffle
            # (measured ~10x slower on a fresh/compacted table's empty
            # tail). Range(0,0) constant-folds through
            # PropagateEmptyRelation and the join collapses away.
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        files = [os.path.join(path, e["path"]) for e in entries]
        phys = self._physical_schema(schema)
        df = self.spark.read.option("basePath", path).schema(phys).parquet(*files)
        m = self._phys_map
        if m:
            inv = {ph: lg for lg, ph in m.items()}
            df = df.select(
                *[F.col(f.name).alias(inv.get(f.name, f.name)) for f in phys.fields]
            )
        return df

    # ------------------------------------------------------------------
    # named refs (tags) — pinned, vacuum-proof commit snapshots
    # ------------------------------------------------------------------
    def _refs_root(self) -> str:
        return os.path.join(self.path, "_filelog", "refs")

    def create_ref(self, name: str, log_idx: int | None = None) -> dict:
        """Pin a named, durable reference (the Iceberg tag / Delta
        ``RESTORE``-target shape) to the table state at file-log
        commit ``log_idx`` (default: the newest commit). The
        reference engine has no snapshot concept at all — its
        ``table_info.txt`` holds only live counters (reference
        db.py:163-166).

        Unlike raw commit travel (:meth:`snapshot_at_commit`), a ref
        is immune to EVERY maintenance operation: the pinned base+tail
        files are HARDLINKED under ``_filelog/refs/<name>/`` (same
        inodes, zero data copy — the filesystem-snapshot primitive),
        so ``vacuum_tail``'s directory rewrite, ``optimize_files``'s
        small-file repacking, checkpoint compaction of the log, and
        snapshot reclamation can all proceed with ZERO coordination:
        they drop their link, the ref keeps its own. On object
        storage the same contract is met by ref-aware retention
        (vacuum consults the ref list) — hardlinks are the exact local
        equivalent at no storage cost. Publication is atomic (build
        into a hidden temp dir, one rename). Returns
        ``{"name", "idx", "files", "bytes"}``."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
            raise ValueError(f"invalid ref name: {name!r}")
        self.flush()
        rng = self.filelog.replayable_range()
        if rng is None:
            raise ValueError("table has no commits to tag")
        idx = rng[1] if log_idx is None else log_idx
        st = self.filelog.state_at(idx)  # raises outside retention
        final = os.path.join(self._refs_root(), name)
        if os.path.isdir(final):
            raise ValueError(f"ref already exists: {name}")
        meta_rows = st.get(TABLE_META_TAG, [])
        meta = meta_rows[0] if meta_rows else None
        if meta is None and any(k.startswith("compacted/") for k in st):
            raise ValueError(
                f"commit {idx} has a snapshot but predates watermark "
                "metadata; compact() once under this version, then tag"
            )
        # pin the fold inputs the commit's state actually needs: base +
        # tail always, plus the compacted snapshot when the state is
        # post-compaction (base+tail alone stop reconstructing state
        # once vacuum_tail drops pre-TPS deltas — the round-9 soak
        # catch)
        tags = [self._log_tag(self.base_dir), self._log_tag(self.tail_dir)]
        if meta is not None and meta.get("compact_version", -1) >= 0:
            tags.append(
                self._log_tag(self.compacted_dir(meta["compact_version"]))
            )
        tmp = os.path.join(self._refs_root(), f".tmp_{uuid.uuid4().hex[:8]}")
        n_files = n_bytes = 0
        try:
            for tag in tags:
                for e in st.get(tag, []):
                    src = os.path.join(self.path, tag, e["path"])
                    dst = os.path.join(tmp, tag, e["path"])
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    try:
                        os.link(src, dst)
                    except FileNotFoundError:
                        raise ValueError(
                            f"commit {idx} references a file already "
                            f"reclaimed by vacuum ({src}); tag a newer "
                            "commit"
                        ) from None
                    n_files += 1
                    n_bytes += e.get("bytes", 0)
            _atomic_write_json(
                os.path.join(tmp, "_ref.json"),
                {
                    "name": name,
                    "idx": idx,
                    "created_ts": time.time(),
                    "meta": meta,
                    "state": {t: st.get(t, []) for t in tags},
                },
            )
            os.rename(tmp, final)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return {"name": name, "idx": idx, "files": n_files, "bytes": n_bytes}

    def snapshot_at_ref(self, name: str, include_meta: bool = False) -> DataFrame:
        """The table exactly as pinned by :meth:`create_ref` — reads
        the ref's own hardlinked base+tail file set through the
        standard fold, so the answer is stable FOREVER regardless of
        vacuum/optimize/compaction since the tag (the durability
        guarantee commit travel cannot give once retention passes)."""
        ref_dir = os.path.join(self._refs_root(), name)
        meta_path = os.path.join(ref_dir, "_ref.json")
        if not os.path.isfile(meta_path):
            raise KeyError(f"no such ref: {name}")
        with open(meta_path) as f:
            ref = json.load(f)
        # snapshot-aware fold, exactly like current_view at pin time,
        # over the ref's own hardlinked files
        base, tail, tail_empty = self._read_state(
            ref["state"], ref.get("meta"), root=ref_dir
        )
        out = self._fold_tail(base, tail, tail_known_empty=tail_empty)
        if not include_meta:
            out = out.select(*self.user_cols)
        return out

    def diff_refs(self, a: str, b: str) -> DataFrame:
        """Row-level diff between two pinned refs — "what changed
        between dataset release v1.0 and v1.1": every key classified
        ``added`` (only in ``b``), ``removed`` (only in ``a``), or
        ``changed`` (in both, any user column differs null-safe).
        One full-outer join on the key between the two pinned folds —
        work ∝ the two releases, nothing else; unchanged rows drop
        out before the result materializes. The audit surface a
        training-data release process runs before shipping a tag."""
        va = self.snapshot_at_ref(a).alias("a")
        vb = self.snapshot_at_ref(b).alias("b")
        key = self.key
        j = va.join(vb, on=F.col(f"a.{key}") == F.col(f"b.{key}"), how="full_outer")
        others = [c for c in self.user_cols if c != key]
        diff = F.lit(False)
        for c in others:
            diff = diff | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        change = (
            F.when(F.col(f"a.{key}").isNull(), F.lit("added"))
            .when(F.col(f"b.{key}").isNull(), F.lit("removed"))
            .when(diff, F.lit("changed"))
        )
        return (
            j.select(
                F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
                change.alias("change"),
            )
            .where(F.col("change").isNotNull())
        )

    def list_refs(self) -> list[dict]:
        """All pinned refs: [{"name", "idx", "files", "bytes",
        "created_ts"}], name-sorted."""
        root = self._refs_root()
        out = []
        if os.path.isdir(root):
            for n in sorted(os.listdir(root)):
                mp = os.path.join(root, n, "_ref.json")
                if n.startswith(".") or not os.path.isfile(mp):
                    continue
                with open(mp) as f:
                    m = json.load(f)
                ents = [e for es in m["state"].values() for e in es]
                out.append(
                    {
                        "name": m["name"],
                        "idx": m["idx"],
                        "files": len(ents),
                        "bytes": sum(e.get("bytes", 0) for e in ents),
                        "created_ts": m.get("created_ts"),
                    }
                )
        return out

    def drop_ref(self, name: str) -> None:
        """Unpin a ref: removes its hardlink tree (data blocks are
        freed only when the last link — live table or another ref —
        drops)."""
        ref_dir = os.path.join(self._refs_root(), name)
        if not os.path.isdir(ref_dir):
            raise KeyError(f"no such ref: {name}")
        shutil.rmtree(ref_dir)

    def restore_as_of(self, ts) -> dict:
        """Roll the CURRENT view back to its state at wall-clock
        ``ts`` (the Delta RESTORE analogue) — with COMPENSATING WRITES,
        never by rewriting history: keys live now but absent at ``ts``
        tombstone; keys live at ``ts`` but absent now re-insert (new
        rids, old values); keys live in both with any differing column
        get a full-row update delta carrying the old values. The log
        stays append-only, so pre-restore states remain time-travelable
        and the restore itself is one more visible state.

        Rows whose PARTITION column moved since ``ts`` restore as
        delete + re-insert (partition values are immutable per rid).
        Work is proportional to the DIFF between now and ``ts`` (one
        key anti-join each way + one null-safe comparison join), not
        to table size. Raises if ``ts`` predates a vacuumed history
        floor (inherited from :meth:`snapshot_as_of`). Returns
        {'deleted': n, 'updated': n, 'inserted': n}."""
        return self._restore_to(self.snapshot_as_of(ts))

    def restore_at_commit(self, log_idx: int) -> dict:
        """Commit-pinned RESTORE: roll the current view back to its
        state at file-log commit ``log_idx`` — the exact-total-order
        twin of :meth:`restore_as_of` (same compensating-write diff
        engine, so the log stays append-only and pre-restore states
        remain travelable); the target state comes from
        :meth:`snapshot_at_commit`'s log replay instead of a wall
        clock. Retention errors are inherited from there. Returns
        {'deleted': n, 'updated': n, 'inserted': n}."""
        return self._restore_to(self.snapshot_at_commit(log_idx))

    def _restore_to(self, old: DataFrame) -> dict:
        """Compensating-write diff engine shared by the two RESTORE
        entry points: work ∝ diff(now, old), never table size."""
        self.flush()
        key = self.key
        others = [c for c in self.user_cols if c != key]
        nonpart = [c for c in others if c not in self.partition_by]
        old = old.persist()
        cur = self.current_view().persist()
        try:
            old_keys = old.select(key)
            cur_keys = cur.select(key)
            gone = cur_keys.join(old_keys, on=key, how="left_anti")
            fresh = old.join(cur_keys, on=key, how="left_anti")
            both = old.alias("o").join(cur.alias("c"), on=key)
            diff = F.lit(False)
            for c in others:
                diff = diff | ~F.col(f"o.{c}").eqNullSafe(F.col(f"c.{c}"))
            # delete+reinsert is needed when an immutable-per-rid
            # partition value moved, AND when a column must be
            # restored TO NULL: the tail encoding reads NULL deltas as
            # 'unchanged' (the reference's update convention,
            # /root/reference/lstore/query.py:141 area), so an update
            # delta cannot express null — a fresh rid carries it
            # exactly.
            moved = F.lit(False)
            for c in self.partition_by:
                moved = moved | ~F.col(f"o.{c}").eqNullSafe(F.col(f"c.{c}"))
            for c in nonpart:
                moved = moved | (
                    F.col(f"o.{c}").isNull() & F.col(f"c.{c}").isNotNull()
                )
            changed = both.where(diff)
            upd = changed.where(~moved).select(
                F.col(key), *[F.col(f"o.{c}").alias(c) for c in nonpart]
            )
            relocated = changed.where(moved).select(
                F.col(key), *[F.col(f"o.{c}").alias(c) for c in others]
            )
            to_delete = gone.unionByName(relocated.select(key))
            to_insert = fresh.unionByName(
                relocated.select(key, *others).select(*old.columns)
            )
            n_del = to_delete.count()
            n_upd = upd.count()
            n_ins = to_insert.count()
            if n_del:
                self.bulk_delete(to_delete)
            if n_upd:
                self.bulk_update(upd)
            if n_ins:
                self.ingest_dataframe(to_insert)
            return {"deleted": n_del, "updated": n_upd, "inserted": n_ins}
        finally:
            old.unpersist()
            cur.unpersist()

    def commit_history(self) -> DataFrame:
        """Table-level commit log (the DESCRIBE HISTORY analogue),
        reconstructed from the data itself — the batch id is the high
        16 bits of every rid/seq, so no separate log is maintained or
        can drift. One aggregate over each of base and tail: per
        commit batch, the operation mix (inserts / update deltas /
        tombstones) and its wall-clock span. Batches vacuumed by
        ``vacuum_tail`` no longer appear (their deltas are gone by
        design); order by ``batch`` for commit order."""
        base = self.base_df(include_pending=True).select(
            F.shiftrightunsigned(F.col(RID), _BATCH_SHIFT).alias("batch"),
            F.lit(1).alias("_ins"),
            F.lit(0).alias("_upd"),
            F.lit(0).alias("_del"),
            F.col(TS),
        )
        tail = self.tail_df(include_pending=True).select(
            F.shiftrightunsigned(F.col(SEQ), _BATCH_SHIFT).alias("batch"),
            F.lit(0).alias("_ins"),
            F.when(F.col(OP) == OP_UPDATE, 1).otherwise(0).alias("_upd"),
            F.when(F.col(OP) == OP_DELETE, 1).otherwise(0).alias("_del"),
            F.col(TS),
        )
        return (
            base.unionByName(tail)
            .groupBy("batch")
            .agg(
                F.sum("_ins").alias("n_inserts"),
                F.sum("_upd").alias("n_updates"),
                F.sum("_del").alias("n_deletes"),
                F.min(TS).alias("started"),
                F.max(TS).alias("finished"),
            )
        )

    def changes_between(self, seq_lo: int, seq_hi: int | None = None) -> DataFrame:
        """CDC feed from the tail: every delta with ``seq_lo < _seq <=
        seq_hi`` as ``(_rid, _seq, _op, _ts, <changed columns, NULL =
        untouched>)``, plus base inserts in the same window as
        ``_op = 'I'`` rows. Consumers resume from the max ``_seq`` they
        have seen (the same watermark contract compaction uses for
        TPS); at scale this is an incremental scan of the (small) tail
        + rid-pruned base, not a diff of snapshots."""
        hi = F.lit(seq_hi) if seq_hi is not None else None
        # manifest-log file skipping on the resume window: a consumer
        # reading "since my watermark" opens only tail/base files whose
        # logged _seq/_rid range can intersect (seq_lo, seq_hi] — at
        # scale the CDC read cost tracks the CHANGES, not table age
        tail = self.tail_df(prune={SEQ: (seq_lo + 1, seq_hi)}).where(
            F.col(SEQ) > seq_lo
        )
        if hi is not None:
            tail = tail.where(F.col(SEQ) <= hi)
        ins = self.base_df(prune={RID: (seq_lo + 1, seq_hi)}).where(
            F.col(RID) > seq_lo
        )
        if hi is not None:
            ins = ins.where(F.col(RID) <= hi)
        ins = ins.select(
            F.col(RID),
            F.col(RID).alias(SEQ),  # inserts order by rid in the same id space
            F.lit("I").alias(OP),
            F.col(TS),
            *self.user_cols,
        )
        return tail.unionByName(ins)

    def changes_between_commits(
        self, commit_lo: int, commit_hi: int | None = None
    ) -> DataFrame:
        """Commit-pinned CDC (the Delta ``table_changes(v1, v2)``
        shape, complementing :meth:`changes_between`'s seq-watermark
        contract): every row published by file-log commits
        ``(commit_lo, commit_hi]`` — tail deltas as
        ``(_rid, _seq, _op, _ts, <changed cols>)`` and base inserts as
        ``_op = 'I'`` rows — planned purely from the log's per-entry
        commit stamps (``_idx``): the scan opens EXACTLY the files
        those commits added, zero files from any other commit, no seq
        arithmetic needed. Retention: files vacuumed/packed since then
        have lost their original stamps (optimize re-stamps base packs
        with the SOURCE commit, so insert CDC survives packing; a
        vacuumed tail is gone — same horizon as commit travel). A
        window that covers a commit whose first-published rows no
        longer all survive in the live set (``vacuum_tail`` rewrote
        the tail; ``drop_partition`` unpublished base files) raises
        the standard retention ValueError instead of returning a
        silently incomplete feed — audited against the file log's
        per-commit first-published row ledger
        (:meth:`FileLog.added_rows`); pre-ledger commits are
        unauditable and grandfathered."""
        if commit_hi is None:
            rng = self.filelog.replayable_range()
            commit_hi = rng[1] if rng else commit_lo
        out = []
        for tag, path, schema, op_lit in (
            (self._log_tag(self.tail_dir), self.tail_dir, self.tail_schema, None),
            (self._log_tag(self.base_dir), self.base_dir, self.base_schema, "I"),
        ):
            live = self.filelog.live(tag)
            ledger = self.filelog.added_rows(tag)
            if ledger:
                surviving: dict[int, int] = {}
                for e in live:
                    i = e.get("_idx")
                    if i is not None:
                        surviving[i] = surviving.get(i, 0) + (e.get("rows") or 0)
                gone = [
                    i
                    for i, rows in ledger.items()
                    if commit_lo < i <= commit_hi and surviving.get(i, 0) < rows
                ]
                if gone:
                    raise ValueError(
                        f"CDC window ({commit_lo}, {commit_hi}] covers "
                        f"commit(s) {sorted(gone)[:5]} whose published rows "
                        f"in {tag!r} were since removed (vacuum_tail / "
                        "drop_partition); the feed would be silently "
                        "incomplete — beyond the CDC retention horizon"
                    )
            ents = [
                e
                for e in live
                if e.get("rows", 1) != 0
                and e.get("_idx") is not None
                and commit_lo < e["_idx"] <= commit_hi
            ]
            if not ents:
                continue
            df = self._df_from_entries(path, schema, ents)
            if op_lit == "I":
                df = df.select(
                    F.col(RID),
                    F.col(RID).alias(SEQ),
                    F.lit("I").alias(OP),
                    F.col(TS),
                    *self.user_cols,
                )
            out.append(df)
        if not out:
            empty = self.tail_schema
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in empty.fields]
            )
        feed = out[0]
        for df in out[1:]:
            feed = feed.unionByName(df)
        return feed

    def apply_changes(self, feed: DataFrame) -> None:
        """Apply a CDC feed (the schema :meth:`changes_between` emits)
        to THIS table, preserving rids/seqs — the replica side of
        lineage replication. 'I' rows append to base, 'U'/'D' rows to
        tail, ids unchanged so later deltas for the same records bind
        correctly; the local batch counter jumps past every applied id
        so locally-allocated ids can never collide. Idempotent per
        feed window (replay = same files' content; dedupe by _seq is
        the consumer's contract)."""
        self.flush()
        # Reserve id space (and CAS the manifest) BEFORE publishing any
        # feed file: a concurrent-writer conflict must abort while the
        # append is still unpublished, and the reservation guarantees
        # locally-allocated batches can't collide with applied ids.
        hi = feed.agg(F.max(SEQ).alias("m")).collect()[0]["m"]
        if hi is not None:
            self.manifest.next_batch = max(
                self.manifest.next_batch, (int(hi) >> _BATCH_SHIFT) + 1
            )
            self._save_manifest()
        ins = feed.where(F.col(OP) == "I").select(
            F.col(RID), F.col(TS), *[F.col(c) for c in self.user_cols]
        )
        self._append_via_staging(ins, self.base_dir, partition_by=self.partition_by)
        tail = feed.where(F.col(OP) != "I").select(
            F.col(RID), F.col(SEQ), F.col(OP), F.col(TS),
            *[F.col(c) for c in self.user_cols],
        )
        if self.tail_keyed and tail.where(F.col(self.key).isNull()).limit(1).count() > 0:
            # Feed from an older-format table: backfill the immutable
            # key/partition values from base so the keyed fold still
            # matches these deltas (one rid-join, feed-sized).
            immutable = [self.key, *self.partition_by]
            basem = self.base_df().select(
                F.col(RID), *[F.col(c).alias(f"__b_{c}") for c in immutable]
            )
            tail = tail.join(basem, on=RID, how="left").select(
                F.col(RID), F.col(SEQ), F.col(OP), F.col(TS),
                *[
                    F.coalesce(F.col(c), F.col(f"__b_{c}")).alias(c)
                    if c in immutable
                    else F.col(c)
                    for c in self.user_cols
                ],
            )
        self._append_via_staging(tail, self.tail_dir, rebalance=True)

    # ------------------------------------------------------------------
    # merge / compaction (reference T4, table.py:180-225)
    # ------------------------------------------------------------------
    def zorder_key(self, cols: list[str], bits: int = 16) -> Column:
        """Z-order (Morton) key over ``cols``: each column normalizes
        to a ``bits``-wide integer — numeric/date/timestamp columns
        linearly between their min and max (from :meth:`analyze` stats
        when fresh enough, else one extra agg pass), strings by hash —
        and the bit planes interleave, so sorting by the key gives
        every listed column locality at once (multi-column clustering;
        single-column ``sort_by`` gives the first column everything
        and the rest nothing). The expression is pure Catalyst
        shift/or arithmetic — codegen'd, no UDF."""
        # Work on a COPY of the persisted stats (never the live
        # manifest dict — an augmented fallback entry would otherwise
        # be persisted by the next _save_manifest), and trust min/max
        # only when collected at the current commit watermark; stale
        # bounds would mis-normalize values outside them (ADVICE r3).
        import copy

        saved = self.table_stats()
        if saved and saved.get("watermark") == self.watermark():
            stats = {"columns": copy.deepcopy(saved.get("columns", {}))}
        else:
            stats = {"columns": {}}
        need = [
            c for c in cols
            if isinstance(self.schema[c].dataType, (T.NumericType, T.DateType,
                                                    T.TimestampType, T.TimestampNTZType))
            and c not in stats["columns"]
        ]
        if need:
            row = self.current_view().agg(
                *[f(c).alias(f"{n}_{c}") for c in need for n, f in
                  (("min", F.min), ("max", F.max))]
            ).collect()[0]
            for c in need:
                stats["columns"][c] = {"min": row[f"min_{c}"], "max": row[f"max_{c}"]}
        top = (1 << bits) - 1
        norms: list[Column] = []
        for c in cols:
            dt = self.schema[c].dataType
            if isinstance(dt, (T.NumericType, T.DateType, T.TimestampType,
                               T.TimestampNTZType)):
                cs = stats["columns"][c]
                lo, hi = cs["min"], cs["max"]
                v = F.col(c)
                if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                    v = F.unix_micros(F.col(c).cast("timestamp"))
                    import datetime

                    def _us(x):
                        if isinstance(x, str):
                            x = datetime.datetime.fromisoformat(x)
                        if isinstance(x, datetime.date) and not isinstance(
                            x, datetime.datetime
                        ):
                            x = datetime.datetime(x.year, x.month, x.day)
                        return int(x.timestamp() * 1_000_000)

                    lo, hi = _us(lo), _us(hi)
                span = float(hi) - float(lo) or 1.0
                n = F.floor(
                    (v.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(float(top))
                ).cast("long")
                n = F.greatest(F.lit(0), F.least(F.lit(top), n))
            else:
                n = F.pmod(F.xxhash64(F.col(c)), F.lit(top + 1))
            norms.append(F.coalesce(n, F.lit(0)))
        k = len(cols)
        z = F.lit(0).cast("long")
        for b in range(bits):
            for j, n in enumerate(norms):
                bit = F.shiftright(n, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
        return z

    def compact(
        self,
        incremental: bool = True,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        n_files: int | None = None,
    ) -> int:
        """Consolidate tail into a new base snapshot (the reference's
        __merge): join+rewrite, then an atomic manifest swap advancing
        the TPS watermark. Tail files are retained so version travel
        keeps full lineage — merge never changes a query answer
        (SURVEY §5.2 invariant 2). Returns the new snapshot version.

        For a partitioned table with an existing snapshot,
        ``incremental=True`` rewrites ONLY the partitions touched
        since the last compact (tail-delta rids + fresh base rows
        decide the set) and hardlinks every untouched partition's
        files into the new snapshot version — at 100 TB compaction
        cost tracks the churn, not the table size.

        ``sort_by`` clusters rows within each output file (sorted
        parquet -> tight row-group min/max stats -> better pruning for
        range predicates on those columns); ``zorder_by`` is the
        multi-column version — rows range-partition and sort on a
        Morton key (:meth:`zorder_key`) so EVERY listed column gets
        file- and row-group-level locality, where ``sort_by`` favors
        only its leading column. ``max_records_per_file`` /
        ``n_files`` bound file sizes so a huge snapshot lands in
        scan-parallel 100 MB-1 GB files."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        self.flush()
        state = self.filelog.live_state()
        # the new watermarks cover everything committed: raw history
        base, tail, _ = self._read_state(state, None)
        tps_row = tail.agg(F.max(SEQ).alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
        new_tps = tps_row["m"] if tps_row["m"] is not None else self.manifest.tps
        rid_row = base.agg(F.max(RID).alias("m")).collect()[0]
        rid_hi = rid_row["m"] if rid_row["m"] is not None else -1
        new_version = self.manifest.compact_version + 1
        out_dir = self.compacted_dir(new_version)
        if (
            incremental
            and self.partition_by
            and self.manifest.compact_version >= 0
            and sort_by is None
            and zorder_by is None
        ):
            self._compact_incremental(out_dir, state)
        else:
            # Fold forward from the previous snapshot, if any: only
            # deltas past the TPS watermark are re-applied (identical
            # result — deltas carry absolute values, max-seq wins —
            # and REQUIRED after vacuum_tail, when pre-TPS deltas no
            # longer exist).
            base, tail, tail_empty = self._read_state(state, self._watermarks())
            # keeps _rid,_ts + user cols
            snap = self._fold_tail(base, tail, tail_known_empty=tail_empty)
            parts = n_files or self.spark.sparkContext.defaultParallelism
            if sort_by:
                # range-partition FIRST so the clustering is global
                # (each file owns a contiguous value range), then sort
                # within files for tight row-group stats
                snap = snap.repartitionByRange(parts, *sort_by).sortWithinPartitions(
                    *sort_by
                )
            elif zorder_by:
                snap = (
                    snap.withColumn("_z", self.zorder_key(zorder_by))
                    .repartitionByRange(parts, "_z")
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
            writer = self._df_to_physical(snap).write.mode("overwrite")
            if max_records_per_file:
                writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(out_dir)
        # log the new snapshot dir BEFORE the manifest swap points
        # readers at it (a vN's file set is immutable once written, so
        # a one-shot reset entry fully describes it). The setmeta
        # action pins the NEW watermarks into the log state itself, so
        # commit travel / refs landing on any later commit can fold
        # snapshot-aware (base+tail alone no longer reconstruct state
        # once vacuum_tail drops pre-TPS deltas — the round-9 soak
        # catch)
        self.filelog.append(
            [
                {
                    "op": "reset",
                    "dir": self._log_tag(out_dir),
                    "files": self.filelog.import_dir(
                        self._log_tag(out_dir), out_dir, self._stat_cols
                    ),
                },
                {
                    "op": "setmeta",
                    "dir": TABLE_META_TAG,
                    "meta": {
                        "compact_version": new_version,
                        "tps": new_tps if new_tps is not None else -1,
                        "compact_rid_hi": rid_hi,
                    },
                },
            ]
        )
        self.manifest.compact_version = new_version
        self.manifest.tps = new_tps if new_tps is not None else -1
        self.manifest.compact_rid_hi = rid_hi
        # Per-version snapshot watermarks: retained prior versions are
        # usable FOLD BASES for consumers that must reconstruct state
        # at an older watermark after vacuum_tail removed the raw
        # history (refresh_aggregate_mv picks the newest snapshot
        # whose tps <= its recorded watermark). Entries for reclaimed
        # versions are pruned in _reclaim_snapshots; readers re-check
        # the version is on disk regardless.
        self.manifest.extra.setdefault("snapshots", {})[str(new_version)] = {
            "tps": self.manifest.tps,
            "rid_hi": rid_hi,
        }
        self._save_manifest()
        # Reader-safe retention: a concurrent reader may hold a
        # DataFrame planned against the OLD snapshot dir (single-WRITER
        # is the documented model, but readers aren't writers). Keep
        # the ``snapshot_retain`` most recent prior versions (default
        # 1) so in-flight scans survive the swap; older ones reclaim
        # here, or explicitly via :meth:`vacuum_snapshots` — the
        # retention-window VACUUM pattern.
        retain = int(self.manifest.extra.get("snapshot_retain", 1))
        self._reclaim_snapshots(keep_above=new_version - 1 - retain)
        return new_version

    def _snapshot_versions(self) -> list[int]:
        """Snapshot versions present on disk, ascending."""
        root = os.path.join(self.path, "compacted")
        if not os.path.isdir(root):
            return []
        out = []
        for name in os.listdir(root):
            if name.startswith("v"):
                try:
                    out.append(int(name[1:]))
                except ValueError:
                    continue
        return sorted(out)

    def _reclaim_snapshots(self, keep_above: int) -> int:
        removed = 0
        dropped: list[dict] = []
        for v in self._snapshot_versions():
            if v <= keep_above and v != self.manifest.compact_version:
                shutil.rmtree(self.compacted_dir(v), ignore_errors=True)
                dropped.append(
                    {"op": "drop", "dir": self._log_tag(self.compacted_dir(v))}
                )
                removed += 1
        if dropped:
            self.filelog.append(dropped)
        if removed:
            # prune watermark entries of reclaimed versions (persisted
            # at the next manifest save; stale on-disk entries are
            # harmless — consumers re-check the version dir exists)
            live = set(self._snapshot_versions())
            snaps = self.manifest.extra.get("snapshots", {})
            for k in [k for k in snaps if int(k) not in live]:
                snaps.pop(k)
        return removed

    def vacuum_snapshots(self, retain: int = 0) -> int:
        """Reclaim prior compacted-snapshot versions, keeping the
        ``retain`` most recent BELOW the current one (0 = current
        only). Run it once no reader can still hold plans over the old
        snapshot dirs — the explicit analogue of a retention-window
        VACUUM. Returns the number of versions removed."""
        if retain < 0:
            raise ValueError("retain must be >= 0")
        return self._reclaim_snapshots(
            keep_above=self.manifest.compact_version - 1 - retain
        )

    def optimize_files(
        self, target_bytes: int = 128 << 20, small_frac: float = 0.5
    ) -> dict:
        """Small-file bin-packing over the FRESH base dir (the Delta
        OPTIMIZE shape): every commit appends its own part-files, so a
        churn-heavy table accumulates thousands of KB-sized files
        between compactions — and at 100 TB on an object store, per-file
        open latency dominates the scan. This rewrites ONLY files
        smaller than ``small_frac * target_bytes``, packing them into
        ~``target_bytes`` outputs per Hive partition (rows never cross
        a partition boundary); files already at target size are left
        untouched, and row content (_rid, _ts, user columns) is
        preserved byte-for-byte — physical-only, answers invariant,
        version travel unaffected (tail deltas reference rids, not
        files).

        Publish protocol (crash-safe): packed files move in under an
        ``_``-prefixed name (invisible to Spark's directory listing),
        a json intent marker listing originals + packed names commits
        the swap, the originals unlink, the new files rename into
        visibility, the marker deletes. A crash BEFORE the marker
        leaves only invisible files (:meth:`repair_staging` discards
        them — the pack never committed); a crash AFTER it rolls
        FORWARD (repair finishes the unlink+rename from the marker).
        Single-writer maintenance, same discipline as
        compact()/vacuum. Returns
        {files_before, files_after, bytes_packed, partitions} —
        ``partitions`` counts PACK GROUPS, i.e. (hive partition dir,
        source commit) pairs actually rewritten (per-commit grouping
        is what keeps row provenance exact, see provenance_view)."""
        self.flush()
        small_cap = int(target_bytes * small_frac)
        # group candidate files by (partition subdirectory, adding
        # commit): packing only within one source commit keeps the
        # file -> commit provenance mapping (_idx) exact across the
        # rewrite — the common OPTIMIZE win is a single commit's many
        # small task files, so per-commit packing still collapses
        # those, while rows never silently adopt the pack commit as
        # their insert provenance (lineage.provenance_view contract)
        idx_of = {
            os.path.join(self.base_dir, e["path"]): e.get("_idx")
            for e in self.filelog.live(self._log_tag(self.base_dir))
        }
        by_part: dict[tuple[str, int | None], list[tuple[str, int]]] = {}
        n_before = 0
        for root, _dirs, files in os.walk(self.base_dir):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                n_before += 1
                p = os.path.join(root, name)
                # never pack a file the live log does not list (a
                # crash orphan awaiting repair): packing would
                # republish logically-dead rows
                if p not in idx_of:
                    continue
                sz = os.path.getsize(p)
                if sz < small_cap:
                    by_part.setdefault((root, idx_of.get(p)), []).append((p, sz))
        packed_bytes = 0
        n_parts = 0
        for (part_dir, src_idx), members in by_part.items():
            if len(members) < 2:
                continue  # nothing to gain from rewriting one file
            n_parts += 1
            paths = [p for p, _ in members]
            total = sum(sz for _, sz in members)
            packed_bytes += total
            n_out = max(1, -(-total // target_bytes))
            # partition columns live in the directory name, not the
            # files — read and rewrite exactly the columns the files
            # hold so the packed files match their siblings
            file_schema = self._physical_schema(
                T.StructType(
                    [
                        f
                        for f in self.base_schema.fields
                        if f.name not in self.partition_by
                    ]
                )
            )
            # physical in, physical out — pure file packing, no rename
            df = self.spark.read.schema(file_schema).parquet(*paths)
            staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:8]}")
            df.coalesce(n_out).write.mode("overwrite").parquet(staging)
            hidden: list[str] = []
            for name in os.listdir(staging):
                if not name.endswith(".parquet"):
                    continue
                h = os.path.join(part_dir, f"_opt_{uuid.uuid4().hex[:8]}")
                os.rename(os.path.join(staging, name), h)
                hidden.append(h)
            marker = os.path.join(part_dir, f"_opt_commit_{uuid.uuid4().hex[:8]}.json")
            tmp_marker = marker + ".tmp"
            with open(tmp_marker, "w") as fh:
                json.dump(
                    {
                        "originals": [os.path.basename(p) for p in paths],
                        "packed": [os.path.basename(h) for h in hidden],
                    },
                    fh,
                )
            os.replace(tmp_marker, marker)  # <- the commit point
            for p in paths:
                os.remove(p)
            visible: list[str] = []
            for h in hidden:
                # rename the BASENAME only: a Hive partition directory
                # whose value contains '_opt_' (partition values are
                # user data) must not be rewritten by the substitution
                os.rename(h, _opt_unhide(h))
                visible.append(_opt_unhide(h))
            os.remove(marker)
            shutil.rmtree(staging, ignore_errors=True)
            self.filelog.append(
                [
                    {
                        "op": "remove",
                        "dir": "base",
                        "paths": [os.path.relpath(p, self.base_dir) for p in paths],
                    },
                    {
                        "op": "add",
                        "dir": "base",
                        # carry the SOURCE commit forward: _apply's
                        # setdefault never overrides an explicit _idx,
                        # so packed rows keep their insert provenance
                        "files": [
                            dict(
                                file_entry(
                                    v,
                                    os.path.relpath(v, self.base_dir),
                                    self._stat_cols,
                                ),
                                **({"_idx": src_idx} if src_idx is not None else {}),
                            )
                            for v in visible
                        ],
                    },
                ]
            )
        n_after = sum(
            1
            for root, _d, files in os.walk(self.base_dir)
            for f in files
            if f.endswith(".parquet")
        )
        return {
            "files_before": n_before,
            "files_after": n_after,
            "bytes_packed": packed_bytes,
            "partitions": n_parts,
        }

    def drop_partition(self, column: str, value) -> dict:
        """Metadata-only partition retention (the Delta ``DELETE WHERE
        part = v`` remove-action / Iceberg drop-partition shape; the
        reference can only delete key-at-a-time through its index):
        unpublish every live base/snapshot file under the partition
        directory with ONE file-log commit — zero data I/O, zero
        tombstones, zero row work. At 100 TB this is how a month of
        expired crawl drops in milliseconds instead of a billion-row
        anti-join.

        Protocol (crash-safe, mirrors the OPTIMIZE marker): an intent
        marker listing the log actions + file moves publishes first;
        the log remove commits the drop; the files then MOVE into the
        retained ``_dropped/<id>/`` area (rename, no copy) so the
        "directory = ground truth" invariant repair_staging resyncs
        from stays intact; the marker deletes last.
        :meth:`repair_staging` rolls an interrupted drop FORWARD from
        the marker (the remove replay is idempotent). Reclaim the
        moved bytes later with :meth:`vacuum_dropped`; pre-drop states
        remain durable through :meth:`create_ref` (hardlinks), while
        raw commit travel past the move raises the standard retention
        error.

        Safety: raises if ANY un-folded (post-TPS) tail delta —
        tombstone OR update — targets rids inside the dropped files'
        rid ranges. Tombstones would double-subtract from
        :meth:`fast_count`'s metadata contract; dangling UPDATE
        deltas, while harmless to the base-left ``current_view`` fold,
        would poison :meth:`fast_min_max`'s tail-extremes fold (a
        dropped rid's update value would surface as a live extreme
        with no base row, and its bogus bound also suppresses base
        scans). ``compact()`` first (folds them), then drop. The check
        is range-based and therefore conservative: rid ranges of files
        in different partitions interleave, so a delta on a retained
        partition's rid can also refuse — compact clears it either
        way. Simple partition values only (no Hive special-char
        escaping)."""
        if column not in self.partition_by:
            raise ValueError(
                f"{column!r} is not a partition column {self.partition_by}"
            )
        self.flush()
        token = f"{column}={value}"
        targets: list[tuple[str, list[dict]]] = []  # (tag, entries)
        state = self.filelog.live_state()
        tags = [self._log_tag(self.base_dir)]
        if self.manifest.compact_version >= 0:
            tags.append(self._log_tag(self.compacted_dir()))
        for tag in tags:
            hit = [e for e in state.get(tag, []) if token in e["path"].split(os.sep)]
            if hit:
                targets.append((tag, hit))
        if not targets:
            return {"files": 0, "rows": 0, "bytes": 0}
        # delta-safety: ANY post-TPS delta (update or delete) inside
        # the dropped rid ranges refuses — see docstring
        _, tail, _ = self._read_state(state, self._watermarks())
        tomb = tail.select(RID).distinct()
        ranges = [
            (i, int(st[0]), int(st[1]))
            for i, e in enumerate(e for _, es in targets for e in es)
            if (st := e.get("stats", {}).get(RID)) is not None
        ]
        n_unknown = sum(
            1
            for _, es in targets
            for e in es
            if e.get("stats", {}).get(RID) is None and e.get("rows", 1) != 0
        )
        danger = n_unknown > 0
        if not danger and ranges:
            rdf = self.spark.createDataFrame(ranges, "i long, rlo long, rhi long")
            danger = (
                F.broadcast(rdf)
                .join(
                    tomb,
                    (F.col(RID) >= F.col("rlo")) & (F.col(RID) <= F.col("rhi")),
                )
                .limit(1)
                .count()
                > 0
            )
        if danger:
            raise ValueError(
                f"partition {token} has un-folded tail deltas — "
                "tombstones or updates (or files without rid stats) — "
                "in its rid ranges; compact() first, then drop_partition"
            )
        drop_id = uuid.uuid4().hex[:8]
        dest_root_rel = os.path.join("_dropped", drop_id)
        actions = []
        moves = []  # (src rel to table, dst rel to table)
        n_files = n_rows = n_bytes = 0
        for tag, es in targets:
            actions.append(
                {"op": "remove", "dir": tag, "paths": [e["path"] for e in es]}
            )
            for e in es:
                moves.append(
                    (
                        os.path.join(tag, e["path"]),
                        os.path.join(dest_root_rel, tag, e["path"]),
                    )
                )
                n_files += 1
                n_rows += e.get("rows", 0)
                n_bytes += e.get("bytes", 0)
        marker = os.path.join(self.path, f"_drop_commit_{drop_id}.json")
        _atomic_write_json(marker, {"actions": actions, "moves": moves})
        self.filelog.append(actions)  # <- the commit point
        for src_rel, dst_rel in moves:
            src = os.path.join(self.path, src_rel)
            if os.path.exists(src):
                os.renames(src, os.path.join(self.path, dst_rel))
        os.remove(marker)
        return {"files": n_files, "rows": n_rows, "bytes": n_bytes}

    def vacuum_dropped(self, max_age_s: float = 0.0) -> int:
        """Physically reclaim partitions retired by
        :meth:`drop_partition`: deletes ``_dropped/<id>/`` trees older
        than ``max_age_s``. Returns directories removed. Refs hold
        their own hardlinks, so reclaim never breaks a tag."""
        root = os.path.join(self.path, "_dropped")
        n = 0
        if os.path.isdir(root):
            now = time.time()
            for name in os.listdir(root):
                p = os.path.join(root, name)
                try:
                    if now - os.path.getmtime(p) >= max_age_s:
                        shutil.rmtree(p)
                        n += 1
                except OSError:  # pragma: no cover - raced removal
                    pass
        return n

    def repair_staging(self, max_age_s: float = 3600.0) -> dict:
        """Crash-artifact repair, safe to run any time (and run from
        :meth:`Database.maintain`):

        - ``_opt_commit_*.json`` markers roll FORWARD: the pack
          committed, so any listed original still present unlinks and
          every listed packed file renames into visibility (both
          idempotent from the marker's listing).
        - ``_opt_*`` files with NO marker roll BACK: the pack never
          committed (originals are intact), so the invisible files
          just delete.
        - ``_staging_*`` dirs older than ``max_age_s`` delete — they
          were never published by construction. Age-gated so a live
          writer's in-flight staging survives.

        Returns {'rolled_forward': n, 'discarded': n, 'staging': n}."""
        fwd = disc = stag = 0
        # interrupted multi-table commits roll FORWARD first: the
        # shared marker in the database root is the commit point, so
        # its presence means every listed table must publish (this
        # table's hidden files become visible before the resync runs).
        fwd += recover_txn_markers(os.path.dirname(os.path.abspath(self.path)))
        # interrupted drop_partition rolls FORWARD first (before the
        # listing resync below, which would otherwise resurrect the
        # not-yet-moved files): replaying the remove actions is
        # idempotent, the moves skip already-moved paths.
        for name in sorted(os.listdir(self.path)):
            if not (name.startswith("_drop_commit_") and name.endswith(".json")):
                continue
            marker = os.path.join(self.path, name)
            with open(marker) as fh:
                dm = json.load(fh)
            self.filelog.append(dm["actions"])
            for src_rel, dst_rel in dm["moves"]:
                src = os.path.join(self.path, src_rel)
                if os.path.exists(src):
                    os.renames(src, os.path.join(self.path, dst_rel))
            os.remove(marker)
            fwd += 1
        claimed: set[str] = set()
        for root, _dirs, files in os.walk(self.base_dir):
            for name in files:
                if not name.startswith("_opt_commit_") or not name.endswith(".json"):
                    continue
                marker = os.path.join(root, name)
                with open(marker) as fh:
                    m = json.load(fh)
                for orig in m["originals"]:
                    p = os.path.join(root, orig)
                    if os.path.exists(p):
                        os.remove(p)
                for h in m["packed"]:
                    p = os.path.join(root, h)
                    claimed.add(p)
                    if os.path.exists(p):
                        os.rename(p, _opt_unhide(p))
                os.remove(marker)
                fwd += 1
        for root, _dirs, files in os.walk(self.base_dir):
            for name in files:
                if name.startswith("_opt_") and not name.endswith(".json"):
                    p = os.path.join(root, name)
                    if p not in claimed:
                        os.remove(p)
                        disc += 1
        now = time.time()
        for name in os.listdir(self.path):
            if name.startswith("_staging_"):
                p = os.path.join(self.path, name)
                try:
                    if now - os.path.getmtime(p) > max_age_s:
                        shutil.rmtree(p, ignore_errors=True)
                        stag += 1
                except OSError:  # pragma: no cover - raced removal
                    pass
        # hidden multi-table-commit files with no surviving marker are
        # pre-commit-point orphans (the txn never committed) — discard.
        # Age-gated like _staging_: a live writer between staging and
        # marker publish must keep its in-flight hidden files.
        for d in (self.base_dir, self.tail_dir):
            for root, _dirs, files in os.walk(d):
                for name in files:
                    if not name.startswith("_txn_"):
                        continue
                    p = os.path.join(root, name)
                    try:
                        if now - os.path.getmtime(p) > max_age_s:
                            os.remove(p)
                            disc += 1
                    except OSError:  # pragma: no cover - raced removal
                        pass
        # Repair is the designated log-resync point: a crash
        # between file publish and log append leaves orphans the
        # log never saw (invisible, by the files-then-log commit
        # order), and an interrupted optimize pack may have been
        # rolled forward/back above. One listing per table dir
        # rebuilds ground truth. Re-imported entries CARRY their
        # prior commit stamp (_idx) where the path was already
        # live — a benign repair must not re-home every row's
        # insert provenance onto the repair commit; genuinely new
        # (orphan) paths get an explicit None stamp so _apply's
        # setdefault leaves them unattributed rather than lying.
        actions = []
        dirs = [("base", self.base_dir), ("tail", self.tail_dir)]
        if self.manifest.compact_version >= 0:
            cd = self.compacted_dir()
            dirs.append((self._log_tag(cd), cd))
        for tag, d in dirs:
            prior = {e["path"]: e.get("_idx") for e in self.filelog.live(tag)}
            files = self.filelog.import_dir(tag, d, self._stat_cols)
            for e in files:
                e["_idx"] = prior.get(e["path"])
            actions.append({"op": "reset", "dir": tag, "files": files})
        self.filelog.append(actions)
        return {"rolled_forward": fwd, "discarded": disc, "staging": stag}

    def _compact_incremental(self, out_dir: str, state: dict[str, list[dict]]) -> None:
        """Partition-level compaction: recompute affected partitions
        from (previous snapshot ∪ fresh base) + new tail deltas —
        the same fold the current view performs — and hardlink the
        untouched partitions' immutable files into the new version."""
        pcols = self.partition_by
        files = self._state_files(state, self._watermarks())
        part_base, tail_new, tail_empty = self._state_frames(files)
        fresh, _, _ = self._state_frames(files._replace(snap=[], tail=[]))
        raw_base, _, _ = self._read_state(state, None)
        # partitions touched by deltas (rid -> partition via base) or
        # by fresh inserts; the result is a small driver-side list
        touched = (
            tail_new.select(RID)
            .join(raw_base.select(RID, *pcols), on=RID)
            .select(*pcols)
            .unionByName(fresh.select(*pcols))
            .distinct()
            .collect()
        )
        touched_vals = {tuple(r[c] for c in pcols) for r in touched}

        def _pred(df):
            if not touched_vals:
                return df.where(F.lit(False))
            conds = [
                F.struct(*[F.col(c) for c in pcols]) == F.struct(*[F.lit(v) for v in vals])
                for vals in touched_vals
            ]
            out = conds[0]
            for c in conds[1:]:
                out = out | c
            return df.where(out)

        # recompute ONLY the affected partitions
        if touched_vals:
            folded = self._fold_tail(
                _pred(part_base), tail_new, tail_known_empty=tail_empty
            )
            self._df_to_physical(folded).write.mode("overwrite").partitionBy(
                *pcols
            ).parquet(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        # Determine the touched partitions' DIRECTORY names through
        # Spark's own partition-path encoder (writing a marker dataset
        # with exactly the touched values) — string-formatting the
        # values by hand would have to replicate Hive path escaping
        # for every type.
        touched_rel: set[str] = set()
        if touched_vals:
            marker_dir = os.path.join(self.path, f"_marker_{uuid.uuid4().hex[:8]}")
            marker = self.spark.createDataFrame(
                [tuple(v) for v in touched_vals],
                T.StructType([self.base_schema[c] for c in pcols]),
            ).withColumn("_x", F.lit(1))
            marker.write.mode("overwrite").partitionBy(*pcols).parquet(marker_dir)
            touched_rel = set(self._leaf_partition_dirs(marker_dir))
            shutil.rmtree(marker_dir, ignore_errors=True)
        # hardlink untouched partition dirs from the old snapshot
        # (immutable files, same filesystem — metadata-only copies)
        old_dir = self.compacted_dir()
        for rel in self._leaf_partition_dirs(old_dir):
            if rel in touched_rel:
                continue
            src = os.path.join(old_dir, rel)
            dst = os.path.join(out_dir, rel)
            os.makedirs(dst, exist_ok=True)
            for name in os.listdir(src):
                if name.endswith(".parquet"):
                    os.link(os.path.join(src, name), os.path.join(dst, name))

    @staticmethod
    def _leaf_partition_dirs(root_dir: str) -> list[str]:
        """Relative paths of every leaf partition directory (dirs whose
        entries are data files, shaped ``c1=v1/c2=v2/...``)."""
        out = []
        for root, _dirs, files in os.walk(root_dir):
            rel = os.path.relpath(root, root_dir)
            if rel == ".":
                continue
            if any(f.endswith(".parquet") for f in files) and "=" in os.path.basename(root):
                out.append(rel)
        return out

    def vacuum_tail(self) -> int:
        """Drop tail history already folded into the compacted
        snapshot (deltas with ``_seq <= TPS``) — the storage-reclaim
        half of the compaction contract. Bounded-history trade-off,
        recorded as ``history_floor``: the current view is unaffected
        (it never reads below TPS anyway); version/time travel now
        clamps at the snapshot instead of the original base. Returns
        the number of delta rows removed."""
        if self.manifest.compact_version < 0:
            return 0  # nothing is covered by a snapshot yet
        self.flush()
        tail = self.tail_df(include_pending=False)
        n_before = tail.count()
        # Record the time floor BEFORE deleting: as-of queries below
        # this wall-clock point can no longer be answered (their
        # deltas are gone) and must raise instead of silently folding
        # stale base values — see snapshot_as_of.
        drop_hi = (
            tail.where(F.col(SEQ) <= self.manifest.tps)
            .agg(F.max(TS).alias("m"))
            .collect()[0]["m"]
        )
        if drop_hi is not None:
            prev = self.manifest.extra.get("history_floor_ts")
            new_floor = drop_hi.strftime("%Y-%m-%d %H:%M:%S.%f")
            if prev is None or new_floor > prev:
                self.manifest.extra["history_floor_ts"] = new_floor
        keep = tail.where(F.col(SEQ) > self.manifest.tps)
        new_dir = os.path.join(self.path, f"_tail_vacuum_{uuid.uuid4().hex[:8]}")
        self._df_to_physical(keep).write.mode("overwrite").parquet(new_dir)
        # CAS the floor into the manifest BEFORE the destructive swap:
        # on a concurrent-writer conflict nothing has been deleted yet,
        # and a floor recorded ahead of the swap is read-safe either
        # way (every vacuum-aware read path filters _seq > TPS, so
        # not-yet-removed pre-TPS rows are invisible to it).
        self.manifest.extra["history_floor"] = self.manifest.tps
        self._save_manifest()
        old = self.tail_dir
        swap = f"{old}_old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(old):
            os.rename(old, swap)
        os.rename(new_dir, old)
        shutil.rmtree(swap, ignore_errors=True)
        # whole-directory swap -> reset entry from the new files
        self.filelog.append(
            [
                {
                    "op": "reset",
                    "dir": self._log_tag(old),
                    "files": self.filelog.import_dir(
                        self._log_tag(old), old, self._stat_cols
                    ),
                }
            ]
        )
        return n_before - self.tail_df(include_pending=False).count()

    def point_lookup(self, col: str, value, max_stale_commits: int = 64) -> DataFrame:
        """Point predicate ``col == value`` through the cheapest
        available plan — key-range file skipping for the primary key,
        a fresh-enough secondary index for non-key columns, else the
        plain pushdown filter. See :func:`indexing.point_lookup`."""
        from .indexing import point_lookup as _pl

        return _pl(self, col, value, max_stale_commits=max_stale_commits)

    def tail_row_count(self) -> int:
        return self.tail_df().count()

    def maybe_compact(self) -> bool:
        if self.tail_row_count() > self.AUTO_COMPACT_TAIL_ROWS:
            self.compact()
            return True
        return False

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        name: str,
        schema: T.StructType,
        key: str,
        partition_by: list[str] | None = None,
    ) -> "LineageTable":
        os.makedirs(path, exist_ok=True)
        manifest = Manifest(name=name, schema_json=_schema_to_json(schema), key=key)
        manifest.extra["tail_keyed"] = True  # see LineageTable.tail_keyed
        if partition_by:
            names = [f.name for f in schema.fields]
            bad = [c for c in partition_by if c not in names]
            if bad:
                raise ValueError(f"partition columns not in schema: {bad}")
            if key in partition_by:
                raise ValueError("primary key cannot be a partition column")
            manifest.extra["partition_by"] = list(partition_by)
        table = cls(spark, path, manifest)
        table._save_manifest()
        table.filelog.init()  # file-log-planned scans from birth
        return table

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LineageTable":
        with open(os.path.join(path, "_manifest.json")) as f:
            manifest = Manifest.from_dict(json.load(f))
        table = cls(spark, path, manifest)
        if not table.filelog.exists():
            # one-time migration of a pre-filelog table: a single
            # listing + footer sweep seeds the log; every subsequent
            # scan plans from it
            actions = [
                {
                    "op": "reset",
                    "dir": tag,
                    "files": table.filelog.import_dir(tag, d, table._stat_cols),
                }
                for tag, d in (("base", table.base_dir), ("tail", table.tail_dir))
            ]
            if manifest.compact_version >= 0:
                cd = table.compacted_dir()
                actions.append(
                    {
                        "op": "reset",
                        "dir": table._log_tag(cd),
                        "files": table.filelog.import_dir(
                            table._log_tag(cd), cd, table._stat_cols
                        ),
                    }
                )
            table.filelog.init()
            table.filelog.append(actions)
        return table

    def close(self) -> None:
        self.flush()


class _MutationBatchCM:
    """See :meth:`LineageTable.mutation_batch`."""

    def __init__(self, table: "LineageTable"):
        self._table = table
        self._rounds: list[tuple[str, Any]] = []

    def update(self, changes) -> "_MutationBatchCM":
        """Queue an update round: a changes DataFrame (key + new
        values) or a callable(pending_view) -> changes DataFrame."""
        self._rounds.append(("U", changes))
        return self

    def delete(self, keys) -> "_MutationBatchCM":
        """Queue a delete round: a keys DataFrame or a
        callable(pending_view) -> keys DataFrame."""
        self._rounds.append(("D", keys))
        return self

    def __enter__(self) -> "_MutationBatchCM":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self._table._commit_mutation_batch(self._rounds)
        return False


def _now():
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


# ---------------------------------------------------------------------------
# multi-table atomic commit (extension beyond the reference's per-table
# transactions, transaction.py:35-42; the protocol is the drop/optimize
# marker shape generalized across tables)
# ---------------------------------------------------------------------------
def commit_tables_atomically(tables: list["LineageTable"]) -> int:
    """Publish every listed table's pending buffered rows with
    all-or-nothing VISIBILITY across tables: each table stages its
    rows as hidden files (invisible to scans and to the repair
    resync), then ONE shared commit marker in the common database
    root becomes the commit point, then each table's renames + log
    append publish, then the marker deletes. A crash before the
    marker leaves only hidden orphans (repair discards them); a crash
    after it rolls FORWARD from the marker (:func:`
    roll_forward_txn_marker` — both halves idempotent), so either
    every table's rows become visible or none do. Tables must share a
    parent directory (one Database) so recovery has a single scan
    root. Returns the number of tables that had pending rows."""
    pending = [t for t in tables if t._pending_base or t._pending_tail]
    if not pending:
        return 0
    parents = {os.path.dirname(os.path.abspath(t.path)) for t in pending}
    if len(parents) > 1:
        raise ValueError(
            "multi-table atomic commit requires tables in one database "
            f"directory; got {sorted(parents)}"
        )
    txn_id = uuid.uuid4().hex[:8]
    intents = [i for t in pending if (i := t.stage_pending(txn_id))]
    if not intents:
        return 0
    marker = os.path.join(parents.pop(), f"_txn_commit_{txn_id}.json")
    _atomic_write_json(marker, {"tables": intents})  # <- the commit point
    roll_forward_txn_marker(marker)
    return len(intents)


class _TxnRecoveryLock(_ManifestLock):
    """Serializes multi-table marker roll-forward per database root.
    The marker exists for the whole publish window, so Database.open's
    recovery can race the committing process (or another opener):
    without serialization both pass the already-published check and
    double-apply the log append — the CDC completeness ledger counts
    the rows twice (the action JSON carries no _idx, so the re-append
    stamps a fresh one) and later retention audits raise spurious
    surviving<ledger errors — and the loser of the final marker unlink
    crashes Database.open. Multi-table commit already requires every
    table under ONE local database root, so the manifest lock's
    O_CREAT|O_EXCL mechanics apply directly."""

    def __init__(self, db_root: str):
        self.path = os.path.join(db_root, "_txn_recovery.lock")


def roll_forward_txn_marker(marker_path: str) -> bool:
    """Complete a multi-table commit from its marker. Idempotent AND
    concurrency-safe: executions serialize on the database-root
    recovery lock, and a marker that vanished before the lock was
    held means another process already rolled it forward (returns
    False — never an error). Under the lock: renames skip
    already-visible files; a table whose log already contains any of
    the intent's paths skips the append (one log commit per table is
    atomic, so presence of one path implies all). The marker deletes
    only after every table published."""
    from .filelog import FileLog

    with _TxnRecoveryLock(os.path.dirname(os.path.abspath(marker_path))):
        try:
            with open(marker_path) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            return False  # already recovered by a concurrent process
        for t in m["tables"]:
            tpath = t["path"]
            for hid_rel, vis_rel in t["renames"]:
                hid = os.path.join(tpath, hid_rel)
                vis = os.path.join(tpath, vis_rel)
                if os.path.exists(hid) and not os.path.exists(vis):
                    try:
                        os.replace(hid, vis)
                    except FileNotFoundError:
                        # defense-in-depth for a >stale-timeout lock
                        # break: the other executor published this one
                        if not os.path.exists(vis):
                            raise
            log = FileLog(tpath)
            if not log.exists() or not t["actions"]:
                continue
            already = False
            for a in t["actions"]:
                live = {e["path"] for e in (log.live(a["dir"]) or [])}
                if any(e["path"] in live for e in a["files"]):
                    already = True
                    break
            if not already:
                log.append(t["actions"])
        try:
            os.remove(marker_path)
        except FileNotFoundError:
            pass
        return True


def recover_txn_markers(db_root: str) -> int:
    """Scan a database root for interrupted multi-table commit
    markers and roll each forward. Called from Database.open/maintain
    and from repair_staging (which checks its table's parent)."""
    n = 0
    try:
        names = sorted(os.listdir(db_root))
    except FileNotFoundError:
        return 0
    for name in names:
        if name.startswith("_txn_commit_") and name.endswith(".json"):
            if roll_forward_txn_marker(os.path.join(db_root, name)):
                n += 1
    return n
