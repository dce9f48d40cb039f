"""Query facade: the reference's 14-operator user surface (SURVEY §2.1)
over a lineage table.

Reference: /root/reference/lstore/query.py (class Query). Return
conventions preserved from its module docstring (query.py:10-15):
operations that fail return ``False``; successful reads return
``list[Record]``; successful writes return ``True`` (the reference's
``update`` returns None on success — a defect, SURVEY Appendix A.5 —
we return True as intended).

Architecture split (SURVEY §1.5, §7.4):

- **Point operations** (insert / select / select_version / update /
  delete / increment / select_distinct) are served from a driver-side
  **record directory** — the exact design of the reference's
  ``page_directory`` (table.py:37) + per-column ``Index``
  (index.py:11): dict lookups, O(1). Every mutation *writes through*
  to the lineage table's append-only base/tail log, so Parquet remains
  the single durable source of truth and the directory is a
  rebuildable cache (``_ensure_directory`` reconstructs it from the
  Spark views after ``Database.get_table``). This is the honest answer
  to "Spark is batch-oriented, the reference's dict lookups are O(1)"
  — sub-ms point OLTP comes from the directory, while correctness is
  anchored in Spark (tests assert directory ≡ current_view after
  arbitrary operation interleavings).
- **Analytical operations** (sum / sum_version / avg / min / max /
  count / order_by and every bulk variant) run as Spark DataFrame
  queries over the lineage views — NOT the reference's driver-side
  key-at-a-time loops (query.py:200-204), which are O(range) RPCs and
  the single biggest scale defect in the reference. A range aggregate
  here is one scan with the predicate pushed to Parquet.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import OP_DELETE, OP_UPDATE, RID, LineageTable


class Record:
    """Reference table.py:9-24."""

    __slots__ = ("rid", "key", "columns", "is_valid")

    def __init__(self, rid: int, key: Any, columns: list):
        self.rid = rid
        self.key = key
        self.columns = list(columns)
        self.is_valid = True

    def invalidate(self) -> None:
        self.is_valid = False

    def __repr__(self) -> str:  # pragma: no cover
        return f"Record(rid={self.rid}, key={self.key}, columns={self.columns})"

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Record)
            and self.rid == other.rid
            and self.key == other.key
            and self.columns == other.columns
        )


def _frozen(value: Any) -> Any:
    """``value`` as a dict key: map, array and binary values (``dict``,
    ``list`` and ``bytearray``, and structs holding them) freeze into
    hashable forms that compare equal exactly when the values do."""
    if isinstance(value, dict):
        return frozenset((k, _frozen(v)) for k, v in value.items())
    if isinstance(value, (list, tuple)):
        return tuple(_frozen(v) for v in value)
    if isinstance(value, bytearray):
        return bytes(value)
    return value


class Index:
    """Per-column value -> [rid] hash index (reference index.py:11,
    maintained on every column). Driver-side acceleration for the
    point-op path; at scale the same role is played by Parquet
    min/max + dictionary pushdown on the Spark path (SURVEY §2.2).
    Values are keyed by :func:`_frozen`, so map and array columns
    index too."""

    def __init__(self, num_columns: int):
        self.indices: list[dict[Any, list[int]]] = [dict() for _ in range(num_columns)]

    # I1 (index.py:17-18)
    def locate(self, column: int, value: Any) -> list[int]:
        return list(self.indices[column].get(_frozen(value), []))

    # I4 (index.py:42-53) — reference iterates the dense int domain; we
    # iterate the index's actual keys so any ordered type works.
    def locate_range(self, begin: Any, end: Any, column: int) -> list[int]:
        out: list[int] = []
        for value, rids in self.indices[column].items():
            if value is not None and begin <= value <= end:
                out.extend(rids)
        return out

    # I2 (index.py:24-29)
    def add_to_index(self, column: int, value: Any, rid: int) -> None:
        self.indices[column].setdefault(_frozen(value), []).append(rid)

    # I3 (index.py:35-36)
    def remove_from_index(self, column: int, value: Any, rid: int) -> None:
        value = _frozen(value)
        lst = self.indices[column].get(value)
        if lst and rid in lst:
            lst.remove(rid)
            if not lst:
                del self.indices[column][value]

    # I5/I6 (index.py:59-67)
    def create_index(self, column: int) -> None:
        self.indices[column] = {}

    def drop_index(self, column: int) -> None:
        self.indices[column] = {}


# Directory rebuild guards: the point-op facade collects the full
# current view to the driver, so the honest cap is BYTES, not rows —
# a 5M-row table of 3 longs is ~0.5 GB collected, a 5M-row wide-string
# table is many GB. The estimate is rows x schema width: fixed sizes
# for atomic types, ANALYZE's measured avg_len for strings when stats
# exist (any staleness — widths drift slowly), a conservative default
# otherwise, plus per-Row driver overhead. The row cap stays as a
# secondary guard for narrow-but-huge tables.
MAX_DIRECTORY_ROWS = 5_000_000
MAX_DIRECTORY_BYTES = 2_000_000_000
_ROW_OVERHEAD = 64  # driver-side Row object overhead per record
_DEFAULT_STR_WIDTH = 32
_FIXED_WIDTHS = {
    "long": 8, "integer": 4, "short": 2, "byte": 1, "double": 8,
    "float": 4, "boolean": 1, "date": 4, "timestamp": 8,
    "timestamp_ntz": 8,
}


def _estimated_row_width(table: LineageTable) -> int:
    stats_cols = ((table.table_stats() or {}).get("columns")) or {}
    width = _ROW_OVERHEAD
    for f in table.schema.fields:
        name = f.dataType.typeName()
        if name in _FIXED_WIDTHS:
            width += _FIXED_WIDTHS[name]
        elif name == "string":
            avg = (stats_cols.get(f.name) or {}).get("avg_len")
            width += int(avg) + 8 if avg is not None else _DEFAULT_STR_WIDTH
        elif name == "decimal":
            width += 16
        else:  # array/map/struct/binary — point-op tables rarely carry these
            width += 256
    return width


class Query:
    def __init__(self, table: LineageTable):
        self.table = table
        self.cols = table.user_cols
        self.ncols = len(self.cols)
        self.key_idx = self.cols.index(table.key)
        self.directory: dict[int, Record] = {}
        self.history: dict[int, list[list]] = {}  # rid -> version column-lists, oldest first
        self.index = Index(self.ncols)
        self._directory_loaded = False
        self._dir_dirty_since_ingest = False
        self._seen_drops = table.dropped_groups
        # no-wait record locks (reference table.py:41,57-70)
        self.locks: dict[Any, int] = {}
        self._txn: "object | None" = None  # set by Transaction.run

    # ------------------------------------------------------------------
    # directory cache maintenance
    # ------------------------------------------------------------------
    def _ensure_directory(self) -> None:
        """Rebuild the driver-side directory from the lineage views
        (used after Database.get_table on a persisted or bulk-ingested
        table). ONE Spark job collecting the current view — version
        chains are NOT materialized here; ``_history_for`` rebuilds
        them lazily per rid on first ``select_version`` touch, so
        directory load is O(live rows), not O(all versions of all
        rows). A flush that dropped a violating group since the load
        (the table's ``dropped_groups`` moved) forces a reload: the
        directory may hold the dropped values."""
        drops = self.table.dropped_groups
        if self._directory_loaded and drops == self._seen_drops:
            return
        n = self.table.current_view().count()
        if n > MAX_DIRECTORY_ROWS:
            raise RuntimeError(
                f"table has {n} rows; point-op directory capped at "
                f"{MAX_DIRECTORY_ROWS} — use the DataFrame API (current_view/bulk_*)"
            )
        est = n * _estimated_row_width(self.table)
        if est > MAX_DIRECTORY_BYTES:
            raise RuntimeError(
                f"table would collect an estimated {est / 1e9:.1f} GB "
                f"({n} rows x ~{_estimated_row_width(self.table)} B/row) to the "
                f"driver; point-op directory capped at "
                f"{MAX_DIRECTORY_BYTES / 1e9:.1f} GB — use the DataFrame API "
                "(current_view/bulk_*)"
            )
        cur = self.table.current_view(include_meta=True).collect()
        self.directory.clear()
        self.history.clear()
        self.index = Index(self.ncols)
        for row in cur:
            cols = [row[c] for c in self.cols]
            rec = Record(row[RID], cols[self.key_idx], cols)
            self._register(rec)
        self._directory_loaded = True
        self._seen_drops = drops

    def _history_for(self, rid: int, rec: Record) -> list[list]:
        """Version chain (oldest first) for ONE rid, rebuilt on demand
        from rid-filtered base/tail scans — both prune on ``_rid`` at
        the Parquet level — and cached. Chains touched by facade
        mutations while cached are maintained incrementally; absent
        entries are simply rebuilt here, which also re-reads any tail
        deltas those mutations appended."""
        if rid not in self.history:
            base_rows = self.table.base_df().where(F.col(RID) == rid).limit(1).collect()
            if not base_rows:
                return [rec.columns]
            versions = [[base_rows[0][c] for c in self.cols]]
            tails = (
                self.table.tail_df()
                .where((F.col(RID) == rid) & (F.col("_op") == OP_UPDATE))
                .orderBy("_seq")
                .collect()
            )
            for t in tails:
                prev = versions[-1]
                versions.append(
                    [t[c] if t[c] is not None else prev[i] for i, c in enumerate(self.cols)]
                )
            self.history[rid] = versions
        return self.history[rid]

    def _register(self, rec: Record) -> None:
        self.directory[rec.rid] = rec
        for i, v in enumerate(rec.columns):
            self.index.add_to_index(i, v, rec.rid)

    def _unregister(self, rec: Record) -> None:
        self.directory.pop(rec.rid, None)
        for i, v in enumerate(rec.columns):
            self.index.remove_from_index(i, v, rec.rid)

    def _locked_by_other(self, key: Any) -> bool:
        owner = self.locks.get(key)
        mine = id(self._txn) if self._txn is not None else None
        return owner is not None and owner != mine

    def _project(self, rec_cols: list, mask: list[int]) -> list:
        return [rec_cols[i] if mask[i] else None for i in range(self.ncols)]

    def _tombstone_vals(self, rec: Record) -> tuple:
        """Delete-delta values: NULL everywhere except the immutable
        key/partition columns, which ride along so tail scans prune."""
        immutable = {self.table.key, *self.table.partition_by}
        return tuple(
            rec.columns[i] if self.cols[i] in immutable else None
            for i in range(self.ncols)
        )

    # ------------------------------------------------------------------
    # Q1 insert (reference query.py:57-75)
    # ------------------------------------------------------------------
    def insert(self, *columns) -> bool:
        try:
            if len(columns) != self.ncols:
                return False
            self._ensure_directory()
            rid = self.table.insert_rows([tuple(columns)])[0]
            rec = Record(rid, columns[self.key_idx], list(columns))
            self._register(rec)
            self.history[rid] = [list(columns)]
            if self._txn is not None:
                self._txn._log_insert(self, rid)
            return True
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q2 select (reference query.py:86-113) — lookup on ANY column
    # ------------------------------------------------------------------
    def select(self, search_key, search_key_index, projected_columns_index):
        try:
            self._ensure_directory()
            rids = self.index.locate(search_key_index, search_key)
            out = []
            for rid in rids:
                rec = self.directory.get(rid)
                if rec is None or not rec.is_valid:
                    continue
                out.append(Record(rid, rec.key, self._project(rec.columns, projected_columns_index)))
            return out
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q3 select_version (contract query.py:115-124; stub in reference)
    # ------------------------------------------------------------------
    def select_version(self, search_key, search_key_index, projected_columns_index, relative_version):
        try:
            self._ensure_directory()
            k = abs(int(relative_version))
            rids = self.index.locate(search_key_index, search_key)
            out = []
            for rid in rids:
                rec = self.directory.get(rid)
                if rec is None or not rec.is_valid:
                    continue
                versions = self._history_for(rid, rec)
                cols = versions[max(0, len(versions) - 1 - k)]  # clamp to base
                out.append(Record(rid, rec.key, self._project(cols, projected_columns_index)))
            return out
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q4 update (reference query.py:133-185) — append tail delta
    # ------------------------------------------------------------------
    def update(self, primary_key, *columns) -> bool:
        try:
            if len(columns) != self.ncols:
                return False
            self._ensure_directory()
            if self._locked_by_other(primary_key):
                return False
            rids = self.index.locate(self.key_idx, primary_key)
            if not rids:
                return False
            rid = rids[0]  # reference assumes unique pk on update (query.py:144)
            rec = self.directory[rid]
            if self._txn is not None:
                self._txn._log_mutation(self, rid)
            new_cols = [
                columns[i] if columns[i] is not None else rec.columns[i]
                for i in range(self.ncols)
            ]
            immutable_idx = {self.key_idx} | {
                i
                for i, c in enumerate(self.table.user_cols)
                if c in self.table.partition_by
            }
            if any(new_cols[i] != rec.columns[i] for i in immutable_idx):
                # Key- or partition-changing update: the lineage
                # encoding keeps the primary key and partition columns
                # immutable per rid (that is what lets key predicates
                # and partition pruning push through the view join to
                # the Parquet scan — lineage.py _fold_tail), so this
                # executes as tombstone + reinsert under a fresh rid.
                # The reference instead swapped index entries in place
                # (query.py:157-163); observable results are the same.
                self._unregister(rec)
                rec.invalidate()
                self.history.pop(rid, None)
                self.table.append_tail_rows(
                    [(rid, OP_DELETE, self._tombstone_vals(rec))]
                )
                new_rid = self.table.insert_rows([tuple(new_cols)])[0]
                new_rec = Record(new_rid, new_cols[self.key_idx], new_cols)
                self._register(new_rec)
                self.history[new_rid] = [list(new_cols)]
                if self._txn is not None:
                    self._txn._log_insert(self, new_rid)
                return True
            # index swap per changed column (reference query.py:157-163)
            for i in range(self.ncols):
                if columns[i] is not None and new_cols[i] != rec.columns[i]:
                    self.index.remove_from_index(i, rec.columns[i], rid)
                    self.index.add_to_index(i, new_cols[i], rid)
            rec.columns = new_cols
            rec.key = new_cols[self.key_idx]
            if rid in self.history:
                # keep a loaded chain current; unloaded chains stay
                # absent and _history_for rebuilds them (including this
                # delta) from the tail on first version read
                self.history[rid].append(list(new_cols))
            tail_vals = list(columns)
            # immutable columns ride in every tail delta AS-IS (their
            # base values) so tail scans prune on key/partition
            for i in immutable_idx:
                tail_vals[i] = rec.columns[i]
            self.table.append_tail_rows([(rid, OP_UPDATE, tuple(tail_vals))])
            return True
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q5 delete (reference query.py:27-49) — tombstone
    # ------------------------------------------------------------------
    def delete(self, primary_key) -> bool:
        try:
            self._ensure_directory()
            if self._locked_by_other(primary_key):
                return False
            rids = self.index.locate(self.key_idx, primary_key)
            if not rids:
                return False
            for rid in list(rids):
                rec = self.directory.get(rid)
                if rec is None:
                    continue
                if self._txn is not None:
                    self._txn._log_mutation(self, rid)
                rec.invalidate()
                self._unregister(rec)
                self.history.pop(rid, None)
                self.table.append_tail_rows(
                    [(rid, OP_DELETE, self._tombstone_vals(rec))]
                )
            return True
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q8 increment (reference query.py:243-250; intent per Appendix A.6)
    # ------------------------------------------------------------------
    def increment(self, key, column) -> bool:
        try:
            self._ensure_directory()
            rids = self.index.locate(self.key_idx, key)
            if not rids:
                return False
            rec = self.directory[rids[0]]
            updated = [None] * self.ncols
            updated[column] = rec.columns[column] + 1
            return self.update(key, *updated)
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q9 select_distinct (reference query.py:253-277) — dedupe by pk
    # ------------------------------------------------------------------
    def select_distinct(self, search_key, search_key_index, projected_columns_index):
        try:
            recs = self.select(search_key, search_key_index, projected_columns_index)
            if recs is False:
                return False
            seen, out = set(), []
            for r in recs:
                if r.key not in seen:
                    seen.add(r.key)
                    out.append(r)
            return out
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q6/Q7/Q10-Q13 range aggregates — ONE Spark scan each, predicate
    # pushed down (vs the reference's key-at-a-time loop, query.py:200)
    # ------------------------------------------------------------------
    def _range_agg(self, start, end, agg_col_idx: int, fn, relative_version: int = 0):
        # key_range both file-skips (manifest-log per-file key min/max,
        # lineage.py current_view) and applies the row filter — the
        # range scan opens only files that can contain [start, end]
        view = (
            self.table.current_view(key_range=(start, end))
            if relative_version == 0
            else self.table.version_view(relative_version, key_range=(start, end))
        )
        col = self.cols[agg_col_idx]
        row = (
            view.where(F.col(self.table.key).between(start, end))
            .agg(fn(F.col(col)).alias("v"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        if row["n"] == 0:
            return False  # contract: False when no record in range (query.py:195)
        return row["v"]

    def sum(self, start_range, end_range, aggregate_column_index):
        try:
            return self._range_agg(start_range, end_range, aggregate_column_index, F.sum)
        except Exception:
            return False

    def sum_version(self, start_range, end_range, aggregate_column_index, relative_version):
        try:
            return self._range_agg(
                start_range, end_range, aggregate_column_index, F.sum, relative_version
            )
        except Exception:
            return False

    def avg(self, start_range, end_range, aggregate_column_index):
        try:
            return self._range_agg(start_range, end_range, aggregate_column_index, F.avg)
        except Exception:
            return False

    def min(self, start_range, end_range, aggregate_column_index):
        try:
            return self._range_agg(start_range, end_range, aggregate_column_index, F.min)
        except Exception:
            return False

    def max(self, start_range, end_range, aggregate_column_index):
        try:
            return self._range_agg(start_range, end_range, aggregate_column_index, F.max)
        except Exception:
            return False

    def percentile(self, start_range, end_range, aggregate_column_index, q):
        """Beyond-reference: exact interpolated percentile (ANSI
        percentile_cont) over a key range of the current view — the
        quantile member the reference's sum/avg/min/max/count family
        lacks. Same contract: False when no record is in range. For
        approximate quantiles over sealed history at scale, see
        operators/quantile.py (mergeable log-histogram sketches)."""
        try:
            return self._range_agg(
                start_range,
                end_range,
                aggregate_column_index,
                lambda c: F.percentile(c, F.lit(float(q))),
            )
        except Exception:
            return False

    def count(self, start_range, end_range, aggregate_column_index):
        # reference counts records; the column arg is unused (query.py:332-343)
        try:
            view = self.table.current_view(key_range=(start_range, end_range))
            n = view.where(F.col(self.table.key).between(start_range, end_range)).count()
            return False if n == 0 else n
        except Exception:
            return False

    # ------------------------------------------------------------------
    # Q14 order_by (reference query.py:344-355) — Spark sort-exchange
    # ------------------------------------------------------------------
    def order_by(self, column_index, ascending: bool = True):
        try:
            col = F.col(self.cols[column_index])
            df = self.table.current_view(include_meta=True).orderBy(
                col.asc() if ascending else col.desc()
            )
            rows = df.collect()
            return [
                Record(r[RID], r[self.cols[self.key_idx]], [r[c] for c in self.cols])
                for r in rows
            ]
        except Exception:
            return None  # reference contract returns None on failure (query.py:349)

    def order_by_df(self, column_index, ascending: bool = True) -> DataFrame:
        """Scale path: the sorted view as a DataFrame (no collect)."""
        col = F.col(self.cols[column_index])
        return self.table.current_view().orderBy(col.asc() if ascending else col.desc())
