"""Database catalog: create/drop/get tables, open/close lifecycle.

Reference surface: /root/reference/lstore/db.py — ``Database.open``
(db.py:34-36), ``close`` (db.py:38-56), ``create_table``
(db.py:149-171, default path './ECS165' + table_info.txt),
``drop_table`` (db.py:176-180, which raises unconditionally — we
implement the intent, SURVEY Appendix A.7), ``get_table``
(db.py:186-220). The reference's struct/pickle per-column persistence
(db.py:58-313) is replaced wholesale by Parquet + a JSON manifest;
its bufferpool (db.py:315-352) by the Spark block manager
(``DataFrame.persist``), so no pin/unpin/evict code exists here.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .lineage import LineageTable, _atomic_write_json


def int_schema(num_columns: int) -> T.StructType:
    """The reference's fixed all-integer schema (table.py:30,
    db.py:146): columns named col0..col{n-1}, 64-bit."""
    return T.StructType(
        [T.StructField(f"col{i}", T.LongType(), True) for i in range(num_columns)]
    )


class Database:
    """A named collection of lineage tables rooted at one path."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark
        self.path: str | None = None
        self.tables: dict[str, LineageTable] = {}

    # -- lifecycle (D1) -------------------------------------------------
    def open(self, path: str, spark: SparkSession | None = None) -> "Database":
        if spark is not None:
            self.spark = spark
        if self.spark is None:
            from .session import get_spark

            self.spark = get_spark()
        self.path = path
        os.makedirs(path, exist_ok=True)
        # roll forward any multi-table commit interrupted by a crash —
        # the shared marker means every listed table must publish
        from .lineage import recover_txn_markers

        recover_txn_markers(path)
        return self

    def close(self) -> None:
        """Flush every table's pending buffers and persist the catalog
        listing. All data is already durable Parquet + manifests, so
        close is cheap (the reference reserializes everything,
        db.py:38-56)."""
        for t in self.tables.values():
            t.close()
        if self.path:
            _atomic_write_json(
                os.path.join(self.path, "_catalog.json"),
                {"tables": sorted(self._on_disk_tables() | set(self.tables))},
            )

    def _on_disk_tables(self) -> set[str]:
        if not self.path or not os.path.isdir(self.path):
            return set()
        out = set()
        for name in os.listdir(self.path):
            if os.path.isfile(os.path.join(self.path, name, "_manifest.json")):
                out.add(name)
        return out

    def list_tables(self) -> list[str]:
        return sorted(self._on_disk_tables() | set(self.tables))

    # -- create/drop/get (D2-D4) ---------------------------------------
    def create_table(self, name: str, num_columns: int, key_index: int) -> LineageTable:
        """Reference-parity signature (db.py:149): all-integer columns,
        key by positional index."""
        schema = int_schema(num_columns)
        return self.create_table_typed(name, schema, schema.fields[key_index].name)

    def create_table_typed(
        self,
        name: str,
        schema: T.StructType,
        key: str,
        partition_by: list[str] | None = None,
    ) -> LineageTable:
        """Extension: arbitrary Spark schema (the lineage format's
        NULL=unchanged tail encoding works for any nullable type).
        ``partition_by`` Hive-partitions the base/compacted layout so
        filtered views prune partitions (the 100 TB layout knob)."""
        self._require_open()
        if name in self.tables or name in self._on_disk_tables():
            raise ValueError(f"table {name!r} already exists")
        table = LineageTable.create(
            self.spark, os.path.join(self.path, name), name, schema, key,
            partition_by=partition_by,
        )
        self.tables[name] = table
        return table

    def drop_table(self, name: str) -> bool:
        self._require_open()
        existed = name in self.tables or name in self._on_disk_tables()
        self.tables.pop(name, None)
        tdir = os.path.join(self.path, name)
        if os.path.isdir(tdir):
            shutil.rmtree(tdir)
        return existed

    def get_table(self, name: str) -> LineageTable:
        self._require_open()
        if name in self.tables:
            return self.tables[name]
        tdir = os.path.join(self.path, name)
        if not os.path.isfile(os.path.join(tdir, "_manifest.json")):
            raise KeyError(f"table {name!r} does not exist under {self.path}")
        table = LineageTable.load(self.spark, tdir)
        self.tables[name] = table
        return table

    def clone_table(self, src: str, dst: str) -> LineageTable:
        """ZERO-COPY shallow clone: hardlink every data file and copy
        the manifest under the new name — O(number of files), no data
        bytes moved, regardless of table size. The append-only lineage
        format makes sharing safe: neither side ever mutates a shared
        file in place (appends create new files, compaction writes a
        NEW snapshot directory, vacuum only unlinks its own directory
        entries — the other side's hardlinks keep the inodes alive).
        After the clone, the two tables have fully independent
        histories: writes, compaction, CHECKs, and indexes on one are
        invisible to the other. The lakehouse SHALLOW CLONE, powered
        by the same immutability the reference's base pages promise
        (reference table.py:100-133).

        Single-handle contract: the clone flushes (and snapshots) the
        handle registered in THIS Database. Unflushed point-op buffers
        held by a different live handle of the same table path (e.g. a
        Query facade on another Database instance) are driver-local
        state, invisible to any other process by definition, and are
        NOT part of the on-disk table the clone copies — flush such
        handles first if their buffers must be included. The walk
        itself is crash-safe: files hardlink into a ``_staging_`` dir
        that is renamed into place only after the manifest is written,
        so an interrupted clone leaves only an ignorable (and
        manifest-less) staging directory, never a half-visible table."""
        import uuid

        self._require_open()
        if dst in self.tables or dst in self._on_disk_tables():
            raise ValueError(f"table {dst!r} already exists")
        src_t = self.get_table(src)
        src_t.flush()
        src_dir = os.path.join(self.path, src)
        dst_dir = os.path.join(self.path, dst)
        staging = os.path.join(
            self.path, f"_staging_clone_{dst}_{uuid.uuid4().hex[:8]}"
        )
        skip_names = {"_manifest.json", "_manifest.lock"}
        try:
            for root, dirs, files in os.walk(src_dir):
                rel = os.path.relpath(root, src_dir)
                # staging leftovers and swap temporaries are not table state
                dirs[:] = [
                    d for d in dirs
                    if not d.startswith("_staging_") and not d.endswith(".old")
                ]
                out_root = staging if rel == "." else os.path.join(staging, rel)
                os.makedirs(out_root, exist_ok=True)
                for f in files:
                    if rel == "." and f in skip_names:
                        continue
                    os.link(os.path.join(root, f), os.path.join(out_root, f))
            meta = src_t.manifest.to_dict()
            meta["name"] = dst
            _atomic_write_json(os.path.join(staging, "_manifest.json"), meta)
            os.rename(staging, dst_dir)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        table = LineageTable.load(self.spark, dst_dir)
        self.tables[dst] = table
        return table

    # -- Spark SQL integration (extension layer, SURVEY §7.2 M4) --------
    def register_views(self, versions: bool = False) -> None:
        """Expose every table's current view as a session temp view so
        the full Spark SQL surface (joins, group-by, windows, set ops,
        function library) works over lineage tables."""
        for name in self.list_tables():
            t = self.get_table(name)
            t.current_view().createOrReplaceTempView(name)
            if versions:
                t.base_df().createOrReplaceTempView(f"{name}__base")
                t.tail_df().createOrReplaceTempView(f"{name}__tail")

    def execute_dml(self, stmt: str) -> dict:
        """SQL DML over lineage tables — UPDATE / DELETE / INSERT
        statements parsed at the CLAUSE level only; every expression
        and predicate inside a clause is handed to Spark's own SQL
        parser (``F.expr``), so the full Catalyst function surface
        works in SET and WHERE. The reference has no SQL at all;
        together with ``register_views`` (SELECT) this closes the DML
        half of the SQL surface.

        Supported statements::

            UPDATE <table> SET col = expr [, col = expr ...] WHERE <pred>
            DELETE FROM <table> WHERE <pred>
            INSERT INTO <table> SELECT ...   (SELECT may read any
                                             registered view)
            INSERT INTO <table> VALUES (...), (...)

        UPDATE compiles to one ``bulk_update`` (the filtered current
        view projected to key + new values — work ∝ matched rows);
        DELETE to ``delete_where``; INSERT to ``ingest_dataframe``
        with positional column alignment for VALUES and by-name
        alignment for SELECT. Returns {"op", "table", "rows"}."""
        import re

        s = stmt.strip().rstrip(";")
        m = re.match(r"(?is)^UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+)$", s)
        if m:
            name, set_clause, pred = m.group(1), m.group(2), m.group(3)
            t = self.get_table(name)
            # paren/quote-aware top-level comma split of SET
            parts, depth, buf, q = [], 0, [], None
            for ch in set_clause:
                if q:
                    if ch == q:
                        q = None
                elif ch in "'\"":
                    q = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    parts.append("".join(buf))
                    buf = []
                    continue
                buf.append(ch)
            parts.append("".join(buf))
            assigns = []
            for p in parts:
                col, _, expr = p.partition("=")
                col = col.strip()
                if col not in t.user_cols:
                    raise ValueError(f"unknown column in SET: {col!r}")
                if col == t.key:
                    raise ValueError("UPDATE of the primary key is not supported")
                assigns.append((col, expr.strip()))
            from pyspark.sql import functions as F

            changes = (
                t.current_view()
                .where(F.expr(pred))
                .select(
                    F.col(t.key),
                    *[
                        F.expr(expr).cast(t.schema[col].dataType).alias(col)
                        for col, expr in assigns
                    ],
                )
            )
            # persist so the reported count and the applied batch are
            # the SAME evaluation — a nondeterministic SET/WHERE
            # (rand(), current_timestamp) must not diverge between them.
            # Best-effort, not a guarantee: MEMORY_AND_DISK partitions
            # lost to executor failure are recomputed and re-evaluate
            # the predicate; checkpoint() or a temp-table write is the
            # upgrade when exact count/apply agreement must survive
            # executor loss (r11 ADVICE, accepted for this engine)
            changes = changes.persist()
            try:
                n = changes.count()
                if n:
                    t.bulk_update(changes)
            finally:
                changes.unpersist()
            return {"op": "update", "table": name, "rows": n}
        m = re.match(r"(?is)^DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$", s)
        if m:
            name, pred = m.group(1), m.group(2)
            t = self.get_table(name)
            from pyspark.sql import functions as F

            # evaluate the predicate ONCE: delete exactly the keys that
            # were counted, even when the predicate is nondeterministic
            # (same best-effort caveat as the UPDATE branch above)
            keys = t.current_view().where(F.expr(pred)).select(t.key).persist()
            try:
                n = keys.count()
                if n:
                    t.bulk_delete(keys)
            finally:
                keys.unpersist()
            return {"op": "delete", "table": name, "rows": n}
        m = re.match(r"(?is)^INSERT\s+INTO\s+(\w+)\s+(SELECT\s+.+|VALUES\s+.+)$", s)
        if m:
            name, body = m.group(1), m.group(2)
            t = self.get_table(name)
            if body[:6].upper() == "VALUES":
                df = self.spark.sql(f"SELECT * FROM ({body})")
                if len(df.columns) != len(t.user_cols):
                    raise ValueError(
                        f"VALUES arity {len(df.columns)} != table arity "
                        f"{len(t.user_cols)}"
                    )
                df = df.toDF(*t.user_cols)
            else:
                df = self.spark.sql(body)
            df = df.persist()  # count and ingest see one evaluation
            try:
                n = df.count()
                if n:
                    t.ingest_dataframe(df)
            finally:
                df.unpersist()
            return {"op": "insert", "table": name, "rows": n}
        raise ValueError(
            "unsupported DML (expected UPDATE ... SET ... WHERE, "
            "DELETE FROM ... WHERE, or INSERT INTO ... SELECT/VALUES): "
            f"{stmt[:80]!r}"
        )

    # -- materialized views (extension; lineage watermarks make
    # -- staleness tracking exact) --------------------------------------
    def _mv_dir(self, name: str) -> str:
        d = os.path.join(self.path, "_mv", name)
        # Crash repair for the rebuild swap (rename mv_dir -> .old,
        # rename staging -> mv_dir, rmtree .old). A crash between the
        # two renames leaves only `.old`: roll it back so the MV keeps
        # its pre-rebuild state instead of vanishing. A crash after
        # the second rename leaves both: `.old` is garbage — drop it.
        old = d + ".old"
        if os.path.isdir(old):
            if os.path.isdir(d):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, d)
        return d

    def create_materialized_view(
        self, name: str, sql: str, deps: list[str]
    ) -> None:
        """Materialize ``sql`` (which references the listed dependency
        tables' CURRENT VIEWS by table name) as a Parquet table with
        recorded per-dependency commit watermarks. The lineage format
        makes staleness exact and free to check: a dependency changed
        iff its watermark moved. Refresh is a full recompute
        (atomically swapped in); the CDC feed (``changes_between``)
        is the building block for an incremental maintainer, left to
        the caller. At scale an MV is the pay-once answer to a
        repeated star-join/aggregate — reading it is a plain
        partition-prunable Parquet scan with zero fold cost."""
        self._require_open()
        if os.path.isdir(self._mv_dir(name)):
            raise ValueError(f"materialized view {name!r} already exists")
        for d in deps:
            self.get_table(d)  # raises on unknown dependency
        self._mv_build(name, sql, deps)

    def _mv_build(self, name: str, sql: str, deps: list[str]) -> None:
        # The MV's SQL references dependencies by bare table name, so
        # the build needs session temp views under those names — but
        # the session may already have same-named views (register_views,
        # load_star). Save any pre-existing view's DataFrame, bind ours
        # for the duration of the build, then restore (or drop) in a
        # finally: an MV build must not leak view bindings into the
        # session (ADVICE r4).
        from pyspark.errors import AnalysisException

        saved: dict[str, object] = {}
        for d in deps:
            try:
                if self.spark.catalog.tableExists(d):
                    saved[d] = self.spark.table(d)
            except AnalysisException:
                # invalid identifier for the session catalog (e.g. a
                # name with dots): nothing to save/restore for it
                pass
            self.get_table(d).current_view().createOrReplaceTempView(d)
        try:
            self._mv_write(
                name,
                self.spark.sql(sql),
                {
                    "name": name,
                    "sql": sql,
                    "deps": deps,
                    "dep_watermarks": {d: self.get_table(d).watermark() for d in deps},
                },
            )
        finally:
            for d in deps:
                if d in saved:
                    saved[d].createOrReplaceTempView(d)
                else:
                    self.spark.catalog.dropTempView(d)

    def _mv_meta(self, name: str) -> dict:
        meta_path = os.path.join(self._mv_dir(name), "_mv_meta.json")
        if not os.path.isfile(meta_path):
            raise KeyError(f"materialized view {name!r} does not exist")
        with open(meta_path) as f:
            return json.load(f)

    def materialized_view(self, name: str):
        """The MV's stored answer (possibly stale — see
        :meth:`mv_is_fresh`). Join MVs live in a lineage table (see
        :meth:`_join_mv_write`) — their answer is its current view."""
        meta = self._mv_meta(name)
        if meta.get("kind") == "join":
            return self._join_mv_table(name).current_view().drop("_pair_key")
        return self.spark.read.parquet(os.path.join(self._mv_dir(name), "data"))

    def mv_is_fresh(self, name: str) -> bool:
        """Exact staleness check, no data read: fresh iff every
        dependency's commit watermark equals the recorded one."""
        meta = self._mv_meta(name)
        return all(
            self.get_table(d).watermark() == wm
            for d, wm in meta["dep_watermarks"].items()
        )

    def refresh_materialized_view(self, name: str, force: bool = False) -> bool:
        """Recompute and atomically swap the MV if any dependency
        moved (or ``force``). Aggregate MVs maintain incrementally
        (:meth:`refresh_aggregate_mv`); SQL MVs recompute fully.
        Returns True if anything was rebuilt."""
        meta = self._mv_meta(name)
        if meta.get("kind") == "agg":
            if force:
                self._agg_mv_build(
                    name, meta["table"], meta["group_by"], meta["sums"],
                    meta["count_col"],
                )
                return True
            return self.refresh_aggregate_mv(name) != "fresh"
        if meta.get("kind") == "join":
            if force:
                self._join_mv_write(name, meta)
                return True
            return self.refresh_join_mv(name) != "fresh"
        if not force and self.mv_is_fresh(name):
            return False
        self._mv_build(name, meta["sql"], meta["deps"])
        return True

    # -- incremental aggregate MVs (lineage-native IVM) -----------------
    def create_aggregate_mv(
        self,
        name: str,
        table_name: str,
        group_by: list[str],
        sums: dict[str, str],
        count_col: str = "n",
    ) -> None:
        """Aggregate MV with INCREMENTAL maintenance — the feature the
        lineage format exists for (the L-Store premise: updates are
        first-class deltas, so downstream state can be maintained
        from them instead of recomputed). Stores ``group_by`` keys, a
        live-row count, and ``SUM(COALESCE(col, 0))`` per entry in
        ``sums`` (nulls count as 0 so full and incremental paths agree
        identically).

        :meth:`refresh_aggregate_mv` reads ONLY the deltas since the
        recorded watermark: the touched rid set comes straight from
        the tail (+ fresh base rids), the old and new states of those
        rids fold through rid-pruned scans, and the per-group
        difference merges into the stored (small) aggregate — cost
        proportional to churn, not table size. Handles inserts,
        value updates, GROUP-KEY updates (decrement old group,
        increment new), and tombstones."""
        self._require_open()
        if os.path.isdir(self._mv_dir(name)):
            raise ValueError(f"materialized view {name!r} already exists")
        t = self.get_table(table_name)
        bad = [c for c in list(group_by) + list(sums.values()) if c not in t.user_cols]
        if bad:
            raise ValueError(f"no such columns on {table_name!r}: {bad}")
        self._agg_mv_build(name, table_name, group_by, sums, count_col)

    def _agg_mv_aggs(self, sums: dict[str, str], count_col: str):
        from pyspark.sql import functions as F

        return [F.count(F.lit(1)).alias(count_col)] + [
            F.sum(F.coalesce(F.col(src).cast("double"), F.lit(0.0))).alias(out)
            for out, src in sums.items()
        ]

    def _agg_mv_build(self, name, table_name, group_by, sums, count_col) -> None:
        t = self.get_table(table_name)
        wm = t.watermark()
        out = (
            t.current_view()
            .groupBy(*group_by)
            .agg(*self._agg_mv_aggs(sums, count_col))
        )
        self._mv_write(
            name,
            out,
            {
                "name": name,
                "kind": "agg",
                "table": table_name,
                "group_by": list(group_by),
                "sums": dict(sums),
                "count_col": count_col,
                "dep_watermarks": {table_name: wm},
            },
        )

    def _mv_write(self, name: str, df, meta: dict) -> None:
        import uuid

        mv_dir = self._mv_dir(name)
        staging = os.path.join(
            os.path.dirname(mv_dir), f"_staging_{name}_{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").parquet(os.path.join(staging, "data"))
        _atomic_write_json(os.path.join(staging, "_mv_meta.json"), meta)
        old = mv_dir + ".old"
        if os.path.isdir(mv_dir):
            os.rename(mv_dir, old)
        os.makedirs(os.path.dirname(mv_dir), exist_ok=True)
        os.rename(staging, mv_dir)
        shutil.rmtree(old, ignore_errors=True)

    def refresh_aggregate_mv(self, name: str) -> str:
        """Incrementally maintain an aggregate MV from the lineage
        deltas since its recorded watermark. Returns 'fresh' (no-op),
        'incremental', or 'rebuild' (history needed for the old state
        was vacuumed — falls back to a full recompute)."""
        from pyspark.sql import functions as F

        from .lineage import RID, SEQ

        meta = self._mv_meta(name)
        if meta.get("kind") != "agg":
            raise ValueError(
                f"{name!r} is a SQL materialized view; use "
                "refresh_materialized_view"
            )
        table_name = meta["table"]
        t = self.get_table(table_name)
        old_wm = meta["dep_watermarks"][table_name]
        new_wm = t.watermark()
        if new_wm == old_wm:
            return "fresh"
        group_by = meta["group_by"]
        sums = meta["sums"]
        count_col = meta["count_col"]
        floor = t.manifest.extra.get("history_floor")
        if floor is not None and int(floor) > int(old_wm):
            # deltas in (old_wm, floor] were vacuumed: the TOUCHED SET
            # itself is incomplete — nothing to fold from. Rebuild.
            self._agg_mv_build(name, table_name, group_by, sums, count_col)
            return "rebuild"

        def _pick_snapshot(wm: int):
            """Newest on-disk compacted snapshot usable as the fold
            base for state-at-``wm``: its tps must not exceed ``wm``
            (a newer snapshot has already folded deltas past the
            reconstruction point) and the vacuum floor must not
            exceed its tps (the deltas between them must exist)."""
            info = t.manifest.extra.get("snapshots", {})
            best = None
            for v in t._snapshot_versions():
                d = info.get(str(v))
                if (
                    d
                    and int(d["tps"]) <= int(wm)
                    and (floor is None or int(floor) <= int(d["tps"]))
                    and (best is None or v > best[0])
                ):
                    best = (v, int(d["tps"]), int(d["rid_hi"]))
            return best

        old_pick = new_pick = None
        if floor is not None:
            # History below the floor is gone, so the raw base+tail
            # fold silently yields BASE values for any touched rid
            # whose last pre-watermark delta was vacuumed (the wear
            # bug tools/wear_soak.py caught in round 9: the MV then
            # decrements the wrong group). Reconstruct both states
            # snapshot-forward instead; if no retained snapshot can
            # anchor the old state, fall back to a full rebuild.
            old_pick = _pick_snapshot(old_wm)
            new_pick = _pick_snapshot(new_wm)
            if old_pick is None or new_pick is None:
                self._agg_mv_build(name, table_name, group_by, sums, count_col)
                return "rebuild"
        t.flush()
        live = t.filelog.live_state()
        base, tail, _ = t._read_state(live, None)
        touched = (
            tail.where(F.col(SEQ) > old_wm)
            .select(F.col(RID))
            .unionByName(base.where(F.col(RID) > old_wm).select(F.col(RID)))
            .distinct()
        )
        # churn guard: past ~5M touched rids the broadcast rid set and
        # double fold stop beating a straight recompute
        if touched.limit(5_000_001).count() > 5_000_000:
            self._agg_mv_build(name, table_name, group_by, sums, count_col)
            return "rebuild"
        touched = F.broadcast(touched)

        def state(rid_hi, seq_hi, pick):
            # the fold inputs at the chosen snapshot's watermarks (raw
            # history without one), cut at the refresh watermark. The
            # snapshot may postdate ``rid_hi`` on the INSERT axis
            # (compaction folds base-only commits without advancing
            # tps) — the rid filter keeps the state at the watermark
            # exact either way
            wm = None
            if pick is not None:
                v, tps_v, rid_hi_v = pick
                wm = {"compact_version": v, "compact_rid_hi": rid_hi_v, "tps": tps_v}
            b, d, _ = t._read_state(live, wm)
            b = b.where(F.col(RID) <= rid_hi)
            d = d.where(F.col(SEQ) <= seq_hi)
            b = b.join(touched, on=RID, how="left_semi")
            d = d.join(touched, on=RID, how="left_semi")
            return t._fold_tail(b, d)

        aggs = self._agg_mv_aggs(sums, count_col)
        new_agg = state(new_wm, new_wm, new_pick).groupBy(*group_by).agg(*aggs)
        old_agg = state(old_wm, old_wm, old_pick).groupBy(*group_by).agg(*aggs)
        neg = old_agg.select(
            *group_by,
            (-F.col(count_col)).alias(count_col),
            *[(-F.col(c)).alias(c) for c in sums],
        )
        diff = (
            new_agg.unionByName(neg)
            .groupBy(*group_by)
            .agg(
                F.sum(count_col).alias(count_col),
                *[F.sum(c).alias(c) for c in sums],
            )
        )
        cur = self.materialized_view(name)
        value_cols = [count_col, *sums]
        # null-SAFE key merge: groupBy treats NULL keys as one group,
        # so the merge join must too (plain equality would never match
        # them and a NULL-keyed group would fork on every refresh)
        m = cur.select(*group_by, *[F.col(c).alias(f"__m_{c}") for c in value_cols])
        d = F.broadcast(
            diff.select(
                *[F.col(c).alias(f"__k_{c}") for c in group_by],
                *[F.col(c).alias(f"__d_{c}") for c in value_cols],
            )
        )
        cond = None
        for c in group_by:
            e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
            cond = e if cond is None else cond & e
        merged = (
            m.join(d, cond, "full_outer")
            .select(
                *[F.coalesce(F.col(c), F.col(f"__k_{c}")).alias(c) for c in group_by],
                *[
                    (
                        F.coalesce(F.col(f"__m_{c}"), F.lit(0))
                        + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
                    ).alias(c)
                    for c in value_cols
                ],
            )
            .where(F.col(count_col) > 0)
        )
        meta["dep_watermarks"] = {table_name: new_wm}
        self._mv_write(name, merged, meta)
        return "incremental"

    def create_join_mv(
        self,
        name: str,
        left_table: str,
        right_table: str,
        left_on: str,
        right_on: str,
        left_cols: list[str],
        right_cols: list[str],
    ) -> None:
        """Equi-join MV over two lineage tables with INCREMENTAL
        maintenance — the other classic half of view maintenance next
        to :meth:`create_aggregate_mv`. Stores the joined rows plus
        both source rids (``_l_rid``/``_r_rid``), which is what makes
        delta surgery possible without any old-state reconstruction:

        - REMOVE rows whose left or right rid was touched since the
          recorded watermarks (two broadcast anti-joins on the stored
          rids);
        - RE-ADD (ΔL ⋈ R_now) ∪ ((L_now ∖ ΔL) ⋈ ΔR) from current
          state — the second term's left scan is pruned by the
          touched-right KEY set, so refresh cost tracks churn x join
          fan-out, never table size.

        Unlike the aggregate diff, no historical state is read — a
        vacuumed tail forces a rebuild ONLY when the vacuum consumed
        deltas the MV had not refreshed over yet (history floor above
        the recorded watermark: those touched rids are unrecoverable,
        see refresh_join_mv's floor guard); already-consumed history
        can vacuum freely. Handles inserts, value updates, JOIN-KEY
        updates (old pairing removed by rid, new pairing re-derived),
        and tombstones."""
        self._require_open()
        if os.path.isdir(self._mv_dir(name)):
            raise ValueError(f"materialized view {name!r} already exists")
        lt, rt = self.get_table(left_table), self.get_table(right_table)
        bad = [c for c in [left_on, *left_cols] if c not in lt.user_cols]
        bad += [c for c in [right_on, *right_cols] if c not in rt.user_cols]
        if bad:
            raise ValueError(f"no such columns: {bad}")
        out_cols = [left_on, *left_cols, right_on, *right_cols]
        dup = {c for c in out_cols if out_cols.count(c) > 1}
        if dup:
            raise ValueError(f"output column names collide: {sorted(dup)}")
        self._join_mv_write(
            name,
            {
                "name": name,
                "kind": "join",
                "left_table": left_table,
                "right_table": right_table,
                "left_on": left_on,
                "right_on": right_on,
                "left_cols": list(left_cols),
                "right_cols": list(right_cols),
            },
        )

    def _join_side(self, table_name: str, on: str, cols: list[str], rid_alias: str):
        from pyspark.sql import functions as F

        from .lineage import RID

        t = self.get_table(table_name)
        return t.current_view(include_meta=True).select(
            F.col(RID).alias(rid_alias), on, *cols
        )

    def _join_mv_table(self, name: str):
        from .lineage import LineageTable

        return LineageTable.load(
            self.spark, os.path.join(self._mv_dir(name), "table")
        )

    def _join_mv_write(self, name: str, meta: dict) -> None:
        """Full (re)build: the MV is stored AS A LINEAGE TABLE (the
        engine dogfooding its own format) keyed by the (_l_rid,_r_rid)
        pair, so incremental refreshes publish O(churn) tombstone +
        insert deltas instead of rewriting the MV — the property the
        plain-Parquet swap cannot offer (measured: a full-MV swap made
        "incremental" slower than rebuild, SCALING.md)."""
        import uuid

        from pyspark.sql import functions as F

        from .lineage import LineageTable

        lv = self._join_side(
            meta["left_table"], meta["left_on"], meta["left_cols"], "_l_rid"
        )
        rv = self._join_side(
            meta["right_table"], meta["right_on"], meta["right_cols"], "_r_rid"
        )
        lt = self.get_table(meta["left_table"])
        rt = self.get_table(meta["right_table"])
        meta["dep_watermarks"] = {
            meta["left_table"]: lt.watermark(),
            meta["right_table"]: rt.watermark(),
        }
        out = lv.join(rv, F.col(meta["left_on"]) == F.col(meta["right_on"]))
        out = out.select(
            F.concat_ws(":", F.col("_l_rid"), F.col("_r_rid")).alias("_pair_key"),
            "*",
        )
        mv_dir = self._mv_dir(name)
        staging = os.path.join(
            os.path.dirname(mv_dir), f"_staging_{name}_{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(staging, exist_ok=True)
        mvt = LineageTable.create(
            self.spark,
            os.path.join(staging, "table"),
            f"_mv_{name}",
            out.schema,
            "_pair_key",
        )
        mvt.ingest_dataframe(out)
        _atomic_write_json(os.path.join(staging, "_mv_meta.json"), meta)
        old = mv_dir + ".old"
        if os.path.isdir(mv_dir):
            os.rename(mv_dir, old)
        os.makedirs(os.path.dirname(mv_dir), exist_ok=True)
        os.rename(staging, mv_dir)
        shutil.rmtree(old, ignore_errors=True)

    def refresh_join_mv(self, name: str) -> str:
        """Incrementally maintain a join MV from both sides' lineage
        deltas. Returns 'fresh', 'incremental', or 'rebuild' (churn
        above the broadcast cap on either side)."""
        from pyspark.sql import functions as F

        from .lineage import RID, SEQ

        meta = self._mv_meta(name)
        if meta.get("kind") != "join":
            raise ValueError(f"{name!r} is not a join MV")
        lt = self.get_table(meta["left_table"])
        rt = self.get_table(meta["right_table"])
        # Flush BEFORE reading watermarks: buffered rows would commit
        # under a batch id above the recorded watermark, making the
        # saved dep_watermarks stale the moment they are written (a
        # refresh issued with rows buffered would also report 'fresh'
        # against an MV that lags the soon-to-commit state).
        lt.flush()
        rt.flush()
        old_l = meta["dep_watermarks"][meta["left_table"]]
        old_r = meta["dep_watermarks"][meta["right_table"]]
        new_l, new_r = lt.watermark(), rt.watermark()
        if new_l == old_l and new_r == old_r:
            return "fresh"
        # vacuum_tail guard (same contract as refresh_aggregate_mv):
        # if either side's history floor moved past the MV's recorded
        # watermark, the deltas in (old_wm, floor] are gone — their
        # rids can never enter the touched set, so the incremental
        # path would silently keep deleted/stale joined rows. Rebuild.
        for side_t, side_wm in ((lt, old_l), (rt, old_r)):
            floor = side_t.manifest.extra.get("history_floor")
            if floor is not None and int(floor) > int(side_wm):
                self._join_mv_write(name, meta)
                return "rebuild"

        def touched(t, old_wm):
            return (
                t.tail_df().where(F.col(SEQ) > old_wm).select(F.col(RID))
                .unionByName(
                    t.base_df().where(F.col(RID) > old_wm).select(F.col(RID))
                )
                .distinct()
            )

        tl, tr = touched(lt, old_l), touched(rt, old_r)
        cap = 5_000_000
        if tl.limit(cap + 1).count() > cap or tr.limit(cap + 1).count() > cap:
            self._join_mv_write(name, meta)
            return "rebuild"
        tl = F.broadcast(tl.select(F.col(RID).alias("_l_rid")))
        tr = F.broadcast(tr.select(F.col(RID).alias("_r_rid")))
        mvt = self._join_mv_table(name)
        cur = mvt.current_view()
        # REMOVE: live MV pairs holding a touched rid on either side.
        # Published as TOMBSTONES into the MV's own lineage table —
        # O(removed) delta rows, never an MV rewrite. Re-running a
        # crashed refresh is idempotent: half-added pairs carry the
        # same touched rids, so they fall into this same removal set.
        removals = (
            cur.join(tl, on="_l_rid", how="left_semi")
            .unionByName(cur.join(tr, on="_r_rid", how="left_semi"))
            .select("_pair_key")
            .distinct()
        )
        mvt.bulk_delete(removals)
        lv = self._join_side(
            meta["left_table"], meta["left_on"], meta["left_cols"], "_l_rid"
        )
        rv = self._join_side(
            meta["right_table"], meta["right_on"], meta["right_cols"], "_r_rid"
        )
        cond = F.col(meta["left_on"]) == F.col(meta["right_on"])
        # ΔL ⋈ R_now — the left scan is rid-pruned to the touched set
        add1 = lv.join(tl, on="_l_rid", how="left_semi").join(rv, cond)
        # (L_now ∖ ΔL) ⋈ ΔR — right side is the touched rows only, so
        # the join keys broadcast and prune the left scan at scale
        r_touched = rv.join(tr, on="_r_rid", how="left_semi")
        add2 = lv.join(tl, on="_l_rid", how="left_anti").join(r_touched, cond)
        adds = add1.unionByName(add2)
        adds = adds.select(
            F.concat_ws(":", F.col("_l_rid"), F.col("_r_rid")).alias("_pair_key"),
            "*",
        )
        mvt.ingest_dataframe(adds)
        meta["dep_watermarks"] = {
            meta["left_table"]: new_l,
            meta["right_table"]: new_r,
        }
        _atomic_write_json(
            os.path.join(self._mv_dir(name), "_mv_meta.json"), meta
        )
        return "incremental"

    def compact_join_mv(self, name: str) -> None:
        """Fold the join MV's accumulated tombstone/insert deltas into
        a fresh snapshot (plain LineageTable.compact) — the amortized
        cost of O(churn) refresh publishes."""
        self._join_mv_table(name).compact()

    def drop_materialized_view(self, name: str) -> bool:
        existed = os.path.isdir(self._mv_dir(name))
        shutil.rmtree(self._mv_dir(name), ignore_errors=True)
        return existed

    def list_materialized_views(self) -> list[str]:
        root = os.path.join(self.path, "_mv")
        if not os.path.isdir(root):
            return []
        # a dangling '<name>.old' is a crashed rebuild swap: _mv_dir
        # repairs it (roll back or drop); never list it as an MV
        for n in list(os.listdir(root)):
            if n.endswith(".old"):
                self._mv_dir(n[: -len(".old")])
        return sorted(
            n
            for n in os.listdir(root)
            if not n.endswith(".old")
            and os.path.isfile(os.path.join(root, n, "_mv_meta.json"))
        )

    def maintain(
        self,
        *,
        compact: bool = True,
        refresh_indexes: bool = True,
        max_stale_deltas: int = 10_000,
        refresh_mvs: bool = True,
        snapshot_retain: int = 1,
        optimize_target_bytes: int | None = None,
        vacuum_dropped_age_s: float | None = None,
    ) -> dict:
        """One housekeeping pass over the whole database — the cron
        job a deployment would run between ingest waves. Per table:
        flush buffered point-ops, compact when the tail has outgrown
        its threshold, bin-pack undersized fresh-base files when
        ``optimize_target_bytes`` is set (optimize_files), catch up
        secondary indexes past the staleness policy, reclaim snapshot
        versions beyond the retention window; then refresh every
        stale materialized view (SQL MVs recompute, aggregate and
        join MVs maintain incrementally from the deltas; join MVs'
        backing lineage tables fold their accumulated tombstone/insert
        deltas on the same compaction threshold). Every step is the
        existing bounded-work primitive; this only sequences them.
        Returns a per-table report."""
        self._require_open()
        from . import indexing

        report: dict[str, dict] = {}
        for name in self.list_tables():
            t = self.get_table(name)
            r: dict = {}
            t.flush()
            r["repair"] = t.repair_staging()
            if compact:
                r["compacted"] = t.maybe_compact()
            if optimize_target_bytes:
                r["optimized"] = t.optimize_files(optimize_target_bytes)
            if refresh_indexes:
                idx_root = os.path.join(t.path, "index")
                cols = (
                    [c for c in os.listdir(idx_root) if not c.startswith(("_", "."))]
                    if os.path.isdir(idx_root)
                    else []
                )
                r["indexes"] = {
                    c: indexing.maybe_refresh_secondary_index(
                        t, c, max_stale_deltas=max_stale_deltas
                    )
                    for c in cols
                }
            if snapshot_retain >= 0:
                r["snapshots_reclaimed"] = t.vacuum_snapshots(snapshot_retain)
            if vacuum_dropped_age_s is not None:
                # reclaim partitions retired by drop_partition once
                # past the retention window (refs hold their own
                # hardlinks, so this never breaks a tag)
                r["dropped_reclaimed"] = t.vacuum_dropped(vacuum_dropped_age_s)
            report[name] = r
        if refresh_mvs:
            mv_report = {}
            for mv in self.list_materialized_views():
                mv_report[mv] = (
                    "refreshed" if self.refresh_materialized_view(mv) else "fresh"
                )
                # join MVs accumulate tombstone/insert deltas in their
                # backing lineage table — fold them on the same
                # threshold policy as catalog tables
                if compact and self._mv_meta(mv).get("kind") == "join":
                    self._join_mv_table(mv).maybe_compact()
            report["_materialized_views"] = mv_report
        return report

    def snapshot_all_as_of(self, ts) -> dict:
        """Database-level consistent read: every table as it stood at
        the SAME wall-clock ``ts`` (name -> DataFrame). Cross-table
        joins over these views see one transaction-time instant —
        per-table snapshot_as_of gives each table its own fold; this
        just fixes one ts for all of them. Raises if any table's
        history floor postdates ``ts`` (vacuumed deltas)."""
        self._require_open()
        return {
            name: self.get_table(name).snapshot_as_of(ts)
            for name in self.list_tables()
        }

    def _require_open(self) -> None:
        if not self.path or self.spark is None:
            raise RuntimeError("Database.open(path) must be called first")
