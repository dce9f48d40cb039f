"""``lineage_rw``: bulk lineage commits and compaction next to the reads
that fold them, with the secondary index kept current.

The store holds an ``orders`` lineage table with a secondary index on
``o_custkey``. One unit of the closed loop runs, for each commit kind
in turn (``bulk_update``, ``bulk_delete``, a dependent
``mutation_batch``, a ``merge_into`` upsert with new keys), the commit
and one read of the rotation: a ``current_view`` range aggregate, a
key ``point_lookup``, a ``version_view(-1)`` aggregate,
``snapshot_at_commit`` of the previous commit. Then
``maybe_refresh_secondary_index`` on ``o_custkey``, whose threshold
the unit's commits always cross, a ``point_lookup`` on ``o_custkey``
through the index, a full ``current_view`` aggregate, ``compact()``,
the same aggregate again and a second ``o_custkey`` lookup. Of the
unit's six writes the median falls between ``compact`` and
``merge_into``, which sit close together and well clear of the cheap
commits below and of ``mutation_batch`` and the refresh above; the
second lookup moves the median op from the gap between the cheap reads
and the mid-latency ops into the latter. Every unit has the same
composition, so the tail grows and merges once per unit.

A traced run also builds the BM25, trigram and IVF-PQ indexes of
``index_families`` after its window and runs one cycle of their
upkeep, for their per-layer numbers.

A Python model of every row's version chain checks each read; at the
end a fresh ``Database`` handle reopens the store, its current view is
compared row for row, and the secondary index is compared with a
plain filter.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa

from .. import core, datagen
from .index_families import IndexFamilies

N_ORDERS = 50_000
UPDATE_N = 500  # 1% of the keys
DELETE_N = 100
BATCH_N = 200  # mutation_batch round-1 updates; merge_into matched and new rows each
REFRESH_ABOVE = 100  # stale deltas that trigger a refresh; a unit's commits leave over a thousand
COMMITS = ("bulk_update", "bulk_delete", "mutation_batch", "merge_into")
READS = ("current_view_range", "point_lookup", "version_view", "snapshot_at_commit")
KEY = "o_orderkey"
COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


def _agg_cols():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("o_totalprice").alias("price"),
        F.sum("o_custkey").alias("cust"),
    ]


def rows_of(table: pa.Table) -> list[tuple]:
    """Non-key columns as tuples, timestamps naive UTC as Spark returns
    them in a UTC process."""
    cols = []
    for c in COLS:
        col = table.column(c)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col.to_pylist())
    return list(zip(*cols))


def model_agg(rows) -> tuple[int, float, int]:
    n, price, cust = 0, 0.0, 0
    for r in rows:
        n += 1
        price += r[2]
        cust += r[0]
    return n, price, cust


def agg_equal(got, want) -> bool:
    n, price, cust = want
    if got["n"] != n:
        return False
    if n == 0:
        return got["price"] is None and got["cust"] is None
    return got["cust"] == cust and math.isclose(got["price"], price, rel_tol=1e-9, abs_tol=1e-6)


class LineageRW:
    commit_spans = tuple(f"lineage.{k}" for k in COMMITS)
    fold_spans = tuple(f"lineage.{k}" for k in READS) + ("lineage.current_view_full",)

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.rng = np.random.default_rng([bench.seed, 1])
        self.orders = datagen.orders(self.rng, N_ORDERS)
        self.path = datagen.write(self.orders, os.path.join(bench.workdir, "data", "orders.parquet"))
        bench.record_data("orders", self.path)
        self.families = IndexFamilies(self, bench.seed)
        self.n_change = 0
        self.change_bytes = 0
        self.next_key = N_ORDERS
        self.refreshes = 0
        self.compact_reads: dict[str, list[float]] = {"before": [], "after": []}

    # -- model ---------------------------------------------------------------
    def _reset_model(self) -> None:
        keys = self.orders.column(KEY).to_pylist()
        self.versions: dict[int, list[tuple]] = {k: [row] for k, row in zip(keys, rows_of(self.orders))}
        self.live = list(keys)
        self.pos = {k: i for i, k in enumerate(self.live)}

    def _kill(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if i < len(self.live):
            self.live[i] = last
            self.pos[last] = i
        del self.versions[k]

    def _pick(self, m: int) -> list[int]:
        idx = self.rng.choice(len(self.live), size=m, replace=False)
        return sorted(self.live[i] for i in idx)

    def _current(self):
        return (v[-1] for v in self.versions.values())

    def _mark(self) -> None:
        """Remember the file-log head and the model's aggregate after a
        commit, for ``snapshot_at_commit``."""
        self.commit_marks.append((self.t.filelog.replayable_range()[1], model_agg(self._current())))

    # -- set-up ----------------------------------------------------------
    def build(self, root: str):
        from lineage_store_database_management_system_spark import Database

        b = self.b
        db = b.timed("catalog.open_ms", lambda: Database().open(root, self.spark))
        df = self.spark.read.parquet(self.path)
        t = b.timed("catalog.create_table_ms", lambda: db.create_table_typed("orders", df.schema, KEY))
        b.timed("lineage.ingest_ms", lambda: t.ingest_dataframe(df))
        self.root, self.db, self.t = root, db, t

    def prepare(self) -> None:
        """Build the secondary index once, on the kept store; its build
        time is a per-layer metric."""
        from lineage_store_database_management_system_spark import indexing

        self.b.timed("indexing.build_ms", lambda: indexing.build_secondary_index(self.t, "o_custkey"))
        self._reset_model()
        self.commit_marks: list[tuple[int, tuple]] = []
        self._mark()

    # -- writes -------------------------------------------------------------
    def change_file(self, table: pa.Table, name: str) -> str:
        """Write change rows once as Parquet (the write_amp denominator);
        Spark reads the file, as a client's batch would arrive."""
        self.n_change += 1
        path = os.path.join(self.b.workdir, "changes", f"{self.n_change}-{name}.parquet")
        datagen.write(table, path)
        self.change_bytes += os.path.getsize(path)
        return path

    def write_op(self, kind: str, span: str, fn):
        b = self.b

        def run():
            with b.span(span):
                return fn()

        return b.op(kind, "write", run)

    def _new_prices(self, m: int) -> np.ndarray:
        return np.round(self.rng.uniform(1000.0, 500000.0, size=m), 2)

    def commit(self, kind: str) -> None:
        from pyspark.sql import functions as F

        t, spark = self.t, self.spark
        if kind == "bulk_update":
            keys = self._pick(UPDATE_N)
            cust = self.rng.integers(0, N_ORDERS // 10, size=len(keys))
            status = self.rng.choice(datagen.STATUS, size=len(keys))
            prices = self._new_prices(len(keys))
            df = spark.read.parquet(self.change_file(
                pa.table({KEY: keys, "o_custkey": cust, "o_orderstatus": status, "o_totalprice": prices}), kind
            ))
            self.write_op(kind, "lineage.bulk_update", lambda: t.bulk_update(df))
            for k, c, s, p in zip(keys, cust.tolist(), status.tolist(), prices.tolist()):
                cur = self.versions[k][-1]
                self.versions[k].append((c, s, p, cur[3], cur[4]))
        elif kind == "bulk_delete":
            keys = self._pick(DELETE_N)
            df = spark.read.parquet(self.change_file(pa.table({KEY: keys}), kind))
            self.write_op(kind, "lineage.bulk_delete", lambda: t.bulk_delete(df))
            for k in keys:
                self._kill(k)
        elif kind == "mutation_batch":
            k1 = self._pick(BATCH_N)
            p1 = self._new_prices(len(k1))
            k2 = sorted(self.rng.choice(k1, size=BATCH_N // 2, replace=False).tolist())
            gone = sorted(set(self._pick(BATCH_N)) - set(k1))[: BATCH_N // 5]
            upd = spark.read.parquet(self.change_file(pa.table({KEY: k1, "o_totalprice": p1}), kind + "-update"))
            dele = spark.read.parquet(self.change_file(pa.table({KEY: gone}), kind + "-delete"))
            # round 2 is computed from round 1's state; its change rows
            # still count once in the denominator
            self.change_bytes += core.parquet_bytes(pa.table({KEY: k2}))

            def bump(view):
                return view.where(F.col(KEY).isin(k2)).select(KEY, (F.col("o_totalprice") + 1.0).alias("o_totalprice"))

            def run():
                with t.mutation_batch() as mb:
                    mb.update(upd)
                    mb.update(bump)
                    mb.delete(dele)

            self.write_op(kind, "lineage.mutation_batch", run)
            for k, p in zip(k1, p1.tolist()):
                cur = self.versions[k][-1]
                self.versions[k].append((cur[0], cur[1], p, cur[3], cur[4]))
            for k in k2:
                cur = self.versions[k][-1]
                self.versions[k].append((cur[0], cur[1], cur[2] + 1.0, cur[3], cur[4]))
            for k in gone:
                self._kill(k)
        else:  # merge_into: matched rows update, new keys insert
            old = self._pick(BATCH_N)
            new = list(range(self.next_key, self.next_key + BATCH_N))
            self.next_key += BATCH_N
            src = datagen.orders(self.rng, 2 * BATCH_N)
            src = src.set_column(0, KEY, pa.array(old + new, type=pa.int64()))
            df = spark.read.parquet(self.change_file(src, kind))
            self.write_op(kind, "lineage.merge_into", lambda: t.merge_into(df))
            for k, row in zip(old + new, rows_of(src)):
                if k in self.versions:
                    self.versions[k].append(row)
                else:
                    self.versions[k] = [row]
                    self.pos[k] = len(self.live)
                    self.live.append(k)
        self._mark()

    def refresh(self) -> None:
        from lineage_store_database_management_system_spark import indexing

        out = self.write_op(
            "refresh", "indexing.maybe_refresh",
            lambda: indexing.maybe_refresh_secondary_index(self.t, "o_custkey", max_stale_deltas=REFRESH_ABOVE),
        )
        if out not in (None, "fresh"):
            self.refreshes += 1

    def compact(self) -> None:
        self.write_op("compact", "lineage.compact", self.t.compact)
        self._mark()

    # -- reads -----------------------------------------------------------------
    def read(self, kind: str):
        b, t = self.b, self.t
        if kind == "point_lookup":
            k = self.live[int(self.rng.integers(0, len(self.live)))]

            def lookup():
                with b.span("lineage.point_lookup"):
                    return t.point_lookup(KEY, k).collect()

            rows = b.op(kind, "read", lookup)
            if rows is not None:
                want_row = (k, *self.versions[k][-1])
                got_rows = [tuple(r[c] for c in (KEY, *COLS)) for r in rows]
                b.check(got_rows == [want_row], f"point_lookup({k}): {got_rows} != {want_row}")
            return
        if kind == "current_view_range":
            lo = int(self.rng.integers(0, self.next_key))
            hi = lo + N_ORDERS // 100
            view = lambda: t.current_view(key_range=(lo, hi))  # noqa: E731
            want = model_agg(v[-1] for k, v in self.versions.items() if lo <= k <= hi)
        elif kind == "version_view":
            view = lambda: t.version_view(-1)  # noqa: E731
            want = model_agg(v[max(0, len(v) - 2)] for v in self.versions.values())
        elif kind == "snapshot_at_commit":
            lo = t.filelog.replayable_range()[0]
            older = [m for m in self.commit_marks[:-1] if m[0] >= lo]
            idx, want = older[-1] if older else self.commit_marks[-1]
            view = lambda: t.snapshot_at_commit(idx)  # noqa: E731
        else:
            view = t.current_view
            want = model_agg(self._current())

        def run():
            with b.span(f"lineage.{kind}"):
                return view().agg(*_agg_cols()).collect()[0]

        got = b.op(kind, "read", run)
        if got is not None:
            b.check(agg_equal(got, want), f"{kind}: got {dict(got.asDict())} want {want}")

    def custkey_lookup(self) -> None:
        b, t = self.b, self.t
        cust = self.versions[self.live[int(self.rng.integers(0, len(self.live)))]][-1][0]

        def run():
            with b.span("indexing.point_lookup"):
                return t.point_lookup("o_custkey", cust).select(KEY).collect()

        rows = b.op("custkey_lookup", "read", run)
        if rows is not None:
            got = sorted(r[KEY] for r in rows)
            want = sorted(k for k, v in self.versions.items() if v[-1][0] == cust)
            b.check(got == want, f"point_lookup(o_custkey={cust}): {got} != {want}")

    def _full_read(self, when: str) -> None:
        """The full current-view aggregate, its latency kept by side of
        the compaction."""
        lat = self.b.samples.by_kind.setdefault("current_view_full", [])
        n = len(lat)
        self.read("current_view_full")
        if len(lat) > n:
            self.compact_reads[when].append(lat[-1] * 1e3)

    def step(self) -> None:
        """One unit; see the module docstring."""
        for kind, read in zip(COMMITS, READS):
            self.commit(kind)
            self.read(read)
        self.refresh()
        self.custkey_lookup()
        self._full_read("before")
        self.compact()
        self._full_read("after")
        self.custkey_lookup()

    def traced_extras(self) -> None:
        """The text and vector index families, for their per-layer
        numbers: build, then one cycle of upkeep and queries."""
        fam = self.families
        fam.build(self.root)
        fam.appends()
        fam.deletes()
        fam.queries()
        fam.compact()

    # -- end of run -------------------------------------------------------------
    def live_bytes(self) -> int:
        """The live orders written once as Parquet."""
        keys = list(self.versions)
        cur = list(self._current())
        cols = {KEY: pa.array(keys, type=pa.int64())}
        for i, c in enumerate(COLS):
            typ = self.orders.schema.field(c).type
            cols[c] = pa.array([r[i] for r in cur], type=pa.timestamp("us") if pa.types.is_timestamp(typ) else typ)
        return core.parquet_bytes(pa.table(cols))

    def verify(self) -> None:
        """Reopen through a fresh Database handle: the current view must
        equal the model row for row, and secondary-index lookups must
        equal a plain filter and the model. Then the index families, when
        a traced run built them."""
        from pyspark.sql import functions as F

        from lineage_store_database_management_system_spark import Database

        b = self.b
        self.t.flush()
        self.db.close()
        t2 = Database().open(self.root, self.spark).get_table("orders")
        got = {r[KEY]: tuple(r[c] for c in COLS) for r in t2.current_view().collect()}
        want = {k: v[-1] for k, v in self.versions.items()}
        b.attempted += 1
        if got != want:
            diff = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
            b.fail(f"reopen: {len(want.keys() - got.keys())} missing, {len(got.keys() - want.keys())} extra, {diff} differing rows")
        cust = want[min(want)][0]
        via_index = sorted(r[KEY] for r in t2.point_lookup("o_custkey", cust).select(KEY).collect())
        via_filter = sorted(r[KEY] for r in t2.current_view().where(F.col("o_custkey") == cust).select(KEY).collect())
        model = sorted(k for k, v in want.items() if v[0] == cust)
        b.attempted += 1
        b.check(via_index == via_filter == model, f"final point_lookup o_custkey={cust}")
        if self.families.built:
            self.families.verify()

    def guard_reads(self):
        """Repeated reads whose every repeat must do the full work: BM25
        retrieval and MinHash candidates over the live corpus (after
        ``traced_extras``)."""
        from lineage_store_database_management_system_spark.operators import dedup, textsearch

        spark, fam = self.spark, self.families
        return [
            ("textsearch.bm25_topk", lambda: textsearch.bm25_topk_from_index(spark, fam.bm25, ["merge", "tail", "fold"], k=20).collect()),
            ("dedup.minhash_lsh_candidates", lambda: dedup.minhash_lsh_candidates(fam.corpus(), "doc_id", "text").count()),
        ]

    def layer_metrics(self) -> dict:
        fam_bytes = self.families.index_bytes()
        out = {
            "indexing.refreshes": self.refreshes,
            "textsearch.index_bytes_per_live_doc": (fam_bytes["bm25"] + fam_bytes["trigram"]) / len(self.families.doc_text),
            "similarity.ivf_pq_bytes_per_live_vec": fam_bytes["ivfpq"] / len(self.families.vec),
            "lineage.tail_rows": self.t.tail_row_count(),
        }
        for when, vals in self.compact_reads.items():
            if vals:
                out[f"lineage.read_ms_{when}_compact"] = float(np.median(vals))
        return out
