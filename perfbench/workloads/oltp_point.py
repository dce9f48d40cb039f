"""``oltp_point``: L-Store's own point surface, ``Query`` and ``Transaction``.

A 5-integer-column table (key in column 0) is driven in units of
fixed composition whose order is shuffled by the seed: selects by key
and by column 1, ``select_version(-1/-2)`` on chains already loaded
(warm), single-query transactions (update, increment, insert, delete),
one range ``sum``, one ``select_version`` on a chain not yet loaded
(cold) and, closing each unit, the group ``flush()`` that makes the
unit's transactions durable. Keys follow a seeded Zipf distribution.

Every answer is checked against a Python model of each key's version
chain; at the end a fresh ``Database`` handle reopens the store and
its current view is compared row for row.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from .. import core, datagen

N_ROWS = 50_000
NCOLS = 5
RANGE = 100
# light ops per unit, by kind. Sorted by latency the kinds are select_key <
# version_warm < insert < increment < update < delete < select_col, then
# the Spark-bound sum, version_cold and flush. These shares put the
# median op in the middle of the update mode and the median read in the
# middle of the select_col mode.
MIX = {
    "select_key": 15,
    "select_col": 25,
    "version_warm": 2,
    "update": 45,
    "increment": 4,
    "insert": 4,
    "delete": 3,
}


class _Spanned:
    """A Query method wrapped in a span. ``Transaction.run`` finds the
    query through ``fn.__self__`` and calls ``fn(*args)``; both hold."""

    def __init__(self, bench, name: str, method):
        self.__self__ = method.__self__
        self._bench, self._name, self._method = bench, name, method

    def __call__(self, *args):
        with self._bench.span(self._name):
            return self._method(*args)


class OltpPoint:
    commit_spans = ("lineage.flush",)
    fold_spans = ("query.sum", "query.select_version_cold")

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.rng = np.random.default_rng([bench.seed, 2])
        self.data = datagen.grades(self.rng, N_ROWS)
        self.path = datagen.write(self.data, os.path.join(bench.workdir, "data", "grades.parquet"))
        bench.record_data("grades", self.path)
        self.zipf = datagen.Zipf(self.rng, N_ROWS)
        self.change_bytes = 0
        self.changes: list[tuple] = []
        self.version_reads = {"warm": 0, "cold": 0}

    # -- model ---------------------------------------------------------------
    def _reset_model(self) -> None:
        cols = [self.data.column(i).to_pylist() for i in range(NCOLS)]
        self.versions: dict[int, list[list[int]]] = {r[0]: [list(r)] for r in zip(*cols)}
        self.by_c1: dict[int, set[int]] = {}
        for k, v in self.versions.items():
            self.by_c1.setdefault(v[-1][1], set()).add(k)
        self.live = list(self.versions)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.warm: set[int] = set()
        self.next_key = N_ROWS

    def _add(self, k: int, cols: list[int]) -> None:
        self.versions[k] = [cols]
        self.by_c1.setdefault(cols[1], set()).add(k)
        self.pos[k] = len(self.live)
        self.live.append(k)

    def _set(self, k: int, cols: list[int]) -> None:
        old = self.versions[k][-1]
        if old[1] != cols[1]:
            self.by_c1[old[1]].discard(k)
            self.by_c1.setdefault(cols[1], set()).add(k)
        self.versions[k].append(cols)

    def _kill(self, k: int) -> None:
        self.by_c1[self.versions.pop(k)[-1][1]].discard(k)
        i = self.pos.pop(k)
        last = self.live.pop()
        if i < len(self.live):
            self.live[i] = last
            self.pos[last] = i
        self.warm.discard(k)

    def _hot_key(self, exclude=()) -> int:
        """A live key by Zipf rank (a few redraws skip dead or excluded
        keys, then a uniform live key)."""
        for _ in range(16):
            k = self.zipf.draw()
            if k in self.versions and k not in exclude:
                return k
        while True:
            k = self.live[int(self.rng.integers(0, len(self.live)))]
            if k not in exclude:
                return k

    # -- set-up ----------------------------------------------------------
    def build(self, root: str):
        from lineage_store_database_management_system_spark import Database, Query

        b = self.b
        db = b.timed("catalog.open_ms", lambda: Database().open(root, self.spark))
        t = b.timed("catalog.create_table_ms", lambda: db.create_table("grades", NCOLS, 0))
        b.timed("lineage.ingest_ms", lambda: t.ingest_dataframe(self.spark.read.parquet(self.path).toDF(*t.user_cols)))
        q = Query(t)
        # the first point call loads the driver-side directory
        b.timed("query.directory_load_ms", lambda: q.select(0, 0, [1] * NCOLS))
        self.root, self.db, self.t, self.q = root, db, t, q
        self._reset_model()

    def prepare(self) -> None:
        """One untimed unit: the window's units are then all warm (JIT,
        loaded chains), so a faster host running more units does not
        also shrink a cold unit's share."""
        self.step()

    # -- ops -------------------------------------------------------------
    def _txn(self, kind: str, method, *args) -> None:
        from lineage_store_database_management_system_spark import Transaction

        b = self.b

        def run():
            txn = Transaction()
            txn.add_query(_Spanned(b, f"query.{kind}", method), *args)
            with b.span("transaction.run"):
                return txn.run()

        ok = b.op(kind, "txn", run)
        b.check(ok is True or ok is None, f"{kind}{args}: transaction returned {ok}")

    def do(self, kind: str) -> None:
        b, q = self.b, self.q
        full = [1] * NCOLS
        if kind == "select_key":
            k = self._hot_key()

            def run():
                with b.span("query.select"):
                    return q.select(k, 0, full)

            got = b.op(kind, "read", run)
            if got is not None:
                b.check([r.columns for r in got] == [self.versions[k][-1]], f"select({k})")
        elif kind == "select_col":
            v = self.versions[self._hot_key()][-1][1]

            def run():
                with b.span("query.select"):
                    return q.select(v, 1, full)

            got = b.op(kind, "read", run)
            if got is not None:
                want = sorted((k, self.versions[k][-1]) for k in self.by_c1[v])
                b.check(sorted((r.key, r.columns) for r in got) == want, f"select(c1={v})")
        elif kind in ("version_warm", "version_cold"):
            warm = kind == "version_warm" and self.warm
            if warm:
                k = sorted(self.warm)[int(self.rng.integers(0, len(self.warm)))]
            else:
                k = self._hot_key(exclude=self.warm)
            rel = -1 - int(self.rng.integers(0, 2))
            name = "query.select_version_warm" if warm else "query.select_version_cold"

            def run():
                with b.span(name):
                    return q.select_version(k, 0, full, rel)

            got = b.op(kind, "read", run)
            self.version_reads["warm" if warm else "cold"] += 1
            self.warm.add(k)
            if got is not None:
                chain = self.versions[k]
                want = chain[max(0, len(chain) - 1 + rel)]
                b.check([r.columns for r in got] == [want], f"select_version({k}, {rel})")
        elif kind == "sum":
            lo = self._hot_key()
            hi = lo + RANGE

            def run():
                with b.span("query.sum"):
                    return q.sum(lo, hi, 2)

            got = b.op(kind, "read", run)
            vals = [self.versions[k][-1][2] for k in range(lo, hi + 1) if k in self.versions]
            want = sum(vals) if vals else False
            if got is not None:
                b.check(got == want, f"sum({lo},{hi}): {got} != {want}")
        elif kind == "update":
            k = self._hot_key()
            cols = [None] * NCOLS
            for c in self.rng.choice(np.arange(1, NCOLS), size=2, replace=False):
                cols[int(c)] = int(self.rng.integers(0, 1000))
            self._txn(kind, q.update, k, *cols)
            cur = self.versions[k][-1]
            self._set(k, [cur[i] if cols[i] is None else cols[i] for i in range(NCOLS)])
            self.changes.append((k, *cols[1:], "U"))
        elif kind == "increment":
            k = self._hot_key()
            c = int(self.rng.integers(1, NCOLS))
            self._txn(kind, q.increment, k, c)
            new = list(self.versions[k][-1])
            new[c] += 1
            self._set(k, new)
            self.changes.append((k, *[new[i] if i == c else None for i in range(1, NCOLS)], "I"))
        elif kind == "insert":
            k = self.next_key
            self.next_key += 1
            cols = [k] + [int(x) for x in self.rng.integers(0, 1000, size=NCOLS - 1)]
            self._txn(kind, q.insert, *cols)
            self._add(k, cols)
            self.warm.add(k)
            self.changes.append((*cols, "N"))
        elif kind == "delete":
            k = self.live[int(self.rng.integers(0, len(self.live)))]
            self._txn(kind, q.delete, k)
            self._kill(k)
            self.changes.append((k, None, None, None, None, "D"))
        else:
            raise ValueError(kind)

    def flush(self) -> None:
        b, t = self.b, self.t

        def run():
            with b.span("lineage.flush"):
                t.flush()

        b.op("flush", "write", run)
        self._account_changes()

    def _account_changes(self) -> None:
        if self.changes:
            cols = list(zip(*self.changes))
            tbl = pa.table({f"c{i}": pa.array(cols[i], type=pa.int64()) for i in range(NCOLS)} | {"op": pa.array(cols[NCOLS])})
            self.change_bytes += core.parquet_bytes(tbl)
            self.changes = []

    def step(self) -> None:
        """One unit: each half of the light mix in seeded order, the range
        ``sum`` after the first half and the cold ``select_version``
        after the second, then the flush. The halves have fixed
        composition, so every sum and cold read folds the same number
        of buffered transactions."""
        halves = ([], [])
        for k, n in MIX.items():
            halves[0].extend([k] * ((n + 1) // 2))
            halves[1].extend([k] * (n // 2))
        for half, heavy in zip(halves, ("sum", "version_cold")):
            for i in self.rng.permutation(len(half)):
                self.do(half[i])
            self.do(heavy)
        self.flush()

    # -- end of run ----------------------------------------------------------
    def live_bytes(self) -> int:
        """The live rows written once as Parquet."""
        rows = [v[-1] for v in self.versions.values()]
        return core.parquet_bytes(pa.table({f"c{i}": pa.array([r[i] for r in rows], type=pa.int64()) for i in range(NCOLS)}))

    def verify(self) -> None:
        from lineage_store_database_management_system_spark import Database

        self.t.flush()
        self.db.close()
        t2 = Database().open(self.root, self.spark).get_table("grades")
        cols = t2.user_cols
        got = {r[cols[0]]: [r[c] for c in cols] for r in t2.current_view().collect()}
        want = {k: v[-1] for k, v in self.versions.items()}
        self.b.attempted += 1
        if got != want:
            diff = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
            self.b.fail(f"reopen: {len(want.keys() - got.keys())} missing, {len(got.keys() - want.keys())} extra, {diff} differing")

    def traced_extras(self) -> None:
        pass

    def guard_reads(self):
        """Repeated reads whose every repeat must do the full work."""
        q = self.q
        lo = self._hot_key()
        return [("query.sum", lambda: q.sum(lo, lo + RANGE, 2))]

    def layer_metrics(self) -> dict:
        v = self.version_reads
        return {"query.history_hit_ratio": v["warm"] / max(1, v["warm"] + v["cold"])}
