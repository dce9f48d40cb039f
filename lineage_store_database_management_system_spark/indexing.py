"""Distributed secondary indexes over lineage tables.

The reference's ``Index`` (reference index.py:1-60) is a driver-side
``{value -> [rid]}`` dict per column; ``query.py`` keeps that exact
API for parity (create_index / drop_index / locate). This module is
the 100 TB version of the same idea: a **bucket-partitioned Parquet
table of (value, rid) pairs** plus a delta catch-up protocol, so a
point lookup on a non-key column touches

  1/n_buckets of the index  +  only the deltas committed since the
  index was built  +  base/tail rows pruned to the matching rids

instead of scanning the table. Nothing here is required for
correctness — lookups without an index are just predicate-pushdown
scans — an index is a physical-design accelerator, exactly like the
reference's.

Correctness contract (stale-tolerant, verify-at-read):

* The index stores LIVE (value, rid) pairs as of the table watermark
  at build time.
* A record whose CURRENT value equals v either (a) already had v at
  build time -> it is in the index bucket for v, or (b) was inserted
  or updated to v afterwards -> its rid appears in the base/tail
  delta scan (ids are monotone in commit order: ``(batch<<48)|n``).
* The union of those rids OVER-approximates the answer; folding them
  through the current view and re-applying ``col == v`` drops stale
  entries (value changed away) and tombstoned records. So lookups are
  exact at ANY staleness; rebuild frequency only tunes cost.

Layout: ``v<N>/_b=<b>/`` holds ONE Parquet file per bucket, sorted by
value (build and refresh both shuffle by ``_b`` before the partitioned
write), so a bucket's file count does not grow with refreshes and a
value filter skips row groups. A Spark write costs per file, not per
byte, so a build without an explicit ``n_buckets`` sizes the count
from the data: one bucket per ``spark.lineage_store.ingest.minFileBytes``
(the engine's minimum bytes per file, 8 MiB) of estimated index bytes,
taken from the file log's row counts with no job. A 50k-row table gets
one bucket; 15M rows of a long column get 36.

Cost of keeping it current (:func:`maybe_refresh_secondary_index`):
L-Store keeps its indexes current from the tail records alone, and the
lineage encoding makes that exact — an update delta whose column is
NULL leaves the column unchanged, a tombstone is final for its rid,
and a fresh insert carries its value in its base row. So a refresh
reads only the deltas past the build watermark: one aggregate over
them gives each touched rid's new (value, bucket) or its death, in one
collect; one rid-filtered index scan finds the buckets holding old
entries (skipped once the new pairs reach every bucket); only the
affected buckets rewrite, one file each. About 5 Spark jobs a refresh,
4 on a one-bucket index; deltas that leave the column as it was
(price-only updates of an index on another column) are no work at all.
A hash-layout :func:`indexed_lookup` computes its bucket inside the
query and reads the index with its known schema, so neither starts a
job of its own.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil

import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lineage import (
    _DEL_SEQ,
    OP,
    OP_DELETE,
    OP_UPDATE,
    RID,
    SEQ,
    LineageTable,
    _atomic_write_json,
    _latest_set,
    _latest_update,
    _min_file_bytes,
    _q,
    _sql_in,
)

_META_FILE = "_index_meta.json"

# Driver-side rid-list cap for the IN fast path. Below it, matching
# rids become a pushed-down ``_rid IN (...)`` filter on the base and
# tail scans (the true index win: scans read only matching row
# groups). Above it, the lookup falls back to a broadcast semi-join —
# still never a full unpruned fold on the driver.
ISIN_CAP = 100_000


def index_dir(table: LineageTable, col: str) -> str:
    return os.path.join(table.path, "index", col)


def _data_dir(table: LineageTable, col: str, meta: dict) -> str:
    """Resolve the CURRENT data directory. Indexes are versioned like
    compacted snapshots (``v0``, ``v1``, ...): a build or refresh
    writes a NEW version dir, publishes it with one atomic meta
    rewrite, and reclaims versions older than the previous one — so a
    torn refresh can never leave a half-rewritten bucket visible, and
    an in-flight reader's plan over the old version keeps resolving.
    Legacy flat layouts (no "version" key) read from the index root."""
    root = index_dir(table, col)
    v = meta.get("version")
    return root if v is None else os.path.join(root, f"v{v}")


def _index_schema(table: LineageTable, col: str) -> T.StructType:
    """The ``(col, _rid, _b)`` rows an index stores."""
    return T.StructType(
        [
            T.StructField(col, table.schema[col].dataType),
            T.StructField(RID, T.LongType()),
            T.StructField("_b", T.IntegerType()),
        ]
    )


def _read_index(table: LineageTable, col: str, meta: dict) -> DataFrame:
    """The current index version, read with its known schema: no
    schema-inference job."""
    return table.spark.read.schema(_index_schema(table, col)).parquet(
        _data_dir(table, col, meta)
    )


def _sized_buckets(table: LineageTable, col: str) -> int:
    """The bucket count of a build without an explicit one:
    ``ceil(estimated index bytes / minFileBytes)``, at least 1. The
    estimate is the row count the file log records for the live
    snapshot and the base files past it, times Spark's size estimate
    of one index row; no job."""
    files = table._live_files()
    rows = sum(e.get("rows", 0) for e in files.snap + files.fresh)
    jvm = table.spark.sparkContext._jvm
    width = jvm.org.apache.spark.sql.types.DataType.fromJson(
        _index_schema(table, col).json()
    ).defaultSize()
    return max(1, -(-rows * int(width) // _min_file_bytes(table.spark)))


def _bucket_expr(value: Column, meta: dict) -> Column:
    """The bucket-assignment expression, shared by build, refresh and
    the point lookup so stored buckets and partition-filter literals
    always agree. Over a literal it constant-folds into a partition
    filter."""
    if meta.get("layout", "hash") == "range":
        if not meta.get("boundaries"):
            return F.lit(0)
        arr = F.array(*[F.lit(float(b)) for b in meta["boundaries"]])
        return F.size(F.filter(arr, lambda x: value.cast("double") > x))
    return F.pmod(F.xxhash64(value), F.lit(int(meta["n_buckets"]))).cast("int")


def _write_buckets(pairs: DataFrame, col: str, out: str) -> None:
    """Write ``(col, _rid, _b)`` pairs as ``out/_b=<b>/``: shuffled by
    bucket first, so each bucket is ONE file whatever the input's
    partitioning, sorted by value inside it (the sort the partitioned
    writer needs anyway, with the value appended)."""
    (
        pairs.repartition("_b")
        .sortWithinPartitions("_b", col)
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(out)
    )


def _publish(table: LineageTable, col: str, meta: dict) -> None:
    """Atomically publish ``meta`` (the new version pointer) and
    reclaim data versions older than the immediately-previous one
    (retained for in-flight readers, like snapshot_retain)."""
    root = index_dir(table, col)
    _atomic_write_json(os.path.join(root, _META_FILE), meta)
    cur = meta.get("version", 0)
    for name in os.listdir(root):
        if name.startswith("v"):
            try:
                v = int(name[1:])
            except ValueError:
                continue
            if v < cur - 1:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def build_secondary_index(
    table: LineageTable, col: str, n_buckets: int | None = None, layout: str = "hash"
) -> str:
    """Build (or rebuild) the secondary index for ``col``.

    One fold of the current view -> (value, rid, bucket) -> one
    shuffle by bucket -> one Parquet file per bucket. Without
    ``n_buckets`` the count is sized from the data (module docstring)
    and sized again when a refresh rebuilds; an explicit count is kept
    through rebuilds. Two layouts:

    * ``layout='hash'`` — bucket = ``pmod(xxhash64(value),
      n_buckets)``: a POINT lookup prunes to one partition
      (1/n_buckets of the index bytes) via a partition filter, but
      hashing destroys value order, so range predicates cannot prune.
    * ``layout='range'`` (numeric columns) — bucket boundaries are
      the value's approximate quantiles (one approxQuantile job), so
      buckets are balanced under skew AND monotone in the value: a
      range predicate maps to a contiguous ``_b`` range — the 100 TB
      analogue of the reference's ``Index.locate_range`` (reference
      index.py:42-53). Point lookups work on either layout.

    The build watermark (every committed id is <= it) is recorded
    next to the data for the delta catch-up at read time. Buffered
    point ops flush first: the watermark covers the open batch, and a
    row buffered into that batch after the build would sit at or
    below it, out of reach of the catch-up."""
    if col not in table.user_cols:
        raise ValueError(f"no such column: {col!r}")
    table.flush()
    wm = table.watermark()
    root = index_dir(table, col)
    try:
        prev_version = int(_index_meta(table, col).get("version", -1))
    except (FileNotFoundError, json.JSONDecodeError):
        prev_version = -1
    version = prev_version + 1
    live = (
        table.current_view(include_meta=True)
        .select(F.col(col), F.col(RID))
        .where(F.col(col).isNotNull())
    )
    meta: dict = {"col": col, "built_watermark": wm, "layout": layout,
                  "version": version}
    if n_buckets is None:
        n_buckets = _sized_buckets(table, col)
        meta["sized"] = True
    meta["n_buckets"] = n_buckets
    if layout == "range":
        if not isinstance(table.schema[col].dataType, T.NumericType):
            raise ValueError(
                f"layout='range' needs a numeric column, got "
                f"{table.schema[col].dataType.simpleString()} for {col!r}"
            )
        probs = [i / n_buckets for i in range(1, n_buckets)]
        meta["boundaries"] = live.approxQuantile(col, probs, 0.001) if probs else []
    elif layout != "hash":
        raise ValueError(f"unknown layout {layout!r} (hash|range)")
    out = os.path.join(root, f"v{version}")
    _write_buckets(live.withColumn("_b", _bucket_expr(F.col(col), meta)), col, out)
    _publish(table, col, meta)
    return out


def drop_secondary_index(table: LineageTable, col: str) -> None:
    shutil.rmtree(index_dir(table, col), ignore_errors=True)


def _index_meta(table: LineageTable, col: str) -> dict:
    with open(os.path.join(index_dir(table, col), _META_FILE)) as f:
        return json.load(f)


def _below_floor(table: LineageTable, meta: dict) -> bool:
    """Whether :meth:`LineageTable.vacuum_tail` dropped deltas past the
    build watermark: they are folded into the snapshot, but gone from
    the tail the delta catch-up reads."""
    floor = table.manifest.extra.get("history_floor")
    return floor is not None and int(meta["built_watermark"]) < int(floor)


def _lookup_meta(table: LineageTable, col: str) -> dict:
    """The meta of an index that can answer a lookup: one left below
    the vacuum floor is rebuilt first (see :func:`_refresh`)."""
    meta = _index_meta(table, col)
    if _below_floor(table, meta):
        refresh_secondary_index(table, col)
        meta = _index_meta(table, col)
    return meta


def _range_bucket_of(boundaries: list, value) -> int:
    """Quantile bucket of a literal: the number of boundaries strictly
    below it — EXACTLY what the build-time expression
    ``size(filter(boundaries, x -> value > x))`` computes, so the
    partition-filter literal and the stored buckets always agree."""
    return bisect.bisect_left(boundaries, float(value))


def _collect_rids(df: DataFrame, cap: int) -> list[int]:
    """Up to ``cap`` ``_rid`` values of ``df`` (repeats kept), in ONE
    job: a limit over several partitions runs a job per scale-up round
    of partitions scanned; over one partition it runs one job, which
    stops reading once ``cap`` rows are in."""
    return [r[0] for r in df.select(RID).coalesce(1).limit(cap).collect()]


def _fresh_rids(table: LineageTable, wm: int, cond: Column) -> DataFrame:
    """Rids of the deltas past watermark ``wm`` that satisfy ``cond``:
    fresh base inserts and tail updates. Both scans skip files by
    their logged id range before Spark opens one, then filter rows."""
    base = table.base_df(prune={RID: (wm + 1, None)}).where(F.col(RID) > wm)
    tail = table.tail_df(prune={SEQ: (wm + 1, None)}).where(F.col(SEQ) > wm)
    base = base.where(cond)
    tail = tail.where((F.col(OP) == OP_UPDATE) & cond)
    return base.select(F.col(RID)).unionByName(tail.select(F.col(RID)))


def _resolve_and_verify(table: LineageTable, rid_df: DataFrame, cond) -> DataFrame:
    """Fold the candidate rids through the current view and re-apply
    the predicate: stale index entries (value changed away) and
    tombstoned records drop out, making lookups exact at any index
    staleness (module docstring). Up to ISIN_CAP candidate rows the
    rid set becomes a pushed-down ``_rid IN (...)`` on base AND tail
    scans; above it, a broadcast semi-join — never a full unpruned
    fold."""
    rids = _collect_rids(rid_df, ISIN_CAP + 1)
    cur = table.current_view(include_meta=True)
    if len(rids) <= ISIN_CAP:
        hit = cur.where(_sql_in(RID, set(rids)))
    else:  # pragma: no cover - degenerate selectivity; stay distributed
        hit = cur.join(F.broadcast(rid_df), on=RID, how="left_semi")
    return hit.where(cond).select(*table.user_cols)


def indexed_range_lookup(table: LineageTable, col: str, lo=None, hi=None) -> DataFrame:
    """Exact INCLUSIVE range lookup ``lo <= col <= hi`` accelerated by
    the secondary index — the scale analogue of the reference's
    ``Index.locate_range`` (reference index.py:42-53, which iterates
    a dense value domain on the driver; here the range is one
    partition-pruned scan).

    On a ``layout='range'`` index the quantile bucketing is monotone,
    so the value range maps to a contiguous ``_b`` range and the
    index scan partition-prunes to the intersecting buckets. On a
    hash layout the index is still consulted (a 2-column scan beats
    folding the table) but every bucket must be read — build with
    ``layout='range'`` for range-heavy columns. Delta catch-up and
    verify-at-read are identical to :func:`indexed_lookup`."""
    if lo is None and hi is None:
        raise ValueError("indexed_range_lookup needs at least one bound")
    meta = _lookup_meta(table, col)
    dt = table.schema[col].dataType
    conds = []
    if lo is not None:
        conds.append(F.col(col) >= F.lit(lo).cast(dt))
    if hi is not None:
        conds.append(F.col(col) <= F.lit(hi).cast(dt))
    cond = conds[0] if len(conds) == 1 else conds[0] & conds[1]

    idx = _read_index(table, col, meta)
    if meta.get("layout", "hash") == "range":
        bnd = meta.get("boundaries", [])
        blo = _range_bucket_of(bnd, lo) if lo is not None else 0
        bhi = _range_bucket_of(bnd, hi) if hi is not None else len(bnd)
        idx = idx.where(F.col("_b").between(blo, bhi))
    rid_df = idx.where(cond).select(F.col(RID)).unionByName(
        _fresh_rids(table, int(meta["built_watermark"]), cond)
    )
    return _resolve_and_verify(table, rid_df, cond)


def indexed_lookup(table: LineageTable, col: str, value) -> DataFrame:
    """Exact point lookup ``col == value`` accelerated by the index.

    Reads: one index partition (the bucket is computed inside the
    query and constant-folds into a partition filter; value filter
    pushed), plus base/tail rows with ids past the build watermark
    (monotone ids make "since the build" a file-skipping range
    predicate), plus the current-view fold restricted to the matching
    rids. Stale index entries and deleted records are dropped by the
    re-verify filter / the fold itself — see the module docstring for
    why this is exact at any staleness."""
    if value is None:
        raise ValueError("indexed_lookup on NULL is not supported")
    meta = _lookup_meta(table, col)
    lit = F.lit(value).cast(table.schema[col].dataType)
    if meta.get("layout", "hash") == "range":
        b = F.lit(_range_bucket_of(meta.get("boundaries", []), value))
    else:
        b = _bucket_expr(lit, meta)
    cond = F.col(col) == lit
    rid_df = (
        _read_index(table, col, meta)
        .where((F.col("_b") == b) & cond)
        .select(F.col(RID))
        .unionByName(_fresh_rids(table, int(meta["built_watermark"]), cond))
    )
    return _resolve_and_verify(table, rid_df, cond)


def _delta_fold(table: LineageTable, col: str, meta: dict, wm: int) -> DataFrame:
    """``(_rid, col, _b, dead)`` for every rid whose ``col`` value or
    liveness changed past watermark ``wm``, read from the deltas alone
    (module docstring): fresh base rows, as updates ordered before
    every tail delta, and the tail rows that delete or set ``col``,
    folded by the table fold's own aggregates. The snapshot and the
    older base are never read; both scans skip files by their logged
    ``_rid``/``_seq`` range before Spark opens one. Buffered rows
    count, like a lookup's catch-up."""
    dt, c = table.schema[col].dataType, _q(col)
    base = (
        table.base_df(prune={RID: (wm + 1, None)})
        .where(f"{_q(RID)} > {wm}")
        .selectExpr(_q(RID), f"-1L AS {_q(SEQ)}", f"'{OP_UPDATE}' AS {_q(OP)}", c)
    )
    tail = (
        table.tail_df(prune={SEQ: (wm + 1, None)})
        .where(f"{_q(SEQ)} > {wm} AND ({_q(OP)} = '{OP_DELETE}' OR {c} IS NOT NULL)")
        .selectExpr(_q(RID), _q(SEQ), _q(OP), c)
    )
    return (
        base.unionByName(tail)
        .groupBy(RID)
        .agg(F.expr(_DEL_SEQ), F.expr(_latest_update(col, dt)))
        .selectExpr(_q(RID), f"{_latest_set(col, dt)} AS {c}", "`_del_seq` IS NOT NULL AS dead")
        .withColumn("_b", _bucket_expr(F.col(col), meta))
    )


def _collect_fold(fold: DataFrame, cap: int):
    """Up to ``cap`` rows of a :func:`_delta_fold` as one Arrow table:
    over one partition the limit stops reading once ``cap`` rows are
    in, in one job past the aggregate's shuffle."""
    return fold.coalesce(1).limit(cap).toArrow()


def index_staleness(table: LineageTable, col: str) -> dict:
    """How far the index lags the table: the number of rids whose
    ``col`` value or liveness changed past the build watermark
    (:func:`_delta_fold`), the number a refresh folds. One
    watermark-pruned aggregate COUNT. Lookups stay EXACT at any
    staleness (module docstring); this measures their creeping
    per-lookup cost."""
    meta = _index_meta(table, col)
    wm = int(meta["built_watermark"])
    return {
        "col": col,
        "built_watermark": wm,
        "watermark": table.watermark(),
        "stale_deltas": _delta_fold(table, col, meta, wm).count(),
    }


def _refresh(
    table: LineageTable, col: str, meta: dict, wm_new: int, fold, rebuild_above: int,
) -> str:
    """Catch the index up to ``wm_new`` from ``fold``, the collected
    :func:`_delta_fold` past the build watermark (collected AFTER
    ``wm_new`` was read, so nothing at or below it is missed; later
    deltas it may include are harmless — lookups catch up and verify
    everything past the published watermark anyway)."""
    if fold.num_rows > rebuild_above or "version" not in meta or _below_floor(table, meta):
        # heavy churn, a legacy unversioned layout, or deltas vacuumed
        # away before they were caught up
        build_secondary_index(
            table, col, None if meta.get("sized") else int(meta["n_buckets"]),
            meta.get("layout", "hash"),
        )
        return "rebuild"
    rids = fold.column(RID).to_pylist()
    new_pairs = fold.filter(
        pc.and_(pc.invert(fold.column("dead")), pc.is_valid(fold.column(col)))
    ).select([col, RID, "_b"])
    affected = set(new_pairs.column("_b").to_pylist())
    idx = _read_index(table, col, meta)
    touched = _sql_in(RID, rids)
    if rids and len(affected) < int(meta["n_buckets"]):
        # the buckets holding the touched rids' OLD entries
        affected |= {r[0] for r in idx.where(touched).select("_b").collect()}
    meta["built_watermark"] = wm_new
    if not affected:
        # no entry changes (e.g. only inserts with a NULL value): the
        # current version stands under the new watermark
        _publish(table, col, meta)
        return "fresh"
    old_dir = _data_dir(table, col, meta)
    version = int(meta["version"]) + 1
    new_dir = os.path.join(index_dir(table, col), f"v{version}")
    kept = idx.where(_sql_in("_b", affected) & ~touched)
    new = table.spark.createDataFrame(new_pairs, idx.schema)
    _write_buckets(kept.unionByName(new), col, new_dir)
    # hardlink untouched buckets' immutable files (metadata-only copies)
    for name in os.listdir(old_dir):
        if not name.startswith("_b="):
            continue
        try:
            b_val = int(name.split("=", 1)[1])
        except ValueError:
            b_val = name.split("=", 1)[1]
        if b_val in affected:
            continue
        src = os.path.join(old_dir, name)
        dst = os.path.join(new_dir, name)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.link(os.path.join(src, f), os.path.join(dst, f))
    meta["version"] = version
    _publish(table, col, meta)
    return "incremental"


def _catch_up(table: LineageTable, col: str, min_stale: int, rebuild_above: int) -> str:
    """The refresh both entry points share: flush buffered point ops
    (see :func:`build_secondary_index`), read the watermark, collect
    the delta fold once, and refresh unless it holds 1..``min_stale``
    rids (an index below the vacuum floor always refreshes)."""
    table.flush()
    meta = _index_meta(table, col)
    wm_new = table.watermark()  # before the collect: see _refresh
    wm_old = int(meta["built_watermark"])
    if wm_new == wm_old:
        return "fresh"
    fold = _collect_fold(
        _delta_fold(table, col, meta, wm_old), max(min_stale, rebuild_above) + 1
    )
    if 0 < fold.num_rows <= min_stale and not _below_floor(table, meta):
        return "fresh"
    return _refresh(table, col, meta, wm_new, fold, rebuild_above)


def refresh_secondary_index(
    table: LineageTable, col: str, rebuild_above: int = ISIN_CAP
) -> str:
    """Incrementally catch the index up to the table watermark — the
    write-path maintenance policy that keeps lookup-time delta
    catch-up bounded (VERDICT r4 item 6):

    1. One aggregate over the deltas past the build watermark
       (:func:`_delta_fold`), collected once to the driver as Arrow,
       gives every touched rid's live (value, bucket) or its death.
       Deltas that leave the column unchanged are not read into it.
    2. The affected buckets are those of the new pairs plus those
       holding the touched rids' OLD entries — one rid-filtered
       2-column index scan, skipped when the new pairs already reach
       every bucket.
    3. ONLY those buckets rewrite (old entries minus touched rids,
       plus the new pairs as a local relation), one file per bucket;
       every untouched bucket's immutable files hardlink into the new
       version dir. With no affected bucket only the watermark moves.
    4. One atomic meta rewrite publishes the new version; the prior
       version is retained for in-flight readers, older ones reclaim.

    About 5 Spark jobs (4 on a one-bucket index); cost tracks churn of
    the indexed column, not index size. Above ``rebuild_above``
    touched rids (the bound also caps the driver collect) — or on a
    legacy unversioned layout, or below the vacuum floor — falls back
    to a full rebuild. Returns 'fresh' (no index entry changed),
    'incremental', or 'rebuild'."""
    return _catch_up(table, col, 0, rebuild_above)


def maybe_refresh_secondary_index(
    table: LineageTable, col: str, max_stale_deltas: int = 10_000
) -> str:
    """The staleness policy: refresh only once more than
    ``max_stale_deltas`` rids lag the index (:func:`index_staleness`'s
    number). Call it from the write path (e.g. after bulk mutations or
    compaction) — lookups themselves mutate the index only to rebuild
    one left below the vacuum floor. One collect of the delta fold
    gives both the count and the pairs the refresh writes; an index
    below the floor always refreshes, and one whose deltas touch no
    rid's value only moves its watermark. Returns the refresh outcome,
    or 'fresh' when under threshold."""
    return _catch_up(table, col, max_stale_deltas, ISIN_CAP)


def point_lookup(
    table: LineageTable, col: str, value, max_stale_commits: int = 64
) -> DataFrame:
    """Index-aware dispatch for point predicates — the scale-path
    router that ``current_view().filter(col == v)`` by itself cannot
    be (a returned DataFrame's plan is already fixed):

    * ``col`` is the PRIMARY KEY -> ``current_view(key_range=(v, v))``
      — manifest-log file skipping + pushed row predicate; no index
      needed (the base layout IS the key index).
    * a secondary index exists on ``col`` and lags the table by at
      most ``max_stale_commits`` commits -> :func:`indexed_lookup`
      (one index bucket + watermark-pruned delta catch-up +
      verify-at-read; exact at any staleness).
    * otherwise (no index, or one so stale its delta catch-up would
      approach a full scan) -> the plain predicate-pushdown filter on
      the current view. Staleness is measured in COMMITS from the two
      manifest counters — no Spark job, no file I/O.

    Always exact; the dispatch only chooses the cheapest plan. This
    is the engine-side analogue of the reference's Query.select always
    consulting ``Index.locate`` first (reference query.py:86-113)."""
    if col == table.key:
        return table.current_view(key_range=(value, value))
    meta_path = os.path.join(index_dir(table, col), _META_FILE)
    if os.path.exists(meta_path):
        meta = _index_meta(table, col)
        from .lineage import _BATCH_SHIFT

        built_batch = int(meta["built_watermark"]) >> _BATCH_SHIFT
        stale_commits = table.manifest.next_batch - 1 - built_batch
        if stale_commits <= max_stale_commits:
            return indexed_lookup(table, col, value)
    return table.current_view().where(
        F.col(col) == F.lit(value).cast(table.schema[col].dataType)
    )
