"""Property test for the METADATA PLANE: after a random-but-seeded
interleaving of ingest / update / delete / compact / optimize /
drop_partition, the metadata-derived answers must equal the full-scan
truth computed from the SAME current view:

- fast_count()          == current_view().count()
- fast_min_max(c)       == agg(min(c), max(c))
- scan_with_bounds(...) == current_view().where(bounds)

These are the operators whose whole point is NOT reading the data, so
any drift between the file-log accounting and the fold is invisible
to the per-operator gates unless an adversarial op sequence hits it.
"""

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("p", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("p"),
        (F.col("id") * 1.7 - 40.0).alias("v"),
    )


@pytest.mark.parametrize("seed", [7, 23, 61])
def test_metadata_plane_matches_full_scan(spark, tmp_db, seed):
    rng = random.Random(seed)
    t = tmp_db.create_table_typed(f"mp_{seed}", _schema(), "k", partition_by=["p"])
    next_key = 0

    def ingest():
        nonlocal next_key
        n = rng.randrange(50, 150)
        t.ingest_dataframe(_batch(spark, next_key, next_key + n))
        next_key += n

    ingest()
    ops = ["ingest", "update", "delete", "compact", "optimize", "drop"]
    dropped: set[str] = set()
    for _ in range(12):
        op = rng.choice(ops)
        if op == "ingest":
            ingest()
        elif op == "update":
            ks = rng.sample(range(next_key), min(5, next_key))
            t.bulk_update(
                spark.createDataFrame(
                    [Row(k=k, v=rng.uniform(-1e6, 1e6)) for k in ks],
                    "k long, v double",
                )
            )
        elif op == "delete":
            ks = rng.sample(range(next_key), min(4, next_key))
            t.bulk_delete(
                spark.createDataFrame([Row(k=k) for k in ks], "k long")
            )
        elif op == "compact":
            t.compact()
        elif op == "optimize":
            t.optimize_files(target_bytes=1 << 20)
        elif op == "drop":
            g = f"g{rng.randrange(3)}"
            if g in dropped:
                continue
            try:
                t.drop_partition("p", g)
                dropped.add(g)
            except ValueError:
                pass  # un-folded tombstones: the documented refusal
    view = t.current_view()
    truth_n = view.count()
    truth = view.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).first()
    assert t.fast_count().first()["cnt"] == truth_n
    got = t.fast_min_max("v").first()
    assert (got["mn"], got["mx"]) == (truth["mn"], truth["mx"])
    lo, hi = -30.0, 60.0
    want = sorted(
        (r["k"], r["v"])
        for r in view.where((F.col("v") >= lo) & (F.col("v") <= hi)).collect()
    )
    got_b = sorted(
        (r["k"], r["v"]) for r in t.scan_with_bounds("v", lo, hi).collect()
    )
    assert got_b == want


def test_update_then_drop_cannot_poison_fast_min_max(spark, tmp_db):
    """Regression (r10 ADVICE, high): a post-TPS UPDATE delta whose
    rid lands in a dropped partition must not surface as a live
    extreme in fast_min_max. drop_partition now refuses on ANY
    un-folded delta in the dropped rid ranges (not just tombstones);
    after compact() the drop proceeds and the metadata plane stays
    exact."""
    t = tmp_db.create_table_typed("upd_drop", _schema(), "k", partition_by=["p"])
    t.ingest_dataframe(_batch(spark, 0, 20))
    # k=1 lives in g1; plant an extreme update there
    t.bulk_update(
        spark.createDataFrame([Row(k=1, v=1e9)], "k long, v double")
    )
    with pytest.raises(ValueError, match="deltas"):
        t.drop_partition("p", "g1")
    t.compact()
    t.drop_partition("p", "g1")
    truth = (
        t.current_view().agg(F.min("v").alias("mn"), F.max("v").alias("mx")).first()
    )
    got = t.fast_min_max("v").first()
    assert (got["mn"], got["mx"]) == (truth["mn"], truth["mx"])
    assert got["mx"] != 1e9  # the dangling extreme must be gone
    assert t.fast_count().first()["cnt"] == t.current_view().count()


@pytest.mark.parametrize("seed", [11, 37, 53, 89])
def test_travel_plane_exact_or_refuse(spark, tmp_db, seed):
    """Travel-plane property (the catch-#9 class): after a random op
    interleaving including compact / vacuum_tail / optimize /
    drop_partition, every captured commit index must EITHER replay to
    exactly the rows the view held at capture time OR raise the clean
    retention ValueError — never a silently different answer. Refs
    must always answer exactly (hardlinks make them vacuum-proof)."""
    rng = random.Random(seed)
    t = tmp_db.create_table_typed(f"tp_{seed}", _schema(), "k", partition_by=["p"])
    next_key = 0

    def ingest():
        nonlocal next_key
        n = rng.randrange(50, 120)
        t.ingest_dataframe(_batch(spark, next_key, next_key + n))
        next_key += n

    def rows_now():
        return sorted(
            (r["k"], r["v"]) for r in t.current_view().select("k", "v").collect()
        )

    ingest()
    captured = []  # (commit_idx, rows)
    ref_truth = {}
    dropped: set[str] = set()
    ops = ["ingest", "update", "delete", "compact", "vacuum", "optimize",
           "drop", "capture", "ref"]
    for step in range(16):
        op = rng.choice(ops)
        if op == "ingest":
            ingest()
        elif op == "update":
            ks = rng.sample(range(next_key), min(4, next_key))
            t.bulk_update(
                spark.createDataFrame(
                    [Row(k=k, v=rng.uniform(-100, 100)) for k in ks],
                    "k long, v double",
                )
            )
        elif op == "delete":
            ks = rng.sample(range(next_key), min(3, next_key))
            t.bulk_delete(spark.createDataFrame([Row(k=k) for k in ks], "k long"))
        elif op == "compact":
            t.compact()
        elif op == "vacuum":
            t.vacuum_tail()
        elif op == "optimize":
            t.optimize_files(target_bytes=1 << 20)
        elif op == "drop":
            g = f"g{rng.randrange(3)}"
            if g not in dropped:
                try:
                    t.drop_partition("p", g)
                    dropped.add(g)
                except ValueError:
                    pass
        elif op == "capture":
            t.flush()
            rng_now = t.filelog.replayable_range()
            if rng_now:
                captured.append((rng_now[1], rows_now()))
                # live and historical reads agree through the one
                # table-state reader: travel to the head commit is the
                # current view, and version 0 of the raw history folds
                # to the same rows
                assert sorted(t.snapshot_at_commit(rng_now[1]).collect()) == sorted(
                    t.current_view().collect()
                ), f"seed {seed}: head commit travel diverged from the view"
                user = t.user_cols
                assert sorted(
                    t.version_view(0, include_meta=True).select(user).collect()
                ) == sorted(
                    t.current_view(include_meta=True).select(user).collect()
                ), f"seed {seed}: version 0 diverged from the view"
        elif op == "ref":
            name = f"r{step}"
            try:
                t.create_ref(name)
            except ValueError:
                continue
            ref_truth[name] = rows_now()
    for idx, want in captured:
        try:
            got = sorted(
                (r["k"], r["v"])
                for r in t.snapshot_at_commit(idx).select("k", "v").collect()
            )
        except ValueError:
            continue  # clean retention refusal is allowed
        assert got == want, f"seed {seed}: commit {idx} silently diverged"
    for name, want in ref_truth.items():
        got = sorted(
            (r["k"], r["v"])
            for r in t.snapshot_at_ref(name).select("k", "v").collect()
        )
        assert got == want, f"seed {seed}: ref {name} diverged"
