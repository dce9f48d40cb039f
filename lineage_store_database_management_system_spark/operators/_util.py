"""Shared operator utilities."""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame


def _default_parallelism(df: DataFrame) -> int:
    """Executor-count target without touching the RDD API (Spark
    Connect has no ``sparkContext``): classic sessions answer from the
    context, Connect sessions fall back to the shuffle-partition
    setting, which the session pins to the core count anyway."""
    try:
        return df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def spread(
    df: DataFrame, min_parts: int | None = None, by: str | None = None
) -> DataFrame:
    """Round-robin repartition a frame whose scan partitioning is too
    coarse for a compute-heavy per-row stage (e.g. one small Parquet
    file = one partition = one core doing all the shingling).

    No-op when the input scan already has enough splits — so at real
    scale (thousands of input files) this costs nothing, while in
    small-file corners it unlocks the full executor count. The shuffle
    it introduces moves exactly the columns the downstream op needs,
    once, and is strictly cheaper than serializing the whole stage on
    one core.
    """
    # Callers are compute-heavy per-ROW stages (shingling, hashing,
    # Pandas-UDF kernels), so the right target is the executor count,
    # not input bytes: a 500 KB / 5k-doc corpus still deserves all
    # cores when each row costs ~100 µs of CPU. (A bytes-derived
    # target was tried in round 2 and collapsed small-but-hot corpora
    # to one partition — a 3x headline regression.) The width probe is
    # plan-level (inputFiles), never df.rdd — the RDD probe forced a
    # plan materialization per call and breaks under Spark Connect; a
    # derived frame with no file scan (empty list) just repartitions,
    # which is correctness-neutral and exactly the small-corner case
    # the helper exists for.
    target = min_parts or _default_parallelism(df)
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits >= target:
        return df
    if by is not None:
        # Hash-partition on the downstream aggregation key instead of
        # round-robin: when the very next wide operation groups by
        # ``by``, the exchange this introduces ALREADY satisfies the
        # aggregate's required distribution, so Catalyst elides the
        # aggregate's own exchange — one shuffle instead of two. It
        # also skips round-robin's local sort-before-repartition
        # (needed only for retry-deterministic keyless placement;
        # hash placement on a real column is deterministic by value).
        # Distribution quality matches round-robin for any key with
        # many distinct values per partition (doc ids).
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(by))
    return df.repartition(target)


# One slot per (application, operator-purpose): plan-scoped persists
# are bounded by the number of distinct operator slots per session,
# not by how many times an operator is invoked — see
# plan_scoped_persist. The lock makes each slot's swap (pop, unpersist,
# persist, store) atomic: two threads racing one slot would otherwise
# both pop nothing, both persist, and leak the frame stored first.
# Slots of any other (stopped or replaced) application are swept on
# every swap, so a restarted session does not pin dead frames.
_PLAN_PERSIST_SLOTS: dict[tuple, DataFrame] = {}
_PLAN_PERSIST_LOCK = threading.Lock()


def plan_scoped_persist(
    df: DataFrame, slot: str, eager: bool = False
) -> DataFrame:
    """Persist a frame that feeds several branches of ONE returned
    plan (Spark shares no subtrees across branches — without the
    persist the expensive upstream computation runs once per branch).

    Unlike a bare ``.persist()``, the cache is BOUNDED: each operator
    slot holds the persist of its latest invocation only, and the
    previous invocation's frame is unpersisted first — a long-lived
    session calling the operator in a loop holds O(#slots) cached
    plans, not O(#calls). Unpersisting before persisting also keeps
    repeated identical invocations honest: CacheManager keys entries
    on the canonicalized plan, so persist-new-then-unpersist-old on
    two semantically equal frames would drop the one shared entry and
    leave the new frame uncached; the drop-first order never shares
    state between invocations. Correctness is persistence-independent
    throughout: a caller still holding the PREVIOUS invocation's plan
    simply recomputes.

    ``eager`` forces a count so the cache is MATERIALIZED before the
    consuming plan is optimized. That matters whenever the frame is a
    JOIN INPUT whose strategy the planner sizes from the cache: an
    unmaterialized InMemoryRelation falls back to its child's
    estimate (explode chains estimate huge), flipping a broadcast
    self-join to a sort-merge join — measured on the minhash sketch
    as 4x task CPU and 200x shuffle bytes. Frames consumed only by
    explicitly-hinted joins / aggregates skip the extra job.
    """
    try:
        # key by application so a restarted session's slots don't
        # alias the stopped one's; every swap sweeps the slots of
        # other (stopped) applications — sessions of one process share
        # one SparkContext, hence one applicationId. Without a known
        # applicationId (the "" fallback) nothing else is swept.
        key = (df.sparkSession.sparkContext.applicationId, slot)
    except Exception:
        key = ("", slot)
    with _PLAN_PERSIST_LOCK:
        for k in [
            k for k in _PLAN_PERSIST_SLOTS
            if k == key or (key[0] and k[0] != key[0])
        ]:
            try:
                _PLAN_PERSIST_SLOTS.pop(k).unpersist(blocking=False)
            except Exception:
                pass
        df = df.persist()
        _PLAN_PERSIST_SLOTS[key] = df
    if eager:
        df.count()
    return df


def tree_fold_partials(
    partials: DataFrame,
    col: str,
    combine: Callable,
    groups: int = 16,
) -> list[bytes]:
    """Executor-side fold of a one-row-per-partition binary-partials
    frame (the output shape of a ``mapInPandas`` partial-sketch pass)
    into at most ``groups`` rows BEFORE the driver collect — the
    two-level fold that keeps sketch builds scale-safe: a 100 TB input
    has ~1e5 splits, and collecting one ~1 MiB partial per split would
    push ~100 GiB through the driver, while this caps the driver's
    intake at ``groups`` rows regardless of input partition count.

    ``combine(acc, value) -> acc`` merges one partial into the running
    accumulator (``acc`` is None for the first; return a numpy array
    or bytes). Runs as ONE extra Arrow-batched stage shuffling only
    the partials themselves (#partitions x partial bytes, round-robin
    into ``groups`` tasks), never touching the input data again.
    Returns the <= ``groups`` merged blobs for the final driver fold.
    """
    import pandas as pd

    def _merge(batches):
        acc = None
        for pdf in batches:
            for b in pdf[col]:
                acc = combine(acc, b)
        if acc is not None:
            out = acc.tobytes() if hasattr(acc, "tobytes") else acc
            yield pd.DataFrame({col: [out]})

    merged = partials.repartition(groups).mapInPandas(_merge, f"{col} binary")
    return [r[col] for r in merged.collect()]
