"""Database maintenance runner — the between-ingest-waves cron job.

Opens a database path and runs one ``Database.maintain()`` pass
(flush -> threshold compaction -> index staleness catch-up ->
snapshot retention -> stale-MV refresh), printing the per-table
report as one JSON line.

Durable operator-layer indexes live OUTSIDE the database directory,
so they are maintained by flag (``--bm25-index``, ``--trigram-index``,
``--ann-index``, each repeatable) through the shared index lifecycle
(``operators/_idxmeta.py``): for every index, the marker-vs-footer
sidecar repair first (heals a torn append/delete/stream batch and an
interrupted compaction swap, so the trigger reads honest counters),
then the tombstone-fraction compaction (a zero-job sidecar check
below threshold). The repair also re-aggregates an ANN index's
filter/range histograms on any marker mismatch (their ``hist_rows``
marker is published in the same sidecar write as the row markers), so
ANN indexes add one step of their own: an ``ivf_pq_maintain_index``
drift pass with the MEASURED recall probe ON by default
(``--ann-recall-probe``, default 8 sampled queries — the cheap
skew/err statistics can be blind to boundary drift, so the trigger of
last resort runs on the maintenance cadence).

Usage: python tools/maintain.py /path/to/db [--retain N] [--stale N]
           [--ann-index DIR ...] [--ann-recall-probe N]
           [--trigram-index DIR ...] [--bm25-index DIR ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("db_path")
    ap.add_argument("--retain", type=int, default=1, help="snapshot versions to keep")
    ap.add_argument(
        "--stale", type=int, default=10_000, help="index staleness threshold (deltas)"
    )
    ap.add_argument(
        "--ann-index", action="append", default=[],
        help="durable ANN index dir to maintain (repeatable)",
    )
    ap.add_argument(
        "--ann-recall-probe", type=int, default=8,
        help="sampled queries for the measured recall trigger (0 disables)",
    )
    ap.add_argument(
        "--ann-recall-floor", type=float, default=0.5,
        help="recall@k below this flags the index stale",
    )
    ap.add_argument(
        "--ann-recall-nprobe", type=int, default=4,
        help="nprobe the recall probe measures at (match production queries)",
    )
    ap.add_argument(
        "--trigram-index", action="append", default=[],
        help="trigram index dir to compact past its tombstone fraction (repeatable)",
    )
    ap.add_argument(
        "--bm25-index", action="append", default=[],
        help="BM25 index dir to compact past its tombstone fraction (repeatable)",
    )
    args = ap.parse_args()

    from lineage_store_database_management_system_spark import Database, get_spark

    spark = get_spark(app_name="maintain", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    db = Database().open(args.db_path, spark)
    report = db.maintain(snapshot_retain=args.retain, max_stale_deltas=args.stale)
    db.close()
    from lineage_store_database_management_system_spark.operators import (
        similarity,
        textsearch,
    )

    for name, fam, dirs in (
        ("bm25", textsearch.BM25, args.bm25_index),
        ("trigram", textsearch.TRIGRAM, args.trigram_index),
        ("ann", similarity.IVF_PQ, args.ann_index),
    ):
        for d in dirs:
            r = {"sidecar": fam.repair(spark, d)}
            if r["sidecar"]["repaired"]:
                print(f"maintain: repaired {name} sidecar {d}", file=sys.stderr)
            r["compaction"] = fam.compact(spark, d)
            if fam is similarity.IVF_PQ:
                r.update(
                    similarity.ivf_pq_maintain_index(
                        spark, d,
                        recall_probe=args.ann_recall_probe,
                        recall_floor=args.ann_recall_floor,
                        recall_nprobe=args.ann_recall_nprobe,
                    )
                )
            report.setdefault(f"_{name}_indexes", {})[d] = r
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
