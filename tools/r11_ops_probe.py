"""Scale probes for the round-11 operators at sf10 (500k docs / 200k
vectors): measure the pruned path against its naive twin, the
evidence discipline of the metadata-plane probes whose results
SCALING.md records.

- trigram substring search: index-pruned verify (candidate IN-list)
  vs the naive full-corpus contains() scan; reports candidate count
  vs corpus size.
- filtered ANN (durable index): histogram-probe path (partition-
  pruned lists + pushed equality) vs brute filtered scan over the
  whole index.

Usage: python tools/r11_ops_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _t(fn, n=3):
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata", "sf10",
    )
    import tempfile

    from pyspark.sql import functions as F

    from lineage_store_database_management_system_spark import get_spark
    from lineage_store_database_management_system_spark.operators import (
        similarity,
        textsearch,
    )

    spark = get_spark(app_name="r11-probe", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}

    # ---------------- trigram search ----------------
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    idx = tempfile.mkdtemp(prefix="r11_trgm_")
    t0 = time.time()
    textsearch.write_trigram_index(docs, idx)
    build_s = round(time.time() - t0, 3)
    postings, stats = textsearch.open_trigram_index(spark, idx)
    nd = textsearch.trigram_index_ndocs(idx)

    def _index_search(pattern):
        got, info = textsearch.substring_search(
            docs, pattern, postings=postings, stats=stats, n_docs=nd
        )
        return got.count(), info

    def _naive(pattern):
        return docs.where(F.col("text").contains(pattern)).count()

    out["trigram"] = {"docs": n_docs, "index_build_s": build_s}
    for label, pattern in [
        ("selective", "sort table window"),
        ("unselective", "customer query"),
    ]:
        n_match, info = _index_search(pattern)
        out["trigram"][label] = {
            "pattern": pattern,
            "matches": n_match,
            "strategy": info["strategy"],
            "search_s": _t(lambda: _index_search(pattern)[0]),
            "naive_scan_s": _t(lambda: _naive(pattern)),
        }

    # gram-diverse corpus: the driver testdata draws from ~30 words,
    # so EVERY trigram is corpus-common and the planner (correctly)
    # refuses the index on it. Real corpora have diverse grams; this
    # case plants one (hex tokens per doc) with a 0.02%-selective
    # needle to show the index path pruning when grams CAN prune.
    div = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.md5(F.col("doc_id").cast("string")), F.lit(" "),
            F.when(F.col("doc_id") % 5000 == 17, F.lit("xq7zkneedle"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    didx = tempfile.mkdtemp(prefix="r11_trgm_div_")
    textsearch.write_trigram_index(div, didx)
    dpost, dstats = textsearch.open_trigram_index(spark, didx)
    dn = textsearch.trigram_index_ndocs(didx)

    def _div_index():
        got, info = textsearch.substring_search(
            div, "xq7zkneedle", postings=dpost, stats=dstats, n_docs=dn
        )
        return got.count(), info

    n_needle, dinfo = _div_index()
    out["trigram"]["diverse_needle"] = {
        "matches": n_needle,
        "strategy": dinfo["strategy"],
        "n_candidates": dinfo.get("n_candidates"),
        "corpus_rows_avoided": n_docs - max(dinfo.get("n_candidates", 0), 0),
        "search_s": _t(lambda: _div_index()[0]),
        "naive_scan_s": _t(
            lambda: div.where(F.col("text").contains("xq7zkneedle")).count()
        ),
    }

    # ---------------- filtered ANN ----------------
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_vec = emb.count()
    aidx = tempfile.mkdtemp(prefix="r11_fann_") + "/idx"
    t0 = time.time()
    similarity.ivf_pq_write_index(
        emb, aidx, n_lists=16, m=8, nbits=4, filter_cols=["label"]
    )
    ann_build_s = round(time.time() - t0, 3)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]

    def _probe():
        got, info = similarity.ivf_pq_filtered_topk_from_index(
            spark, aidx, q, "label", 2, k=20, brute_threshold=128,
            min_candidates=160, round_to=3,
        )
        return got.count(), info

    def _brute():
        return similarity.filtered_topk(
            spark.read.parquet(aidx), q, "label = 2", k=20, round_to=3
        ).count()

    _, info = _probe()
    out["filtered_ann"] = {
        "vectors": n_vec,
        "matches_total": info["total_matches"],
        "strategy": info["strategy"],
        "probes": len(info["probes"]),
        "index_build_s": ann_build_s,
        "probe_search_s": _t(lambda: _probe()[0]),
        "brute_filtered_s": _t(_brute),
    }

    import json

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
