"""Range-predicate filtered ANN (round 12, VERDICT r11 #6): per-list
exact min/max + frozen-edge bucket estimates in the durable index
sidecar, so `col BETWEEN lo AND hi` plans with zero data jobs, prunes
provably-miss lists, and stays exact on the prefilter branch."""

import datetime

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import similarity


def _timed_blobs(spark, n=600, id_base=0):
    """3 well-separated blobs; created_ts CORRELATES with the blob
    (cluster 0 -> day 1, cluster 1 -> day 2, cluster 2 -> day 3), the
    shape real corpora have (content drifts over time)."""
    return spark.range(n).select(
        (F.col("id") + id_base).alias("vec_id"),
        F.array(
            (
                F.when(F.col("id") % 3 == 0, -10.0)
                .when(F.col("id") % 3 == 1, 0.0)
                .otherwise(10.0)
                + F.sin((F.col("id") + 1) * 0.37)
            ).cast("float"),
            F.sin((F.col("id") + 1) * 0.53).cast("float"),
            F.sin((F.col("id") + 1) * 0.71).cast("float"),
            F.sin((F.col("id") + 1) * 0.97).cast("float"),
        ).alias("embedding"),
        F.to_timestamp(
            F.concat(
                F.lit("2026-01-0"),
                ((F.col("id") % 3) + 1).cast("string"),
                F.lit(" 12:"),
                F.lpad((F.col("id") % 60).cast("string"), 2, "0"),
                F.lit(":00"),
            )
        ).alias("created_ts"),
        (F.col("id").cast("double") / 10.0).alias("score"),
    )


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_range_stats_extents_exact(spark):
    df = _timed_blobs(spark)
    cents = similarity.ivf_centroids(df, n_lists=3, sample_n=256)
    assigned = similarity.ivf_assign(df, cents)
    st = similarity.ivf_range_stats(assigned, "score")
    truth = {
        str(r["_list"]): (r["mn"], r["mx"], r["n"])
        for r in assigned.groupBy("_list")
        .agg(F.min("score").alias("mn"), F.max("score").alias("mx"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(st["lists"]) == set(truth)
    for li, (mn, mx, n) in truth.items():
        d = st["lists"][li]
        assert d["min"] == mn and d["max"] == mx and d["n"] == n
        assert sum(d["buckets"].values()) == n


def test_prefilter_exact_and_prunes_lists(spark, tmp_path):
    idx = str(tmp_path / "ridx")
    df = _timed_blobs(spark)
    similarity.ivf_pq_write_index(
        df, idx, n_lists=3, m=4, nbits=4, range_cols=["score", "created_ts"])
    q = [10.0, 0.0, 0.0, 0.0]
    # score in [5, 8): 30 rows -> prefilter, exact vs the brute path
    got, info = similarity.ivf_pq_range_filtered_topk_from_index(
        spark, idx, q, "score", 5.0, 8.0, k=10, round_to=4)
    assert info["strategy"] == "prefilter"
    exact = similarity.filtered_topk(
        df, q, (F.col("score") >= 5.0) & (F.col("score") <= 8.0),
        k=10, round_to=4)
    assert _ids(got) == _ids(exact)


def test_timestamp_range_prunes_to_matching_cluster(spark, tmp_path):
    idx = str(tmp_path / "ridx_ts")
    df = _timed_blobs(spark)
    similarity.ivf_pq_write_index(
        df, idx, n_lists=3, m=4, nbits=4, range_cols=["created_ts"])
    # day 2 only -> exactly the x=0 blob's list; both other lists
    # provably out of extent
    lo = datetime.datetime(2026, 1, 2, 0, 0, 0)
    hi = datetime.datetime(2026, 1, 2, 23, 59, 59)
    q = [0.3, 0.1, 0.1, 0.1]
    got, info = similarity.ivf_pq_range_filtered_topk_from_index(
        spark, idx, q, "created_ts", lo, hi, k=10,
        brute_threshold=0, round_to=4)
    assert info["lists_pruned"] == 2, info
    assert info["strategy"] == "probe" and len(info["probes"]) == 1
    exact = similarity.filtered_topk(
        df, q, F.col("created_ts").between(F.lit(lo), F.lit(hi)),
        k=10, round_to=4)
    assert _ids(got) == _ids(exact)


def test_empty_range_returns_empty_without_scan(spark, tmp_path):
    idx = str(tmp_path / "ridx_e")
    similarity.ivf_pq_write_index(
        _timed_blobs(spark), idx, n_lists=3, m=4, nbits=4,
        range_cols=["score"])
    got, info = similarity.ivf_pq_range_filtered_topk_from_index(
        spark, idx, [0.0, 0.0, 0.0, 0.0], "score", 1000.0, 2000.0, k=5)
    assert info["lists_pruned"] == 3 and got.count() == 0


def test_append_keeps_extents_exact_and_estimates_additive(spark, tmp_path):
    idx = str(tmp_path / "ridx_a")
    similarity.ivf_pq_write_index(
        _timed_blobs(spark, 300), idx, n_lists=3, m=4, nbits=4,
        range_cols=["score"])
    m0 = similarity.IVF_PQ.read_meta(idx)["range_stats"]["score"]
    # appended batch extends score PAST the frozen global extent
    appended = _timed_blobs(spark, 300, id_base=1000).withColumn(
        "score", F.col("score") + 100.0)
    similarity.ivf_pq_append_index(appended, idx)
    m1 = similarity.IVF_PQ.read_meta(idx)["range_stats"]["score"]
    assert m1["lo"] == m0["lo"] and m1["hi"] == m0["hi"]  # edges frozen
    total = sum(d["n"] for d in m1["lists"].values())
    assert total == 600
    hi_seen = max(d["max"] for d in m1["lists"].values())
    assert hi_seen == 129.9  # exact per-list max tracked past the edge
    # out-of-extent range still answers exactly (prefilter on exact extents)
    df_all = _timed_blobs(spark, 300).unionByName(appended)
    q = [10.0, 0.0, 0.0, 0.0]
    got, info = similarity.ivf_pq_range_filtered_topk_from_index(
        spark, idx, q, "score", 100.0, 130.0, k=10, round_to=4)
    assert info["strategy"] == "prefilter"
    exact = similarity.filtered_topk(
        df_all, q, (F.col("score") >= 100.0) & (F.col("score") <= 130.0),
        k=10, round_to=4)
    assert _ids(got) == _ids(exact)


def test_missing_range_stats_raises_with_remedy(spark, tmp_path):
    import pytest

    idx = str(tmp_path / "ridx_m")
    similarity.ivf_pq_write_index(
        _timed_blobs(spark, 120), idx, n_lists=2, m=4, nbits=4)
    with pytest.raises(ValueError, match="range_cols"):
        similarity.ivf_pq_range_filtered_topk_from_index(
            spark, idx, [0.0, 0.0, 0.0, 0.0], "score", 0.0, 1.0)


def test_rebuild_preserves_range_stats(spark, tmp_path):
    idx = str(tmp_path / "ridx_r")
    similarity.ivf_pq_write_index(
        _timed_blobs(spark, 300), idx, n_lists=2, m=4, nbits=4,
        range_cols=["score"])
    rep = similarity.ivf_pq_maintain_index(spark, idx, skew_factor=0.0)
    assert rep["rebuilt"]
    m = similarity.IVF_PQ.read_meta(idx)
    assert "score" in (m.get("range_stats") or {})


# --- composite (categorical AND range) ------------------------------

def test_composite_prefilter_exact(spark, tmp_path):
    idx = str(tmp_path / "cidx")
    df = _timed_blobs(spark).withColumn(
        "label", (F.col("vec_id") % 4).cast("int"))
    similarity.ivf_pq_write_index(
        df, idx, n_lists=3, m=4, nbits=4,
        filter_cols=["label"], range_cols=["score"])
    q = [10.0, 0.0, 0.0, 0.0]
    # per-list min(label-count, range-est) bounds sum to ~150 (each
    # sidecar's per-list bound is ~50/~67 on independent filters), so
    # the 200 threshold takes the prefilter branch
    got, info = similarity.ivf_pq_composite_filtered_topk_from_index(
        spark, idx, q, "label", 2, "score", 10.0, 30.0, k=10,
        brute_threshold=200, round_to=4)
    assert info["strategy"] == "prefilter"
    exact = similarity.filtered_topk(
        df, q,
        (F.col("label") == 2) & (F.col("score") >= 10.0)
        & (F.col("score") <= 30.0),
        k=10, round_to=4)
    assert _ids(got) == _ids(exact)
    # estimates: min of the two sidecars' bounds, never above either
    assert info["est_matches"] <= 600


def test_composite_either_sidecar_prunes(spark, tmp_path):
    idx = str(tmp_path / "cidx2")
    # label correlates with the cluster (vec_id % 3 == blob) so the
    # categorical histogram empties two lists; score slab empties a
    # different subset -- the intersection must honor both
    df = _timed_blobs(spark).withColumn(
        "label", (F.col("vec_id") % 3).cast("int"))
    similarity.ivf_pq_write_index(
        df, idx, n_lists=3, m=4, nbits=4,
        filter_cols=["label"], range_cols=["score"])
    q = [0.3, 0.1, 0.1, 0.1]
    # label 1 lives only in the x=0 blob's list -> 2 lists pruned by
    # the categorical sidecar alone even though the range covers all
    got, info = similarity.ivf_pq_composite_filtered_topk_from_index(
        spark, idx, q, "label", 1, "score", 0.0, 60.0, k=10,
        brute_threshold=0, round_to=4)
    assert info["lists_pruned"] == 2, info
    exact = similarity.filtered_topk(
        df, q,
        (F.col("label") == 1) & (F.col("score") >= 0.0)
        & (F.col("score") <= 60.0),
        k=10, round_to=4)
    assert _ids(got) == _ids(exact)
    # impossible conjunction (label exists, range empty) -> no scan
    got2, info2 = similarity.ivf_pq_composite_filtered_topk_from_index(
        spark, idx, q, "label", 1, "score", 500.0, 600.0, k=10)
    assert info2["lists_pruned"] == 3 and got2.count() == 0


def test_composite_missing_sidecars_raise(spark, tmp_path):
    import pytest

    idx = str(tmp_path / "cidx3")
    df = _timed_blobs(spark, 120).withColumn(
        "label", (F.col("vec_id") % 4).cast("int"))
    similarity.ivf_pq_write_index(
        df, idx, n_lists=2, m=4, nbits=4, filter_cols=["label"])
    with pytest.raises(ValueError, match="range_cols"):
        similarity.ivf_pq_composite_filtered_topk_from_index(
            spark, idx, [0.1, 0.0, 0.0, 0.0], "label", 1, "score", 0.0, 1.0)
    with pytest.raises(ValueError, match="filter_cols"):
        similarity.ivf_pq_composite_filtered_topk_from_index(
            spark, idx, [0.1, 0.0, 0.0, 0.0], "lang", "en", "score", 0.0, 1.0)


def test_repair_heals_torn_range_stats_too(spark, tmp_path):
    import os

    idx = str(tmp_path / "ridx_torn")
    similarity.ivf_pq_write_index(
        _timed_blobs(spark, 300), idx, n_lists=3, m=4, nbits=4,
        range_cols=["score"])
    meta_path = os.path.join(idx, "_ann_meta.json")
    with open(meta_path) as f:
        pre = f.read()
    appended = _timed_blobs(spark, 150, id_base=1000).withColumn(
        "score", F.col("score") + 50.0)
    similarity.ivf_pq_append_index(appended, idx)
    # marker advances on a range-only index too (no filter_hist)
    assert similarity.IVF_PQ.read_meta(idx)["hist_rows"] == 450
    with open(meta_path, "w") as f:
        f.write(pre)  # crash window: data landed, sidecar did not
    rep = similarity.ivf_filter_histogram_repair(spark, idx)
    assert rep["repaired"] is True and rep["checked"] == 450
    m = similarity.IVF_PQ.read_meta(idx)
    assert m["hist_rows"] == 450
    total = sum(d["n"] for d in m["range_stats"]["score"]["lists"].values())
    assert total == 450
    hi = max(d["max"] for d in m["range_stats"]["score"]["lists"].values())
    assert hi == 64.9  # 14.9 + 50 from the appended batch
