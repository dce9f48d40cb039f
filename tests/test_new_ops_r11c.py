"""Round-11 third batch: filtered search on the durable ANN index
(sidecar histograms maintained across appends and rebuilds) and
exactly-once streaming ingest with expectations quarantine."""

import os

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import similarity
from lineage_store_database_management_system_spark.streaming import (
    stream_ingest_with_expectations,
)


def _labeled(spark, n=400, id_base=0, x_off=0.0):
    return spark.range(n).select(
        (F.col("id") + id_base).alias("vec_id"),
        F.array(
            (F.lit(x_off)
             + F.when(F.col("id") % 2 == 0, 6.0).otherwise(-6.0)
             + F.sin((F.col("id") + 1) * 0.37)).cast("float"),
            F.sin((F.col("id") + 1) * 0.53).cast("float"),
            F.sin((F.col("id") + 1) * 0.71).cast("float"),
            F.sin((F.col("id") + 1) * 0.97).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 5).cast("int").alias("label"),
    )


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_durable_filtered_prefilter_and_probe(spark, tmp_path):
    idx = str(tmp_path / "fidx")
    df = _labeled(spark)
    similarity.ivf_pq_write_index(df, idx, n_lists=4, m=4, nbits=4,
                                  filter_cols=["label"])
    q = [6.0, 0.0, 0.0, 0.0]
    # label 3: 80 rows -> prefilter under threshold 128; exact
    got, info = similarity.ivf_pq_filtered_topk_from_index(
        spark, idx, q, "label", 3, k=10, brute_threshold=128, round_to=4)
    assert info["strategy"] == "prefilter" and info["total_matches"] == 80
    exact = similarity.filtered_topk(df, q, "label = 3", k=10, round_to=4)
    assert _ids(got) == _ids(exact)
    # forced probe: escalates until histogram coverage, exact when
    # the probe set covers every matching list
    got2, info2 = similarity.ivf_pq_filtered_topk_from_index(
        spark, idx, q, "label", 3, k=10, brute_threshold=0,
        min_candidates=80, round_to=4)
    assert info2["strategy"] == "probe"
    assert info2["candidates_available"] >= 80
    assert _ids(got2) == _ids(exact)


def test_append_keeps_histogram_current(spark, tmp_path):
    idx = str(tmp_path / "fidx2")
    similarity.ivf_pq_write_index(
        _labeled(spark, 300), idx, n_lists=4, m=4, nbits=4,
        filter_cols=["label"])
    m0 = similarity.IVF_PQ.read_meta(idx)
    t0 = sum(n for v, li, n in m0["filter_hist"]["label"] if v == 2)
    similarity.ivf_pq_append_index(_labeled(spark, 200, id_base=1000), idx)
    m1 = similarity.IVF_PQ.read_meta(idx)
    t1 = sum(n for v, li, n in m1["filter_hist"]["label"] if v == 2)
    assert t0 == 60 and t1 == 100  # ids%5==2: 60 of 300, +40 of 200
    # and the filtered search sees appended matches
    got, info = similarity.ivf_pq_filtered_topk_from_index(
        spark, idx, [6.0, 0.0, 0.0, 0.0], "label", 2, k=5,
        brute_threshold=1000, round_to=4)
    assert info["total_matches"] == 100


def test_rebuild_preserves_filter_columns(spark, tmp_path):
    idx = str(tmp_path / "fidx3")
    similarity.ivf_pq_write_index(
        _labeled(spark, 300), idx, n_lists=2, m=4, nbits=4,
        filter_cols=["label"])
    # displaced append -> stale -> rebuild; filter support must survive
    similarity.ivf_pq_append_index(
        _labeled(spark, 300, id_base=1000, x_off=40.0), idx)
    rep = similarity.ivf_pq_maintain_index(spark, idx)
    assert rep["rebuilt"]
    m = similarity.IVF_PQ.read_meta(idx)
    assert "label" in m["filter_hist"]
    total = sum(n for v, li, n in m["filter_hist"]["label"] if v == 1)
    assert total == 120  # 60 + 60 across both batches
    got, info = similarity.ivf_pq_filtered_topk_from_index(
        spark, idx, [46.0, 0.0, 0.0, 0.0], "label", 1, k=5,
        brute_threshold=0, min_candidates=60, round_to=4)
    assert len(_ids(got)) == 5


def test_stream_expectations_quarantine(spark, tmp_db, tmp_path):
    src = spark.range(120).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("price"),
        F.when(F.col("id") % 30 == 7, -4).otherwise(2).alias("qty"),
    )
    t = tmp_db.create_table_typed("st_q", src.schema, "k")
    src_dir = str(tmp_path / "src")
    src.repartition(4).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    totals = stream_ingest_with_expectations(
        stream, t, {"qty_pos": "qty > 0"})
    assert totals["rows"] == 120 and totals["rows_bad"] == 4
    assert t.current_view().count() == 116
    quar = spark.read.parquet(os.path.join(totals["quarantine_dir"], "batch_*"))
    assert sorted(r["k"] for r in quar.collect()) == [7, 37, 67, 97]
    assert t.current_view().where("qty < 0").count() == 0


def test_stream_expectations_replay_is_idempotent(spark, tmp_db, tmp_path):
    """The crash window foreachBatch leaves open (table committed,
    checkpoint not) replays the micro-batch on restart: the manifest
    marker must skip the re-ingest and the per-batch overwrite must
    rewrite identical quarantine content — both sides exactly-once."""
    from lineage_store_database_management_system_spark.operators import (
        expectations as X,
    )
    from lineage_store_database_management_system_spark.streaming.stream_ops import (
        _ingest_exactly_once,
    )

    src = spark.range(40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 20 == 3, -1).otherwise(2).alias("qty"),
    )
    t = tmp_db.create_table_typed("st_rq", src.schema, "k")
    rules = {"qty_pos": "qty > 0"}
    good, bad, m = X.apply_expectations(src, rules)
    qdir = os.path.join(t.path, "_quarantine", "batch_0")
    # first apply (batch 0)
    bad.write.mode("overwrite").parquet(qdir)
    assert _ingest_exactly_once(t, "s1", good, 0) is True
    n_table = t.current_view().count()
    n_quar = spark.read.parquet(qdir).count()
    # replay of batch 0 (same content): overwrite rewrites identical
    # quarantine; the marker skips the table re-ingest
    bad.write.mode("overwrite").parquet(qdir)
    assert _ingest_exactly_once(t, "s1", good, 0) is False
    assert t.current_view().count() == n_table == 38
    assert spark.read.parquet(qdir).count() == n_quar == 2
