"""Round-12 ADVICE regressions:

1. fast_approx_distinct must honor the PER-ROW k stored in the KMV
   sidecar — a sketch built with a smaller k than the query's k is
   truncated at ITS k, so the estimator must run at the effective
   (smallest truncated) k instead of silently reporting the tiny
   merged set as exact.
2. ingest_with_expectations retry-idempotency: an aborted ingest
   leaves no quarantine rows; a batch_id replay overwrites instead
   of appending.
3. ivf_filter_histogram_repair heals a torn append (data landed,
   sidecar didn't) detected via the hist_rows marker.
"""

import pytest
from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import expectations as X
from lineage_store_database_management_system_spark.operators import similarity


# --- 1. KMV sidecar k mismatch (the medium finding) -----------------

def _kmv_table(tmp_db, spark, name, n, dups):
    src = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % (n // dups)).alias("v"),
    )
    t = tmp_db.create_table_typed(name, src.schema, "k")
    t.ingest_dataframe(src)
    return t


def test_small_build_k_large_query_k_not_claimed_exact(spark, tmp_db):
    # 10000 distinct v; sketches truncated at build k=64 per file.
    t = _kmv_table(tmp_db, spark, "kmv_a", n=20000, dups=2)
    t.build_distinct_sketches("v", k=64)
    out = t.fast_approx_distinct("v", k=1024)
    # the r11 bug: {'distinct_estimate': ~64, 'exact': True}
    assert out["exact"] is False
    assert out["k_effective"] == 64
    # KMV rel error ~ 1/sqrt(64) = 12.5%; allow 4 sigma
    assert abs(out["distinct_estimate"] - 10000) / 10000 < 0.5


def test_large_build_k_small_query_k_still_estimates(spark, tmp_db):
    t = _kmv_table(tmp_db, spark, "kmv_b", n=20000, dups=2)
    t.build_distinct_sketches("v", k=1024)
    out = t.fast_approx_distinct("v", k=256)
    # per-file sketches hold >= 1024 minima when truncated, which is a
    # superset of the 256 minima — estimator at k_eff=256 stays valid
    assert out["k_effective"] <= 256
    assert abs(out["distinct_estimate"] - 10000) / 10000 < 0.5


def test_matched_k_small_table_still_exact(spark, tmp_db):
    t = _kmv_table(tmp_db, spark, "kmv_c", n=900, dups=3)
    t.build_distinct_sketches("v", k=1024)
    out = t.fast_approx_distinct("v", k=1024)
    assert out["exact"] is True and out["distinct_estimate"] == 300
    assert out["k_effective"] == 1024


# --- 2. expectations quarantine idempotency -------------------------

RULES = {"qty_pos": "qty > 0"}


def _src(spark):
    return spark.range(50).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("price"),
        F.when(F.col("id") % 20 == 3, -4).otherwise(2).alias("qty"),
    )


def test_aborted_ingest_leaves_no_quarantine(spark, tmp_db, monkeypatch):
    import os

    src = _src(spark)
    t = tmp_db.create_table_typed("qidem", src.schema, "k")

    def _boom(df):
        raise RuntimeError("simulated ingest abort")

    monkeypatch.setattr(t, "ingest_dataframe", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        X.ingest_with_expectations(t, src, RULES)
    qdir = os.path.join(t.path, "_quarantine")
    assert not os.path.isdir(qdir)  # nothing to duplicate on retry
    monkeypatch.undo()
    metrics = X.ingest_with_expectations(t, src, RULES)
    assert metrics["rows_bad"] == 3  # ids 3, 23, 43
    assert spark.read.parquet(qdir).count() == 3
    assert t.current_view().count() == 47


def test_batch_id_replay_converges(spark, tmp_db):
    src = _src(spark)
    t = tmp_db.create_table_typed("qbatch", src.schema, "k")
    m1 = X.ingest_with_expectations(t, src, RULES, batch_id="b1")
    m2 = X.ingest_with_expectations(t, src, RULES, batch_id="b1")
    assert m1["rows_bad"] == m2["rows_bad"] == 3
    quar = spark.read.parquet(m2["quarantine_dir"])
    # replay overwrote batch=b1 rather than appending a second copy
    assert quar.count() == 3


# --- 3. torn filtered-ANN sidecar repair ----------------------------

def _labeled(spark, n=300, id_base=0):
    return spark.range(n).select(
        (F.col("id") + id_base).alias("vec_id"),
        F.array(
            (F.when(F.col("id") % 2 == 0, 6.0).otherwise(-6.0)
             + F.sin((F.col("id") + 1) * 0.37)).cast("float"),
            F.sin((F.col("id") + 1) * 0.53).cast("float"),
            F.sin((F.col("id") + 1) * 0.71).cast("float"),
            F.sin((F.col("id") + 1) * 0.97).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 5).cast("int").alias("label"),
    )


def test_histogram_repair_detects_and_heals_torn_append(spark, tmp_path):
    import json
    import os

    idx = str(tmp_path / "tornidx")
    similarity.ivf_pq_write_index(
        _labeled(spark, 300), idx, n_lists=4, m=4, nbits=4,
        filter_cols=["label"])
    # consistent index: repair is a no-op
    rep = similarity.ivf_filter_histogram_repair(spark, idx)
    assert rep["repaired"] is False and rep["checked"] == 300
    # simulate the crash window: append lands the DATA but dies before
    # the sidecar rewrite — emulated by restoring the pre-append meta
    meta_path = os.path.join(idx, "_ann_meta.json")
    with open(meta_path) as f:
        pre_append_meta = f.read()
    similarity.ivf_pq_append_index(_labeled(spark, 200, id_base=1000), idx)
    with open(meta_path, "w") as f:
        f.write(pre_append_meta)  # sidecar now undercounts by 200
    rep = similarity.ivf_filter_histogram_repair(spark, idx)
    assert rep["repaired"] is True and rep["checked"] == 500
    meta = similarity.IVF_PQ.read_meta(idx)
    assert meta["hist_rows"] == 500
    total = sum(n for _v, _li, n in meta["filter_hist"]["label"])
    assert total == 500
    # idempotent: second pass finds nothing to do
    rep2 = similarity.ivf_filter_histogram_repair(spark, idx)
    assert rep2["repaired"] is False
