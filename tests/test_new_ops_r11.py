"""Round-11 operator additions: ANN recall-probe staleness trigger
(r10 VERDICT #6) and maintenance-swap crash recovery (r11 ADVICE)."""

import os
import shutil

from pyspark.sql import functions as F

from lineage_store_database_management_system_spark.operators import _idxmeta, similarity


def _blob(spark, n, cx, id_base, spread=5.0):
    # deterministic pseudo-random 4-dim blob centered at (cx, 0, 0, 0)
    return spark.range(n).select(
        (F.col("id") + id_base).alias("vec_id"),
        F.array(
            (F.lit(cx) + spread * F.sin((F.col("id") + 1) * 0.37)).cast("float"),
            (spread * F.sin((F.col("id") + 1) * 0.53)).cast("float"),
            (spread * F.sin((F.col("id") + 1) * 0.71)).cast("float"),
            (spread * F.sin((F.col("id") + 1) * 0.97)).cast("float"),
        ).alias("embedding"),
    )


def _straddle(spark, n, id_base, jitter=0.2):
    # tight cluster ON the x=0 Voronoi boundary between the two blobs'
    # centroids; x alternates +-0.1 so assignment SPLITS the neighbor
    # set across both inverted lists
    return spark.range(n).select(
        (F.col("id") + id_base).alias("vec_id"),
        F.array(
            (F.when(F.col("id") % 2 == 0, 0.1).otherwise(-0.1)).cast("float"),
            (F.lit(jitter) * F.sin((F.col("id") + 1) * 0.41)).cast("float"),
            (F.lit(jitter) * F.sin((F.col("id") + 1) * 0.61)).cast("float"),
            (F.lit(jitter) * F.sin((F.col("id") + 1) * 0.83)).cast("float"),
        ).alias("embedding"),
    )


def test_recall_probe_catches_boundary_drift_the_stats_miss(spark, tmp_path):
    """r10 VERDICT #6: the residual-norm/skew triggers are blind to
    drift that concentrates on centroid boundaries — appended points
    sit at TYPICAL residual distance (err_ratio actually drops) and
    split evenly across lists (skew flat), yet every appended point's
    neighbor set is torn across more lists than nprobe reads, so
    recall collapses silently. The measured recall probe is the
    second trigger that catches exactly this."""
    idx = str(tmp_path / "idx")
    base = _blob(spark, 300, 5.0, 0).unionByName(_blob(spark, 300, -5.0, 1000))
    similarity.ivf_pq_write_index(base, idx, n_lists=2, m=4, nbits=4)
    fresh = similarity.ivf_pq_index_staleness(
        spark, idx, recall_probe=12, recall_floor=0.875, recall_nprobe=1
    )
    assert not fresh["stale"]
    assert fresh["recall"] > 0.95, fresh
    # boundary-straddling drift, same mass as the base corpus
    similarity.ivf_pq_append_index(_straddle(spark, 600, 50000), idx)
    stats_only = similarity.ivf_pq_index_staleness(spark, idx)
    # the statistics are FOOLED (measured: err_ratio ~0.63, skew ~1.3)
    assert stats_only["err_ratio"] < 2.0, stats_only
    assert stats_only["skew_ratio"] < 3.0, stats_only
    assert not stats_only["stale"]
    probed = similarity.ivf_pq_index_staleness(
        spark, idx, recall_probe=12, recall_floor=0.875, recall_nprobe=1
    )
    assert probed["recall"] < 0.875, probed
    assert probed["stale"]
    # and the maintenance entry point honors the same trigger
    rep = similarity.ivf_pq_maintain_index(
        spark, idx, recall_probe=12, recall_floor=0.875, recall_nprobe=1
    )
    assert rep["rebuilt"]


def test_interrupted_swap_heals_on_next_open(spark, tmp_path):
    """r11 ADVICE: ivf_pq_maintain_index's rename-rename-rmtree swap
    has a window with NOTHING at index_dir (between the two renames).
    A crash there must not strand the index under the _old_/_rebuild_
    names — every entry point heals via _ann_recover: promote the
    completed rebuild when one exists, else restore the old index."""
    idx = str(tmp_path / "idx2")
    base = _blob(spark, 200, 5.0, 0)
    similarity.ivf_pq_write_index(base, idx, n_lists=2, m=4, nbits=4)
    q = [5.0, 0.0, 0.0, 0.0]
    want = {r["vec_id"] for r in similarity.ivf_pq_topk_from_index(
        spark, idx, q, k=5, nprobe=2).collect()}

    # crash between the renames, rebuild COMPLETE -> promote rebuild
    os.rename(idx, idx + "_old_aaaa0001")
    shutil.copytree(idx + "_old_aaaa0001", idx + "_rebuild_aaaa0001")
    got = {r["vec_id"] for r in similarity.ivf_pq_topk_from_index(
        spark, idx, q, k=5, nprobe=2).collect()}
    assert got == want
    assert os.path.isdir(idx)
    assert not os.path.isdir(idx + "_old_aaaa0001")
    assert not os.path.isdir(idx + "_rebuild_aaaa0001")

    # crash between the renames, rebuild INCOMPLETE (no sidecar yet)
    # -> restore the old index, sweep the partial rebuild
    os.rename(idx, idx + "_old_bbbb0002")
    os.makedirs(idx + "_rebuild_bbbb0002")
    st = similarity.ivf_pq_index_staleness(spark, idx)
    assert st["rows"] == 200
    assert os.path.isdir(idx)
    assert not os.path.isdir(idx + "_old_bbbb0002")
    assert not os.path.isdir(idx + "_rebuild_bbbb0002")

    # healthy index: recovery is a no-op and entry points unaffected
    assert _idxmeta.recover(idx, similarity.IVF_PQ.meta_name) is False
    assert {r["vec_id"] for r in similarity.ivf_pq_topk_from_index(
        spark, idx, q, k=5, nprobe=2).collect()} == want


def test_jpeg_roundtrip_exact(spark):
    """r10 VERDICT #2: the baseline JPEG decoder is now reachable
    (\\xff\\xd8 dispatch in _decode_payload) and exact on its encoder
    twin: DC-only blocks under all-ones quantization must decode to
    their flat value bit-for-bit, for 3-component neutral-chroma YCbCr
    (even ids) and greyscale-replicated-to-RGB (odd ids), including
    partial-MCU crops (dims not multiples of 8). Also locks in the
    encoder's DQT framing fix — the segment length is a 2-byte field,
    which the never-exercised first version got wrong."""
    import numpy as np

    from lineage_store_database_management_system_spark.operators.multimodal import (
        _decode_payload,
        encode_jpeg_blocks,
    )

    for rid in range(24):
        w = 8 * (1 + rid % 3) + rid % 5
        h = 8 * (1 + rid % 2) + rid % 7
        bw, bh = (w + 7) // 8, (h + 7) // 8
        vals = [
            [(rid * 31 + bx * 17 + by * 29) % 256 for bx in range(bw)]
            for by in range(bh)
        ]
        variants = [dict(color=(rid % 2 == 0))]
        if rid % 3 == 0:
            # container variants decode to the SAME pixels: 4:2:0
            # (nearest-replication chroma upsampling), 4:2:2, and
            # restart markers with DC-predictor resets
            variants += [
                dict(color=True, subsampling=(2, 2)),
                dict(color=True, subsampling=(2, 1), restart_interval=3),
                dict(color=(rid % 2 == 0), restart_interval=1),
            ]
        for kw in variants:
            payload = encode_jpeg_blocks(w, h, vals, **kw)
            W, H, C, rgb = _decode_payload(payload)
            assert (W, H, C) == (w, h, 3)
            arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
            xs = np.arange(w) // 8
            ys = np.arange(h) // 8
            want = (
                (rid * 31 + xs[None, :] * 17 + ys[:, None] * 29) % 256
            ).astype(np.uint8)
            assert (arr == want[:, :, None]).all(), (rid, kw)


def test_jpeg_decode_stats_kernel(spark):
    """The planted-JPEG corpus flows through the same Arrow-batched
    decode_image_stats kernel as PPM/BMP/PNG and yields the closed
    -form stats; progressive JPEG still hits the contract stub."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from lineage_store_database_management_system_spark.operators import multimodal

    docs = spark.range(12).select(F.col("id").alias("doc_id"))
    imgs = multimodal.plant_test_images_jpeg(docs, "doc_id")
    out = {r["doc_id"]: r for r in
           multimodal.decode_image_stats(imgs, "doc_id").collect()}
    assert len(out) == 12
    for rid in range(12):
        w = 8 * (1 + rid % 3) + rid % 5
        h = 8 * (1 + rid % 2) + rid % 7
        r = out[rid]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["n_pixel_bytes"] == w * h * 3
    # progressive JPEG (SOF2) keeps the honest stub contract
    prog = bytes.fromhex("ffd8ffc2000b08000800080300110001")
    bad = spark.createDataFrame(
        [(1, bytearray(prog))],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )
    with _pytest.raises(Exception, match="progressive|not supported|requires"):
        multimodal.decode_image_stats(bad, "doc_id").collect()


# ---------------------------------------------------------------------------
# per-file Bloom sidecars (equality file skipping on unordered columns)
# ---------------------------------------------------------------------------

def _orders_table(spark, tmp_db, commits=4, parts=8):
    # parts=8 plants a FINE file layout on purpose (32 files at the
    # default commits=4): the bloom-skipping assertions below need a
    # key's rows concentrated in a minority of files. Before the r14
    # data-derived ingest floor, the explicit repartition was
    # overridden by an unconditional repartition-to-core-count inside
    # ingest_dataframe; the fixture now controls its layout exactly.
    src = (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    t = tmp_db.create_table_typed("orders_bloom", src.schema, "o_orderkey")
    for i in range(commits):
        t.ingest_dataframe(
            src.where((F.col("o_orderkey") % commits) == i).repartition(parts)
        )
    return t, src


def test_bloom_sidecar_prunes_and_stays_exact(spark, tmp_db):
    t, src = _orders_table(spark, tmp_db)
    r = t.build_bloom_filters("o_custkey", fpp=0.005)
    assert r["built"] == len(t._live_file_paths()) and r["covered"] == r["built"]
    ck = src.select("o_custkey").head()[0]
    exp = sorted(
        x[0] for x in src.where(F.col("o_custkey") == ck)
        .select("o_orderkey").collect()
    )
    got = sorted(
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    )
    assert got == exp
    acct = t.last_scan_bounds
    # o_custkey is hash-scattered, so min/max stats could prune nothing;
    # the bloom must skip at least half the files for one key's lookup
    assert acct["files_bloomed"] == acct["files_total"]
    assert acct["files_scanned"] <= acct["files_total"] // 2


def test_bloom_lookup_never_false_negative(spark, tmp_db):
    t, src = _orders_table(spark, tmp_db, commits=3)
    t.build_bloom_filters("o_custkey", fpp=0.02)
    for v in [r[0] for r in src.select("o_custkey").distinct().limit(20).collect()]:
        exp = sorted(
            x[0] for x in src.where(F.col("o_custkey") == v)
            .select("o_orderkey").collect()
        )
        got = sorted(
            x[0] for x in t.scan_with_bloom("o_custkey", v)
            .select("o_orderkey").collect()
        )
        assert got == exp, f"false negative for o_custkey={v}"


def test_bloom_dirty_tail_update_rescues_pruned_file(spark, tmp_db):
    # a tail delta SETTING the bloomed column moves a row INTO equality:
    # its base file would bloom-prune (old value's bits), so the dirty-rid
    # rescue must keep it — the scan_with_bounds exactness discipline
    t, src = _orders_table(spark, tmp_db)
    t.build_bloom_filters("o_custkey", fpp=0.005)
    ck = src.select("o_custkey").head()[0]
    other = src.where(F.col("o_custkey") != ck).select("o_orderkey").head()[0]
    t.bulk_update(
        spark.createDataFrame([(other, ck)], "o_orderkey long, o_custkey long")
    )
    exp = sorted(
        [x[0] for x in src.where(F.col("o_custkey") == ck)
         .select("o_orderkey").collect()] + [other]
    )
    got = sorted(
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    )
    assert got == exp
    assert t.last_scan_bounds["dirty_rids"] >= 1


def test_bloom_uncovered_files_never_skip_and_incremental_build(spark, tmp_db):
    t, src = _orders_table(spark, tmp_db)
    t.build_bloom_filters("o_custkey", fpp=0.005)
    ck = src.select("o_custkey").head()[0]
    schema = src.schema
    t.ingest_dataframe(
        spark.createDataFrame([(99999999, ck, "O", 1.0)], schema)
    )
    got = {
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    }
    assert 99999999 in got  # fresh file has no sidecar entry -> scanned
    acct = t.last_scan_bounds
    assert acct["files_bloomed"] == acct["files_total"] - 1
    r2 = t.build_bloom_filters("o_custkey", fpp=0.005)
    assert r2["built"] == 1  # only the new file
    got2 = {
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    }
    assert got2 == got
    assert t.last_scan_bounds["files_bloomed"] == t.last_scan_bounds["files_total"]


def test_bloom_survives_compaction_exactly(spark, tmp_db):
    # compaction rewrites base files: new snapshot files have NO sidecar
    # entries (never skipped) until the next build — answers invariant
    t, src = _orders_table(spark, tmp_db)
    t.build_bloom_filters("o_custkey", fpp=0.005)
    ck = src.select("o_custkey").head()[0]
    before = sorted(
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    )
    t.compact()
    after = sorted(
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    )
    assert after == before
    t.build_bloom_filters("o_custkey", fpp=0.005)
    rebuilt = sorted(
        x[0] for x in t.scan_with_bloom("o_custkey", ck)
        .select("o_orderkey").collect()
    )
    assert rebuilt == before
    assert t.last_scan_bounds["files_bloomed"] == t.last_scan_bounds["files_total"]
