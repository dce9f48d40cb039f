"""The durable search indexes kept current under change, as a traced
``lineage_rw`` run measures them: BM25 and trigram over a ``documents``
corpus, IVF-PQ over ``embeddings``.

After building the three indexes, one cycle appends a re-keyed
document batch to both text indexes and a vector batch to IVF-PQ,
deletes seeded ids from all three, queries each family
(``bm25_topk_from_index``, ``substring_search(index_dir=...)``,
``ivf_pq_topk_from_index``) and compacts each once. Reads are checked against the model as they run;
``verify`` compares BM25 with a scan of the final corpus, trigram
search with a plain filter, and holds IVF-PQ to live ids and the
registry's recall gate (self-recall, overlap >= 4 of the exact 20).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from .. import core, datagen

N_DOCS = 2_000
N_VECS = 1_000
BATCH = 100  # docs and vectors appended per cycle
DELETES = 40  # docs and vectors deleted per cycle
PATTERNS = ("merge batch", "lineage record", "tail fold", "snapshot range", "vector index")
TOPK = 20
FINAL_TERMS = ["merge", "batch", "tail"]


class IndexFamilies:
    def __init__(self, owner, seed: int):
        self.w = owner  # the workload: bench, spark, change accounting, write_op
        self.rng = np.random.default_rng([seed, 4])
        self.built = False

    def build(self, root: str) -> None:
        """Generate the corpus and vectors, then build the indexes."""
        from lineage_store_database_management_system_spark.operators import similarity, textsearch

        b, spark, rng = self.w.b, self.w.spark, self.rng
        data = os.path.join(b.workdir, "data")
        docs_t = datagen.documents(rng, N_DOCS)
        self.centers = rng.normal(0.0, 0.3, size=(datagen.N_CLUSTERS, datagen.DIM))
        vecs_t = datagen.embeddings(rng, N_VECS, self.centers)
        docs_path = datagen.write(docs_t, os.path.join(data, "documents.parquet"))
        vecs_path = datagen.write(vecs_t, os.path.join(data, "embeddings.parquet"))
        b.record_data("documents", docs_path)
        b.record_data("embeddings", vecs_path)
        self.doc_text = dict(zip(docs_t.column("doc_id").to_pylist(), docs_t.column("text").to_pylist()))
        self.vec = {
            k: np.asarray(v, dtype=np.float64)
            for k, v in zip(vecs_t.column("vec_id").to_pylist(), vecs_t.column("embedding").to_pylist())
        }
        self.corpus_files = [docs_path]
        self.dead_docs: list[int] = []
        self.next_doc = N_DOCS
        self.next_vec = N_VECS
        self.n_query = 0

        docs = spark.read.parquet(docs_path).select("doc_id", "text")
        self.bm25 = os.path.join(root, "idx", "bm25")
        self.tri = os.path.join(root, "idx", "trigram")
        self.ivf = os.path.join(root, "idx", "ivfpq")
        b.timed("textsearch.bm25_build_ms", lambda: textsearch.write_bm25_index(docs, self.bm25))
        b.timed("textsearch.trigram_build_ms", lambda: textsearch.write_trigram_index(docs, self.tri))
        vecs = spark.read.parquet(vecs_path)
        b.timed(
            "similarity.ivf_pq_build_ms",
            lambda: similarity.ivf_pq_write_index(vecs, self.ivf, n_lists=16, m=8, nbits=4),
        )
        self.built = True

    def corpus(self):
        """The live corpus as the caller holds it: every document file
        minus the deleted ids."""
        spark = self.w.spark
        docs = spark.read.parquet(*self.corpus_files).select("doc_id", "text")
        if not self.dead_docs:
            return docs
        dead = spark.createDataFrame([(i,) for i in self.dead_docs], "doc_id long")
        return docs.join(dead, "doc_id", "left_anti")

    # -- writes ----------------------------------------------------------------
    def appends(self) -> None:
        from lineage_store_database_management_system_spark.operators import similarity, textsearch

        w, spark = self.w, self.w.spark
        new_docs = datagen.documents(self.rng, BATCH, id0=self.next_doc)
        self.next_doc += BATCH
        dpath = w.change_file(new_docs, "docs")
        ddf = spark.read.parquet(dpath).select("doc_id", "text")
        w.write_op("bm25_append", "textsearch.bm25_append", lambda: textsearch.append_bm25_index(ddf, self.bm25))
        w.write_op("trigram_append", "textsearch.trigram_append", lambda: textsearch.append_trigram_index(ddf, self.tri))
        self.corpus_files.append(dpath)
        self.doc_text.update(zip(new_docs.column("doc_id").to_pylist(), new_docs.column("text").to_pylist()))

        new_vecs = datagen.embeddings(self.rng, BATCH, self.centers, id0=self.next_vec)
        self.next_vec += BATCH
        vdf = spark.read.parquet(w.change_file(new_vecs, "vecs"))
        w.write_op("ivf_pq_append", "similarity.ivf_pq_append", lambda: similarity.ivf_pq_append_index(vdf, self.ivf))
        self.vec.update(
            (k, np.asarray(v, dtype=np.float64))
            for k, v in zip(new_vecs.column("vec_id").to_pylist(), new_vecs.column("embedding").to_pylist())
        )

    def deletes(self) -> None:
        from lineage_store_database_management_system_spark.operators import similarity, textsearch

        w, spark = self.w, self.w.spark
        gone = sorted(int(x) for x in self.rng.choice(sorted(self.doc_text), size=DELETES, replace=False))
        gdf = spark.read.parquet(w.change_file(pa.table({"doc_id": gone}), "doc_deletes"))
        w.write_op("bm25_delete", "textsearch.bm25_delete", lambda: textsearch.delete_from_bm25_index(gdf, self.bm25))
        w.write_op("trigram_delete", "textsearch.trigram_delete", lambda: textsearch.delete_from_trigram_index(gdf, self.tri))
        for k in gone:
            del self.doc_text[k]
        self.dead_docs.extend(gone)
        # vector 0 stays: it is the recall gate's query
        gone_v = sorted(int(x) for x in self.rng.choice(sorted(set(self.vec) - {0}), size=DELETES, replace=False))
        vdf = spark.read.parquet(w.change_file(pa.table({"vec_id": gone_v}), "vec_deletes"))
        w.write_op("ivf_pq_delete", "similarity.ivf_pq_delete", lambda: similarity.ivf_pq_delete_from_index(vdf, self.ivf))
        for k in gone_v:
            del self.vec[k]

    def compact(self) -> None:
        from lineage_store_database_management_system_spark.operators import similarity, textsearch

        w, spark = self.w, self.w.spark
        w.write_op("bm25_compact", "textsearch.bm25_compact", lambda: textsearch.compact_bm25_index(spark, self.bm25, force=True))
        w.write_op("trigram_compact", "textsearch.trigram_compact", lambda: textsearch.compact_trigram_index(spark, self.tri, force=True))
        w.write_op("ivf_pq_compact", "similarity.ivf_pq_compact", lambda: similarity.ivf_pq_compact_index(spark, self.ivf, force=True))

    # -- reads -----------------------------------------------------------------
    def queries(self) -> None:
        from lineage_store_database_management_system_spark.operators import similarity, textsearch

        b, spark = self.w.b, self.w.spark
        terms = [str(t) for t in self.rng.choice(datagen.VOCAB[2:], size=3, replace=False)]

        def bm25():
            with b.span("textsearch.bm25_topk"):
                return textsearch.bm25_topk_from_index(spark, self.bm25, terms, k=TOPK).collect()

        rows = b.op("bm25_topk", "read", bm25)
        if rows is not None:
            ids = [r["doc_id"] for r in rows]
            b.check(len(ids) == TOPK and all(i in self.doc_text for i in ids), f"bm25_topk{terms}: dead or missing ids")

        pattern = PATTERNS[self.n_query % len(PATTERNS)]
        self.n_query += 1
        corpus = self.corpus()

        def substring():
            with b.span("textsearch.substring_search"):
                df, _info = textsearch.substring_search(corpus, pattern, index_dir=self.tri)
                return df.select("doc_id").collect()

        rows = b.op("substring_search", "read", substring)
        if rows is not None:
            got = sorted(r["doc_id"] for r in rows)
            want = sorted(k for k, txt in self.doc_text.items() if pattern in txt)
            b.check(got == want, f"substring_search({pattern!r}): {len(got)} ids, want {len(want)}")

        qid = sorted(self.vec)[int(self.rng.integers(0, len(self.vec)))]
        qv = [float(x) for x in self.vec[qid]]

        def ann():
            with b.span("similarity.ivf_pq_topk"):
                return similarity.ivf_pq_topk_from_index(spark, self.ivf, qv, k=TOPK, nprobe=4, n_candidates=200).collect()

        rows = b.op("ivf_pq_topk", "read", ann)
        if rows is not None:
            ids = [r["vec_id"] for r in rows]
            b.check(bool(ids) and all(i in self.vec for i in ids), f"ivf_pq_topk({qid}): dead ids")

    # -- end of run ----------------------------------------------------------
    def index_bytes(self) -> dict[str, int]:
        return {name: core.tree_bytes(core.tree_files(d)) for name, d in (("bm25", self.bm25), ("trigram", self.tri), ("ivfpq", self.ivf))}

    def verify(self) -> None:
        from pyspark.sql import functions as F

        from lineage_store_database_management_system_spark.operators import similarity, textops, textsearch

        b, spark = self.w.b, self.w.spark
        corpus = self.corpus().cache()
        # BM25: the maintained index ranks exactly like a scan of the final corpus
        terms = FINAL_TERMS
        got = [(r["doc_id"], r["bm25"]) for r in textsearch.bm25_topk_from_index(spark, self.bm25, terms, k=TOPK).collect()]
        want = [(r["doc_id"], r["bm25"]) for r in textops.bm25_topk(corpus, "doc_id", "text", terms, k=TOPK).collect()]
        b.attempted += 1
        b.check(got == want, f"final bm25{terms}: index {got[:3]}... != scan {want[:3]}...")
        # trigram: the index-planned search equals the plain filter
        pattern = PATTERNS[0]
        df, _ = textsearch.substring_search(corpus, pattern, index_dir=self.tri)
        got = sorted(r["doc_id"] for r in df.select("doc_id").collect())
        want = sorted(r["doc_id"] for r in corpus.where(F.col("text").contains(pattern)).select("doc_id").collect())
        b.attempted += 1
        b.check(got == want, f"final substring {pattern!r}: {len(got)} != {len(want)}")
        corpus.unpersist()
        # IVF-PQ: live ids only, self-recall and overlap >= 4 of the exact top 20
        q = self.vec[0]
        rows = similarity.ivf_pq_topk_from_index(spark, self.ivf, [float(x) for x in q], k=TOPK, nprobe=4, n_candidates=200).collect()
        ids = [r["vec_id"] for r in rows]
        ids_all = np.array(sorted(self.vec))
        mat = np.stack([self.vec[i] for i in ids_all])
        cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        exact = set(ids_all[np.argsort(-cos, kind="stable")[:TOPK]].tolist())
        live = all(i in self.vec for i in ids)
        b.attempted += 1
        b.check(live and 0 in ids and len(exact & set(ids)) >= 4, f"final ivf_pq: live={live} self={0 in ids} overlap={len(exact & set(ids))}")
