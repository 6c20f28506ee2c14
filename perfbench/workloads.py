"""The benchmark workloads.

Each workload is a class driven by ``run.py`` through the same steps:

- ``generate(rng, root, cores)``: write the seeded inputs under ``root`` and
  keep what the checks need (vectors, planted pairs) in memory;
- ``warm(ctx)``: on a tiny instance, pay the engine's first-use costs
  inside set-up;
- ``run_pass(ctx)``: one pass from the input files to every result, each
  call into the library inside a span, every result checked against
  ``reference.py``; returns the pass's end-to-end figures;
- ``serve(ctx, i)``: request ``i`` of the single-client closed loop that
  follows the pass; the latencies of the ``loop_span`` spans give the search
  percentiles;
- ``summary(ctx)``: figures that need the loop's results, computed from its
  first ``MIN_LOOP`` timed requests (the same queries in every run of a
  seed, however fast the host);
- ``release(ctx)``: drop everything the pass built or cached, so no index
  or cache outlives the run.

Sizes keep one run under about a minute on 4 cores, because the whole
benchmark is run many times; every input is under 1 MB, far below the
session's 64 MB broadcast threshold.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

import numpy as np

import gen
import reference as R

K = 10
DIM = 32
# index_build_search: mixture components of the corpus
CLUSTERS = 64
# near-dup threshold of the library's MinHash defaults
JACCARD_THRESHOLD = 0.5
SHINGLE_K = 5
# share of the index_build_search corpus appended to the built IVF index
APPEND_FRAC = 0.1
# ingest_dedup: arriving batches, chunking and embedding of the documents,
# mixture components of their vectors, share of stored vectors the upsert
# rewrites
N_BATCHES = 4
CHUNK_SIZE = 300
EMB_DIM = 32
DOC_CLUSTERS = 16
REWRITE_FRAC = 0.05
# the closed loop's requests that every run serves, whatever its speed; the
# loop's quality figures come from exactly these
MIN_LOOP = 20


@dataclass
class Ctx:
    spark: object
    tracer: object
    cores: int
    attempted: int = 0
    failed: list = field(default_factory=list)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Group result rows per query, best first (score desc, id asc)."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append((int(r["vec_id"]), float(r["score"])))
    for q in out:
        out[q].sort(key=lambda t: (-t[1], t[0]))
    return out


def _distinct_ids(ids: list[int], n: int) -> bool:
    return len(set(ids)) == len(ids) and all(0 <= v < n for v in ids)


def _top_ids(got: dict[int, list[tuple[int, float]]]) -> dict[int, list[int]]:
    return {q: [v for v, _ in rows[:K]] for q, rows in got.items()}


def _write_queries(spark_path: str, Q: np.ndarray) -> None:
    gen.write_vectors(spark_path, Q, 1, id_col="query_id", vec_col="query_vec")


def _unpersist_all(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# ---------------------------------------------------------------------------
# index_build_search
# ---------------------------------------------------------------------------


class IndexBuildSearch:
    """Exact batch kNN join over a clustered corpus; build an IVF index and
    fold an append into it, build graph and IVF-PQ indexes; batch-search the
    graph and IVF-PQ indexes, then serve single IVF queries."""

    name = "index_build_search"
    loop_span = "operators.ann.IVFIndex.query"
    TINY = dict(n=256, n_queries=8)

    def __init__(self, n=1000, n_queries=64):
        self.n, self.nq = n, n_queries

    def generate(self, rng, root, cores):
        X = gen.gmm_corpus(rng, self.n + self.nq, DIM, CLUSTERS, spread=1.0)
        self.X, self.Q = X[: self.n], X[self.n:]
        self.corpus_path = os.path.join(root, "corpus")
        self.query_path = os.path.join(root, "queries")
        gen.write_vectors(self.corpus_path, self.X, cores)
        _write_queries(self.query_path, self.Q)
        self.truth_ids, self.truth_scores = R.exact_topk(self.X, self.Q, K + 1)
        self.truth = self.truth_ids[:, :K]

    def warm(self, ctx):
        """First-use costs of the engine (JIT, broadcast, window) paid on
        tiny inputs with one exact join."""
        from educational_vector_database_spark.operators import knn as KN

        spark = ctx.spark
        corpus = spark.read.parquet(self.corpus_path)
        queries = spark.read.parquet(self.query_path)
        KN.knn_join(corpus, queries, k=K).collect()
        self.release(ctx)

    def run_pass(self, ctx):
        from pyspark.sql import functions as F

        from educational_vector_database_spark.operators import ann as A
        from educational_vector_database_spark.operators import knn as KN
        from educational_vector_database_spark.operators import pq as P

        tr, spark = ctx.tracer, ctx.spark
        corpus = spark.read.parquet(self.corpus_path)
        queries = spark.read.parquet(self.query_path)
        # the exact baseline the indexes approximate
        with tr.span("operators.knn.knn_join") as s:
            rows = tr.collect(s, tr.construct(s, lambda: KN.knn_join(corpus, queries, k=K)))
        ctx.check("knn_join equals the reference top-10",
                  R.topk_matches(self.truth_ids, self.truth_scores, _by_query(rows)))
        s.extra["pairs_per_s"] = self.n * self.nq / s.busy_s

        ivf_p = A.recommend_index(self.n, clustered=True)["params"]
        gp = A.graph_params_for(self.n)
        # IVF: built over the first batch, the last APPEND_FRAC folded in
        n_base = self.n - int(APPEND_FRAC * self.n)
        with tr.span("operators.ann.IVFIndex.build"):
            ivf = A.IVFIndex(n_cells=ivf_p["n_cells"]).build(
                corpus.filter(F.col("vec_id") < n_base))
        self._indexes = [ivf]
        with tr.span("operators.ann.IVFIndex.add_items"):
            ivf.add_items(corpus.filter(F.col("vec_id") >= n_base))
        ctx.check("IVF index holds every row after add_items",
                  sum(ivf.cell_sizes().values()) == self.n)
        with tr.span("operators.ann.GraphIndex.build"):
            graph = A.GraphIndex(m=gp["m"], n_plane_sets=gp["n_plane_sets"],
                                 n_planes=gp["n_planes"], row_cap=gp["row_cap"]).build(corpus)
        self._indexes.append(graph)
        # IVF-PQ shares the IVF coarse quantizer; its codebooks are the
        # library's sample-row path (pq_codebooks_from_rows over the residuals
        # of K_CODES evenly spaced rows) rather than one KMeans per subspace,
        # whose ~30 jobs each would not fit a run
        cents = [c for _, c in sorted(ivf._centroids)]
        codebooks = P.pq_codebooks_from_rows(self._sample_residuals(np.array(cents)))
        with tr.span("operators.pq.IVFPQIndex.build"):
            pq = P.IVFPQIndex(n_cells=ivf_p["n_cells"]).build(
                corpus, centroids=cents, codebooks=codebooks)
        self._indexes.append(pq)
        self._ivf, self._corpus, self._nprobe = ivf, corpus, ivf_p["nprobe"]
        builds = ("operators.ann.IVFIndex.build", "operators.ann.IVFIndex.add_items",
                  "operators.ann.GraphIndex.build", "operators.pq.IVFPQIndex.build")

        searches = {
            "operators.ann.GraphIndex.query_batch": lambda: graph.query_batch(
                corpus, queries, k=K, assume_fresh=True),
            "operators.pq.knn_join_ivfpq": lambda: P.knn_join_ivfpq(
                corpus, queries, pq._centroids, pq._codebooks, k=K,
                nprobe=ivf_p["nprobe"], codes=pq._codes),
        }
        for span, fn in searches.items():
            with tr.span(span) as s:
                rows = tr.collect(s, tr.construct(s, fn))
            got = _by_query(rows)
            ctx.check(f"{span}: k distinct corpus ids per query",
                      len(got) == self.nq and all(
                          len(v) == K and _distinct_ids([i for i, _ in v], self.n)
                          for v in got.values()))
            s.extra["recall_at_10"] = R.recall_at_k(self.truth, _top_ids(got))
        build_s = tr.busy(*builds)
        search_s = tr.busy("operators.knn.knn_join", *searches)
        return {"build_s": build_s,
                "search_batch_qps": (1 + len(searches)) * self.nq / search_s}

    def _sample_residuals(self, cents: np.ndarray) -> list[list[float]]:
        from educational_vector_database_spark.operators.pq import K_CODES

        rows = self.X[np.linspace(0, self.n - 1, K_CODES).astype(int)].astype(np.float64)
        near = ((rows[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
        return (rows - cents[near]).tolist()

    def summary(self, ctx):
        """Recall of the IVF (over the loop's first ``MIN_LOOP`` queries) and
        IVF-PQ indexes. The graph's recall is reported per layer only: at this
        size it is bimodal across seeds (its walk reaches the query's cluster
        or it does not), so no bound on it could hold."""
        tr = ctx.tracer
        ivf = statistics.fmean(s.extra["recall_at_10"]
                               for s in tr.by_name(self.loop_span)[:MIN_LOOP])
        pq = tr.by_name("operators.pq.knn_join_ivfpq")[0].extra["recall_at_10"]
        return {"recall": (ivf + pq) / 2}

    def serve(self, ctx, i):
        tr = ctx.tracer
        q = i % self.nq
        with tr.span("operators.ann.IVFIndex.query") as s:
            rows = tr.collect(s, tr.construct(s, lambda: self._ivf.query(
                self._corpus, self.Q[q].tolist(), k=K, nprobe=self._nprobe,
                assume_fresh=True)))
        ctx.check("IVFIndex.query: k distinct corpus ids",
                  len(rows) == K and _distinct_ids([int(r["vec_id"]) for r in rows], self.n))
        s.extra["recall_at_10"] = len({int(r["vec_id"]) for r in rows}
                                      & set(self.truth[q].tolist())) / K

    def release(self, ctx):
        for ix in getattr(self, "_indexes", []):
            ix.invalidate()
        self._indexes = []
        _unpersist_all(ctx.spark)


# ---------------------------------------------------------------------------
# ingest_dedup
# ---------------------------------------------------------------------------


class IngestDedup:
    """Streaming ingest (chunk + embed) of four document batches with planted
    near-duplicates, the dedup operators over them, a store upsert/compact
    round trip, then a closed loop of exact searches over the stored vectors
    with every fourth request a RAG answer over the ingested chunks."""

    name = "ingest_dedup"
    loop_span = "api.VectorDB.search_vector"
    TINY = dict(n_docs=96, n_queries=8)

    def __init__(self, n_docs=800, n_queries=64):
        self.n_docs, self.nq = n_docs, n_queries

    def generate(self, rng, root, cores):
        docs = gen.documents(rng, self.n_docs)
        self.texts, self.planted, self.exact = docs.texts, docs.planted, docs.exact
        self.in_dir = os.path.join(root, "incoming")
        self.batches = gen.write_doc_batches(self.in_dir, self.texts, N_BATCHES)
        self.first_new = self.batches[-1].start
        # one vector per doc; a copy's vector is its original's plus noise
        V = gen.gmm_corpus(rng, self.n_docs + self.nq, DIM, DOC_CLUSTERS)
        for o, c in self.planted:
            V[c] = V[o] + 0.01 * rng.normal(size=DIM).astype(np.float32)
        self.V, self.Q = V[: self.n_docs], V[self.n_docs:]
        self.vec_path = os.path.join(root, "vectors")
        gen.write_vectors(self.vec_path, self.V, cores)
        # the upsert rewrites a share of stored rows with fresh vectors
        n_rw = int(REWRITE_FRAC * self.first_new)
        self.rewritten = np.sort(rng.choice(self.first_new, size=n_rw, replace=False))
        self.V_rw = gen.iid_corpus(rng, n_rw, DIM)
        self.rw_path = os.path.join(root, "rewrites")
        gen.write_vectors(self.rw_path, self.V_rw, 1, ids=self.rewritten)
        final = self.V.copy()
        final[self.rewritten] = self.V_rw
        self.truth_ids, self.truth_scores = R.exact_topk(final, self.Q, K + 1)
        self._reference_dedup()
        self.store_root = os.path.join(root, "store")
        self.stream_out = os.path.join(root, "chunks")
        self.stream_ckpt = os.path.join(root, "checkpoint")

    def _reference_dedup(self):
        sh = [R.shingles(t, SHINGLE_K) for t in self.texts]
        self.sh = sh
        self.true_pairs = {(o, c) for o, c in self.planted
                           if R.jaccard(sh[o], sh[c]) >= JACCARD_THRESHOLD}
        self.n_chunks = sum(max(1, math.ceil(len(t) / CHUNK_SIZE))
                            for t in self.texts)
        # incremental: a new doc is a duplicate iff its original is stored
        self.new_dup_of = {c: o for o, c in self.planted
                           if c >= self.first_new and o < self.first_new}
        # RAG queries: an original's first chunk must retrieve that chunk
        # first (its copies have higher chunk ids, so they lose score ties)
        copies = {c for _, c in self.planted}
        self.rag_queries = [(d * 100_000, self.texts[d][: CHUNK_SIZE])
                            for d in range(self.n_docs) if d not in copies][: self.nq]

    def warm(self, ctx):
        """First-use costs of the engine (JIT, stream start, Python workers)
        paid on tiny inputs with one ingest drain and one exact search."""
        from educational_vector_database_spark.api import VectorDB
        from educational_vector_database_spark.embeddings import HashingTFEmbeddings
        from educational_vector_database_spark.streaming import ingest

        spark = ctx.spark
        ingest.run_ingest(spark, self.in_dir, self.stream_out, self.stream_ckpt,
                          HashingTFEmbeddings(dim=EMB_DIM), chunk_size=CHUNK_SIZE)
        vecs = spark.read.parquet(self.vec_path)
        VectorDB(spark, dim=DIM, df=vecs).search_vector(self.Q[0].tolist(), k=K).collect()
        self.release(ctx)

    def run_pass(self, ctx):
        from pyspark.sql import functions as F

        from educational_vector_database_spark.api import VectorDB
        from educational_vector_database_spark.embeddings import HashingTFEmbeddings
        from educational_vector_database_spark.operators import dedup as D
        from educational_vector_database_spark.sources import store
        from educational_vector_database_spark.streaming import ingest

        tr, spark = ctx.tracer, ctx.spark
        n = self.n_docs

        self.emb = HashingTFEmbeddings(dim=EMB_DIM)
        with tr.span("streaming.ingest.run_ingest"):
            ingest.run_ingest(spark, self.in_dir, self.stream_out, self.stream_ckpt,
                              self.emb, chunk_size=CHUNK_SIZE)
        self._chunks = spark.read.parquet(self.stream_out)
        ctx.check("ingest chunk count", self._chunks.count() == self.n_chunks)

        docs = spark.read.schema(ingest.DOCS_DDL).json(self.in_dir)
        with tr.span("operators.dedup.dedup_exact") as s:
            rows = tr.collect(s, tr.construct(s, lambda: D.dedup_exact(docs)))
        ctx.check("dedup_exact groups = distinct texts",
                  len(rows) == len(set(self.texts))
                  and sum(int(r["n_copies"]) for r in rows) == n)

        with tr.span("operators.dedup.minhash_near_dup") as s:
            rows = tr.collect(s, tr.construct(s, lambda: D.minhash_near_dup(docs)))
        found = {(int(r["id_a"]), int(r["id_b"])): float(r["jaccard"]) for r in rows}
        pair_recall = len(self.true_pairs & found.keys()) / len(self.true_pairs)
        s.extra["pair_recall"] = pair_recall
        ctx.check("minhash finds every planted pair", pair_recall == 1.0)
        ctx.check("minhash pairs verify against reference Jaccard", all(
            abs(j - R.jaccard(self.sh[a], self.sh[b])) < 1e-12 and j >= JACCARD_THRESHOLD
            for (a, b), j in found.items()))

        pairs_df = spark.createDataFrame(
            sorted(found), "id_a long, id_b long")
        with tr.span("operators.dedup.dedup_clusters") as s:
            rows = tr.collect(s, tr.construct(s, lambda: D.dedup_clusters(docs, pairs_df)))
        comp = R.components(list(range(n)), list(found))
        ctx.check("dedup_clusters = reference components",
                  len(rows) == n and all(int(r["cluster_id"]) == comp[int(r["id"])]
                                         for r in rows))

        with tr.span("operators.dedup.simhash_near_dup") as s:
            rows = tr.collect(s, tr.construct(s, lambda: D.simhash_near_dup(docs)))
        ctx.check("simhash pairs are ordered and within radius",
                  all(0 <= int(r["id_a"]) < int(r["id_b"]) < n and 0 <= int(r["hamming"]) <= 3
                      for r in rows))
        # a verbatim copy has its original's signature (hamming 0), which the
        # operator's band blocking finds by construction
        sim_pairs = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        ctx.check("simhash finds every planted verbatim copy",
                  all((o, c) in sim_pairs for o, c in self.planted if c in self.exact))

        old = docs.filter(F.col("doc_id") < self.first_new)
        new = docs.filter(F.col("doc_id") >= self.first_new)
        with tr.span("operators.dedup.minhash_dedup_incremental") as s:
            rows = tr.collect(s, tr.construct(
                s, lambda: D.minhash_dedup_incremental(old, new)))
        status = {int(r["doc_id"]): (r["status"], r["match_id"]) for r in rows}
        ok = len(status) == n - self.first_new
        for d in range(self.first_new, n):
            st, match = status.get(d, (None, None))
            if d in self.new_dup_of:
                want = "exact_dup" if d in self.exact else "near_dup"
                ok = ok and st == want and match is not None and (
                    R.jaccard(self.sh[d], self.sh[int(match)]) >= JACCARD_THRESHOLD)
            else:
                ok = ok and st == "kept"
        ctx.check("incremental dedup statuses", ok)

        vecs = spark.read.parquet(self.vec_path)
        base = vecs.filter(F.col("vec_id") < self.first_new)
        delta = vecs.filter(F.col("vec_id") >= self.first_new)

        # store round trip: save the stored batches, upsert append + rewrites
        cfg = store.StoreConfig(dim=DIM)
        path_a = os.path.join(self.store_root, "a")
        path_b = os.path.join(self.store_root, "b")
        with tr.span("sources.store.save"):
            store.save(base, path_a, cfg)
        rewrites = spark.read.parquet(self.rw_path)
        with tr.span("sources.store.upsert") as s:
            existing, cfg = store.load(spark, path_a)
            merged = tr.construct(s, lambda: store.upsert(
                existing, delta.unionByName(rewrites), key="vec_id"))
            store.save(merged, path_b, cfg)
        with tr.span("sources.store.compact"):
            n_files = store.compact(spark, path_b, target_files=ctx.cores)
        ctx.check("compact writes at most the target file count", 1 <= n_files <= ctx.cores)
        with tr.span("sources.store.load"):
            loaded, cfg = store.load(spark, path_b)
            n_rows = loaded.count()
        ctx.check("store rows = generated rows after upsert + compact", n_rows == n)
        self._db = VectorDB(spark, dim=cfg.dim, df=loaded)

        build_s = tr.busy("streaming.ingest.run_ingest", "sources.store.save",
                          "sources.store.upsert", "sources.store.compact")
        # the near-dup operators are batch similarity searches: each checks
        # every document it is given against the others (the incremental one
        # only the new batch, against the stored ones)
        docs_checked = 4 * n + (n - self.first_new)
        dedup_s = tr.busy(*(f"operators.dedup.{op}" for op in (
            "dedup_exact", "minhash_near_dup", "dedup_clusters", "simhash_near_dup",
            "minhash_dedup_incremental")))
        self._pair_recall = pair_recall
        return {"build_s": build_s, "search_batch_qps": docs_checked / dedup_s}

    def summary(self, ctx):
        return {"recall": self._pair_recall}

    def serve(self, ctx, i):
        from educational_vector_database_spark import rag

        tr = ctx.tracer
        q = i % self.nq
        if i % 4 == 3:
            cid, text = self.rag_queries[q % len(self.rag_queries)]
            with tr.span("rag.answer_query"):
                ans = rag.answer_query(self._chunks, self.emb, text, k=3)
            ctx.check("answer_query: a chunk's own text ranks it first",
                      len(ans["chunks"]) == 3 and ans["chunks"][0]["id"] == cid
                      and abs(ans["chunks"][0]["score"] - 1.0) < 1e-9)
            return
        with tr.span("api.VectorDB.search_vector") as s:
            rows = tr.collect(s, tr.construct(s, lambda: self._db.search_vector(
                self.Q[q].tolist(), k=K)))
        ctx.check("stored search_vector equals the reference top-10",
                  R.topk_matches(self.truth_ids[q:q + 1], self.truth_scores[q:q + 1],
                                 {0: [(int(r["vec_id"]), float(r["score"])) for r in rows]}))

    def release(self, ctx):
        self._db = self._chunks = None
        _unpersist_all(ctx.spark)


WORKLOADS = {w.name: w for w in (IndexBuildSearch, IngestDedup)}
