"""The two workloads: `serve` and `dedup`.

A workload builds its inputs (`build`, repeated during set-up), does
its one-time preparation (`prepare`), then runs one fixed sequence of
public calls per `cycle`. Every call goes
through `Recorder.call` under a `<module>.<call>` name, and every result
is checked by a gate from `gates.py`; a call that raises or fails its
gate counts as a failed op.

Calls made once per run live in `prepare`: they count toward the
set-up time, and a traced run keeps their spans for the per-layer
metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np

import gates
import inputs

SIZES = {
    "serve": {
        # reference shape is 100k x 1024, scaled so a run fits its time
        # budget; the reference batch size of 1000 queries is kept
        "full": dict(n=10_000, dim=256, clusters=32, batch=1000, filtered_q=100,
                     singles=500, gate_queries=8, ivf_centroids=32, nprobe=4,
                     w_n=1_000, w_dim=256, w_batch=100, w_deletes=20, w_centroids=16,
                     pq_m=8, pq_k=64),
        "tiny": dict(n=2_000, dim=64, clusters=8, batch=100, filtered_q=20,
                     singles=20, gate_queries=4, ivf_centroids=8, nprobe=2,
                     w_n=300, w_dim=32, w_batch=20, w_deletes=10, w_centroids=4,
                     pq_m=4, pq_k=16),
    },
    "dedup": {
        "full": dict(docs=1_500, emb=1_500, emb_dim=32, sem_clusters=8,
                     knn_left=100, knn_k=10, gate_rows=5),
        "tiny": dict(docs=800, emb=800, emb_dim=16, sem_clusters=4,
                     knn_left=40, knn_k=5, gate_rows=3),
    },
}

TOP_K = 10
# Recall floors, well below the values seen while sizing the benchmark:
# IVF probing of `nprobe` of the generated clusters found 99.9-100% of
# the exact top-10 at both sizes, and MinHash-LSH at its default
# threshold found 79-82% of the planted one-word mutations.
IVF_RECALL_FLOOR = 0.95
MINHASH_RECALL_FLOOR = 0.5


class Workload:
    """Shared bookkeeping: op counting, gates, the DataFrame helpers."""

    name = ""

    def __init__(self, spark, rec, seed: int, size: str, work_dir: str):
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.p = SIZES[self.name][size]
        self.work_dir = work_dir
        self.parts = 2 * spark.sparkContext.defaultParallelism
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.frames: list = []
        self._op_failed = False

    def op(self, name: str, fn, *args, **kwargs):
        """One timed public call; returns its result (None if it raised)."""
        self.attempted += 1
        self._op_failed = False
        try:
            return self.rec.call(name, fn, *args, **kwargs)
        except Exception as e:  # the run keeps going and reports the failure
            self.fail(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
            return None

    def gate(self, reason: str | None) -> None:
        """Record a gate verdict against the op just made."""
        if reason is not None:
            self.fail(reason)

    def fail(self, reason: str) -> None:
        """Count the op just made as failed, once however many gates fail."""
        if not self._op_failed:
            self._op_failed = True
            self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(reason)

    def frame(self, data, schema=None):
        """Cache `data` (Arrow or pandas) as a DataFrame, spread over
        twice the cores."""
        df = self.spark.createDataFrame(data, schema=schema).repartition(self.parts).cache()
        df.count()
        self.frames.append(df)
        return df

    def release_inputs(self) -> None:
        """Drop the cached input frames of the previous `build`."""
        for df in self.frames:
            df.unpersist()
        self.frames.clear()

    def prepare(self) -> None:
        """One-time set-up after the inputs exist."""

    def median(self, name: str) -> float:
        return statistics.median(self.rec.walls[name])

    def extra_layer(self) -> dict:
        return {}

    def teardown(self) -> None:
        self.release_inputs()
        self.spark.catalog.clearCache()


# ---------------------------------------------------------------- serve


class Serve(Workload):
    name = "serve"

    def build(self) -> None:
        p = self.p
        vecs, labels = inputs.clustered_vectors(self.seed, p["n"], p["dim"], p["clusters"])
        self.vecs, self.labels = vecs, labels
        self.queries = inputs.noisy_queries(self.seed, vecs, p["batch"])
        self.qids = [str(i) for i in range(p["batch"])]
        self.store = self.frame(inputs.vector_table(range(p["n"]), vecs, label=labels))
        qtab = inputs.vector_table(self.qids, self.queries).rename_columns(["query_id", "_vector_"])
        self.qdf = self.frame(qtab)
        # float64 reference scores for the gated queries; exact top-10 of
        # every query (float32) for IVF recall
        rng = np.random.default_rng([self.seed, 5])
        self.gated = rng.choice(p["batch"], p["gate_queries"], replace=False)
        v64 = vecs.astype(np.float64)
        self.ref = {int(i): v64 @ self.queries[i].astype(np.float64) for i in self.gated}
        s32 = self.queries @ vecs.T
        self.exact10 = np.argpartition(-s32, TOP_K - 1, axis=1)[:, :TOP_K]
        self.ids_1pct = {str(i) for i in range(0, p["n"], 100)}
        self.cycle_no = 0
        self.recall: list[float] = []

    def prepare(self) -> None:
        from picovdb_spark import ResidentGemmStore, ResidentIvfStore

        p = self.p
        # The write path and the index builds are layers of their own that
        # a read-only workload does not need. Cold, they cost ~25 s, which
        # the run budget cannot carry in every run beside enough measured
        # cycles, so only the traced run makes them, for the per-layer
        # metrics of `store`, `ann` and `ivfpq`.
        if self.rec.tracing:
            self._write_path()

        shm = os.path.join(self.work_dir, "shm")
        self.rs = ResidentGemmStore(self.store, normalized=True,
                                    shm_dir=os.path.join(shm, f"gemm-{self.seed}"))
        self.op("resident.materialize", self.rs.materialize)
        self.rivf = ResidentIvfStore(self.store, n_centroids=p["ivf_centroids"], seed=self.seed,
                                     shm_dir=os.path.join(shm, f"ivf-{self.seed}"))
        self.op("resident.ivf_materialize", self.rivf.materialize)

    def _count(self, store, expected: int, what: str) -> None:
        self.gate(gates.check_equal(f"live count after {what}", expected, store.count()))

    @staticmethod
    def _rows(store) -> list[tuple]:
        return [tuple(r) for r in store.active().select("_id_", "_vector_", "bucket").collect()]

    def _write_path(self) -> None:
        """Ingest, mutate, persist and index a small VectorStore once,
        gating every step: live counts, rank-1 after upsert, deleted ids
        absent, the reopened store's content hash, and index row counts."""
        from picovdb_spark import VectorStore
        from picovdb_spark.operators.ivfpq import IvfPqIndex

        p = self.p
        w = inputs.write_batches(self.seed, p["w_n"], p["w_dim"], p["w_batch"], p["w_deletes"])
        base = self.frame(w["base"])
        store = VectorStore(self.spark, p["w_dim"])
        if self.op("store.upsert_bulk", store.upsert, base, report="dataframe") is None:
            return
        live = p["w_n"]
        self._count(store, live, "bulk upsert")

        report = self.op("store.upsert", store.upsert, w["batch"])
        if report is None:
            return
        live += len(report["insert"])
        self.gate(gates.check_equal("upsert inserts", w["fresh"], len(report["insert"])))
        self._count(store, live, "upsert")
        probe = w["batch"][0]
        rows = self.op("store.query_one", lambda: sorted(
            store.query_one(probe["_vector_"], top_k=TOP_K)
            .select("rank", "_id_", "_metrics_").collect()))
        if rows is not None:
            self.gate(gates.check_rank1(probe["_id_"], [(r[1], r[2]) for r in rows]))

        removed = self.op("store.delete", store.delete, w["doomed"])
        if removed is not None:
            live -= len(removed)
            self.gate(gates.check_equal("deleted ids", w["doomed"], sorted(removed)))
        compacted = self.op("store.vacuum", store.vacuum)
        self.gate(gates.check_equal("vacuumed rows", len(w["doomed"]), compacted))
        saved_rows = self._rows(store)
        self.gate(gates.check_equal("live rows after delete", live, len(saved_rows)))
        self.gate(gates.check_absent(set(w["doomed"]), {r[0] for r in saved_rows}))
        path = os.path.join(self.work_dir, "stores", f"serve-{self.seed}")
        if self.op("store.save", store.save, path) is None:
            return
        user_bytes = sum(len(r[0]) + 4 * len(r[1]) + 8 for r in saved_rows)
        disk_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(path) for f in fs)
        self.disk_ratio = disk_bytes / user_bytes
        reopened = self.op("store.open", VectorStore, self.spark, p["w_dim"], storage_path=path)
        if reopened is None:
            return
        self.gate(gates.check_equal("reopened content hash", gates.content_hash(saved_rows),
                                    gates.content_hash(self._rows(reopened))))

        idx = self.op("ann.build", reopened.build_ann_index, n_centroids=p["w_centroids"],
                      seed=self.seed)
        self.gate(gates.check_equal("ann index rows", live, getattr(idx, "base_rows", None)))

        def pq_build():
            index = IvfPqIndex.build(reopened.active(), n_centroids=p["w_centroids"],
                                     m=p["pq_m"], k=p["pq_k"], seed=self.seed)
            return index, index.codes.count()

        built = self.op("ivfpq.build", pq_build)
        if built is None:
            return
        self.gate(gates.check_equal("ivfpq codes", live, built[1]))
        built[0].unpersist()
        shutil.rmtree(path, ignore_errors=True)
        once = {k: v[0] for k, v in self.rec.walls.items()}
        self.write_metrics = {
            "bulk_load_rows_per_s": (p["w_n"] / once["store.upsert_bulk"], "1/s"),
            "upsert_batch_s": (once["store.upsert"], "s"),
            "read_after_write_s": (once["store.query_one"], "s"),
            "save_load_s": (once["store.save"] + once["store.open"], "s"),
            "index_build_s": (once["ann.build"] + once["ivfpq.build"], "s"),
        }

    def _gate_batch(self, rows, qidx) -> None:
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r[0], []).append((r[3], r[1], r[2]))
        for qi in qidx:
            got = sorted(by_q.get(str(qi), []))
            self.gate(gates.check_topk([g[1] for g in got], [g[2] for g in got],
                                       self.ref[int(qi)], TOP_K, int))

    def cycle(self) -> None:
        from picovdb_spark import batch_query

        p = self.p
        rows = self.op("similarity.batch_query", lambda: batch_query(
            self.store, (self.qids, self.queries), top_k=TOP_K, method="gemm",
            normalized=True).select("query_id", "_id_", "_metrics_", "rank").collect())
        if rows is not None:
            self._gate_batch(rows, self.gated)

        # the reference profiler's filtered batches
        nf = p["filtered_q"]
        off = (self.cycle_no * nf) % (p["batch"] - nf + 1)
        fq = (self.qids[off:off + nf], self.queries[off:off + nf])
        label = int(self.cycle_no % 10)
        # where 10% + better_than together, and an ids 1% allow-list: all
        # three filter mechanisms of the reference profiler in two batches
        for kw, ids, labs, bt in (
            ({"where": {"label": {"$in": [label]}}, "better_than": 0.7}, None, {label}, 0.7),
            ({"ids": sorted(self.ids_1pct)}, self.ids_1pct, None, None),
        ):
            rows = self.op("similarity.batch_query_filtered", lambda kw=kw: batch_query(
                self.store, fq, top_k=TOP_K, method="gemm", normalized=True, **kw)
                .select("_id_", "_metrics_").collect())
            if rows is not None:
                self.gate(gates.check_filter([(r[0], r[1]) for r in rows], ids, labs, bt,
                                             lambda i: int(self.labels[int(i)])))

        # the gated queries first, then a window of the others
        singles = list(self.gated) + [(self.cycle_no * p["singles"] + j) % p["batch"]
                                      for j in range(p["singles"] - len(self.gated))]
        for j, qi in enumerate(singles):
            hits = self.op("resident.query_local", self.rs.query_local, self.queries[qi],
                           top_k=TOP_K)
            if hits is not None and j < len(self.gated):
                self.gate(gates.check_topk([h["_id_"] for h in hits],
                                           [h["_metrics_"] for h in hits],
                                           self.ref[qi], TOP_K, int))

        rows = self.op("resident.ivf_query", lambda: self.rivf.query(
            self.qdf, top_k=TOP_K, nprobe=p["nprobe"]).select("query_id", "_id_", "_metrics_")
            .collect())
        if rows is not None:
            found: dict[int, set] = {}
            scores: dict[int, list] = {}
            for q, i, s in rows:
                found.setdefault(int(q), set()).add(int(i))
                scores.setdefault(int(q), []).append((int(i), s))
            hit = sum(len(found.get(q, set()) & set(self.exact10[q].tolist()))
                      for q in range(p["batch"]))
            self.recall.append(hit / (p["batch"] * TOP_K))
            self.gate(gates.check_min_recall("ivf top-10", hit, p["batch"] * TOP_K,
                                             IVF_RECALL_FLOOR))
            # routed results carry exact scores for the ids they return
            for qi in self.gated:
                ref = self.ref[int(qi)]
                bad = [i for i, s in scores.get(int(qi), []) if abs(ref[i] - s) > gates.SCORE_TOL]
                self.gate(f"ivf score mismatch on {len(bad)} ids" if bad else None)
        self.cycle_no += 1

    def named_metrics(self) -> dict:
        p = self.p
        single = np.array(self.rec.walls["resident.query_local"]) * 1e3
        return {
            "batch_qps": (p["batch"] / self.median("similarity.batch_query"), "1/s"),
            "filtered_qps": (p["filtered_q"] / self.median("similarity.batch_query_filtered"), "1/s"),
            "single_query_p50_ms": (float(np.percentile(single, 50)), "ms"),
            "single_query_p99_ms": (float(np.percentile(single, 99)), "ms"),
            "single_query_samples": (len(single), "count"),
            "ann_qps": (p["batch"] / self.median("resident.ivf_query"), "1/s"),
            "ann_recall_at_10": (statistics.median(self.recall), "ratio"),
            # traced runs only: one cold pass in prepare
            **getattr(self, "write_metrics", {}),
        }

    def extra_layer(self) -> dict:
        return {"store.disk_bytes_per_user_byte": (getattr(self, "disk_ratio", 0.0), "ratio")}

    def teardown(self) -> None:
        for r in (getattr(self, "rs", None), getattr(self, "rivf", None)):
            if r is not None:
                r.close()
        super().teardown()


# ---------------------------------------------------------------- dedup


class Dedup(Workload):
    name = "dedup"

    def build(self) -> None:
        import pandas as pd
        from pyspark.sql import types as T

        p = self.p
        ids, texts, self.exact_ids, self.mutated = inputs.corpus(self.seed, p["docs"])
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType())])
        self.docs = self.frame(pd.DataFrame({"doc_id": ids, "text": texts}), schema)
        eids, evecs, self.emb_pairs = inputs.planted_embeddings(self.seed, p["emb"], p["emb_dim"])
        self.evecs = evecs
        self.emb = self.frame(inputs.pa.table({"vec_id": eids,
                                               "embedding": inputs.list_array(evecs)}))
        self.left = self.emb.filter(f"vec_id < {p['knn_left']}").cache()
        self.left.count()
        self.frames.append(self.left)
        self.counts: dict[str, int] = {}
        self.pairs_found: list[int] = []
        self.recall: list[float] = []

    def prepare(self) -> None:
        from picovdb_spark.operators.dedup import lsh_bucket_stats

        # the candidate count only feeds the traced run's verify yield
        if self.rec.tracing:
            self.candidates = lsh_bucket_stats(self.docs)["candidate_pairs"]

    def _same(self, what: str, value: int) -> None:
        """Pair and component counts must not change between cycles."""
        first = self.counts.setdefault(what, value)
        self.gate(gates.check_equal(f"{what} count across cycles", first, value))

    def cycle(self) -> None:
        from picovdb_spark.operators.dedup import (
            connected_components,
            exact_dedup,
            minhash_lsh_pairs,
            semantic_dedup_pairs,
            simhash_pairs,
        )
        from picovdb_spark.operators.pipeline import curate_corpus
        from picovdb_spark.operators.similarity import knn_join_blocked

        p = self.p
        copies = {(i - 1, i) for i in self.exact_ids}
        rows = self.op("dedup.exact_dedup", lambda: exact_dedup(self.docs)
                       .filter("is_dup").select("doc_id").collect())
        if rows is not None:
            self.gate(gates.check_flagged(self.exact_ids, {r[0] for r in rows}))
            self._same("exact_dup", len(rows))

        pairs = None

        def minhash():
            nonlocal pairs
            pairs = minhash_lsh_pairs(self.docs).select("id_a", "id_b").cache()
            return pairs.collect()

        rows = self.op("dedup.minhash_lsh_pairs", minhash)
        if rows is not None:
            got = {(min(a, b), max(a, b)) for a, b in rows}
            self.gate(gates.check_flagged(copies, got))
            found = len(self.mutated & got)
            self.recall.append(found / max(len(self.mutated), 1))
            self.gate(gates.check_min_recall("minhash planted", found, len(self.mutated),
                                             MINHASH_RECALL_FLOOR))
            self.pairs_found.append(len(got))
            self._same("minhash_pairs", len(got))

        if rows is not None:
            rows = self.op("dedup.connected_components", lambda: connected_components(
                pairs, self.docs).filter("is_dup").select("doc_id", "component_id").collect())
            pairs.unpersist()
        if rows is not None:
            comp = dict(rows)
            self.gate(None if all(comp.get(i) == comp.get(i - 1, i - 1) for i in self.exact_ids)
                      else "a planted exact copy is not in its base's component")
            self._same("components_dup", len(comp))

        rows = self.op("dedup.simhash_pairs", lambda: simhash_pairs(self.docs)
                       .select("id_a", "id_b").collect())
        if rows is not None:
            self.gate(gates.check_flagged(copies, {(min(a, b), max(a, b)) for a, b in rows}))
            self._same("simhash_pairs", len(rows))

        # curation (~40 jobs, 5-9 s warm) would double the run's cost, so,
        # like serve's write path, only the traced run makes it
        if self.rec.tracing:
            rows = self.op("pipeline.curate_corpus", lambda: curate_corpus(self.docs)
                           .select("doc_id", "keep").collect())
            if rows is not None:
                kept = {i for i, k in rows if k}
                self.gate(gates.check_equal("curated rows", p["docs"], len(rows)))
                self.gate(gates.check_absent(self.exact_ids, kept))
                self._same("curate_kept", len(kept))

        rows = self.op("dedup.semantic_dedup_pairs", lambda: semantic_dedup_pairs(
            self.emb, n_clusters=p["sem_clusters"], threshold=0.95, seed=self.seed)
            .select("id_a", "id_b", "cosine").collect())
        if rows is not None:
            exact = {(a, b) for a, b, c in rows if c >= 0.999999}
            self.gate(gates.check_flagged(self.emb_pairs, exact))
            self._same("semantic_pairs", len(rows))

        rows = self.op("similarity.knn_join_blocked", lambda: knn_join_blocked(
            self.left, self.emb, k=p["knn_k"], left_id="vec_id", right_id="vec_id",
            left_vec="embedding", right_vec="embedding", exclude_self=True,
            score_dtype="float32").collect())
        if rows is not None:
            self._gate_knn(rows)

    def _gate_knn(self, rows) -> None:
        p = self.p
        self.gate(gates.check_equal("knn rows", p["knn_left"] * p["knn_k"], len(rows)))
        by_left: dict[int, list] = {}
        for q, i, score, rank in rows:
            by_left.setdefault(int(q), []).append((rank, int(i), score))
        v64 = self.evecs.astype(np.float64)
        for i in range(p["gate_rows"]):
            ref = v64 @ v64[i]
            ref[i] = -np.inf  # exclude_self
            got = sorted(by_left.get(i, []))
            self.gate(gates.check_topk([g[1] for g in got], [g[2] for g in got], ref,
                                       p["knn_k"], int))

    def named_metrics(self) -> dict:
        p = self.p
        w = self.rec.walls
        dedup_s = [sum(c) for c in zip(w["dedup.exact_dedup"], w["dedup.minhash_lsh_pairs"],
                                       w["dedup.simhash_pairs"], w["dedup.connected_components"])]
        embed_s = [a + b for a, b in zip(w["dedup.semantic_dedup_pairs"],
                                         w["similarity.knn_join_blocked"])]
        named = {
            "dedup_docs_per_s": (p["docs"] / statistics.median(dedup_s), "1/s"),
            "embed_dedup_vecs_per_s": (p["emb"] / statistics.median(embed_s), "1/s"),
        }
        if "pipeline.curate_corpus" in w:
            named["curate_docs_per_s"] = (p["docs"] / self.median("pipeline.curate_corpus"), "1/s")
        return named

    def extra_layer(self) -> dict:
        return {
            "dedup.verify_yield": (statistics.median(self.pairs_found) / max(self.candidates, 1),
                                   "ratio"),
            "dedup.planted_recall": (statistics.median(self.recall), "ratio"),
        }


WORKLOADS = {"serve": Serve, "dedup": Dedup}
