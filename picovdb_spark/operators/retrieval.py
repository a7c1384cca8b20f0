"""Keyword retrieval over a document corpus: inverted index and BM25
ranking, Spark-first.

The reference engine is vector-only; a corpus engine needs the lexical
side too (hybrid retrieval pairs BM25 with `similarity.batch_query`).
Everything here is pure DataFrame algebra — no UDFs, no collected
corpus state:

- `build_bm25_index` — ONE tokenize+explode pass over the corpus into
  (doc_id, term, tf) postings (the classic inverted-index job: shuffle
  key (doc_id, term), map-side combine). Doc lengths are DERIVED from
  postings (dl = Σ tf), so the corpus text is read exactly once; the
  two corpus scalars (N, avgdl) come back to the driver.
- `Bm25Index.query` — query terms (tiny) BROADCAST-joined onto the
  postings; df(term) via a window count over the matched subset (equal
  to global df for those terms — the full vocabulary is never
  aggregated); score = Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
  (Okapi BM25, Lucene's +1 idf smoothing); per-query top-k through the
  shared WindowGroupLimit path.

At 100 TB: build is one shuffle of (doc_id, term, tf) rows — text never
leaves the map side; a query batch costs one scan of the *matched*
postings plus a k-row shuffle, not a corpus pass. `storage="memory"`
persists the index in the cluster cache; `storage="checkpoint"` cuts
lineage for transient use; `storage=None` leaves it lazy (re-derived
per action — only for tiny inputs or oracle twins).

BM25: Robertson & Spärck Jones probabilistic relevance framework
(Okapi at TREC-3, 1994); k1=1.2, b=0.75 are the standard defaults.
N counts documents with at least one token (a no-token doc can never
match; the DuckDB oracle's unnest has the same semantics).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from picovdb_spark.functions.text import tokens
from picovdb_spark.operators.topk import topk_per_query


def postings(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings: (doc_id, term, tf). Tokenization is the
    engine-wide whitespace split (functions/text.py tokens)."""
    return (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_lengths(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, dl): token count per document — map-side, no shuffle."""
    return docs.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("double").alias("dl")
    )


@dataclass
class Bm25Index:
    """Materialized inverted index: build once, serve query batches."""

    postings: DataFrame  # (id_col, term, tf)
    doc_len: DataFrame  # (id_col, dl)
    n: float
    avgdl: float
    id_col: str

    def query(
        self,
        queries: DataFrame,
        *,
        query_id_col: str = "query_id",
        query_text_col: str = "query",
        k1: float = 1.2,
        b: float = 0.75,
        top_k: int = 10,
        round_to: int = 6,
    ) -> DataFrame:
        """BM25 top-k per query: (query_id, doc_id, score, rank).

        Scores are rounded to `round_to` BEFORE ranking and ties break
        by ascending doc id — the engine-wide deterministic-ranking
        convention, which also makes the result insensitive to floating
        summation order (oracle-comparable)."""
        id_col = self.id_col
        # a query batch is small by construction — materialize its term
        # pairs driver-side into a JVM LocalRelation (session.local_df):
        # both broadcast builds below then cost milliseconds instead of a
        # Python-RDD round trip each
        from picovdb_spark.session import local_df

        spark = self.postings.sparkSession
        qrows = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.array_distinct(tokens(F.col(query_text_col)))).alias("term"),
        ).collect()
        qterms = local_df(
            spark,
            sorted((r["query_id"], r["term"]) for r in qrows),
            "query_id string, term string",
        )
        # restrict postings to query terms FIRST (broadcast semi-join):
        # everything downstream touches matched rows only
        qpost = self.postings.join(F.broadcast(qterms.select("term").distinct()), on="term")
        qpost = qpost.withColumn(
            "df", F.count("*").over(Window.partitionBy("term")).cast("double")
        )
        matched = qpost.join(F.broadcast(qterms), on="term").join(self.doc_len, on=id_col)
        idf = F.log(
            F.lit(1.0) + (F.lit(self.n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        tf_part = (
            F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(self.avgdl)))
        )
        scored = (
            matched.withColumn("__s", idf * tf_part)
            .groupBy("query_id", id_col)
            .agg(F.round(F.sum("__s"), round_to).alias("score"))
        )
        return topk_per_query(
            scored, top_k, id_col=id_col, score_col="score", query_col="query_id"
        )

    def unpersist(self) -> None:
        for df in (self.postings, self.doc_len):
            try:
                df.unpersist()
            except Exception:
                pass


def build_bm25_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    storage: str | None = "memory",
) -> Bm25Index:
    """One corpus pass → reusable `Bm25Index`. `storage`: "memory"
    (cluster cache), "checkpoint" (eager localCheckpoint — cuts lineage,
    freed when the index is garbage-collected), or None (lazy)."""
    post = postings(docs, id_col=id_col, text_col=text_col)
    if storage == "memory":
        post = post.persist()
    elif storage == "checkpoint":
        post = post.localCheckpoint(eager=True)
    # dl = Σ tf — derived from postings, so text is tokenized exactly once
    dl = post.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    if storage == "memory":
        dl = dl.persist()
    elif storage == "checkpoint":
        dl = dl.localCheckpoint(eager=True)
    row = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    n = float(row["n"]) if row["n"] else 0.0
    avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 1.0
    return Bm25Index(postings=post, doc_len=dl, n=n, avgdl=avgdl, id_col=id_col)


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """One-shot convenience: build a transient (checkpointed) index and
    query it. For repeated batches, `build_bm25_index` once and call
    `.query(...)` — the build is the expensive part."""
    idx = build_bm25_index(docs, id_col=id_col, text_col=text_col, storage="checkpoint")
    return idx.query(
        queries,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
        k1=k1,
        b=b,
        top_k=top_k,
        round_to=round_to,
    )


def hybrid_rrf(
    sparse_hits: DataFrame,
    dense_hits: DataFrame,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked hit lists (Cormack et al.
    2009): rrf(d) = Σ_lists 1/(k + rank_list(d)), k=60 standard. A doc
    present in one list only gets that list's contribution. Output
    (doc_id, rrf, rank) — rrf rounded before ranking, ties by id (engine
    convention).

    Both inputs are top-N lists — tiny by construction — so the fusion
    is a full-outer equi-join of two k-row relations: negligible at any
    corpus scale (the heavy lifting happened upstream)."""
    s = sparse_hits.select(F.col(id_col), F.col(rank_col).alias("__rs"))
    d = dense_hits.select(F.col(id_col), F.col(rank_col).alias("__rd"))
    fused = (
        s.join(d, on=id_col, how="full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (F.lit(k) + F.col("__rs")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k) + F.col("__rd")), F.lit(0.0)),
                round_to,
            ),
        )
        .withColumn("__q", F.lit("q"))
    )
    out = topk_per_query(fused, top_k, id_col=id_col, score_col="rrf", query_col="__q")
    return out.select(id_col, "rrf", "rank")


def maxsim_topk(
    doc_vecs: DataFrame,
    query_vecs: DataFrame,
    *,
    top_k: int = 10,
    doc_id: str = "doc_id",
    query_id: str = "query_id",
    vector_col: str = "vec",
    token_col: str = "token_idx",
    candidates: DataFrame | None = None,
    normalized: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Late-interaction retrieval (ColBERT MaxSim — Khattab & Zaharia,
    SIGIR 2020): documents and queries are BAGS of vectors (token or
    chunk embeddings);  score(q, d) = Σ_{query tokens t} max_{doc
    vectors v} cos(t, v).  The max rewards a doc that covers each query
    aspect somewhere; the sum rewards covering all of them — strictly
    more expressive than single-vector cosine over pooled embeddings.

    Pure DataFrame algebra, two aggregations:
      broadcast(query token vectors — tiny)  ⋈  doc vectors
        → dot per (doc vector, query token)          [map-side only]
        → groupBy (query, doc, token) max            [shuffle 1, with
          map-side partial max: rows leaving a partition are bounded by
          distinct (q, d, t) touched there, not by doc-vector count]
        → groupBy (query, doc) sum                   [same key prefix —
          Catalyst reuses the exchange; no second wide shuffle]
        → per-query top-k (shared WindowGroupLimit path).

    A full MaxSim pass scores EVERY doc (the honest brute-force regime,
    like the exact cosine scan). At corpus scale run the standard
    two-stage plan: ANN/BM25 candidate generation first, then pass the
    survivors as `candidates` (any DataFrame with `doc_id`) — MaxSim
    then scores only the broadcast-semi-joined subset, which is the
    ColBERT production shape.

    `normalized=True` skips re-normalization when both sides already
    hold unit vectors (the store invariant)."""
    from picovdb_spark.functions.vector import dot, l2_normalize

    norm = (lambda c: c) if normalized else l2_normalize
    d = doc_vecs.select(
        F.col(doc_id).cast("string").alias(doc_id), norm(F.col(vector_col)).alias("__dv")
    )
    if candidates is not None:
        d = d.join(
            F.broadcast(candidates.select(F.col(doc_id).cast("string").alias(doc_id)).distinct()),
            doc_id,
            "left_semi",
        )
    q = F.broadcast(
        query_vecs.select(
            F.col(query_id).cast("string").alias(query_id),
            F.col(token_col),
            norm(F.col(vector_col)).alias("__qv"),
        )
    )
    per_tok = (
        d.crossJoin(q)
        .withColumn("__s", dot(F.col("__dv"), F.col("__qv")))
        .groupBy(query_id, doc_id, token_col)
        .agg(F.max("__s").alias("__m"))
    )
    per_doc = per_tok.groupBy(query_id, doc_id).agg(
        F.round(F.sum("__m"), round_to).alias("maxsim")
    )
    return topk_per_query(
        per_doc, top_k, id_col=doc_id, score_col="maxsim", query_col=query_id
    )


def mmr_rerank(
    results: DataFrame,
    *,
    k: int = 10,
    lam: float = 0.5,
    query_id: str = "query_id",
    id_col: str = "doc_id",
    vector_col: str = "embedding",
    rel_col: str = "score",
    normalized: bool = False,
    round_to: int = 6,
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR 1998) — the standard RAG rerank that trades raw relevance
    against redundancy: greedily pick, per query,

        argmax over remaining candidates of
            lam * relevance  -  (1 - lam) * max cosine to already-picked

    `results` is a per-query CANDIDATE set — (query_id, doc_id,
    relevance, embedding) rows from a first-stage retriever (exact/ANN
    top-N, BM25, or hybrid_rrf output joined back to vectors). MMR is
    inherently sequential in k, so this is a second-stage operator over
    SMALL per-query groups (N in the tens-to-hundreds; `max_candidates`
    guards against misuse on a full corpus — at that size you want a
    first-stage retriever, not a rerank).

    Output: (query_id, rank 1..k, doc_id, relevance, redundancy,
    mmr_score) where redundancy is the max cosine to previously picked
    docs (0.0 for rank 1) and mmr_score the objective value at pick
    time. query_id and doc_id come back as STRINGS (the knn_join/topk
    convention) regardless of input type — cast back before joining to
    a typed id column, or the comparison coerces both sides. Both are ROUNDED to `round_to` BEFORE the argmax compare
    (ties then break on smallest doc_id), so the greedy trajectory —
    not just the scores — is reproducible across engines: a last-ulp
    BLAS difference can otherwise flip a pick and cascade through every
    later rank.

    Scale shape: one `applyInPandas` over query groups — queries
    partition the work (shuffle key: query_id), each group is an
    O(k * N * dim) NumPy loop on its executor; no driver collection,
    no cross-query state. lam=1 degenerates to plain top-k by
    relevance; lam=0 to pure diversity.

    Reference contrast: the reference returns raw top-k only
    (pico_vdb.py query); diversification is out of its model.
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from picovdb_spark.functions.vector import l2_normalize
    from picovdb_spark.operators.ann import stack_vectors

    vec = F.col(vector_col) if normalized else l2_normalize(F.col(vector_col))
    src = results.select(
        F.col(query_id).cast("string").alias("q"),
        F.col(id_col).cast("string").alias("d"),
        F.col(rel_col).cast("double").alias("r"),
        vec.cast("array<double>").alias("v"),
    )
    lam_f, cap, rt = float(lam), int(max_candidates), int(round_to)
    kk = int(k)
    schema = (
        f"{query_id} string, rank int, {id_col} string, "
        "relevance double, redundancy double, mmr_score double"
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"mmr_rerank: query {pdf['q'].iloc[0]!r} has {n} candidates "
                f"(> max_candidates={cap}); MMR is a second-stage rerank — "
                "run a first-stage retriever (ANN / BM25) and rerank its "
                "top-N, or raise max_candidates deliberately"
            )
        # deterministic candidate order: rows sorted by id so every
        # argmax tie-break below is engine- and partitioning-independent
        pdf = pdf.sort_values("d", kind="mergesort").reset_index(drop=True)
        m = stack_vectors(pdf["v"])
        rel = np.round(pdf["r"].to_numpy(np.float64), rt)
        picked: list[int] = []
        red = np.zeros(n, dtype=np.float64)  # max cos to picked, rounded
        alive = np.ones(n, dtype=bool)
        out = []
        for rank in range(1, min(kk, n) + 1):
            obj = lam_f * rel - (1.0 - lam_f) * red
            obj = np.round(obj, rt)
            obj_alive = np.where(alive, obj, -np.inf)
            best = int(np.argmax(obj_alive))  # ties -> lowest index = smallest id
            out.append(
                (
                    pdf["q"].iloc[0],
                    rank,
                    pdf["d"].iloc[best],
                    float(rel[best]),
                    float(red[best]),
                    float(obj[best]),
                )
            )
            alive[best] = False
            picked.append(best)
            if alive.any():
                sims = np.round(m[alive] @ m[best], rt)
                red[alive] = np.maximum(red[alive], sims)
        return pd.DataFrame(
            out,
            columns=["q", "rank", "d", "relevance", "redundancy", "mmr_score"],
        ).rename(columns={"q": query_id, "d": id_col})

    return src.groupBy("q").applyInPandas(_one, schema=schema)
