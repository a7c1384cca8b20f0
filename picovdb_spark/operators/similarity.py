"""Filtered batch top-k cosine search — the reference's core operator
(`query()`, /root/reference/picovdb/pico_vdb.py:539-775), decomposed per
SURVEY.md §2.2 into relational stages:

    queries → normalize (Q2) → [ids semi-join Q4] → [where prefilter Q5-Q8]
            → similarity scan (Q9) → per-query top-k (Q11)
            → better_than filter (Q13) → projection (Q14)

Two physical strategies for the similarity scan:

- ``method="sql"``: broadcast the (small) query batch and cross-join with
  the candidate store rows; the dot product is a Catalyst array
  expression inside whole-stage codegen. Catalyst pushes the metadata
  prefilters into the Parquet scan; WindowGroupLimit pre-truncates
  per-partition before the top-k shuffle.
- ``method="gemm"``: `mapInArrow` over store partitions running one
  NumPy GEMM per Arrow batch against the broadcast query matrix,
  emitting only each partition's local top-k (query_id, _id_, score)
  triples — O(num_q × k) rows per partition into the final shuffle
  instead of O(num_q × n). Metadata is joined back onto the tiny result.
  This is the 100 TB path: scan stays columnar, the vector block is a
  zero-copy Arrow→NumPy reshape (no per-row Python loop), shuffle is
  bounded by k.

  `score_dtype` picks the kernel precision: ``"float64"`` (default)
  matches the DuckDB oracle bit-for-bit after rounding; ``"float32"``
  is the throughput mode — the same precision the reference scores in
  (its store matrix is float32, pico_vdb.py:62-75), ~2× the GEMM rate
  and half the memory traffic. The float32 kernel selects candidates
  with a one-ulp-of-rounding pad so the post-GEMM rounding can't drop
  a boundary tie.

Both paths rank on the score ROUNDED to `round_to` decimals (ties broken
by id) so results are identical across paths and reproducible in the
DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.functions.vector import dot, l2_normalize, unit_rows, vector_block
from picovdb_spark.schema import K_DELETED, K_ID, K_METRICS, K_VECTOR

WhereClause = dict[str, Any] | Column | Callable[[dict], bool] | None


def _apply_where(cand: DataFrame, where: WhereClause) -> DataFrame:
    """Q5/Q6/Q7: metadata prefilter.

    - dict: `{k: v}` equality, `{k: {"$in": [...]}}` membership
      (pico_vdb.py:615-638) — plain Column predicates, pushed into the scan.
    - Column: any Spark boolean expression (engine extension).
    - callable: arbitrary row predicate (pico_vdb.py:643-648) — the UDF
      slow path; evaluated over a struct of the metadata columns only.
    """
    if where is None:
        return cand
    if isinstance(where, Column):
        return cand.filter(where)
    if isinstance(where, dict):
        for key, value in where.items():
            if isinstance(value, dict) and "$in" in value:
                cand = cand.filter(F.col(key).isin(list(value["$in"])))
            else:
                cand = cand.filter(F.col(key) == F.lit(value))
        return cand
    if callable(where):
        # the reference passes the FULL doc dict including _id_
        # (pico_vdb.py:643-648; docs store meta[K_ID]) — only the vector
        # and the tombstone flag are engine-internal. Arrow-batched
        # pandas UDF (one Python call per batch, not per row); each
        # record is converted back to the reference's dict shape: nulls
        # as None (not NaN/NaT), arrays as Python lists.
        meta_cols = [c for c in cand.columns if c not in (K_VECTOR, K_DELETED)]
        # pandas promotes a nullable int column to float64 — restore the
        # declared integral type so predicates see int, like Row.asDict()
        int_cols = frozenset(
            c
            for c in meta_cols
            if isinstance(
                cand.schema[c].dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            )
        )

        def _as_ref_dict(rec: dict) -> dict:
            import numpy as np
            import pandas as pd

            out = {}
            for k, v in rec.items():
                if isinstance(v, np.ndarray):
                    v = v.tolist()
                elif isinstance(v, np.generic):
                    v = v.item()
                elif v is pd.NaT or (isinstance(v, float) and v != v):
                    v = None
                elif isinstance(v, pd.Timestamp):
                    v = v.to_pydatetime()
                if k in int_cols and isinstance(v, float):
                    v = int(v)
                out[k] = v
            return out

        def batch_pred(pdf):
            import pandas as pd

            return pd.Series(
                [bool(where(_as_ref_dict(rec))) for rec in pdf.to_dict("records")]
            )

        pred = F.pandas_udf(batch_pred, T.BooleanType())
        return cand.filter(pred(F.struct(*[F.col(c) for c in meta_cols])))
    raise TypeError(f"unsupported where clause: {type(where)}")


def candidate_set(
    store: DataFrame,
    *,
    ids: Iterable[str] | DataFrame | None = None,
    where: WhereClause = None,
) -> DataFrame:
    """Q3-Q8: active rows ∩ ids prefilter ∩ where prefilter."""
    cand = store
    if K_DELETED in store.columns:
        cand = cand.filter(~F.col(K_DELETED))
    if ids is not None:
        if not isinstance(ids, DataFrame):
            from picovdb_spark.session import local_df

            ids_df = local_df(
                store.sparkSession, [(str(i),) for i in ids], f"{K_ID} string"
            )
        else:
            ids_df = ids
        # Q4: broadcast semi-join — the id list is small by contract.
        cand = cand.join(F.broadcast(ids_df), on=K_ID, how="left_semi")
    return _apply_where(cand, where)


def _normalized_queries(queries: DataFrame, query_id: str, vector_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id).cast("string").alias("query_id"),
        l2_normalize(F.col(vector_col)).alias("__qv"),
    )


# Ceiling on the driver-resident float64 query matrix (bytes). Query
# batches are broadcast state by design (every kernel scores against
# them); a batch past this size must be CHUNKED by the caller — failing
# fast with instructions beats a driver OOM three stages into the job.
# 8 GiB ≈ 1M queries at dim 1024.
MAX_QUERY_MATRIX_BYTES = 8 << 30


def normalize_query_matrix(qids, qmat):
    """L2-normalize a driver-resident query matrix in place-compatible
    NumPy (float64, zero ⇒ e₀ — pico_vdb.py:585-590). Shared by the
    DataFrame collect path and the pre-collected `(ids, matrix)` query
    form. Returns (ids ndarray[object], unit float64 matrix)."""
    import numpy as np

    if isinstance(qids, (str, bytes)):
        # a bare string would silently iterate into per-character ids
        raise ValueError(
            "query ids must be a sequence of ids, not a single string"
        )
    # coerce ids to str up front: the DataFrame path's schema enforces
    # string ids, but a pre-collected (ids, matrix) batch can carry ints
    # (or anything) — without this they crash executor-side in
    # pa.array(..., type=pa.string()) with an opaque ArrowTypeError
    qids = np.asarray([str(i) for i in qids], dtype=object)
    qmat = np.asarray(qmat)
    if qmat.ndim != 2 or len(qids) != qmat.shape[0]:
        raise ValueError(
            f"query matrix must be (len(ids), dim); got ids={len(qids)} "
            f"matrix={qmat.shape}"
        )
    # sized as float64 BEFORE the cast, so an oversized float32 batch
    # fails without allocating its float64 copy
    f64_bytes = 8 * qmat.size
    if f64_bytes > MAX_QUERY_MATRIX_BYTES:
        raise ValueError(
            f"query batch is {f64_bytes >> 20} MiB as a float64 matrix "
            f"(cap {MAX_QUERY_MATRIX_BYTES >> 20} MiB): query batches are "
            "driver-resident broadcast state — split the batch and union "
            "the per-chunk results (each chunk's top-k is independent), "
            "or use knn_join_blocked for a query side that should never "
            "live on the driver at all"
        )
    return qids, unit_rows(qmat.astype(np.float64, copy=False))


def collect_normalized_queries(queries: DataFrame, query_id: str, vector_col: str):
    """Collect the (bounded) query batch RAW and L2-normalize driver-side
    in NumPy — same semantics as the `l2_normalize` expression (float64,
    zero ⇒ e₀) but O(collect) instead of a Catalyst higher-order fold,
    which is interpreted per element and pathological at high dim
    (measured: 58s vs 0.3s for 1000 × dim-1024). The transfer is
    Arrow-columnar (`toArrow`), not row-pickled `.collect()` — a flat
    buffer + reshape instead of a million boxed floats (measured 0.35s →
    ~0.02s at 1000 × 1024). Returns (ids, qmat) — empty qmat if no
    queries."""
    tbl = queries.select(
        F.col(query_id).cast("string").alias("query_id"), F.col(vector_col)
    ).toArrow()
    qids = tbl.column("query_id").to_pylist()
    vec = tbl.column(vector_col)
    # decode in the Arrow value type (a zero-copy view):
    # normalize_query_matrix checks the float64 size before it casts, and
    # its shared normalize keeps the DataFrame and pre-collected paths
    # from desynchronizing
    return normalize_query_matrix(
        qids, vector_block(vec, vec.type.value_type.to_pandas_dtype())
    )


def batch_query(
    store: DataFrame,
    queries: DataFrame | tuple,
    *,
    top_k: int = 10,
    better_than: float | None = None,
    where: WhereClause = None,
    ids: Iterable[str] | DataFrame | None = None,
    method: str = "auto",
    normalized: bool = False,
    score_dtype: str = "float64",
    round_to: int = 6,
    query_id: str = "query_id",
    vector_col: str = K_VECTOR,
    include_vector: bool = False,
) -> DataFrame:
    """Batch filtered top-k cosine search.

    Parameters mirror `PicoVectorDB.query`
    (/root/reference/picovdb/pico_vdb.py:539-562): `top_k`, `better_than`
    (post-ranking score threshold), `where` (metadata prefilter), `ids`
    (candidate id allow-list). `queries` is a DataFrame with columns
    (`query_id`, `vector_col`) — or, for the GEMM path only, a
    pre-collected ``(ids, matrix)`` tuple (sequence of ids + 2-D
    array-like), the serving form: a request handler that already holds
    the batch in memory (the reference's own `query(np_batch)` shape,
    bench/batch_queries.py:33-39) skips a per-batch Spark collect job.

    Returns (query_id, _id_, <metadata…>, _metrics_, rank) — descending
    score per query. `_metrics_` is rounded to `round_to` decimals; the
    adaptive over-fetch of the reference (Q10) is unnecessary here because
    all filters are applied before the LIMIT.
    """
    from picovdb_spark.operators.topk import topk_per_query

    cand = candidate_set(store, ids=ids, where=where)
    # `rank` is the engine's output column; if the store carries user
    # metadata with that name, the ranking column yields to `_rank_`.
    rank_col = "_rank_" if "rank" in cand.columns else "rank"

    if not isinstance(queries, DataFrame) and method == "auto":
        method = "gemm"
    if not isinstance(queries, DataFrame) and method != "gemm":
        raise TypeError(
            "pre-collected (ids, matrix) queries are only supported by "
            "method='gemm'; build a DataFrame for the SQL path"
        )

    if method == "auto":
        # GEMM is the scale path: columnar scan, Arrow-batched BLAS,
        # O(partitions × num_q × k) shuffle. The SQL-expression path is
        # kept for oracle parity and pure-SQL deployments.
        method = "gemm"

    if method == "gemm":
        top = _gemm_topk(
            cand,
            queries,
            query_id=query_id,
            vector_col=vector_col,
            top_k=top_k,
            round_to=round_to,
            rank_col=rank_col,
            normalized=normalized,
            score_dtype=score_dtype,
        )
        meta_cols = [c for c in cand.columns if c not in (K_DELETED,)]
        if not include_vector:
            meta_cols = [c for c in meta_cols if c != K_VECTOR]
        if meta_cols == [K_ID]:
            # no metadata to recover — skip the join-back entirely (saves
            # a second pass over the store for bare (id, vector) stores)
            out = top.select("query_id", K_ID, K_METRICS, rank_col)
        else:
            # tiny result (num_q × k rows): broadcast it so recovering the
            # metadata is a broadcast hash join against the store scan — no
            # shuffle of the big side.
            out = cand.select(*meta_cols).join(F.broadcast(top), on=K_ID, how="inner")
            ordered = [
                "query_id", K_ID, *[c for c in meta_cols if c != K_ID], K_METRICS, rank_col
            ]
            out = out.select(*ordered)
    elif method == "sql":
        qn = _normalized_queries(queries, query_id, vector_col)
        # Normalize each store vector ONCE, below the join — inside the
        # cross join the expression would re-run per (query, row) pair.
        store_vec = F.col(K_VECTOR) if normalized else l2_normalize(F.col(K_VECTOR))
        cand = cand.withColumn("__sv", store_vec)
        # Broadcast the (small) query batch: BroadcastNestedLoopJoin keeps
        # the store's partitioning — without it a cross join multiplies
        # partition counts (n_store × n_query tasks).
        scored = cand.crossJoin(F.broadcast(qn)).withColumn(
            K_METRICS, F.round(dot(F.col("__qv"), F.col("__sv")), round_to)
        )
        scored = scored.drop("__sv")
        out = topk_per_query(scored, top_k, rank_col=rank_col).drop("__qv")
        if not include_vector:
            out = out.drop(K_VECTOR)
        out = out.drop(K_DELETED)
        rest = [c for c in out.columns if c not in ("query_id", K_ID, K_METRICS, rank_col)]
        out = out.select("query_id", K_ID, *rest, K_METRICS, rank_col)
    else:
        raise ValueError(f"unknown method: {method!r}")

    if better_than is not None:
        # Q13: post-ranking threshold (pico_vdb.py:765-767)
        out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
    return out


def query_one(store: DataFrame, vector: list[float], **kwargs: Any) -> DataFrame:
    """Single-vector sugar over `batch_query`
    (/root/reference/picovdb/pico_vdb.py:777-796)."""
    spark = store.sparkSession
    from picovdb_spark.session import local_df

    q = local_df(
        spark,
        [("q0", [float(x) for x in vector])],
        T.StructType(
            [
                T.StructField("query_id", T.StringType()),
                T.StructField(K_VECTOR, T.ArrayType(T.FloatType())),
            ]
        ),
    )
    return batch_query(store, q, **kwargs)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    round_to: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force k-nearest-neighbors join on cosine similarity: for each
    left row, the k most similar right rows. The similarity-search
    baseline (exact); ANN variants live in operators/ann.py."""
    from picovdb_spark.operators.topk import topk_per_query

    l = left.select(
        F.col(left_id).cast("string").alias("query_id"),
        l2_normalize(F.col(left_vec)).alias("__qv"),
    )
    r = right.select(
        F.col(right_id).cast("string").alias(K_ID),
        l2_normalize(F.col(right_vec)).alias("__rv"),
    )
    pairs = r.crossJoin(F.broadcast(l))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col(K_ID))
    scored = pairs.withColumn(K_METRICS, F.round(dot(F.col("__qv"), F.col("__rv")), round_to))
    return topk_per_query(scored, k).select("query_id", K_ID, K_METRICS, "rank")


def knn_join_blocked(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    round_to: int = 6,
    exclude_self: bool = False,
    left_blocks: int | None = None,
    right_blocks: int | None = None,
    score_dtype: str = "float64",
) -> DataFrame:
    """Exact k-nearest-neighbors join for TWO LARGE SIDES — same
    semantics as `knn_join_exact` (cosine on L2-normalized vectors,
    zero ⇒ e₀, scores rounded to `round_to`, ties by id) but neither
    side is broadcast or collected, so it scales past the driver-memory
    and broadcast caps that bound the baseline form.

    Distributed shape: block nested-loop as a COGROUP. Each side is
    hashed into blocks (`left_blocks` × `right_blocks` grid); the left
    side replicates across the right blocks and vice versa, so shuffle
    volume is |L|·right_blocks + |R|·left_blocks rows — choose the
    block counts to trade replication against per-task GEMM size
    (defaults: √parallelism each, giving ~parallelism tasks). Each
    (left block, right block) cell runs one Arrow-batched NumPy GEMM
    and emits a tie-complete local top-k per left row (every row whose
    ROUNDED score ties the kth — same rule as `_gemm_topk`'s float64
    path), and a global `topk_per_query` merges the per-cell candidates
    into the exact final ranking. Candidate volume into the merge is
    O(|L| · right_blocks · k).

    At 100 TB this is the EXACT baseline for corpus×corpus similarity;
    the sublinear paths (IVF/LSH routing in operators/ann.py,
    dedup.embedding_near_dup) should win whenever they apply — this
    exists for the regimes that need exactness or defy routing
    (verification sweeps, recall measurement, small-k joins of two
    mid-size tables). Measured vs the broadcast baseline (2k×128
    self-join on local[32]): even they break ~even at 100 queries, and
    the GEMM form wins 12× at 1,000 (1.2 s vs 14.7 s) and 25× at 2,000
    (1.3 s vs 31.3 s) — the baseline's per-pair interpreted `dot` HOF
    scales with |L|·|R| while the blocked kernel amortizes it into
    BLAS calls.

    `score_dtype`: "float64" (default) scores in double — bit-parity
    with the broadcast baseline and the DuckDB oracle (the gate form).
    "float32" is the SERVING form, the same convention as
    `batch_query(score_dtype=)` and the reference's own precision:
    vectors shuffle as array<float> (half the bytes), normalization
    stays float64 before the cast (`collect_normalized_queries`'s
    sequence), and the GEMM runs single-precision — measured 11–18×
    faster on this harness's BLAS (dgemm 0.8–1.4 GF vs sgemm 15 GF
    single-thread), and the only honest choice at the 1M-row tier.

    Block sizing: with BOTH `left_blocks`/`right_blocks` unspecified,
    auto-sizing runs two `count()` jobs to learn the |L|/|R| ratio —
    cheap on cached/parquet inputs but re-executes the upstream plan on
    derived frames; pass at least one explicit count to skip them (the
    other side is then completed count-free as ceil(parallelism/fixed),
    which is the shuffle optimum once one side is pinned)."""
    import math

    from picovdb_spark.operators.topk import topk_per_query

    spark = left.sparkSession
    # validate BEFORE defaulting: `x or side` would silently rewrite an
    # explicit 0 to the default instead of rejecting it
    for name, v in (("left_blocks", left_blocks), ("right_blocks", right_blocks)):
        if v is not None and v < 1:
            raise ValueError(f"block counts must be >= 1, got {name}={v}")
    if score_dtype not in ("float32", "float64"):
        raise ValueError(f"score_dtype must be float32|float64, got {score_dtype!r}")
    if left_blocks is None or right_blocks is None:
        # Size-aware grid. Shuffle volume is |L|·rb + |R|·lb rows, so
        # for a fixed cell count lb·rb ≈ P the optimum is
        # lb = √(P·|L|/|R|) (Lagrange on L·rb + R·lb with lb·rb = P):
        # equal sides get the symmetric √P×√P grid, a 10k×1M join gets
        # lb=1 — the 1M side shuffles ONCE instead of √P times
        # (measured 5× less shuffle at that shape; the symmetric grid
        # cost the whole row ~2× in wall clock).
        par = max(1, spark.sparkContext.defaultParallelism)
        if left_blocks is None and right_blocks is None:
            # the √ formula needs the size ratio — the ONLY branch that
            # runs the two sizing count() jobs (see docstring)
            n_l = max(1, left.select(F.lit(1)).count())
            n_r = max(1, right.select(F.lit(1)).count())
            left_blocks = max(1, min(par, round(math.sqrt(par * n_l / n_r))))
            right_blocks = max(1, math.ceil(par / left_blocks))
        else:
            # one side explicit: with that count FIXED its shuffle term
            # is fixed too, so minimizing the other term means the
            # smallest free count that still lands lb·rb near P —
            # ceil(P/fixed). Count-free (no jobs), and unlike the √
            # formula it respects the caller's pin: when rb is explicit
            # the old path solved lb as if rb were P/lb, which could
            # put lb far from the optimum for the grid actually run.
            if left_blocks is None:
                left_blocks = max(1, math.ceil(par / right_blocks))
            else:
                right_blocks = max(1, math.ceil(par / left_blocks))

    # Both grouping keys must be the SAME type (bigint) on both sides:
    # the hashed block id is bigint while a bare lit() explode yields
    # int, and Spark hashes int 3 and bigint 3 to DIFFERENT shuffle
    # partitions — mismatched types silently strand (left, right) cell
    # halves in different partitions and the cogroup emits nothing for
    # them (caught at sf0.1; invisible at sf0.001 where AQE coalesced
    # the whole exchange into one partition).
    arr_t = "array<float>" if score_dtype == "float32" else "array<double>"
    l2 = left.select(
        F.col(left_id).cast("string").alias("query_id"),
        F.col(left_vec).cast(arr_t).alias("__qv"),
        F.pmod(F.xxhash64(F.col(left_id).cast("string")), F.lit(left_blocks)).alias("__lb"),
    ).withColumn(
        "__rb", F.explode(F.array(*[F.lit(b).cast("long") for b in range(right_blocks)]))
    )
    r2 = right.select(
        F.col(right_id).cast("string").alias(K_ID),
        F.col(right_vec).cast(arr_t).alias("__rv"),
        F.pmod(F.xxhash64(F.col(right_id).cast("string")), F.lit(right_blocks)).alias("__rb"),
    ).withColumn(
        "__lb", F.explode(F.array(*[F.lit(b).cast("long") for b in range(left_blocks)]))
    )

    kk = int(k)
    skip_self = bool(exclude_self)
    rnd = int(round_to)
    as_f32 = score_dtype == "float32"

    def cell_topk(ltbl, rtbl):
        # Arrow in/out (not pandas): a pandas round-trip would conflate
        # a NaN score with NULL in the double column, and the two sort
        # differently (NaN greatest, null last) — the baseline ranks a
        # NaN-score row FIRST, so the blocked form must emit real NaNs.
        import numpy as np
        import pyarrow as pa

        empty = pa.table(
            {
                "query_id": pa.array([], type=pa.string()),
                K_ID: pa.array([], type=pa.string()),
                K_METRICS: pa.array([], type=pa.float64()),
            }
        )
        if ltbl.num_rows == 0 or rtbl.num_rows == 0 or kk <= 0:
            # k <= 0 returns empty like the broadcast baseline's
            # rank <= 0 filter (not an executor-side partition error)
            return empty

        def unit(col):
            out = unit_rows(vector_block(col, np.float64))
            # float32 mode truncates AFTER the float64 normalize — the
            # same sequence collect_normalized_queries feeds _gemm_topk,
            # so the two serving paths can never disagree on a vector
            return out.astype(np.float32) if as_f32 else out

        lm, rm = unit(ltbl.column("__qv")), unit(rtbl.column("__rv"))
        lids = np.asarray(ltbl.column("query_id").to_pylist(), dtype=object)
        rids = np.asarray(rtbl.column(K_ID).to_pylist(), dtype=object)
        # right-id → column positions for the self mask: O(L + R) dict
        # probes. The former `lids[:, None] == rids[None, :]` was an
        # O(L·R) OBJECT-dtype equality — hundreds of millions of
        # Python-interpreter comparisons per 1M-tier cell (the measured
        # stall: 21 workers pinned for minutes), plus an L×R bool copy.
        rpos: dict | None = None
        if skip_self:
            rpos = {}
            for j, rid in enumerate(rids):
                rpos.setdefault(rid, []).append(j)
        n = rm.shape[0]
        take = min(kk, n)
        out_q, out_i, out_s = [], [], []
        # Chunk the LEFT rows so the float64 score matrix stays ~256 MB:
        # a whole-cell GEMM at the 1M tier is (L/lb)×(R/rb)×8 bytes —
        # 2.2 GB on the default grid at 10k×1M, and ×2 with the
        # selection copy, which thrashes 20+ concurrent workers. Per-row
        # top-k is independent of the chunking, so results are
        # bit-identical to the unchunked form.
        chunk = max(1, int(256e6 // ((4 if as_f32 else 8) * n)))
        pad = 1.5 * 10.0 ** (-rnd)
        for c0 in range(0, lm.shape[0], chunk):
            lc = lm[c0 : c0 + chunk]
            scores = lc @ rm.T
            # RAW-score selection with a rounding pad, rounding only the
            # SELECTED values — the same tie-complete contract and proof
            # as _gemm_topk (every row whose rounded score ties the kth
            # survives; the global merge applies the exact rounded
            # ranking). The former full-matrix np.round + np.where pair
            # was ~2/3 of this kernel's non-GEMM cost at the 1M tier
            # (two extra passes + copies over L/lb × R/rb doubles).
            if np.isnan(np.min(scores)):
                # NaN ranks GREATEST (Spark's sort ordering, matching
                # the broadcast baseline) and must still be EMITTED as
                # NaN: substitute +inf in a selection copy, emit from
                # the raw matrix. Rare path — one reduction pass guards
                # it, not a full isnan materialization.
                sel = np.where(np.isnan(scores), np.inf, scores)
            else:
                # alias, no copy: the only mutation below is the -inf
                # self-mask, and masked positions are never emitted
                sel = scores
            if rpos is not None:
                for qi in range(lc.shape[0]):
                    cols = rpos.get(lids[c0 + qi])
                    if cols:
                        sel[qi, cols] = -np.inf
            kth = np.partition(sel, n - take, axis=1)[:, n - take]
            for qi in range(sel.shape[0]):
                keep = np.flatnonzero(
                    (sel[qi] >= kth[qi] - pad) & (sel[qi] > -np.inf)
                )
                out_q.append(np.repeat(lids[c0 + qi], len(keep)))
                out_i.append(rids[keep])
                # float64 BEFORE rounding in both modes (the f32 path's
                # raw scores round in double, exactly _gemm_topk's rule)
                out_s.append(np.round(scores[qi][keep].astype(np.float64), rnd))
        if not out_q:
            return empty
        return pa.table(
            {
                "query_id": pa.array(np.concatenate(out_q), type=pa.string()),
                K_ID: pa.array(np.concatenate(out_i), type=pa.string()),
                K_METRICS: pa.array(np.concatenate(out_s), type=pa.float64()),
            }
        )

    cand = (
        l2.groupBy("__lb", "__rb")
        .cogroup(r2.groupBy("__lb", "__rb"))
        .applyInArrow(
            lambda lt, rt: cell_topk(lt, rt),
            schema=f"query_id string, {K_ID} string, {K_METRICS} double",
        )
    )
    return topk_per_query(cand, kk).select("query_id", K_ID, K_METRICS, "rank")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    positives: DataFrame,
    *,
    k: int = 10,
    left_id: str = "query_id",
    right_id: str = "doc_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    pos_query_col: str | None = None,
    pos_doc_col: str | None = None,
    method: str = "broadcast",
    round_to: int = 6,
    exclude_self: bool = True,
    max_score: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the `k` most cosine-similar corpus documents that are NOT among its
    labeled positives — the standard retrieval-training data step (DPR /
    sentence-transformers style).

    `positives` is a (query_id, doc_id) pair frame (column names default
    to `left_id`/`right_id`, override via `pos_query_col`/`pos_doc_col`).
    `max_score` (optional) additionally drops negatives scoring AT OR
    ABOVE it — the usual guard against unlabeled positives / near-dups
    masquerading as negatives; with it set, a query may return fewer
    than `k` rows (there may not be k valid negatives, and that is the
    honest answer).

    Output: (query_id, _id_, _metrics_, rank) — same shape as
    `knn_join`, rank re-numbered 1..k after exclusion.

    Distributed shape: one exact kNN join over-fetched by the largest
    per-query positive count (a single one-row driver aggregate — the
    positives table is labels, tiny next to the corpus), then a
    broadcast left-anti join against the positive pairs and a window
    re-rank over the ≤ (k + max_pos) surviving rows per query. The
    corpus-side cost is exactly one kNN join; `method="blocked"` routes
    it through the cogrouped block-GEMM when the query side is too big
    to broadcast."""
    pq = pos_query_col or left_id
    pd_ = pos_doc_col or right_id
    p = positives.select(
        F.col(pq).cast("string").alias("query_id"),
        F.col(pd_).cast("string").alias(K_ID),
    ).distinct()
    row = p.groupBy("query_id").count().agg(F.max("count")).collect()
    max_pos = int(row[0][0] or 0) if row else 0
    kw = dict(
        k=k + max_pos,
        left_id=left_id,
        right_id=right_id,
        left_vec=left_vec,
        right_vec=right_vec,
        round_to=round_to,
        exclude_self=exclude_self,
    )
    if method == "broadcast":
        knn = knn_join(queries, corpus, **kw)
    elif method == "blocked":
        knn = knn_join_blocked(queries, corpus, **kw)
    else:
        raise ValueError(f"unknown method: {method!r}")
    neg = knn.drop("rank").join(
        F.broadcast(p), ["query_id", K_ID], "left_anti"
    )
    if max_score is not None:
        neg = neg.filter(F.col(K_METRICS) < F.lit(float(max_score)))
    from picovdb_spark.operators.topk import topk_per_query

    return topk_per_query(neg, k).select("query_id", K_ID, K_METRICS, "rank")


def _gemm_topk(
    cand: DataFrame,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    vector_col: str = K_VECTOR,
    top_k: int,
    round_to: int,
    rank_col: str = "rank",
    normalized: bool = False,
    score_dtype: str = "float64",
) -> DataFrame:
    """Partition-local NumPy GEMM + local top-k, then global top-k.

    Mirrors the reference's vectorized scan (`scores = Q @ V.T` +
    argpartition, pico_vdb.py:680-713) but distributed: each partition
    computes scores for its slice of the store and emits only its local
    top-k per query, so the shuffle carries O(partitions × num_q × k)
    rows. The query matrix rides along as a closure → broadcast once per
    executor, not per task.

    The vector block is reconstructed by flattening the Arrow list column
    and reshaping (`vector_block`) — zero per-row Python work, and no
    copy beyond the dtype cast and the normalized output.
    `score_dtype="float64"` rounds the full score matrix and selects
    tie-complete on the ROUNDED values (bit-identical to the
    DuckDB oracle, round-1 pinned behavior). `"float32"` GEMMs in single
    precision (the reference's own precision) and selects on RAW scores
    with a pad of 1.5·10^-round_to, so every row whose rounded score
    could reach the rounded kth value is still emitted; the global
    ranking then applies the exact (rounded desc, id asc) order.
    `normalized=True` additionally skips the row-norm pass in the
    float32 kernel (stores normalize on ingest; float64 keeps its
    round-1 always-normalize behavior for oracle stability).
    """
    import numpy as np
    import pyarrow as pa

    use32 = score_dtype in ("float32", "f32")
    if not use32 and score_dtype not in ("float64", "f64"):
        raise ValueError(f"unknown score_dtype: {score_dtype!r}")

    spark = cand.sparkSession
    if isinstance(queries, DataFrame):
        qids, qmat = collect_normalized_queries(queries, query_id, vector_col)
    else:
        qids, qmat = normalize_query_matrix(*queries)
    if qmat.size == 0:
        return spark.createDataFrame(
            [], schema=f"query_id string, {K_ID} string, {K_METRICS} double, {rank_col} int"
        )
    bc = spark.sparkContext.broadcast((qids, qmat.astype(np.float32) if use32 else qmat))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField(K_ID, T.StringType()),
            T.StructField(K_METRICS, T.DoubleType()),
        ]
    )
    pa_schema = pa.schema(
        [
            pa.field("query_id", pa.string()),
            pa.field(K_ID, pa.string()),
            pa.field(K_METRICS, pa.float64()),
        ]
    )
    pad = 1.5 * 10.0 ** (-round_to)
    dtype = np.float32 if use32 else np.float64
    def score_batches(batches: Iterator) -> Iterator:
        b_qids, b_qmat = bc.value
        # Per-batch GEMM + local top-k, accumulated and emitted ONCE at
        # task end. Single emit keeps the shuffle at O(num_q × k) per
        # TASK regardless of how many Arrow batches the task's partition
        # splits into (per-batch emit would multiply shuffle rows by the
        # batch count), and lets a small
        # `spark.sql.execution.arrow.maxRecordsPerBatch` pipeline the
        # JVM→Python Arrow stream against the BLAS compute.
        acc_q: list = []  # query indices into b_qids
        acc_i: list = []  # store ids
        acc_s: list = []  # scores (raw f32 for use32, rounded f64 else)
        n_batches = 0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vmat = vector_block(batch.column(1), dtype)
            if not (use32 and normalized):
                vmat = unit_rows(vmat)
            scores = b_qmat @ vmat.T  # (nq, n)
            kk = min(top_k, n)
            if use32:
                # partial top-k on RAW float32 scores, padded so rounding
                # can't drop a boundary tie; round only at final emit
                kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
                qi, vi = np.nonzero(scores >= (kth - pad)[:, None])
                sel = scores[qi, vi]
            else:
                # tie-complete on ROUNDED scores (argpartition ≈
                # pico_vdb.py:705-707): emit every row scoring >= the
                # kk-th rounded value so a rounded tie at the boundary
                # can't drop the id-ordered winner the oracle would keep
                scores = np.round(scores, round_to)
                kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
                qi, vi = np.nonzero(scores >= kth[:, None])
                sel = scores[qi, vi]
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            acc_q.append(qi)
            acc_i.append(ids[vi])
            acc_s.append(sel)
            n_batches += 1
        if not n_batches:
            return
        qi = np.concatenate(acc_q)
        sid = np.concatenate(acc_i)
        sel = np.concatenate(acc_s)
        if n_batches > 1:
            # Re-select across the task's batches so multi-batch tasks
            # shuffle no more than single-batch ones. Each batch kept its
            # full top-kk, and the k-th largest of a union is >= the k-th
            # largest of any member, so the union of per-batch candidates
            # contains every row the task-level selection needs — the
            # task-level kth computed over candidates equals the kth over
            # all task rows, and the per-batch keep condition (>= its own
            # smaller kth, minus pad for f32) is a superset of the
            # task-level one. Grouped threshold via one lexsort.
            order = np.lexsort((-sel, qi))
            qi, sid, sel = qi[order], sid[order], sel[order]
            starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
            counts = np.diff(np.r_[starts, len(qi)])
            kth_pos = starts + np.minimum(top_k, counts) - 1
            thr = np.repeat(sel[kth_pos], counts)
            keep = sel >= (thr - pad if use32 else thr)
            qi, sid, sel = qi[keep], sid[keep], sel[keep]
        if use32:
            sel = np.round(sel.astype(np.float64), round_to)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(b_qids[qi], type=pa.string()),
                pa.array(sid, type=pa.string()),
                pa.array(sel, type=pa.float64()),
            ],
            schema=pa_schema,
        )

    local = cand.select(K_ID, vector_col).mapInArrow(score_batches, schema=out_schema)
    from picovdb_spark.operators.topk import topk_per_query

    return topk_per_query(local, top_k, rank_col=rank_col)
