"""Resident serving mode: executor-local float32 shards for repeated
query batches.

The reference sustains ~1000 q/s because its store matrix lives in
process memory (`pico_vdb.py:62-75` keeps a contiguous float32 array;
`query` is one BLAS call against it). The Spark standard path re-pays a
JVM-cache → Arrow → Python hop of the full vector column on every query
batch — correct, but ~0.5 s/pass at 100k × 1024 that the reference never
pays.

`ResidentGemmStore` is the Spark analog of "the index shard lives on the
serving node": `materialize()` runs one job that writes each partition's
(ids, unit-normalized float32 matrix) to node-local shared memory
(`/dev/shm`, falling back to the local tmpdir), and `query()` jobs map
over a *pruned* scan of the cached store — only a constant byte per row
crosses the JVM→Python boundary — while the kernel `np.load`s its
partition's block with `mmap_mode="r"`: after first touch the pages sit
in the OS page cache, shared by every worker process on the node, so a
query pass costs one GEMM and a k-row shuffle, nothing else.

Cluster semantics: blocks are node-local. Tasks are scheduled by cache
locality (PROCESS/NODE_LOCAL against the cached store), so on a
multi-executor cluster each node serves the shards it cached —
the standard pattern for index serving on Spark. A task scheduled off
its block's node (locality fallback after `spark.locality.wait`)
fails fast with a clear error rather than silently rescanning; resident
mode is an explicit serving optimization, not the default path —
`similarity.batch_query` stays the general-purpose route.

This mode exists for parity with the reference's query-serving regime
(BASELINE.md batch_queries.py); it is NOT used by the oracle entries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picovdb_spark.functions.vector import unit_rows, vector_block
from picovdb_spark.schema import K_ID, K_METRICS, K_VECTOR

_SHM_ROOT_CANDIDATES = ("/dev/shm", tempfile.gettempdir())


def _quantize_rows_int8(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric per-row int8 quantization shared by both resident
    stores: scale = max|x|/127 (the functions.vector.quantize_int8
    rule), HALF_UP rounding (Catalyst round()) via sign*floor(|x|+0.5)
    — np.round would be half-to-even and diverge at exact .5
    boundaries. Zero rows can't occur post-normalization, but a
    pre-normalized caller may still hand us one — guard the scale so it
    encodes as all-zero codes instead of NaN. Returns (codes, scales)."""
    scales = (np.abs(mat).max(axis=1) / np.float32(127.0)).astype(np.float32)
    scales[scales == 0.0] = np.float32(1.0)
    scaled = mat / scales[:, None]
    codes = np.ascontiguousarray(
        (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int8)
    )
    return codes, scales


def _shm_root() -> str:
    for d in _SHM_ROOT_CANDIDATES:
        if os.path.isdir(d) and os.access(d, os.W_OK):
            return d
    return tempfile.gettempdir()


def _probe_missing_blocks(
    probe_df: DataFrame, blk_dir: str, block_pids, artifacts: tuple[str, ...]
) -> list[int]:
    """One cheap job over the same frame a resident query maps: each task
    reports whether its partition's block files are ALL visible from
    where it ran (`artifacts` lists every per-partition file the query
    kernel loads — a partition that lost only ids/scales must degrade
    too, not crash mid-query). Used by the `on_missing="fallback"`
    degraded mode — best-effort by nature (a node can die between this
    probe and the query job; the query's own fail-fast still backstops
    that race). On a multi-node cluster Spark gives no locality
    guarantee for these probe tasks, so a mis-scheduled probe can
    report a false 'missing' — which is why callers CACHE a healthy
    probe result (one probe per store lifetime, not one per batch) and
    re-probe only after `invalidate_probe()`."""
    from collections.abc import Iterator

    def chk(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for _ in batches:
            pass
        ok = pid not in block_pids or all(
            os.path.exists(os.path.join(blk_dir, f"{name}_{pid}.npy"))
            for name in artifacts
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], type=pa.int32()), pa.array([ok], type=pa.bool_())],
            names=["pid", "ok"],
        )

    rows = probe_df.mapInArrow(chk, schema="pid int, ok boolean").collect()
    return sorted(r["pid"] for r in rows if not r["ok"])


# sentinel token every query-kernel fail-fast message carries — the
# auto-re-arm path below matches on it to tell a lost block/sidecar
# from an unrelated job failure. Deliberately NOT a natural-language
# phrase: an earlier marker ("missing under") could collide with a
# user path or an unrelated data-source error embedded in the
# stringified exception, silently invalidating the probe and re-running
# the batch once before the real error surfaced.
_MISSING_BLOCK_MARKER = "[resident-block-missing]"


def _serve_with_rearm(store, out: DataFrame, probe_skipped: bool, retry):
    """Auto-re-arm for `on_missing="fallback"` stores whose CACHED
    healthy probe skipped the per-batch check this call: execute the
    plan eagerly so a block lost since the probe surfaces NOW (the
    returned frame is lazy, so the kernel's fail-fast would otherwise
    land at some caller's collect, where only a manual
    `invalidate_probe()` could recover). On the kernel's missing-block
    error: invalidate the probe and retry ONCE — the retry re-probes,
    observes the loss, and serves the batch via the degraded exact path.
    Any other failure propagates untouched. The eager materialization
    is right for the collect-immediately serving pattern; callers that
    COMPOSE query() frames lazily (union many batches, collect once, or
    build plans they may discard) opt out with the store's
    `auto_rearm=False` and keep the plain fail-fast + manual
    `invalidate_probe()` contract. Two costs of the eager path, both
    reasons to opt out: (a) query() executes a Spark job even for a
    caller that only wanted to build/inspect the plan, and (b) each
    localCheckpoint pins the result's RDD blocks in executor storage
    until the driver GC collects the returned frame — a long-running
    serving loop that retains many result frames accumulates that
    storage (the blocks CANNOT be unpersisted here when superseded:
    localCheckpoint truncates lineage, so a frame whose blocks were
    dropped is unrecoverable, and prior results may still be live in
    the caller). Drop frame references promptly (or collect and let
    the frame go) and the ContextCleaner reclaims the blocks. The probe-just-ran and
    probe_cache=False paths return the plan lazily as before
    (`probe_skipped=False`). The retry call enters with `_probe_ok`
    freshly cleared, so its own result is NOT re-wrapped — a second
    failure surfaces to the caller."""
    if not probe_skipped:
        return out
    try:
        return out.localCheckpoint(eager=True)
    except Exception as exc:  # Py4J wraps the kernel's RuntimeError
        if _MISSING_BLOCK_MARKER not in str(exc):
            raise
        import warnings

        warnings.warn(
            "resident block(s) lost since the cached health probe — "
            "re-arming the probe and retrying this batch via the "
            "degraded path",
            stacklevel=3,
        )
        store.invalidate_probe()
        return retry()


def _local_topk(scores, ids, *, top_k: int, better_than, round_to: int) -> list[dict]:
    """Rounded-score tie-complete selection, then (score desc, id asc) —
    the `topk_per_query` rule, shared by both stores' `query_local`."""
    scores = np.round(np.asarray(scores).astype(np.float64), round_to)
    ids = np.asarray(ids, dtype=object)
    if better_than is not None:
        keep = scores >= float(better_than)
        scores, ids = scores[keep], ids[keep]
    kk = min(top_k, len(scores))
    if kk == 0:
        return []
    kth = np.partition(scores, len(scores) - kk)[len(scores) - kk]
    cand = np.flatnonzero(scores >= kth)
    order = sorted(cand, key=lambda i: (-scores[i], str(ids[i])))[:kk]
    return [
        {K_ID: str(ids[i]), K_METRICS: float(scores[i]), "rank": r + 1}
        for r, i in enumerate(order)
    ]


class ResidentGemmStore:
    """Pin a store's vectors node-locally as unit float32 blocks and
    serve repeated top-k query batches against them.

    Usage::

        rs = ResidentGemmStore(store_df)        # store: (_id_, _vector_, ...)
        rs.materialize()                        # one pass over the store
        hits = rs.query(queries_df, top_k=10)   # cheap, repeatable
        rs.close()                              # drop the shm blocks

    Scores are float32 (the reference's own precision), rounded to
    `round_to`; ranking ties break by id exactly like `batch_query`.
    """

    def __init__(
        self,
        store: DataFrame,
        *,
        vector_col: str = K_VECTOR,
        id_col: str = K_ID,
        normalized: bool = False,
        shm_dir: str | None = None,
        block_dtype: str = "float32",
        on_missing: str = "fail",
        probe_cache: bool = True,
        auto_rearm: bool = True,
    ):
        if block_dtype not in ("float32", "int8"):
            raise ValueError(f"block_dtype must be float32 or int8, got {block_dtype!r}")
        if on_missing not in ("fail", "fallback"):
            raise ValueError(f"on_missing must be 'fail' or 'fallback', got {on_missing!r}")
        self.store = store
        self.vector_col = vector_col
        self.id_col = id_col
        self.normalized = normalized
        # "fallback": before each query batch, a cheap existence probe
        # runs over the block partitions; if any expected block is gone
        # (preempted node, reaped tmpfs) the batch is served by the
        # exact store scan (`batch_query(method="gemm")`) instead of
        # failing — identical results for float32 blocks; for int8
        # blocks the degraded batch gets EXACT scores instead of the
        # quantized ones (better quality, not bit-stable across the
        # transition). "fail" (default) keeps the serving-tier
        # contract: a missing block is an operational error that should
        # page, not silently degrade.
        self.on_missing = on_missing
        # "int8": blocks hold symmetric per-row int8 codes + a float32
        # scale column (max|x|/127 — the same rule as
        # functions.vector.quantize_int8) — 4× more store per serving
        # node at ~1e-3 cosine error on unit vectors. Scoring rescales
        # the integer dot: score = scale_i · (q · codes_i). An
        # APPROXIMATE serving mode by construction — accuracy is
        # band-tested, not oracle-checked.
        self.block_dtype = block_dtype
        self.token = uuid.uuid4().hex[:12]
        self.dir = shm_dir or os.path.join(_shm_root(), f"picovdb_resident_{self.token}")
        self.n_rows: int | None = None
        self.n_partitions: int | None = None
        # fallback-mode probe cache: a healthy probe sticks for the
        # store's lifetime (see _probe_missing_blocks on why per-batch
        # probing is both wasteful and locality-unsafe off local mode).
        # The trade-off is explicit: with probe_cache=True (default) an
        # executor/node loss AFTER the first healthy probe fails fast
        # until invalidate_probe() re-arms; probe_cache=False re-probes
        # every batch (one extra job each, and off local mode a
        # mis-scheduled probe can report a false 'missing') but always
        # auto-detects late losses. Long-lived serving stores on
        # preemptible nodes should pick False or wire invalidate_probe()
        # into their executor-loss listener.
        self.probe_cache = bool(probe_cache)
        # fallback-mode ergonomics vs laziness: with auto_rearm=True
        # (default), a query that SKIPPED the probe (cached healthy
        # result) executes eagerly inside query() so a block lost since
        # the probe is caught, the probe re-armed, and the batch retried
        # via the degraded path (_serve_with_rearm) — right for the
        # collect-immediately serving pattern. Callers that COMPOSE
        # query() frames lazily (union several batches, collect once)
        # should pass auto_rearm=False to keep the lazy contract: they
        # get the plain fail-fast and re-arm via invalidate_probe().
        self.auto_rearm = bool(auto_rearm)
        self._probe_ok = False

    # ------------------------------------------------------------ lifecycle

    def materialize(self) -> int:
        """One job over the store: each task normalizes its partition to a
        float32 block and writes (ids.npy, mat.npy) atomically under the
        node-local resident dir. Returns the total row count."""
        # re-materializing must invalidate the in-process serving cache:
        # unlinked files stay readable through live mmaps, so a stale
        # cache would silently keep serving the PREVIOUS materialization
        self._local_cache = None
        self._probe_ok = False
        blk_dir = self.dir
        vec_col, id_col = self.vector_col, self.id_col
        pre_normalized = self.normalized
        as_int8 = self.block_dtype == "int8"

        def write_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            ids_parts, mat_parts = [], []
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                mat = vector_block(batch.column(1), np.float32)
                if not pre_normalized:
                    mat = unit_rows(mat)
                ids_parts.append(batch.column(0).to_numpy(zero_copy_only=False))
                mat_parts.append(mat)
            rows = 0
            if mat_parts:
                ids = np.concatenate(ids_parts)
                mat = np.ascontiguousarray(np.vstack(mat_parts))
                rows = len(ids)
                artifacts = [("ids", ids)]
                if as_int8:
                    codes, scales = _quantize_rows_int8(mat)
                    artifacts += [("mat", codes), ("scales", scales)]
                else:
                    artifacts += [("mat", mat)]
                os.makedirs(blk_dir, exist_ok=True)
                for name, arr in artifacts:
                    tmp = os.path.join(blk_dir, f".{name}_{pid}.tmp.npy")
                    np.save(tmp, arr, allow_pickle=(name == "ids"))
                    os.replace(tmp, os.path.join(blk_dir, f"{name}_{pid}.npy"))
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()), pa.array([rows], type=pa.int64())],
                names=["pid", "rows"],
            )

        src = self.store.select(F.col(id_col).cast("string"), F.col(vec_col))
        out = src.mapInArrow(write_block, schema="pid int, rows long").collect()
        self.n_rows = sum(r["rows"] for r in out)
        self.n_partitions = len(out)
        # which partition ids actually wrote a block: lets query() tell a
        # legitimately-empty partition apart from a MISSING block (off-node
        # task, changed partitioning) — the latter must fail, not skip
        self.block_pids = frozenset(r["pid"] for r in out if r["rows"] > 0)
        return self.n_rows

    def close(self) -> None:
        """Remove the shm blocks. Cleanup runs distributed (one pass over
        the store's partitions — the same executors that wrote blocks,
        by cache locality) AND on the driver; best-effort by nature: a
        node whose executor is gone keeps its tmpfs blocks until reboot,
        which is why the dir name carries a unique token (stale dirs are
        identifiable and never collide with a new store's)."""
        blk_dir = self.dir

        def rm(batches: Iterator) -> Iterator:
            import pyarrow as pa

            shutil.rmtree(blk_dir, ignore_errors=True)
            yield pa.RecordBatch.from_arrays([pa.array([1])], names=["ok"])
            for _ in batches:
                pass

        try:
            self.store.select(F.lit(True).alias("__probe")).mapInArrow(
                rm, schema="ok long"
            ).count()
        except Exception:
            pass  # session gone — driver-side cleanup still runs
        shutil.rmtree(self.dir, ignore_errors=True)
        # drop the in-process serving cache AND the materialized marker:
        # the cache's mmaps point at removed files, and a closed store
        # must fail loudly ("not materialized") from every entry point —
        # the same lifecycle rule as ResidentIvfStore.close()
        self._local_cache = None
        self.n_rows = None
        self._probe_ok = False

    def invalidate_probe(self) -> None:
        """Re-arm the `on_missing="fallback"` existence probe. A healthy
        probe result is cached for the store's lifetime (per-batch
        probing costs one extra job per query and has no task-locality
        guarantee off local mode); call this after an observed
        executor/node loss so the next batch re-checks the blocks."""
        self._probe_ok = False

    def __enter__(self) -> "ResidentGemmStore":
        self.materialize()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -------------------------------------------------------------- queries

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        better_than: float | None = None,
        round_to: int = 6,
        query_id: str = "query_id",
        vector_col: str | None = None,
    ) -> DataFrame:
        """Batch top-k cosine against the resident blocks. Output shape
        matches `batch_query(method="gemm")`: (query_id, _id_, _metrics_,
        rank), score rounded to `round_to`, ties by id."""
        from picovdb_spark.operators.similarity import collect_normalized_queries
        from picovdb_spark.operators.topk import topk_per_query

        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        # captured BEFORE the probe branch can flip _probe_ok: True means
        # this call trusts a cached health result and gets the eager
        # auto-re-arm wrap (_serve_with_rearm) on its way out
        probe_skipped = (
            self.on_missing == "fallback" and self._probe_ok and self.auto_rearm
        )
        if self.on_missing == "fallback" and not self._probe_ok:
            artifacts = ("mat", "ids") + (
                ("scales",) if self.block_dtype == "int8" else ()
            )
            missing = _probe_missing_blocks(
                self.store.select(F.lit(True).alias("__probe")),
                self.dir,
                getattr(self, "block_pids", frozenset()),
                artifacts,
            )
            if not missing and self.probe_cache:
                # healthy: remember it — per-batch probes cost one extra
                # job each and can false-'missing' off local mode (no
                # task-locality guarantee); invalidate_probe() re-arms,
                # probe_cache=False opts out entirely (see __init__)
                self._probe_ok = True
            if missing:
                import warnings

                from picovdb_spark.operators.similarity import batch_query

                warnings.warn(
                    f"resident blocks missing for partitions {missing[:8]} "
                    f"({len(missing)} total) — serving this batch via the "
                    "exact store scan (degraded mode); re-materialize() to "
                    "restore resident serving",
                    stacklevel=2,
                )
                # id+vector projection keeps the output shape identical
                # to the resident path (no metadata join-back); the query
                # side realigns its vector column to the store's so
                # batch_query's single vector_col fits both. NOTE for
                # int8 blocks: this serves EXACT float32 scores for the
                # degraded batch, not the quantized ~1e-3-error scores
                # the resident path returns — better quality, but not
                # bit-stable across the transition.
                q_side = queries.select(
                    F.col(query_id),
                    F.col(vector_col or self.vector_col).alias(self.vector_col),
                )
                return batch_query(
                    self.store.select(
                        F.col(self.id_col).alias(K_ID), F.col(self.vector_col)
                    ),
                    q_side,
                    top_k=top_k,
                    better_than=better_than,
                    method="gemm",
                    normalized=self.normalized,
                    score_dtype="float32",
                    round_to=round_to,
                    query_id=query_id,
                    vector_col=self.vector_col,
                )
        spark = self.store.sparkSession
        qids, qmat = collect_normalized_queries(
            queries, query_id, vector_col or self.vector_col
        )
        if qmat.size == 0:
            return spark.createDataFrame(
                [], schema=f"query_id string, {K_ID} string, {K_METRICS} double, rank int"
            )
        bc = spark.sparkContext.broadcast((qids, qmat.astype(np.float32)))
        blk_dir = self.dir
        block_pids = getattr(self, "block_pids", None)
        as_int8 = self.block_dtype == "int8"
        pad = 1.5 * 10.0 ** (-round_to)

        def score_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for batch in batches:  # drain the (constant-column) input
                pass
            mat_path = os.path.join(blk_dir, f"mat_{pid}.npy")
            if block_pids is not None and pid not in block_pids:
                if not os.path.exists(mat_path):
                    return  # legitimately empty: materialize wrote no block
            # every artifact the loads below touch, checked up front: a
            # partition that lost only its ids/scales sidecar must fail
            # with the SAME canonical message the auto-re-arm matches on
            # (silently skipping would drop its vectors from every answer)
            need = ["mat", "ids"] + (["scales"] if as_int8 else [])
            lost = [
                a
                for a in need
                if not os.path.exists(os.path.join(blk_dir, f"{a}_{pid}.npy"))
            ]
            if lost:
                raise RuntimeError(
                    f"[resident-block-missing] artifact(s) {lost} for "
                    f"partition {pid} under {blk_dir} — store closed, "
                    "partitioning changed since materialize(), or this task "
                    "ran on a node that never materialized; re-materialize() "
                    "or use batch_query()"
                )
            # mmap: pages shared node-wide via the OS page cache — no copy
            mat = np.load(mat_path, mmap_mode="r")
            ids = np.load(os.path.join(blk_dir, f"ids_{pid}.npy"), allow_pickle=True)
            b_qids, b_qmat = bc.value
            if as_int8:
                # rescaled integer dot: score = scale_i · (q · codes_i).
                # The f32 cast materializes the block per pass (CPU cost);
                # the int8 win is the 4× smaller RESIDENT footprint
                scales = np.load(os.path.join(blk_dir, f"scales_{pid}.npy"))
                scores = (b_qmat @ mat.T.astype(np.float32)) * scales[None, :]
            else:
                scores = b_qmat @ mat.T  # float32 (nq, n_block)
            n = scores.shape[1]
            kk = min(top_k, n)
            # raw-score selection with a rounding pad — tie-complete after
            # rounding (see similarity._gemm_topk)
            kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
            qi, vi = np.nonzero(scores >= (kth - pad)[:, None])
            sel = np.round(scores[qi, vi].astype(np.float64), round_to)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[qi], type=pa.string()),
                    pa.array(ids[vi], type=pa.string()),
                    pa.array(sel, type=pa.float64()),
                ],
                names=["query_id", K_ID, K_METRICS],
            )

        # pruned probe of the cached store: the columnar cache serves only
        # the constant column (no vector bytes cross JVM→Python); the scan
        # keeps the store's partition ids and cache locality
        probe = self.store.select(F.lit(True).alias("__probe"))
        local = probe.mapInArrow(
            score_block, schema=f"query_id string, {K_ID} string, {K_METRICS} double"
        )
        out = topk_per_query(local, top_k)
        if better_than is not None:
            out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
        return _serve_with_rearm(
            self,
            out,
            probe_skipped,
            lambda: self.query(
                queries,
                top_k=top_k,
                better_than=better_than,
                round_to=round_to,
                query_id=query_id,
                vector_col=vector_col,
            ),
        )

    # ---------------------------------------------------- in-process serving

    def _local_blocks(self):
        """mmap every resident block from THIS process; loaded once,
        cached. int8 blocks are cast to float32 ONCE here — a per-query
        cast would re-materialize the whole store every call, and unlike
        the IVF store there is no probed subset to cache hot segments
        of. The serving process therefore trades store-sized RAM for
        GEMV speed; the 4× int8 density still applies to the shm blocks
        the DISTRIBUTED path reads."""
        cached = getattr(self, "_local_cache", None)
        if cached is not None:
            return cached
        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        artifacts = ("mat", "ids") + (
            ("scales",) if self.block_dtype == "int8" else ()
        )
        mats, id_parts = [], []
        for pid in sorted(self.block_pids):
            paths = {
                name: os.path.join(self.dir, f"{name}_{pid}.npy") for name in artifacts
            }
            lost = sorted(n for n, p in paths.items() if not os.path.exists(p))
            if lost:
                raise RuntimeError(
                    f"resident block artifact(s) {lost} for partition {pid} not "
                    f"visible from this process ({self.dir}) — query_local() "
                    "serves from node-local blocks and must run co-resident "
                    "with them (a serving node); re-materialize() or use "
                    "query() for the distributed path"
                )
            mat = np.load(paths["mat"], mmap_mode="r")
            ids = np.load(paths["ids"], allow_pickle=True)
            if self.block_dtype == "int8":
                scales = np.load(paths["scales"])
                # float32 copy scaled ONCE: (codes * scale_i) is exactly
                # what the distributed kernel's per-query rescale yields,
                # modulo multiplication order — see query_local docstring.
                # In-place multiply: the copy-then-multiply form would
                # transiently hold TWO float32 stores.
                mat = np.ascontiguousarray(mat, dtype=np.float32)
                mat *= scales[:, None]
            else:
                # prefault: touch one element per row so first queries
                # measure GEMV, not page-in
                float(np.asarray(mat[:, 0]).astype(np.float32).sum())
            mats.append(mat)
            id_parts.append(ids)
        ids_all = (
            np.concatenate(id_parts) if id_parts else np.empty(0, dtype=object)
        )
        # ids pre-concatenated once: blocks are immutable after load, and
        # a per-query concatenate of a store-sized object array is pure
        # hot-loop waste
        self._local_cache = (mats, ids_all)
        return self._local_cache

    def query_local(
        self,
        vector,
        *,
        top_k: int = 10,
        better_than: float | None = None,
        round_to: int = 6,
    ) -> list[dict]:
        """Exact single-query serving WITHOUT a Spark job: one GEMV over
        every node-local block — the EXACT-path analog of
        `ResidentIvfStore.query_local` (which routes), and the serving
        twin of the reference's in-process exact scan
        (pico_vdb.py:680-713, its "100 single queries = 0.8-1.5 s" bench
        regime). Same blocks, semantics, and tie rule as `query()`; a
        score can differ by one float32 ulp at the rounding boundary
        because GEMV and the distributed batched GEMM accumulate in
        different orders (and, for int8, the scale multiplies the f32
        copy once here vs per-dot there) — tolerance-pinned in tests.

        Returns [{'_id_', '_metrics_', 'rank'}, ...] best-first."""
        mats, ids_all = self._local_blocks()
        if not mats:
            return []
        q = np.asarray(vector, dtype=np.float64).reshape(1, -1)
        q32 = unit_rows(q)[0].astype(np.float32)
        scores = np.concatenate([mat @ q32 for mat in mats])
        return _local_topk(
            scores, ids_all, top_k=top_k, better_than=better_than, round_to=round_to
        )


class ResidentIvfStore:
    """Cluster-routed resident serving: IVF pruning ON TOP of the
    resident-block layout — the batch analog of FAISS IVF serving
    (reference `pico_vdb.py` keeps an in-process index; here the
    inverted lists live node-local, partitioned by cluster).

    Two differences from `ResidentGemmStore.query`:

    1. The store is REPARTITIONED BY CLUSTER before block write, so each
       node-local block holds a few whole inverted lists (contiguous
       row segments, sorted by cluster) instead of a random slice.
    2. The driver routes the query batch: one tiny GEMM against the
       centroid matrix picks each query's `nprobe` clusters, and the
       inverted routing table (cluster -> query indices, CSR layout)
       broadcasts with the query matrix. A task then scores each of its
       cluster segments against ONLY the queries probing that cluster —
       total scored work is `nprobe / n_centroids` of the exact pass,
       while the per-(query, cluster) tie-padded partial top-k keeps the
       global merge identical to the exact kernel's.

    Full probe (`nprobe >= n_centroids`) routes every query to every
    cluster and is therefore EXACTLY the brute-force result — that is
    the oracle-checked configuration; partial-probe recall is a pytest
    band (mirrors the reference's tests/test_task14 FAISS-vs-numpy
    recall assertions).

    Scale: the routing table is O(nq * nprobe) ints and the query
    matrix O(nq * dim) float32 — both broadcast-sized by construction
    (a 1M-query batch at dim 1024 is 4 GB and should be chunked by the
    caller). Blocks are whole inverted lists, so skewed clusters skew
    blocks; `n_blocks` > n_centroids spreads nothing (a cluster is
    atomic here) — keep n_centroids >= ~8x parallelism, the standard
    IVF sizing (sqrt(N) centroids; ann.py:fit_centroids docstring).
    """

    def __init__(
        self,
        store: DataFrame,
        *,
        n_centroids: int = 256,
        seed: int = 42,
        n_blocks: int | None = None,
        vector_col: str = K_VECTOR,
        id_col: str = K_ID,
        centroids: "np.ndarray | None" = None,
        dtype: str = "float32",
        shm_dir: str | None = None,
        local_cache_bytes: int = 1 << 30,
        on_missing: str = "fail",
        probe_cache: bool = True,
        auto_rearm: bool = True,
    ):
        # "int8": blocks hold symmetric per-row int8 codes + a float32
        # scale column (same rule as ResidentGemmStore's int8 mode) —
        # 4× more inverted lists per serving node at ~1e-3 cosine error;
        # queries stay float32 and scores are rescaled integer dots.
        # Approximate by construction: recall-band tested, not
        # oracle-checked (float32/float64 remain the exact modes).
        # `local_cache_bytes` bounds query_local's hot-segment float32
        # cache in int8 mode (0 disables): the STORE keeps its 4× density
        # in shm; the serving process trades up to this much RAM to skip
        # the per-query int8→float32 cast of hot probed segments.
        # Measured at ref scale (100k×1024, 256 clusters, nprobe 8):
        # ~5-7 ms/query uncached, ~1-2 ms/query steady-state cached —
        # an undersized budget (< hot-set bytes) FIFO-thrashes, so size
        # it to the expected hot set or disable.
        if dtype not in ("float32", "float64", "int8"):
            raise ValueError("dtype must be 'float32', 'float64' or 'int8'")
        if on_missing not in ("fail", "fallback"):
            raise ValueError(f"on_missing must be 'fail' or 'fallback', got {on_missing!r}")
        self.store = store
        self.dtype = dtype
        # "fallback": probe block existence per query batch and serve via
        # the exact store scan when blocks are gone (preemptible-cluster
        # degraded mode) — results are EXACT top-k, a quality superset of
        # the routed nprobe answer, at full-scan cost. Default "fail"
        # keeps missing blocks loud (see ResidentGemmStore.on_missing).
        self.on_missing = on_missing
        self.local_cache_bytes = int(local_cache_bytes)
        self.n_centroids = n_centroids
        self.seed = seed
        self.n_blocks = n_blocks
        self.vector_col = vector_col
        self.id_col = id_col
        self.centroids = centroids
        self.token = uuid.uuid4().hex[:12]
        self.dir = shm_dir or os.path.join(_shm_root(), f"picovdb_rivf_{self.token}")
        self.n_rows: int | None = None
        self._blocks_df: DataFrame | None = None
        # fallback-mode probe cache (see ResidentGemmStore.__init__ for
        # the probe_cache trade-off: cached healthy probe vs per-batch
        # auto-detection of late executor loss)
        self.probe_cache = bool(probe_cache)
        # fallback-mode ergonomics vs laziness: with auto_rearm=True
        # (default), a query that SKIPPED the probe (cached healthy
        # result) executes eagerly inside query() so a block lost since
        # the probe is caught, the probe re-armed, and the batch retried
        # via the degraded path (_serve_with_rearm) — right for the
        # collect-immediately serving pattern. Callers that COMPOSE
        # query() frames lazily (union several batches, collect once)
        # should pass auto_rearm=False to keep the lazy contract: they
        # get the plain fail-fast and re-arm via invalidate_probe().
        self.auto_rearm = bool(auto_rearm)
        self._probe_ok = False

    # ------------------------------------------------------------ lifecycle

    def materialize(self) -> int:
        """Fit (or accept) centroids, assign clusters executor-side,
        repartition by cluster, and write per-partition blocks of whole
        inverted lists: (ids.npy, mat.npy unit-normalized in `dtype` —
        float32 serving default, float64 for oracle-exact parity with
        the double-scoring SQL path, int8 codes + scales.npy for 4x
        density — clus.npy sorted int32). One shuffle of the vector column — the same cost as any
        IVF build's cluster-layout write (ann.IvfIndex.write)."""
        from picovdb_spark.operators.ann import assign_clusters, fit_centroids

        # re-materializing must invalidate the in-process serving caches:
        # unlinked files stay readable through live mmaps, so stale
        # caches would silently keep serving the PREVIOUS materialization
        self._local_cache = None
        self._seg_cache = None
        self._seg_cache_sz = 0
        self._probe_ok = False
        spark = self.store.sparkSession
        if self.centroids is None:
            self.centroids = fit_centroids(
                self.store, self.n_centroids, vector_col=self.vector_col, seed=self.seed
            )
        self._cent32 = np.ascontiguousarray(self.centroids.astype(np.float32))
        k = len(self._cent32)
        n_blocks = self.n_blocks or min(spark.sparkContext.defaultParallelism, k)

        src = self.store.select(
            F.col(self.id_col).cast("string").alias(self.id_col), F.col(self.vector_col)
        )
        blocks = assign_clusters(src, self.centroids, vector_col=self.vector_col).repartition(
            n_blocks, F.col("__cluster")
        )
        blocks = blocks.persist()
        self._blocks_df = blocks
        blk_dir = self.dir
        vec_col, id_col = self.vector_col, self.id_col
        blk_dtype = self.dtype

        def write_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            as_int8 = blk_dtype == "int8"
            # int8 blocks normalize in float32 and quantize AFTER the
            # cluster sort; exact modes normalize in the block dtype
            work_dtype = "float32" if as_int8 else blk_dtype
            ids_parts, mat_parts, clus_parts = [], [], []
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                cols = {name: i for i, name in enumerate(batch.schema.names)}
                mat = unit_rows(vector_block(batch.column(cols[vec_col]), work_dtype))
                ids_parts.append(batch.column(cols[id_col]).to_numpy(zero_copy_only=False))
                mat_parts.append(mat)
                clus_parts.append(
                    batch.column(cols["__cluster"]).to_numpy(zero_copy_only=False)
                )
            rows = 0
            if mat_parts:
                ids = np.concatenate(ids_parts)
                mat = np.vstack(mat_parts)
                clus = np.concatenate(clus_parts).astype(np.int32)
                order = np.argsort(clus, kind="stable")
                ids, mat, clus = ids[order], np.ascontiguousarray(mat[order]), clus[order]
                rows = len(ids)
                artifacts = [("ids", ids), ("clus", clus)]
                if as_int8:
                    codes, scales = _quantize_rows_int8(mat)
                    artifacts += [("mat", codes), ("scales", scales)]
                else:
                    artifacts += [("mat", mat)]
                os.makedirs(blk_dir, exist_ok=True)
                for name, arr in artifacts:
                    tmp = os.path.join(blk_dir, f".{name}_{pid}.tmp.npy")
                    np.save(tmp, arr, allow_pickle=(name == "ids"))
                    os.replace(tmp, os.path.join(blk_dir, f"{name}_{pid}.npy"))
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()), pa.array([rows], type=pa.int64())],
                names=["pid", "rows"],
            )

        out = blocks.mapInArrow(write_block, schema="pid int, rows long").collect()
        self.n_rows = sum(r["rows"] for r in out)
        self.block_pids = frozenset(r["pid"] for r in out if r["rows"] > 0)
        return self.n_rows

    def close(self) -> None:
        blk_dir = self.dir

        def rm(batches: Iterator) -> Iterator:
            import pyarrow as pa

            shutil.rmtree(blk_dir, ignore_errors=True)
            yield pa.RecordBatch.from_arrays([pa.array([1])], names=["ok"])
            for _ in batches:
                pass

        if self._blocks_df is not None:
            try:
                self._blocks_df.select(F.lit(True).alias("__probe")).mapInArrow(
                    rm, schema="ok long"
                ).count()
            except Exception:
                pass
            try:
                self._blocks_df.unpersist()
            except Exception:
                pass
        shutil.rmtree(self.dir, ignore_errors=True)
        # drop the query_local mmap cache: unlinked files stay readable
        # through live mmaps, so without this a closed store would keep
        # serving stale data instead of failing loudly
        self._local_cache = None
        self._seg_cache = None
        self._seg_cache_sz = 0
        self.n_rows = None
        self._blocks_df = None
        self._probe_ok = False

    def invalidate_probe(self) -> None:
        """Re-arm the `on_missing="fallback"` existence probe after an
        observed executor/node loss (see ResidentGemmStore.invalidate_probe)."""
        self._probe_ok = False

    def __enter__(self) -> "ResidentIvfStore":
        self.materialize()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -------------------------------------------------------------- queries

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        nprobe: int = 8,
        round_to: int = 6,
        query_id: str = "query_id",
        vector_col: str | None = None,
    ) -> DataFrame:
        """Routed batch top-k over the probed clusters only. Output shape
        matches `ResidentGemmStore.query` / `batch_query(method="gemm")`:
        (query_id, _id_, _metrics_, rank); with `nprobe >= n_centroids`
        the result equals exact top-k (identical ids and ranks; scores
        can differ by one final-rounding quantum in float32 mode, where
        BLAS kernel dispatch is shape-dependent and the per-cluster
        segment GEMMs use different shapes than a whole-block scan —
        see tests/test_resident.py::test_resident_ivf_full_probe_equals_exact;
        float64 mode is equal after round_to for any practical input)."""
        from picovdb_spark.operators.similarity import collect_normalized_queries
        from picovdb_spark.operators.topk import topk_per_query

        if self.n_rows is None or self._blocks_df is None:
            raise RuntimeError("resident IVF store not materialized — call materialize()")
        # see ResidentGemmStore.query — same cached-probe auto-re-arm
        probe_skipped = (
            self.on_missing == "fallback" and self._probe_ok and self.auto_rearm
        )
        if self.on_missing == "fallback" and not self._probe_ok:
            artifacts = ("mat", "ids", "clus") + (
                ("scales",) if self.dtype == "int8" else ()
            )
            missing = _probe_missing_blocks(
                self._blocks_df.select(F.lit(True).alias("__probe")),
                self.dir,
                self.block_pids,
                artifacts,
            )
            if not missing and self.probe_cache:
                self._probe_ok = True
            if missing:
                import warnings

                from picovdb_spark.operators.similarity import batch_query

                warnings.warn(
                    f"resident IVF blocks missing for partitions {missing[:8]} "
                    f"({len(missing)} total) — serving this batch via the "
                    "exact store scan (degraded mode, exact results); "
                    "re-materialize() to restore routed serving",
                    stacklevel=2,
                )
                return batch_query(
                    self.store.select(
                        F.col(self.id_col).alias(K_ID), F.col(self.vector_col)
                    ),
                    queries.select(
                        F.col(query_id),
                        F.col(vector_col or self.vector_col).alias(self.vector_col),
                    ),
                    top_k=top_k,
                    method="gemm",
                    score_dtype="float32" if self.dtype != "float64" else "float64",
                    round_to=round_to,
                    query_id=query_id,
                    vector_col=self.vector_col,
                )
        spark = self.store.sparkSession
        qids, qmat = collect_normalized_queries(
            queries, query_id, vector_col or self.vector_col
        )
        if qmat.size == 0:
            return spark.createDataFrame(
                [], schema=f"query_id string, {K_ID} string, {K_METRICS} double, rank int"
            )
        # queries stay full-precision in int8 mode (asymmetric scoring:
        # float query · int8 codes, rescaled)
        q_dtype = "float32" if self.dtype == "int8" else self.dtype
        q32 = np.ascontiguousarray(qmat.astype(q_dtype))
        k = len(self._cent32)
        npb = min(nprobe, k)
        nq = len(q32)
        cscores = q32 @ self._cent32.T  # (nq, k) — the routing GEMM
        probes = np.argpartition(-cscores, npb - 1, axis=1)[:, :npb]
        # invert to CSR: for cluster c, sort_q[starts[c]:ends[c]] = queries probing c
        flat_c = probes.ravel()
        flat_q = np.repeat(np.arange(nq, dtype=np.int64), npb)
        order = np.argsort(flat_c, kind="stable")
        sort_c, sort_q = flat_c[order], flat_q[order]
        starts = np.searchsorted(sort_c, np.arange(k))
        ends = np.searchsorted(sort_c, np.arange(k), side="right")

        bc = spark.sparkContext.broadcast((qids, q32, sort_q, starts, ends))
        blk_dir = self.dir
        block_pids = self.block_pids
        as_int8 = self.dtype == "int8"
        pad = 1.5 * 10.0 ** (-round_to)

        def score_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for batch in batches:
                pass
            mat_path = os.path.join(blk_dir, f"mat_{pid}.npy")
            if pid not in block_pids:
                if not os.path.exists(mat_path):
                    return
            # all artifacts checked up front — see ResidentGemmStore's
            # kernel for why a lost sidecar must raise the same
            # canonical sentinel-tagged message the auto-re-arm matches
            need = ["mat", "ids", "clus"] + (["scales"] if as_int8 else [])
            lost = [
                a
                for a in need
                if not os.path.exists(os.path.join(blk_dir, f"{a}_{pid}.npy"))
            ]
            if lost:
                raise RuntimeError(
                    f"[resident-block-missing] IVF artifact(s) {lost} for "
                    f"partition {pid} under {blk_dir} — store closed, "
                    "partitioning changed since materialize(), or this task "
                    "ran on a node that never materialized; re-materialize() "
                    "or use ann_query()"
                )
            mat = np.load(mat_path, mmap_mode="r")
            ids = np.load(os.path.join(blk_dir, f"ids_{pid}.npy"), allow_pickle=True)
            clus = np.load(os.path.join(blk_dir, f"clus_{pid}.npy"))
            scales = (
                np.load(os.path.join(blk_dir, f"scales_{pid}.npy")) if as_int8 else None
            )
            b_qids, b_q32, b_sq, b_st, b_en = bc.value
            seg_clusters, seg_starts = np.unique(clus, return_index=True)
            seg_bounds = np.append(seg_starts, len(clus))
            out_q, out_v, out_s = [], [], []
            for ci, c in enumerate(seg_clusters):
                qidx = b_sq[b_st[c] : b_en[c]]
                if len(qidx) == 0:
                    continue
                s, e = seg_bounds[ci], seg_bounds[ci + 1]
                if scales is not None:
                    # rescaled integer dot: score = scale_i · (q · codes_i)
                    scores = (
                        b_q32[qidx] @ mat[s:e].T.astype(np.float32)
                    ) * scales[s:e][None, :]
                else:
                    scores = b_q32[qidx] @ mat[s:e].T  # (nq_c, n_seg)
                n = scores.shape[1]
                kk = min(top_k, n)
                kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
                qi, vi = np.nonzero(scores >= (kth - pad)[:, None])
                out_q.append(qidx[qi])
                out_v.append(vi + s)
                out_s.append(scores[qi, vi])
            if not out_q:
                return
            oq = np.concatenate(out_q)
            ov = np.concatenate(out_v)
            osc = np.round(np.concatenate(out_s).astype(np.float64), round_to)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[oq], type=pa.string()),
                    pa.array(ids[ov], type=pa.string()),
                    pa.array(osc, type=pa.float64()),
                ],
                names=["query_id", K_ID, K_METRICS],
            )

        probe = self._blocks_df.select(F.lit(True).alias("__probe"))
        local = probe.mapInArrow(
            score_block, schema=f"query_id string, {K_ID} string, {K_METRICS} double"
        )
        return _serve_with_rearm(
            self,
            topk_per_query(local, top_k),
            probe_skipped,
            lambda: self.query(
                queries,
                top_k=top_k,
                nprobe=nprobe,
                round_to=round_to,
                query_id=query_id,
                vector_col=vector_col,
            ),
        )

    # --------------------------------------------------- in-process serving

    def _local_blocks(self):
        """mmap every resident block from THIS process and index its
        cluster segments: {cluster: [(block_i, start, end), ...]}.
        Loaded once, cached; mmap pages stay in the OS page cache."""
        cached = getattr(self, "_local_cache", None)
        if cached is not None:
            return cached
        if self.n_rows is None:
            raise RuntimeError("resident IVF store not materialized — call materialize()")
        artifacts = ("mat", "ids", "clus") + (
            ("scales",) if self.dtype == "int8" else ()
        )
        blocks, segmap = [], {}
        for pid in sorted(self.block_pids):
            paths = {
                name: os.path.join(self.dir, f"{name}_{pid}.npy") for name in artifacts
            }
            lost = sorted(n for n, p in paths.items() if not os.path.exists(p))
            if lost:
                raise RuntimeError(
                    f"resident IVF block artifact(s) {lost} for partition {pid} "
                    f"not visible from this process ({self.dir}) — query_local() "
                    "serves from node-local blocks and must run co-resident "
                    "with them (a serving node); re-materialize() or use "
                    "query() for the distributed path"
                )
            mat = np.load(paths["mat"], mmap_mode="r")
            # prefault: touch one element per row (rows span >= a page at
            # serving dims) so first queries measure GEMV, not page-in
            float(np.asarray(mat[:, 0]).astype(np.float32).sum())
            ids = np.load(paths["ids"], allow_pickle=True)
            clus = np.load(paths["clus"])
            scales = np.load(paths["scales"]) if self.dtype == "int8" else None
            bi = len(blocks)
            blocks.append((mat, ids, scales))
            seg_clusters, seg_starts = np.unique(clus, return_index=True)
            bounds = np.append(seg_starts, len(clus))
            for ci, c in enumerate(seg_clusters):
                segmap.setdefault(int(c), []).append(
                    (bi, int(bounds[ci]), int(bounds[ci + 1]))
                )
        self._local_cache = (blocks, segmap)
        return self._local_cache

    def _hot_segment(self, bi: int, s: int, e: int, mat) -> "np.ndarray":
        """float32 view of an int8 block segment, FIFO-cached up to
        `local_cache_bytes` (0 = cast every call)."""
        if self.local_cache_bytes <= 0:
            return mat[s:e].astype(np.float32)
        cache = getattr(self, "_seg_cache", None)
        if cache is None:
            from collections import OrderedDict

            cache = self._seg_cache = OrderedDict()
            self._seg_cache_sz = 0
        key = (bi, s, e)
        seg = cache.get(key)
        if seg is None:
            seg = mat[s:e].astype(np.float32)
            cache[key] = seg
            self._seg_cache_sz += seg.nbytes
            while self._seg_cache_sz > self.local_cache_bytes and cache:
                _, old = cache.popitem(last=False)
                self._seg_cache_sz -= old.nbytes
        return seg

    def query_local(
        self,
        vector,
        *,
        top_k: int = 10,
        nprobe: int = 8,
        better_than: float | None = None,
        round_to: int = 6,
    ) -> list[dict]:
        """Single-query serving WITHOUT a Spark job: route on the
        centroids, GEMV only the probed clusters' segments of the
        node-local blocks, merge top-k in-process. This is the serving-
        tier analog of the reference's in-process FAISS path
        (pico_vdb.py:716-751) — same latency class (milliseconds), same
        data as `query()` (identical blocks, semantics, tie rule; a
        score can differ by one ulp at the rounding boundary because
        GEMV and the distributed batched GEMM accumulate float32 in
        different orders — tolerance-pinned in tests/test_resident.py).

        Requires every block to be visible from this process (true in
        local mode and on a serving node holding the store's shards; a
        partial node must use the distributed `query()`). Returns
        [{'_id_', '_metrics_', 'rank'}, ...] best-first."""
        blocks, segmap = self._local_blocks()
        # normalize in float64 THEN cast — the exact sequence of
        # collect_normalized_queries + query()'s astype, so scores agree
        # to the last bit with the distributed path
        q = np.asarray(vector, dtype=np.float64).reshape(1, -1)
        q = unit_rows(q)[0].astype("float32" if self.dtype == "int8" else self.dtype)
        k = len(self._cent32)
        npb = min(nprobe, k)
        # route on the FLOAT centroids, exactly like query()'s routing
        # GEMM — casting them to the block dtype would truncate every
        # component to 0 in int8 mode (|x| < 1) and probe arbitrary
        # clusters
        cscores = self._cent32 @ q
        probed = np.argpartition(-cscores, npb - 1)[:npb]
        cand_ids: list[np.ndarray] = []
        cand_scores: list[np.ndarray] = []
        for c in probed:
            for bi, s, e in segmap.get(int(c), ()):
                mat, ids, scales = blocks[bi]
                if scales is not None:
                    # int8 segment: GEMV needs float32, and the cast is
                    # ~4× the GEMV itself — serve hot segments from a
                    # byte-bounded FIFO cache (the store keeps its 4×
                    # int8 density; only this process's hot set is f32).
                    # Scales multiply AFTER the dot, same order as the
                    # distributed kernel, so scores agree to the ulp.
                    seg = self._hot_segment(bi, s, e, mat)
                    cand_scores.append((seg @ q) * scales[s:e])
                else:
                    cand_scores.append(mat[s:e] @ q)
                cand_ids.append(ids[s:e])
        if not cand_ids:
            return []
        return _local_topk(
            np.concatenate(cand_scores),
            np.concatenate(cand_ids),
            top_k=top_k,
            better_than=better_than,
            round_to=round_to,
        )
