"""Correctness gates: pure NumPy checks of the program's outputs.

Each gate returns ``None`` when the output is correct and a one-line
reason string when it is not, so a workload can count the op as failed
and keep going. Nothing here imports Spark, which lets the smoke check
feed every gate a deliberately wrong answer without starting a session.
"""

from __future__ import annotations

import hashlib

import numpy as np

# Scores come back rounded to 6 decimals; float32 scoring adds up to a
# few float32 ulps on top of that.
SCORE_TOL = 2e-5


def exact_topk(store: np.ndarray, query: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Float64 reference: indices and cosine scores of the top-k rows
    (rows of `store` are unit vectors; `query` need not be)."""
    q = np.asarray(query, dtype=np.float64)
    q = q / np.linalg.norm(q)
    scores = store.astype(np.float64) @ q
    top = np.argsort(-scores, kind="stable")[:k]
    return top, scores


def check_topk(ids: list, scores: list, ref_scores: np.ndarray, k: int, id_of) -> str | None:
    """A result is a valid exact top-k when it has k distinct ids, each
    returned score equals the reference score of its id, and no
    unreturned row beats the k-th returned score (ties within tolerance
    may go either way). `id_of` maps a returned id to its row index."""
    if len(ids) != k or len(set(ids)) != k:
        return f"expected {k} distinct ids, got {len(ids)} ({len(set(ids))} distinct)"
    rows = np.array([id_of(i) for i in ids])
    got = np.asarray(scores, dtype=np.float64)
    if np.max(np.abs(ref_scores[rows] - got)) > SCORE_TOL:
        return "returned scores differ from the float64 reference"
    if np.any(np.diff(got) > SCORE_TOL):
        return "scores are not in descending order"
    kth = np.sort(ref_scores)[::-1][k - 1]
    if got.min() < kth - SCORE_TOL:
        return "a better row was left out of the top-k"
    return None


def check_filter(rows: list[tuple], allowed_ids: set | None, allowed_labels: set | None,
                 better_than: float | None, label_of) -> str | None:
    """Every (id, score) row satisfies the filter it was asked for."""
    if not rows:
        return "filtered query returned no rows"
    for rid, score in rows:
        if allowed_ids is not None and rid not in allowed_ids:
            return f"id {rid} is outside the ids allow-list"
        if allowed_labels is not None and label_of(rid) not in allowed_labels:
            return f"id {rid} fails the where clause"
        if better_than is not None and score < better_than:
            return f"score {score} is below better_than={better_than}"
    return None


def check_equal(name: str, expected, got) -> str | None:
    return None if expected == got else f"{name}: expected {expected!r}, got {got!r}"


def check_rank1(expected_id: str, rows: list[tuple]) -> str | None:
    """An upserted vector queried back must be its own rank-1 match."""
    if not rows or rows[0][0] != expected_id:
        got = rows[0][0] if rows else None
        return f"rank-1 of upserted id {expected_id} is {got}"
    return None


def check_absent(deleted: set, present: set) -> str | None:
    hit = deleted & present
    return f"{len(hit)} deleted ids are still present" if hit else None


def check_flagged(planted: set, flagged: set) -> str | None:
    missing = planted - flagged
    return f"{len(missing)} planted exact copies were not flagged" if missing else None


def check_min_recall(name: str, found: int, planted: int, floor: float) -> str | None:
    recall = found / planted if planted else 1.0
    return None if recall >= floor else f"{name} recall {recall:.3f} below {floor}"


def content_hash(rows: list[tuple]) -> str:
    """Order-independent hash of (id, vector, metadata...) rows."""
    h = hashlib.sha256()
    for row in sorted(rows, key=lambda r: r[0]):
        rid, vec, *rest = row
        h.update(str(rid).encode())
        h.update(np.asarray(vec, dtype=np.float32).tobytes())
        h.update(repr(rest).encode())
    return h.hexdigest()
