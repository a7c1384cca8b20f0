"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py [--skip-runs]

1. Feeds every correctness gate a right and a deliberately wrong answer
   and checks that only the wrong one fails (no Spark needed).
2. Runs every workload end to end at the tiny size, untraced and traced,
   and checks that each run is correct with no failed op, and that the
   result carries every metric `BENCHMARK.json` declares, with its unit.

Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gates  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")
    print(f"smoke: ok: {what}", flush=True)


def gate_checks() -> None:
    rng = np.random.default_rng(0)
    store = rng.standard_normal((50, 8))
    store /= np.linalg.norm(store, axis=1, keepdims=True)
    top, ref = gates.exact_topk(store, store[3] + 0.01, 5)
    ids, scores = [str(i) for i in top], [round(float(ref[i]), 6) for i in top]
    check(gates.check_topk(ids, scores, ref, 5, int) is None, "top-k gate passes the reference")
    worse = ids[:4] + [str(int(np.argsort(ref)[0]))]
    check(gates.check_topk(worse, scores[:4] + [float(ref[int(worse[-1])])], ref, 5, int)
          is not None, "top-k gate fails a result missing a better row")
    check(gates.check_topk(ids, scores[:4] + [scores[4] + 0.01], ref, 5, int) is not None,
          "top-k gate fails a wrong score")
    check(gates.check_topk(ids[:4], scores[:4], ref, 5, int) is not None,
          "top-k gate fails a short result")

    rows = [("1", 0.9), ("2", 0.8)]
    check(gates.check_filter(rows, {"1", "2"}, {0}, 0.5, lambda i: 0) is None,
          "filter gate passes rows inside the filter")
    check(gates.check_filter(rows, {"1"}, None, None, None) is not None,
          "filter gate fails an id outside the allow-list")
    check(gates.check_filter(rows, None, {1}, None, lambda i: 0) is not None,
          "filter gate fails a row outside the where clause")
    check(gates.check_filter(rows, None, None, 0.85, None) is not None,
          "filter gate fails a score below better_than")
    check(gates.check_filter([], None, None, None, None) is not None,
          "filter gate fails an empty result")

    check(gates.check_equal("n", 3, 3) is None and gates.check_equal("n", 3, 4) is not None,
          "equality gate")
    check(gates.check_rank1("a", [("a", 1.0)]) is None
          and gates.check_rank1("a", [("b", 1.0), ("a", 0.9)]) is not None, "rank-1 gate")
    check(gates.check_absent({"a"}, {"b"}) is None
          and gates.check_absent({"a"}, {"a", "b"}) is not None, "deleted-ids gate")
    check(gates.check_flagged({1, 2}, {1, 2, 3}) is None
          and gates.check_flagged({1, 2}, {1}) is not None, "planted-copies gate")
    check(gates.check_min_recall("r", 9, 10, 0.9) is None
          and gates.check_min_recall("r", 8, 10, 0.9) is not None, "recall-floor gate")
    a = [("x", [1.0, 2.0], 3), ("y", [0.5, 0.0], 4)]
    check(gates.content_hash(a) == gates.content_hash(a[::-1])
          and gates.content_hash(a) != gates.content_hash([("x", [1.0, 2.0], 3),
                                                           ("y", [0.5, 0.1], 4)]),
          "content hash is order-free and sees a changed vector")


def run_checks() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = {w["name"] for w in spec["workloads"]}
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for workload in sorted(listed):
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            what = f"{workload} trace={trace}"
            if proc.returncode != 0:
                raise SystemExit(f"smoke: FAILED: {what} exited {proc.returncode}\n"
                                 f"{proc.stderr[-2000:]}")
            detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
            check(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                  f"{what} passes its gates ({detail['failures']})")
            got = result["metrics"]
            missing = [n for n, u in declared[trace].items()
                       if n not in got or got[n]["unit"] != u]
            check(not missing, f"{what} emits every declared metric with its unit {missing}")
            extra = sorted(set(got) - set(declared[trace]))
            check(not extra, f"{what} emits nothing undeclared {extra}")
            check(all(isinstance(m["value"], (int, float)) for m in got.values()),
                  f"{what} reports numeric values")
            check(bool(detail["named_metrics"]), f"{what} reports its named metrics")


def main() -> int:
    gate_checks()
    if "--skip-runs" not in sys.argv:
        run_checks()
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
