"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,dedup} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. One run is one fresh process on
``local[<nproc>]`` with the session defaults of ``get_spark()``:

1. set-up: start the session, build the workload's inputs several times
   (the median build counts), prepare (the calls a run makes once, e.g.
   ingesting a store or materializing resident stores), then one warm
   cycle;
2. measure: closed-loop, single-client cycles of the workload's fixed
   call sequence for ``--seconds`` (at least one);
3. report: a detail line (environment, the workload's named metrics,
   op counts) and, as the last line of standard output, the result
   object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` every call is traced; the metrics are the per-layer
``<module>.<call>.<counter>`` means over the prepare calls and the
measured calls, the host
counters, and the tracing overhead: the time the recorder spends around
traced calls (job groups, status-store reads), which is what tracing adds
to a cycle, as a share of the measured cycles. Spans are written to ``.bench_work/results``.

All files the run writes live under ``.bench_work`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
BUILD_REPEATS = 3


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let workers import the package from it."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "results"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_CPUS", None)  # local[nproc]


def _load_package():
    sys.path.insert(0, str(ROOT))
    try:
        import picovdb_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import picovdb_spark from {ROOT}: {e}")
    if Path(picovdb_spark.__file__).resolve().parent.parent != ROOT:
        raise SystemExit(f"perfbench: picovdb_spark resolved outside {ROOT}")
    return picovdb_spark


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _cpu_jiffies() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal) from /proc/stat."""
    return [int(x) for x in open("/proc/stat").readline().split()[1:9]]


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, then wait for every child."""
    from pyspark import SparkContext

    import recorder

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while recorder.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in recorder.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while recorder.descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def cycle_seconds(walls: dict[str, list[float]], n_cycles: int) -> float:
    """Time of one cycle rebuilt from per-call medians: each call's
    median wall, weighted by how often a cycle makes that call. Robust to
    one slow call in a cycle, and to cycles that rotate their calls."""
    return sum(len(w) / n_cycles * statistics.median(w) for w in walls.values())


def call_geomean_ms(walls: dict[str, list[float]]) -> float:
    """Geometric mean of the per-call median walls: every call the
    workload makes weighs the same, however long it takes."""
    meds = [statistics.median(w) * 1e3 for w in walls.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def _declared_layer_metrics(computed: dict) -> dict:
    """Exactly the per-layer metrics BENCHMARK.json declares: a call this
    workload never makes reads 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: (computed.get(m["name"], (0.0,))[0], m["unit"]) for m in spec["per_layer"]}


def run(args) -> tuple[dict, dict]:
    _prepare_env()
    sys.path.insert(0, str(HERE))
    pkg = _load_package()

    import recorder
    import workloads

    load_start = _loadavg()
    cpu_start = _cpu_jiffies()
    sampler = recorder.RssSampler().start()
    t0 = time.perf_counter()
    spark = pkg.get_spark()
    session_s = time.perf_counter() - t0
    try:
        rec = recorder.Recorder(spark)
        rec.tracing = bool(args.trace)
        wl = workloads.WORKLOADS[args.workload](spark, rec, args.seed, args.size, str(WORK))

        builds = []
        for r in range(BUILD_REPEATS):
            if r:
                wl.release_inputs()
            t = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        n_prepare_spans = len(rec.spans)
        t = time.perf_counter()
        wl.cycle()  # JIT, codegen and Python workers settle in one cycle
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + prepare_s + warm_s
        warm_calls = {k: round(sum(v), 3) for k, v in rec.walls.items()}
        # per-layer means cover the prepare calls and the measured cycles
        del rec.spans[n_prepare_spans:]
        rec.walls.clear()
        rec.overhead_s = 0.0

        sampler.reset()
        cycle_walls = []
        t_start = time.perf_counter()
        while not cycle_walls or time.perf_counter() - t_start < args.seconds:
            t = time.perf_counter()
            wl.cycle()
            cycle_walls.append(time.perf_counter() - t)
        measured_s = time.perf_counter() - t_start
        sampler.sample()
        named = wl.named_metrics()

        wl.teardown()
        gc.collect()
        storage_mb = recorder.storage_retained_mb(spark.sparkContext)
        shm_mb = recorder.dir_mb(str(WORK / "shm"))

        env = recorder.environment(spark)
        env["loadavg_start"] = load_start
        env["loadavg_end"] = _loadavg()
        # CPU time the hypervisor gave to other guests while this run went
        cpu = [b - a for a, b in zip(cpu_start, _cpu_jiffies())]
        env["cpu_steal_share"] = cpu[7] / max(sum(cpu), 1)

        metrics: dict[str, tuple[float, str]] = {}
        if not args.trace:
            metrics["setup_s"] = (setup_s, "s")
            metrics["cycle_s"] = (cycle_seconds(rec.walls, len(cycle_walls)), "s")
            metrics["call_geomean_ms"] = (call_geomean_ms(rec.walls), "ms")
            metrics["peak_rss_mb"] = (sampler.peak_total, "MB")
        else:
            for name, counters in rec.per_call().items():
                for counter, value in counters.items():
                    metrics[f"{name}.{counter}"] = (value, "s" if counter.endswith("_s") else
                                                    "bytes" if counter.endswith("bytes") else "count")
            metrics["session.get_spark.wall_s"] = (session_s, "s")
            metrics["host.jvm_rss_mb"] = (sampler.peak_jvm, "MB")
            metrics["host.worker_rss_mb"] = (sampler.peak_workers, "MB")
            metrics["host.storage_retained_mb"] = (storage_mb, "MB")
            metrics["host.shm_retained_mb"] = (shm_mb, "MB")
            metrics.update(wl.extra_layer())
            metrics["trace.overhead_share"] = (rec.overhead_s / sum(cycle_walls), "ratio")
            metrics = _declared_layer_metrics(metrics)
            spans_path = WORK / "results" / f"spans-{args.workload}-{args.seed}.json"
            spans_path.write_text(json.dumps(rec.spans))

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "trace": args.trace,
            "sizes": workloads.SIZES[args.workload][args.size],
            "setup": {"session_s": session_s, "builds_s": builds, "prepare_s": prepare_s,
                      "warm_s": warm_s, "calls_s": warm_calls},
            "cycles_s": cycle_walls,
            "calls_median_s": {k: statistics.median(v) for k, v in rec.walls.items()},
            "measured_s": measured_s,
            "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "ops_attempted": wl.attempted,
            "ops_failed": wl.failed,
            "failures": wl.failures,
            "env": env,
        }
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result
    finally:
        sampler.stop()
        _stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    try:
        detail, result = run(args)
    finally:
        for sub in ("tmp", "spark-local", "shm", "stores"):
            shutil.rmtree(WORK / sub, ignore_errors=True)
    (WORK / "results" / f"detail-{args.workload}-{args.seed}-t{args.trace}.json").write_text(
        json.dumps(detail, indent=1))
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
