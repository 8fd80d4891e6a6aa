"""Benchmark self-test at a tiny size: `python3 perfbench/run.py --selftest`.

Checks that every per-layer metric of BENCHMARK.json has its entry in
spec.MOVES. Then, in one Spark session, every workload builds its
inputs, runs its warm-up, one checked operation and one traced
operation; then its expected output is corrupted and the check must
report failures. Uses its own data dir, removed afterwards. Exits 0 when
every step behaves.
"""

from __future__ import annotations

import os
import shutil
import sys

from perfbench import run, spec
from perfbench.probe import SparkProbe, stop_spark
from perfbench.workloads import WORKLOADS

TINY = {
    "extract_web": {**spec.INPUTS["extract_web"], "docs": 120},
    "clean_dups": {**spec.INPUTS["clean_dups"], "base_docs": 80},
    "operator_queries": {**spec.INPUTS["operator_queries"],
                         "documents_rows": 100, "embeddings_rows": 100},
}


def corrupt(wl) -> None:
    """Make the workload's expected output wrong."""
    if wl.name == "extract_web":
        b, (n, _chk) = next(iter(wl.expected.items()))
        wl.expected[b] = (n, "0" * 16)
    elif wl.name == "clean_dups":
        wl.first_sum = "0" * 64
    else:
        wl.canon[wl.queries[0]] = 0


def main() -> int:
    base = os.path.join(run.WORK, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    data, work = os.path.join(base, "data"), os.path.join(base, "work")
    os.makedirs(work)
    ctx = run.Ctx("selftest", 0, trace=True)
    run.environment(ctx.cores)
    from no_ocr_spark.session import get_spark

    spark = get_spark(app="perfbench-selftest")
    ctx.probe = SparkProbe(spark, run.ROOT)
    problems = []
    if set(spec.MOVES) != set(spec.PER_LAYER):
        problems.append("per-layer metrics without a MOVES entry, or the "
                        f"reverse: {sorted(set(spec.MOVES) ^ set(spec.PER_LAYER))}")
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(data, work, 3, TINY[name])
            wl.build()
            wl.prepare(spark)
            results = [wl.warm_up()]
            wl.reset()
            wl.op()
            results.append(wl.check())
            _wall, layers = wl.traced(ctx)
            results.append(wl.check())
            if any(f for _a, f in results):
                problems.append(f"{name}: clean run reported failures {results}")
            unknown = set(layers) - set(spec.PER_LAYER)
            if unknown:
                problems.append(f"{name}: undeclared metrics {sorted(unknown)}")
            corrupt(wl)
            attempted, failed = wl.check()
            if not failed:
                problems.append(f"{name}: corrupted expectation not caught")
            print(f"selftest {name}: ok={not problems} "
                  f"corrupted check -> {failed}/{attempted} failed",
                  file=sys.stderr)
            wl.reset()
    finally:
        stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0
