"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 5 --trace 0

Set-up (timed as setup_s): the Spark session starts, and its Python
workers are started by a trivial job, while a child process builds the
seeded inputs and the plain-Python reference; then the workload's
warm-up runs (operator_queries has none). The timed loop is closed: one caller runs operations back to back
until `--seconds` of operation time are spent, at least one, and reports
medians. Every operation's output, a warm-up's too, is checked; a
mismatch makes `correct` false and the exit code 1.

`--trace 0` prints the end-to-end metrics. `--trace 1` also runs one
traced operation plus direct calls into each layer, reads Spark's status
stores by job group, writes the spans to `perfbench/.work/traces/`, and
prints the per-layer metrics (0 for a layer the workload does not use).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

`--selftest` runs every workload at a tiny size and checks that a
corrupted expected checksum is caught.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import pickle
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, ".data")
WORK = os.path.join(BENCH, ".work")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent) -> None:
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "start": start, "end": end, "parent": parent,
                               "run": self.run_id})


class Ctx:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.cores = len(os.sched_getaffinity(0))
        self.run_id = f"{workload}-seed{seed}-{int(time.time())}"
        self.tracer = Tracer(self.run_id, trace)
        self.spark = None
        self.probe = None
        self.groups: list[dict] = []
        self.extra: dict = {}
        self.l0_total_s = 0.0


def environment(cores: int) -> None:
    """Workers import the program from the checkout; Spark scratch,
    temp files and outputs stay under perfbench/.work, which is also the
    working directory."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.chdir(WORK)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # both JVMs (spark-submit's launcher and Spark's own): temp files
    # under tmp, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


def build_main(name: str, seed: int, size_json: str, out: str) -> int:
    """Child-process entry: build the workload's Spark-free inputs and
    reference, and pickle the attributes build() set."""
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    wl = WORKLOADS[name](DATA, WORK, seed, json.loads(size_json))
    wl.build()
    with open(out, "wb") as f:
        pickle.dump((wl.__dict__, time.perf_counter() - t0), f)
    return 0


def start(ctx: Ctx, wl) -> dict:
    """Session start, in parallel with the input build in a child
    process (a thread would contend for this interpreter's lock while
    py4j talks to the JVM)."""
    clock = time.perf_counter
    state_path = os.path.join(WORK, "build.pkl")
    child = subprocess.Popen([
        sys.executable, os.path.abspath(__file__), "--build-inputs",
        wl.name, str(wl.seed), json.dumps(wl.size), state_path])
    try:
        t0 = clock()
        from no_ocr_spark.session import get_spark

        spark = ctx.spark = get_spark(app=f"perfbench-{wl.name}")
        # bench.py's warm-up: start the Python workers
        spark.range(256, numPartitions=ctx.cores).mapInPandas(
            lambda it: it, schema="id long").count()
        session_s = clock() - t0
    finally:
        if child.wait() != 0:
            raise RuntimeError(f"input build failed ({child.returncode})")
    with open(state_path, "rb") as f:
        state, gen_s = pickle.load(f)
    os.remove(state_path)
    wl.__dict__.update(state)
    from perfbench.probe import SparkProbe

    ctx.probe = SparkProbe(spark, ROOT)
    wl.prepare(spark)
    return {"session.start_s": session_s, "synth.gen_s": gen_s}


def measure(ctx: Ctx, wl, seconds: float, trace: bool, t_begin: float,
            setup: dict) -> dict:
    """The warm-up, the timed loop, then the optional traced operation.
    Returns the result object the command prints."""
    from perfbench import spec
    from perfbench.probe import median, worker_peak_rss_mb

    clock = time.perf_counter
    attempted = failed = 0

    def checked(fn) -> None:
        nonlocal attempted, failed
        try:
            a, f = fn()
        except Exception:  # noqa: BLE001 — a raising call is a failure
            traceback.print_exc()
            a = f = wl.docs()
        attempted += a
        failed += f

    def timed_op() -> tuple[float, float]:
        """(wall, write amplification) of one checked operation."""
        nonlocal attempted, failed
        wl.reset()
        t0 = clock()
        try:
            wl.op()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            attempted += wl.docs()
            failed += wl.docs()
            return clock() - t0, 0.0
        wall = clock() - t0
        amp = wl.write_amp()
        checked(wl.check)
        return wall, amp

    t0 = clock()
    checked(wl.warm_up)
    setup["warmup_s"] = clock() - t0
    setup_s = clock() - t_begin
    walls: list[float] = []
    amps: list[float] = []
    rss = 0.0
    while not walls or sum(walls) < seconds:
        wall, amp = timed_op()
        walls.append(wall)
        amps.append(amp)
        rss = max(rss, worker_peak_rss_mb())
    wall = median(walls)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": wl.docs() / wall,
        "write_amp": median(amps),
        "worker_rss_peak_mb": rss,
    }
    if trace:
        # overhead against an untraced operation run just before, which
        # sees the same warmth (operator_queries' timed pass is cold)
        untraced, _ = timed_op()
        with ctx.tracer.span(f"{wl.name}.traced"):
            traced_wall, layers = wl.traced(ctx)
        checked(wl.check)
        metrics = {name: 0.0 for name in spec.PER_LAYER}
        metrics.update(layers)
        metrics.update(setup)
        metrics["trace.overhead_s"] = traced_wall - untraced
    wl.reset()
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "walls": walls}


def write_trace(ctx: Ctx, wl, result: dict) -> str:
    path = os.path.join(WORK, "traces", f"{ctx.run_id}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"run": ctx.run_id, "workload": wl.name, "seed": wl.seed,
                   "spans": ctx.tracer.spans, "groups": ctx.groups,
                   "extra": ctx.extra, "walls": result["walls"],
                   "metrics": result["metrics"]}, f, indent=1)
    return path


def result_line(result: dict) -> str:
    from perfbench import spec

    units = spec.UNITS
    return json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in result["metrics"].items()},
    })


def run_one(args) -> int:
    from perfbench import spec
    from perfbench.probe import descendants, end_all, stop_spark
    from perfbench.workloads import WORKLOADS

    t_begin = time.perf_counter()
    ctx = Ctx(args.workload, args.seed, bool(args.trace))
    environment(ctx.cores)
    wl = WORKLOADS[args.workload](DATA, WORK, args.seed,
                                  spec.INPUTS[args.workload])
    try:
        s = start(ctx, wl)
        result = measure(ctx, wl, args.seconds, bool(args.trace), t_begin, s)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        else:
            end_all(set(descendants()))
    print(f"perfbench: {wl.name} seed {args.seed}: session "
          f"{s['session.start_s']:.2f}s, inputs {s['synth.gen_s']:.2f}s "
          f"(cache {'hit' if wl.hit else 'miss'}), warm-up "
          f"{s['warmup_s']:.2f}s, ops {len(result['walls'])} "
          f"{[round(w, 2) for w in result['walls']]}", file=sys.stderr)
    if args.trace:
        print(f"trace: {write_trace(ctx, wl, result)}", file=sys.stderr)
    print(result_line(result), flush=True)
    return 0 if result["failed"] == 0 else 1


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(spec.INPUTS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--build-inputs", nargs=4, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.build_inputs:
        name, seed, size, out = args.build_inputs
        return build_main(name, int(seed), size, out)
    if importlib.util.find_spec("no_ocr_spark") is None:
        print(f"perfbench: the no_ocr_spark package is not under {ROOT}",
              file=sys.stderr)
        return 2
    if args.selftest:
        from perfbench import selftest

        return selftest.main()
    if not args.workload:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
