"""Metrics read from outside the program.

* Spark's own status stores, by job group: the core store
  (`SparkContext.statusStore()`: jobs, stages, task-time quantiles,
  shuffle and spill bytes) and the SQL store
  (`sharedState().statusStore()`: per-operator metrics such as the
  MapInPandas "data sent to Python workers"). Both are live with
  `spark.ui.enabled=false`.
* Python-worker peak RSS from `/proc/<pid>/status` (`VmHWM`).
"""

from __future__ import annotations

import os
import re
import signal
import statistics
import time
from contextlib import contextmanager

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> number (bytes, seconds or a count).

    Aggregated metrics read "total (min, med, max ...)\\n12.3 KiB (...)";
    the total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit) if unit in _SIZE else num * _TIME.get(unit, 1.0)


class SparkProbe:
    """Reads what Spark recorded about the jobs of one job group."""

    def __init__(self, spark, root: str):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.root = root.rstrip("/") + "/"
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Tag every job started inside with a fresh group id; yields it."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def settle(self) -> None:
        """Wait until the listener bus has applied every event, so the
        status stores hold the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, gid: str) -> list[dict]:
        """One record per job: call site, start/end (epoch s), stages."""
        self.settle()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(gid)):
            jd = self.core.job(jid)
            info = self.sc.statusTracker().getJobInfo(jid)
            stages = [self._stage(s) for s in (info.stageIds if info else [])]
            out.append({
                "job": jid,
                "call_site": jd.name().replace(self.root, ""),
                "start": _epoch(jd.submissionTime()),
                "end": _epoch(jd.completionTime()),
                "stages": [s for s in stages if s is not None],
            })
        return out

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self.core.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — evicted or never run
            return None
        if str(sd.status()) != "COMPLETE":
            return None
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summ = self.core.taskSummary(sid, sd.attemptId(), qs)
        med = mx = 0.0
        if summ.isDefined():
            d = summ.get().duration()
            med, mx = d.apply(0), d.apply(1)
        t0, t1 = _epoch(sd.submissionTime()), _epoch(sd.completionTime())
        return {
            "stage": sid,
            "tasks": sd.numTasks(),
            "wall_s": (t1 - t0) if t0 and t1 else 0.0,
            "executor_run_s": sd.executorRunTime() / 1000.0,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "task_med_s": med / 1000.0,
            "task_max_s": mx / 1000.0,
        }

    def executions(self, gid: str) -> list[dict]:
        """The group's SQL executions: their job ids, what they do
        ("write <dir>" for a file write, else "query") and every plan
        node with its metrics and the ids of the nodes consuming it."""
        self.settle()
        out = []
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.description() != gid:
                continue
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            parents: dict[int, list[int]] = {}
            ei = graph.edges().iterator()
            while ei.hasNext():
                e = ei.next()
                parents.setdefault(e.fromId(), []).append(e.toId())
            nodes, kind = [], "query"
            ni = graph.allNodes().iterator()
            while ni.hasNext():
                node = ni.next()
                m = re.search(r"InsertIntoHadoopFsRelationCommand\s+\S*?([^/,\s]+),",
                              node.desc())
                if m:
                    kind = f"write {m.group(1)}"
                metrics = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        metrics[pm.name()] = parse_metric(v.get())
                nodes.append({"execution": eid, "id": node.id(),
                              "name": node.name(), "metrics": metrics,
                              "parents": parents.get(node.id(), [])})
            jobs = []
            ji = ex.jobs().keysIterator()
            while ji.hasNext():
                jobs.append(ji.next())
            out.append({"execution": eid, "kind": kind, "jobs": jobs,
                        "nodes": nodes})
        return out


def _epoch(opt_date) -> float:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else 0.0


def summarize(jobs: list[dict], execs: list[dict]) -> dict:
    """Group-level L2 totals: jobs, tasks, shuffle/spill bytes, skew of
    the longest stage, Python-boundary bytes and time, and job time
    split into file-write executions and everything else."""
    stages = [s for j in jobs for s in j["stages"]]
    longest = max(stages, key=lambda s: s["wall_s"], default=None)
    skew = 0.0
    if longest and longest["task_med_s"] > 0:
        skew = longest["task_max_s"] / longest["task_med_s"]
    kind = {j: e["kind"] for e in execs for j in e["jobs"]}
    write_s = read_s = 0.0
    for j in jobs:
        span = max(0.0, j["end"] - j["start"])
        if kind.get(j["job"], "").startswith("write"):
            write_s += span
        else:
            read_s += span
    py = [n["metrics"] for e in execs for n in e["nodes"]]
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "task_skew": skew,
        "write_jobs_s": write_s,
        "read_jobs_s": read_s,
        "py_bytes_in": sum(m.get(PY_SENT, 0.0) for m in py),
        "py_bytes_out": sum(m.get(PY_RETURNED, 0.0) for m in py),
        "py_worker_s": sum(m.get(PY_TIME, 0.0) for m in py),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --- processes ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among this process's Python workers (pyspark.daemon
    and the workers it forks), in MiB."""
    peak = 0
    for pid in descendants():
        cmd = _cmdline(pid)
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (daemon, Python workers) has ended."""
    from pyspark import SparkContext

    started = descendants()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already closed
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=30)
    end_all(set(started) | set(descendants()))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def end_all(pids: set[int], grace: float = 20.0) -> None:
    """Wait for `pids` to exit; TERM, then KILL, those that outlive the
    grace period. Reaps this process's own exited children."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + grace
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = {p for p in pids if _alive(p)}
            if not pids:
                return
            time.sleep(0.05)
