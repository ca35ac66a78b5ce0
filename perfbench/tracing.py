"""Benchmark-side tracing: /proc process-tree readings, spans with one
Spark job group each, and a folder from the local Spark event log to
per-layer metrics.

Nothing here touches the package: spans wrap the benchmark's own calls
into it, and everything else is read from outside (``/proc`` and the
event log Spark writes when ``spark.eventLog.enabled`` is set).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc ------------------------------------------------------------------------


def _stat(pid: int):
    """(ppid, comm, cpu_s own, cpu_s of reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    kids = (int(fields[13]) + int(fields[14])) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, comm, own, kids, rss


def process_tree() -> dict:
    """pid → stat tuple for this process and every descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def cpu_split(tree: dict) -> dict:
    """CPU seconds so far of the driver (this process), the JVM and the
    Python workers.  A worker that exited is counted through its reaped
    parent (the pyspark daemon), so worker CPU does not go missing."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
    for pid, (_ppid, comm, own, kids, _rss) in tree.items():
        if pid == me:
            out["driver"] += own
        elif comm == "java":
            out["jvm"] += own
        elif comm.startswith("python"):
            out["py"] += own + kids
    return out


def tree_rss(tree: dict) -> int:
    return sum(st[4] for st in tree.values())


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def wait_ended(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; SIGKILL those
    still running after ``timeout`` seconds and wait for them too."""
    import signal

    deadline = time.monotonic() + timeout
    left = {p for p in pids if _running(p)}
    while left:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
        left = {p for p in left if _running(p)}


class RssSampler:
    """Background sampler of the summed RSS of this process tree, read
    every ``INTERVAL`` seconds."""

    INTERVAL = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(process_tree()))
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss(process_tree()))


# -- spans ------------------------------------------------------------------------


class Tracer:
    """Records spans in memory; each span runs its Spark jobs under its
    own job group, so the event log can be split by span, and reads the
    process tree's CPU counters before and after."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "group": f"bench-{len(self.spans)}-{name}", **attrs}
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self.sc.setLocalProperty("spark.job.description", name)
        rec["cpu0"] = cpu_split(process_tree())
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["cpu1"] = cpu_split(process_tree())
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


# -- event log --------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _acc(task_info: dict, name: str) -> float:
    total = 0.0
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name and a.get("Update") is not None:
            try:
                total += float(a["Update"])
            except (TypeError, ValueError):
                pass
    return total


def group_totals() -> dict:
    return {
        "jobs": [], "stages": set(), "tasks": 0, "tasks_failed": 0, "exec_cpu_s": 0.0,
        "gc_s": 0.0, "python_run_s": 0.0, "python_bytes": 0.0, "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0, "rows_out": 0, "executions": set(),
        "kernel_rows_in": 0, "kernel_rows_out": 0,
    }


def read_event_log(path: str) -> dict:
    """Per job group: job intervals, stages run, task totals, and the
    rows into and out of each written result's final Python kernel
    (``written_kernel``)."""
    groups: dict = {}
    job_group: dict = {}
    stage_group: dict = {}
    plans: dict = {}  # SQL execution id -> its latest (adaptive) plan
    accums: dict = {}  # accumulator id -> sum of its task updates

    def g(name):
        return groups.setdefault(name, group_totals())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id")
                if grp:
                    job_group[ev["Job ID"]] = grp
                    g(grp)["jobs"].append([ev["Job ID"], ev["Submission Time"] / 1e3, None])
                    if props.get("spark.sql.execution.id") is not None:
                        g(grp)["executions"].add(int(props["spark.sql.execution.id"]))
            elif kind == "SparkListenerJobEnd":
                grp = job_group.get(ev["Job ID"])
                if grp:
                    for j in groups[grp]["jobs"]:
                        if j[0] == ev["Job ID"]:
                            j[2] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key[0]] = grp
                    g(grp)["stages"].add(key)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                for a in info.get("Accumulables", ()):
                    try:
                        accums[a["ID"]] = accums.get(a["ID"], 0) + float(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
                grp = stage_group.get(ev["Stage ID"])
                if not grp:
                    continue
                rec = g(grp)
                rec["tasks"] += 1
                if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    rec["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                rec["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                rec["rows_out"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
                rec["python_run_s"] += _acc(info, _PY_TIME) / 1e3  # ms
                rec["python_bytes"] += _acc(info, _PY_SENT) + _acc(info, _PY_RECV)
    for rec in groups.values():
        for ex in rec["executions"]:
            rows = written_kernel(plans.get(ex), accums)
            if rows:
                rec["kernel_rows_in"] += rows[0]
                rec["kernel_rows_out"] += rows[1]
    return groups


_OUT_ROWS = "number of output rows"


def _metric_ids(node: dict) -> dict:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}


def _rows_out(node: dict, accums: dict) -> int:
    """Rows a plan node emits: its own row metric, or, for a node without
    one (project, sort, exchange, codegen wrapper), the sum over its
    children."""
    ids = _metric_ids(node)
    if _OUT_ROWS in ids:
        return int(accums.get(ids[_OUT_ROWS], 0))
    return sum(_rows_out(c, accums) for c in node["children"])


def written_kernel(plan, accums: dict):
    """(rows in, rows out) of the Python kernel whose output a file write
    consumes directly, or None.  Nodes between the write and the kernel
    must pass rows through unchanged (no row metric of their own)."""
    todo = [plan] if plan else []
    while todo:
        node = todo.pop()
        if node["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
            below = node["children"]
            while len(below) == 1:
                ids = _metric_ids(below[0])
                if _PY_TIME in ids:
                    rows_in = sum(_rows_out(c, accums) for c in below[0]["children"])
                    return rows_in, int(accums.get(ids[_OUT_ROWS], 0))
                if _OUT_ROWS in ids:
                    break
                below = below[0]["children"]
        todo.extend(node["children"])
    return None


def covered(intervals, t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_span(span: dict, groups: dict) -> dict:
    """One span's per-layer row from its job group's event-log totals."""
    rec = groups.get(span["group"]) or group_totals()
    wall = span["t1"] - span["t0"]
    job_iv = [(a, b if b is not None else span["t1"]) for _, a, b in rec["jobs"]]
    c0, c1 = span["cpu0"], span["cpu1"]
    return {
        "wall_s": wall,
        "driver_s": wall - covered(job_iv, span["t0"], span["t1"]),
        "jobs": len(rec["jobs"]),
        "stages": len(rec["stages"]),
        "tasks": rec["tasks"],
        "tasks_failed": rec["tasks_failed"],
        "exec_cpu_s": rec["exec_cpu_s"],
        "gc_s": rec["gc_s"],
        "python_run_s": rec["python_run_s"],
        "python_mb": rec["python_bytes"] / 1e6,
        "shuffle_write_mb": rec["shuffle_write_bytes"] / 1e6,
        "spill_mb": rec["spill_bytes"] / 1e6,
        "rows_out": rec["rows_out"],
        "proc_jvm_cpu_s": c1["jvm"] - c0["jvm"],
        "proc_py_cpu_s": c1["py"] - c0["py"],
        "proc_driver_cpu_s": c1["driver"] - c0["driver"],
    }


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]
