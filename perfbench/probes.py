"""Read-only counters around the engine: Spark's scheduler and status store,
the executed plan's SQL metrics, Catalyst phase times, JVM garbage
collection, and CPU from ``/proc``.  None of them changes what Spark runs."""

from __future__ import annotations

import os

CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")
_TICK = os.sysconf("SC_CLK_TCK")


def next_job_id(spark) -> int:
    """The id the next Spark job will get.  Jobs from every thread
    (streaming micro-batches included) take ids from this counter, so two
    readings bound exactly the jobs started between them."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def job_counts(spark, first: int, last: int) -> dict[str, int]:
    """Jobs, executed stages and completed tasks for job ids [first, last)."""
    st = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for jid in range(first, last):
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": last - first, "stages": ran, "tasks": tasks}


def _opt(option):
    return option.get() if option.isDefined() else None


def catalyst_ms(df) -> dict[str, float]:
    """Per-phase durations from the DataFrame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        summary = _opt(phases.get(p))
        out[p] = float(summary.durationMs()) if summary is not None else 0.0
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metric(node, key: str) -> int:
    m = _opt(node.metrics().get(key))
    return int(m.value()) if m is not None else 0


def plan_metrics(df) -> dict[str, int]:
    """SQL metrics of the executed (AQE final) plan, walked through query
    stages and subqueries; reused exchanges and subqueries count once."""
    out = {"shuffle_write_bytes": 0, "broadcast_bytes": 0, "scan_rows": 0, "scan_bytes": 0}
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if node.id() in seen:
            continue
        seen.add(node.id())
        if cls == "ShuffleExchangeExec":
            out["shuffle_write_bytes"] += _metric(node, "shuffleBytesWritten")
        elif cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += _metric(node, "dataSize")
        elif cls == "FileSourceScanExec":
            out["scan_rows"] += _metric(node, "numOutputRows")
            out["scan_bytes"] += _metric(node, "filesSize")
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def storage(spark) -> tuple[int, float]:
    """(cached RDDs, MB of storage memory they hold)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() for i in infos) / 2**20


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its closing ')'
    return data[data.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    fields = _stat(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command line) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        fields = _stat(pid)
        if fields is None:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = ""
        out[pid] = (int(fields[1]), cmd)
    return out


def descendants(root: int | None) -> list[int]:
    if root is None:
        return []
    procs = _processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def python_worker_pids(jvm: int | None) -> list[int]:
    procs = _processes()
    return [p for p in descendants(jvm) if "pyspark.daemon" in procs.get(p, (0, ""))[1]]


def python_worker_cpu_s(jvm: int | None) -> float:
    """CPU seconds of the ``pyspark.daemon`` tree under the JVM.  Summing
    user+system plus reaped children over the live tree counts each
    process once, whether it is still running or was already reaped."""
    total = 0
    for pid in python_worker_pids(jvm):
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_cpu() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])  # guest time is already inside user/nice
    idle = vals[3] + vals[4]
    return total, total - idle, vals[7]


def host_pct(start: tuple[int, int, int], end: tuple[int, int, int]) -> dict[str, float]:
    total = max(end[0] - start[0], 1)
    return {
        "cpu_busy_pct": 100.0 * (end[1] - start[1]) / total,
        "cpu_steal_pct": 100.0 * (end[2] - start[2]) / total,
    }
