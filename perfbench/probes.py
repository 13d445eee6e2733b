"""Outside-in probes: CPU and memory of the JVM process tree from /proc
and the JVM's memory beans, and per-stage Spark metrics folded from the
event log.

``getrusage(RUSAGE_CHILDREN)`` in the driver cannot stand in for these:
the JVM is not a reaped child while the session lives, and the Python
workers are children of the JVM, not of the driver.
"""

from __future__ import annotations

import json
import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime in ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_tree(root: int) -> dict:
    """``root`` and every live descendant (the JVM, the Python daemon and
    its forked workers), each with its depth below ``root``."""
    children = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        out[pid] = depth
        todo.extend((c, depth + 1) for c in children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree so far, counting reaped
    children through their parents' cutime/cstime: each CPU second is
    counted once, whether its process is still alive or not."""
    ticks = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / _TICK


def tree_peak_rss_mb(root: int) -> dict:
    """Per-process ``VmHWM`` (peak resident set) over the tree, in MiB, keyed
    by depth below ``root`` and pid. Forked workers share pages with their
    daemon, so a sum counts shared pages once per process: an upper
    bound."""
    out = {}
    for pid, depth in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[depth, pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def python_peak_mb(rss: dict, slots: int) -> float:
    """The Python side's peak from ``tree_peak_rss_mb(jvm_pid)``: the
    daemons the JVM started plus ``slots`` workers at the largest worker's
    peak. How many workers get forked depends on task timing (7 or 8 for
    8 slots), so their count is fixed here and only their size is read."""
    daemons = [v for (depth, _p), v in rss.items() if depth == 1]
    workers = [v for (depth, _p), v in rss.items() if depth > 1]
    return sum(daemons) + slots * max(workers)


MIB = 1024.0 * 1024.0  # the unit of VmHWM above


def _retained_pools(mf) -> list:
    """The heap pools that hold objects which outlive a young collection.
    Eden is left out: it fills to whatever capacity the collector gave it
    before every young collection, so its peak is a collector setting, not
    the program's memory."""
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and "Eden" not in p.getName()]


def jvm_heap_reset(jvm) -> None:
    """Full collection, then restart the retained pools' peak counters: the
    next peak is the live set plus what the following job keeps past a
    young collection."""
    mf = jvm.java.lang.management.ManagementFactory
    jvm.java.lang.System.gc()
    for pool in _retained_pools(mf):
        pool.resetPeakUsage()


def jvm_memory_mb(jvm) -> dict:
    """The JVM's own memory figures, in MiB: ``heap_peak`` (the retained
    pools' summed peaks since ``jvm_heap_reset``), ``non_heap`` (metaspace, code cache:
    in use now) and ``arrow_peak`` (the most Spark's Arrow allocator, which
    holds the batches sent to and received from Python workers off the
    heap, ever had allocated)."""
    mf = jvm.java.lang.management.ManagementFactory
    heap = sum(p.getPeakUsage().getUsed() for p in _retained_pools(mf))
    arrow = jvm.org.apache.spark.sql.util.ArrowUtils.rootAllocator()
    return {"heap_peak": heap / MIB,
            "non_heap": mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / MIB,
            "arrow_peak": arrow.getPeakMemoryAllocation() / MIB}


def cpu_steal_s() -> float:
    """Machine-wide steal time so far (``/proc/stat``), in CPU seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Fold one application's event log into per-stage records.

    Returns ``(stages, jobs)``: ``stages`` is ``{stage_id: rec}``, where
    each record carries the job description it ran under, its task count,
    task intervals, summed task metrics and the summed Python SQL metrics
    of its operators; ``jobs`` lists ``(description, submitted ms,
    completed ms)``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_desc, stages, job_start, jobs = {}, {}, {}, []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_desc[sid] = desc
                job_start[ev["Job ID"]] = (desc, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                desc, t0 = job_start.pop(ev["Job ID"])
                jobs.append((desc, t0, ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                rec = stages.setdefault(sid, _new_stage())
                info = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["intervals"].append((info.get("Launch Time", 0),
                                         info.get("Finish Time", 0)))
                rec["run_ms"] += tm.get("Executor Run Time", 0)
                rec["task_run_ms"].append(tm.get("Executor Run Time", 0))
                rec["cpu_ns"] += tm.get("Executor CPU Time", 0)
                rec["gc_ms"] += tm.get("JVM GC Time", 0)
                rec["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for acc in info.get("Accumulables") or []:
                    name = acc.get("Name")
                    if name in rec["python"]:
                        rec["python"][name] += _num(acc.get("Update"))
    for sid, rec in stages.items():
        rec["desc"] = stage_desc.get(sid, "")
    return stages, jobs


def _new_stage() -> dict:
    return {"tasks": 0, "intervals": [], "run_ms": 0, "task_run_ms": [],
            "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0,
            "shuffle_write_bytes": 0,
            "python": {PY_TOTAL: 0, PY_BOOT: 0, PY_INIT: 0, PY_SENT: 0,
                       PY_RECV: 0}}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold(stages: list) -> dict:
    """Sum a list of stage records into one layer record (seconds, MB)."""
    run = [ms for s in stages for ms in s["task_run_ms"]]
    p50 = statistics.median(run) if run else 0.0
    py = {k: sum(s["python"][k] for s in stages) for k in _new_stage()["python"]}
    return {
        "tasks": sum(s["tasks"] for s in stages),
        "run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        # Spark's Python timing metrics are milliseconds, sizes bytes
        "python_total_s": py[PY_TOTAL] / 1e3,
        "python_boot_init_s": (py[PY_BOOT] + py[PY_INIT]) / 1e3,
        "arrow_sent_mb": py[PY_SENT] / 1e6,
        "arrow_recv_mb": py[PY_RECV] / 1e6,
        "task_max_over_p50": (max(run) / p50) if run and p50 > 0 else 0.0,
    }


def core_time(stages: list, jobs: list, in_job, cores: int,
              t0_ms: float, t1_ms: float) -> dict:
    """Where the core time of the window [t0, t1] went, in core-seconds,
    from the scheduler's own timestamps.

    - ``idle``: while a job of ours (``in_job(description)``) runs, the
      cores that run no task of ``stages``: stragglers, stage barriers;
    - ``driver``: while no job at all runs, every core: planning, file
      listing and the driver's own writes.

    Time in jobs that are not ours is in neither."""
    events = []
    for s in stages:
        for a, b in s["intervals"]:
            events += [(a, "task", 1), (b, "task", -1)]
    for desc, a, b in jobs:
        kind = "ours" if in_job(desc) else "other"
        events += [(a, kind, 1), (b, kind, -1)]
    events.sort(key=lambda e: e[0])
    live = {"task": 0, "ours": 0, "other": 0}
    idle = driver = 0.0
    last = t0_ms
    for t, kind, d in events + [(t1_ms, "task", 0)]:
        dt = max(0.0, min(t, t1_ms) - max(last, t0_ms))
        if live["ours"]:
            idle += max(cores - live["task"], 0) * dt
        elif not live["other"]:
            driver += cores * dt
        live[kind] += d
        last = max(last, t)
    return {"idle": idle / 1e3, "driver": driver / 1e3}
