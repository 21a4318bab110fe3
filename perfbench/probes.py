"""Measurements taken from outside the engine: CPU and RSS of the driver's
process tree from /proc, host weather from /proc/stat and /proc/loadavg,
and per-stage Spark counts from the driver's status store."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    r = s[s.rindex(")") + 2 :].split()
    # fields after "pid (comm)": 0 state, 1 ppid, 11-14 utime stime cutime
    # cstime (reaped children included, so a worker that exits keeps its
    # CPU in the tree), 21 rss in pages
    cpu = sum(int(x) for x in r[11:15]) / _TICK
    return comm, int(r[1]), cpu, int(r[21]) * _PAGE


def tree_sample(root: int | None = None) -> dict:
    """CPU seconds and RSS of ``root`` and all its descendants, split into
    the driver itself, the JVM (``java``) and every other process below it
    (the Python workers forked by the pyspark daemon)."""
    root = root or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(d)
            if st:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "rss": 0, "pids": []}
    stack = [(root, "driver")]
    while stack:
        pid, cls = stack.pop()
        if pid not in procs:
            continue
        comm, _, cpu, rss = procs[pid]
        if pid != root:
            cls = "jvm" if comm == "java" else ("python" if cls != "driver" else "jvm")
        out[cls] += cpu
        out["rss"] += rss
        out["pids"].append(pid)
        stack.extend((k, cls) for k in kids.get(pid, []))
    return out


def cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in ("driver", "jvm", "python")}


class RssPeak:
    """Samples the process tree's summed RSS every ``period`` seconds while
    running; ``peak`` is the largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_sample()["rss"])
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_sample()["rss"])


def host_stat() -> dict:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    t = tree_sample()
    # user nice system idle iowait irq softirq steal, in clock ticks; "own"
    # is the CPU of this process tree in the same unit
    return {"total": sum(v[:8]), "busy": v[0] + v[1] + v[2] + v[5] + v[6],
            "iowait": v[4], "steal": v[7], "load1": load1,
            "own": (t["driver"] + t["jvm"] + t["python"]) * _TICK}


def cpu_probe_ms(reps: int = 5, n: int = 1_000_000) -> float:
    """Median wall of a fixed single-threaded Python loop: the host's
    per-core speed at the time, which load elsewhere on the physical
    machine moves without showing in steal or the load average."""
    out = []
    for _ in range(reps):
        t = now()
        sum(i * i for i in range(n))
        out.append((now() - t) * 1e3)
    return sorted(out)[reps // 2]


def weather(a: dict, b: dict) -> dict:
    """Host weather over a run: steal and iowait as a share of all CPU time
    on the host, the share processes outside this tree kept busy (other
    work on the same machine, which steal does not show), and the 1-minute
    load at both ends. ``b`` is read while the run's processes are still
    alive."""
    dt = max(b["total"] - a["total"], 1)
    return {
        "steal_pct": 100.0 * (b["steal"] - a["steal"]) / dt,
        "iowait_pct": 100.0 * (b["iowait"] - a["iowait"]) / dt,
        "others_pct": 100.0 * max((b["busy"] - a["busy"]) - (b["own"] - a["own"]), 0) / dt,
        "load1_start": a["load1"],
        "load1_end": b["load1"],
    }


class StatusStore:
    """Per-stage task metrics read from the driver's AppStatusStore (kept
    with the UI off). Stage and job ids grow monotonically, so a span's
    work is every stage/job whose id lies above the maximum seen at the
    span's start. Stages are cached by id once final."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)
        self._q = sc._gateway.new_array(sc._jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.stages: dict[int, dict] = {}

    def drain(self) -> None:
        # stage-completed events reach the store through the async
        # listener bus; wait so a span's own stages are final
        self._jsc.listenerBus().waitUntilEmpty()

    def max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1

    def max_stage(self) -> int:
        self.refresh()
        return max(self.stages) if self.stages else -1

    def refresh(self) -> None:
        """Pull stages not yet cached. ``stageList`` is ordered newest
        first, so reading stops at the first cached id."""
        store = self._jsc.statusStore()
        empty = self._jvm.java.util.ArrayList()
        lst = store.stageList(empty, False, False, self._no_q, empty)
        top = max(self.stages) if self.stages else -1
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid <= top:
                break
            status = s.status().toString()
            rec = {
                "status": status,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "skew": 1.0,
            }
            if status == "COMPLETE" and rec["tasks"] >= 2:
                dist = store.taskSummary(sid, s.attemptId(), self._q)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    rec["skew"] = mx / med if med > 0 else 1.0
            self.stages[sid] = rec

    def totals(self, stage_lo: int, stage_hi: int, job_lo: int, job_hi: int) -> dict:
        """Sums over executed stages with ``stage_lo < id <= stage_hi``."""
        ran = [r for sid, r in self.stages.items()
               if stage_lo < sid <= stage_hi and r["status"] == "COMPLETE"]
        run_s = sum(r["run_s"] for r in ran)
        return {
            "spark_jobs": max(job_hi - job_lo, 0),
            "spark_stages": len(ran),
            "spark_tasks": sum(r["tasks"] for r in ran),
            "task_run_s": run_s,
            "exec_cpu_s": sum(r["cpu_s"] for r in ran),
            "shuffle_read_mb": sum(r["shuffle_read"] for r in ran) / 2**20,
            "shuffle_write_mb": sum(r["shuffle_write"] for r in ran) / 2**20,
            "spill_mb": sum(r["spill"] for r in ran) / 2**20,
            # run-time-weighted mean of each stage's max/median task time
            "task_skew": (sum(r["skew"] * r["run_s"] for r in ran) / run_s
                          if run_s > 0 else 1.0),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def now() -> float:
    return time.perf_counter()
