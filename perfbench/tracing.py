"""Spans around the engine's public calls, recorded from the benchmark's
side. ``Tracer.install`` wraps the listed methods in place and
``Tracer.uninstall`` puts the originals back; the engine's files are not
touched. Each span carries wall time, CPU of the driver / JVM / Python
workers from /proc, and Spark job, stage and task counts from the status
store, diffed by id."""

from __future__ import annotations

import functools
import json
import os
import statistics

from probes import StatusStore, cpu_delta, now, tree_sample

# (module path, class, method, span name); catalog and filter-state spans
# also record which table they touched
WRAPPED = [
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "init_from_seeds", "crawl.frontier.init_from_seeds"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "run_round", "crawl.frontier.run_round"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "recrawl", "crawl.frontier.recrawl"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "forget", "crawl.frontier.forget"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "commit_external", "sources.catalog.commit_external"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "append_with_deletes", "sources.catalog.append_with_deletes"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "append_counted", "sources.catalog.append_counted"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "compact", "sources.catalog.compact"),
    ("etlpy_spark.crawl.filterstate", "FilterState", "finish", "crawl.filterstate.finish"),
    ("etlpy_spark.crawl.filterstate", "FilterState", "rebuild_from", "crawl.filterstate.rebuild_from"),
]


def _table_of(obj) -> str:
    path = getattr(obj, "path", None) or getattr(getattr(obj, "table", None), "path", "")
    return os.path.basename(path.rstrip("/"))


class Tracer:
    def __init__(self, sc, workload: str, run_id: str, ncores: int):
        self.store = StatusStore(sc)
        self.workload = workload
        self.run_id = run_id
        self.ncores = ncores
        self.spans: list[dict] = []
        self.phase = "setup"
        self.overhead: dict[str, float] = {"timed": 0.0}
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    # -- span recording

    def _mark(self) -> dict:
        self.store.drain()
        return {"stage": self.store.max_stage(), "job": self.store.max_job(),
                "proc": tree_sample()}

    def span(self, name: str, fn, args, kwargs, table: str = ""):
        t0 = now()
        a = self._mark()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "run_id": self.run_id,
               "phase": self.phase, "table": table}
        self.spans.append(rec)
        self._stack.append(sid)
        start = now()
        self.overhead[self.phase] = self.overhead.get(self.phase, 0.0) + start - t0
        try:
            result = fn(*args, **kwargs)
        finally:
            end = now()
            self._stack.pop()
            b = self._mark()
            rec.update(start=start, end=end, wall_s=end - start)
            rec.update(self.store.totals(a["stage"], b["stage"], a["job"], b["job"]))
            cpu = cpu_delta(a["proc"], b["proc"])
            rec.update(jvm_cpu_s=cpu["jvm"], python_cpu_s=cpu["python"],
                       driver_cpu_s=cpu["driver"])
            self.overhead[self.phase] = self.overhead.get(self.phase, 0.0) + now() - end
        return result

    def install(self) -> None:
        import importlib

        for mod, cls_name, meth, span_name in WRAPPED:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[meth]
            self._saved.append((cls, meth, orig))

            def wrapper(*args, _orig=orig, _name=span_name, **kwargs):
                table = _table_of(args[0]) if _name.startswith(("sources.", "crawl.filterstate")) else ""
                return self.span(_name, _orig, args, kwargs, table)

            setattr(cls, meth, functools.wraps(orig)(wrapper))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- per-layer rollups over the timed phase

    def timed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "timed" and s["name"] == name]

    def self_wall(self, span: dict) -> float:
        kids = [s["wall_s"] for s in self.spans if s["parent"] == span["id"]]
        return span["wall_s"] - sum(kids)

    def layer_metrics(self) -> dict:
        m: dict[str, tuple] = {}
        med = statistics.median
        (r,) = self.timed("crawl.frontier.run_round")
        p = "crawl.frontier.run_round."
        for k in ("spark_jobs", "spark_stages", "spark_tasks"):
            m[p + k] = (r[k], "count")
        for k in ("jvm_cpu_s", "python_cpu_s", "driver_cpu_s", "task_run_s", "wall_s"):
            m[p + k] = (r[k], "s")
        m[p + "self_s"] = (self.self_wall(r), "s")
        # core-seconds the round left idle: wall x cores minus the CPU the
        # driver, the JVM and the Python workers used, so the four parts
        # add up to the round's wall x cores
        busy = r["jvm_cpu_s"] + r["python_cpu_s"] + r["driver_cpu_s"]
        m[p + "idle_core_s"] = (r["wall_s"] * self.ncores - busy, "s")
        m[p + "core_util"] = (busy / (r["wall_s"] * self.ncores), "ratio")
        for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            m[p + k] = (r[k], "MB")
        m[p + "task_skew"] = (r["task_skew"], "ratio")
        for op in ("recrawl", "forget"):
            spans = self.timed(f"crawl.frontier.{op}")
            m[f"crawl.frontier.{op}.wall_s"] = (med(s["wall_s"] for s in spans), "s")
            m[f"crawl.frontier.{op}.spark_jobs"] = (med(s["spark_jobs"] for s in spans), "count")
        for op in ("commit_external", "append_with_deletes", "append_counted", "compact"):
            spans = self.timed(f"sources.catalog.{op}")
            m[f"sources.catalog.{op}.wall_s"] = (sum(s["wall_s"] for s in spans), "s")
            m[f"sources.catalog.{op}.calls"] = (len(spans), "count")
        m["crawl.filterstate.finish.wall_s"] = (
            sum(s["wall_s"] for s in self.timed("crawl.filterstate.finish")), "s")
        rebuilt = [s for s in self.spans if s["name"] == "crawl.filterstate.rebuild_from"
                   and s["phase"] == "probe"]
        m["crawl.filterstate.rebuild_from.wall_s"] = (
            med(s["wall_s"] for s in rebuilt), "s")
        return m
