"""Tracing from outside the program.

Spans are recorded around calls into the program's public functions
(installed by ``wrap`` and ``replace``), each span tags the Spark jobs
it starts with ``SparkContext.addJobTag``, and the Spark event log
written during the run is parsed afterwards and attributed to spans by
those tags. Spans live in memory until the run ends.

Nothing in this module edits library code: ``wrap`` swaps a module
attribute for a timing wrapper and ``Tracer.restore`` puts it back.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

MB = float(1 << 20)
# reading /proc costs CPU the measured job would otherwise get: sample
# twice a second and rescan the process tree every 2 s
RSS_INTERVAL_S = 0.5
RSS_TREE_EVERY = 4


# ------------------------------ spans ---------------------------------

class Tracer:
    """In-memory span recorder. ``spark`` may be None (no job tags)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "tag": f"pb-span-{sid}",
            "start": time.time(),
            "end": None,
            "result": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.addJobTag(rec["tag"])
        try:
            yield rec
        finally:
            if sc is not None:
                sc.removeJobTag(rec["tag"])
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a wrapper that runs the original
        inside ``span(name)`` and keeps a dict result on the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if isinstance(out, dict):
                    rec["result"] = _jsonable(out)
                return out

        self.replace(module, attr, wrapper)

    def replace(self, module, attr: str, new) -> None:
        """Set ``module.attr`` to ``new`` until ``restore``."""
        self._restore.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def restore(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def find(self, name: str, within: dict | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if self.is_within(s, within)]
        return out

    def find_prefix(self, prefix: str, within: dict) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix) and self.is_within(s, within)]

    def is_within(self, span: dict, ancestor: dict) -> bool:
        p = span
        while p is not None:
            if p["id"] == ancestor["id"]:
                return True
            p = self.spans[p["parent"]] if p["parent"] is not None else None
        return False


def _jsonable(obj):
    try:
        json.dumps(obj)
        return obj
    except TypeError:
        return repr(obj)


# ---------------------------- event log -------------------------------

def event_log_files(log_dir: str) -> list[str]:
    """Parts of the single application's event log under ``log_dir``,
    in part order. Spark 4.1 writes a rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` parts."""
    (app,) = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))

    def part_no(p):
        return int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))

    return sorted(glob.glob(os.path.join(app, "events_*")), key=part_no)


def read_events(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        self.accum: dict[int, float] = {}
        for e in events:
            self._add(e)

    def _add(self, e: dict) -> None:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tags = props.get("spark.job.tags") or ""
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "stage_ids": list(e.get("Stage IDs", [])),
                "tags": {t for t in tags.split(",") if t},
                "sql_id": int(eid) if eid not in (None, "") else None,
            }
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["n_tasks"] = info.get("Number of Tasks", 0)
            st["submit"] = (info.get("Submission Time") or 0) / 1000.0
            st["complete"] = (info.get("Completion Time") or 0) / 1000.0
            st["scopes"] = sorted({
                json.loads(r["Scope"])["name"] for r in info.get("RDD Info", []) if r.get("Scope")
            })
            st["rdds"] = sorted({r.get("Name", "") for r in info.get("RDD Info", [])})
            st["completed"] = True
        elif ev == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            ok = (e.get("Task End Reason") or {}).get("Reason") == "Success"
            st["tasks"].append({
                "dur": ((info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)) / 1000.0,
                "run": m.get("Executor Run Time", 0) / 1000.0,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "sw": sw.get("Shuffle Bytes Written", 0),
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "ok": ok,
            })
            for a in info.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + float(upd)
        elif ev == _SQL + "SparkListenerSQLExecutionStart":
            self.sql[e["executionId"]] = {
                "id": e["executionId"],
                "start": e.get("time", 0) / 1000.0,
                "end": None,
                "plan": e.get("sparkPlanInfo") or {},
            }
        elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            s = self.sql.get(e["executionId"])
            if s is not None:
                s["plan"] = e.get("sparkPlanInfo") or s["plan"]
        elif ev == _SQL + "SparkListenerSQLExecutionEnd":
            s = self.sql.get(e["executionId"])
            if s is not None:
                s["end"] = e.get("time", 0) / 1000.0
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, v in e.get("accumUpdates", []):
                self.accum[aid] = self.accum.get(aid, 0) + float(v)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {"id": sid, "tasks": [], "completed": False,
                                            "n_tasks": 0, "submit": 0.0, "complete": 0.0,
                                            "scopes": [], "rdds": []})

    # --------------------------- attribution ---------------------------

    def jobs_for(self, span: dict) -> list[dict]:
        return [j for j in self.jobs.values() if span["tag"] in j["tags"]]

    def stages_for(self, span: dict) -> list[dict]:
        ids = sorted({s for j in self.jobs_for(span) for s in j["stage_ids"]})
        return [self.stages[i] for i in ids if i in self.stages and self.stages[i]["completed"]]

    def sql_for(self, span: dict) -> list[dict]:
        """SQL executions of a span: those any of its jobs belong to,
        plus job-less executions that started inside the span."""
        ids = {j["sql_id"] for j in self.jobs_for(span) if j["sql_id"] is not None}
        with_jobs = {j["sql_id"] for j in self.jobs.values() if j["sql_id"] is not None}
        for s in self.sql.values():
            if s["id"] not in with_jobs and span["start"] <= s["start"] <= span["end"]:
                ids.add(s["id"])
        return [self.sql[i] for i in sorted(ids) if i in self.sql]

    def metric(self, node: dict, name: str) -> float | None:
        for m in node.get("metrics", []):
            if m.get("name") == name:
                return self.accum.get(m["accumulatorId"], 0.0)
        return None


def plan_nodes(plan: dict):
    """Depth-first walk of a sparkPlanInfo tree."""
    stack = [plan]
    while stack:
        n = stack.pop()
        if not n:
            continue
        yield n
        stack.extend(reversed(n.get("children", [])))


def spark_metrics(log: EventLog, span: dict, slots: int) -> dict:
    """The per-span Spark layer: counts, executor time, shuffle, spill,
    and the straggler wait ``slot_idle_ratio``."""
    jobs = log.jobs_for(span)
    stages = log.stages_for(span)
    tasks = [t for s in stages for t in s["tasks"]]
    run = sum(t["run"] for t in tasks)
    wall_slots = sum(max(0.0, s["complete"] - s["submit"]) * slots for s in stages)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": run,
        "executor_cpu_s": sum(t["cpu"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_write_mb": sum(t["sw"] for t in tasks) / MB,
        "shuffle_read_mb": sum(t["sr"] for t in tasks) / MB,
        "spill_mb": sum(t["spill"] for t in tasks) / MB,
        "slot_idle_ratio": (1.0 - run / wall_slots) if wall_slots > 0 else 0.0,
        "task_failures": sum(1 for t in tasks if not t["ok"]),
    }


def single_task_stage_s(log: EventLog, span: dict) -> float:
    return sum(t["run"] for s in log.stages_for(span) if s["n_tasks"] == 1 for t in s["tasks"])


def scan_stages(log: EventLog, span: dict) -> list[dict]:
    """Stages of ``span`` that read files (a FileScanRDD in their lineage)."""
    return [s for s in log.stages_for(span) if "FileScanRDD" in s["rdds"]]


def grouped_map_stages(log: EventLog, span: dict) -> list[dict]:
    """Stages that run a grouped-map UDF; stages that only read its
    persisted output (an InMemoryTableScan) are left out."""
    return [
        s for s in log.stages_for(span)
        if any(sc.startswith("FlatMapGroupsIn") for sc in s["scopes"])
        and "InMemoryTableScan" not in s["scopes"]
    ]


def stage_wall(stages: list[dict]) -> float:
    return sum(s["complete"] - s["submit"] for s in stages)


def write_nodes(log: EventLog, span: dict) -> list[tuple[dict, dict]]:
    """(execution, node) for every stage-output write of a span; the
    lineage-log appends (under ``_lineage``) are left out."""
    out = []
    for ex in log.sql_for(span):
        for n in plan_nodes(ex["plan"]):
            if ("InsertIntoHadoopFsRelationCommand" in n.get("nodeName", "")
                    and "/_lineage" not in n.get("simpleString", "")):
                out.append((ex, n))
    return out


def rows_written(log: EventLog, span: dict) -> float:
    return sum(log.metric(n, "number of output rows") or 0.0 for _, n in write_nodes(log, span))


def write_seconds(log: EventLog, span: dict) -> float:
    """Wall time of the span's file-write executions (the write runs
    the stage's whole upstream)."""
    return sum((ex["end"] or ex["start"]) - ex["start"] for ex, _ in write_nodes(log, span))


def _first_rows(log: EventLog, node: dict) -> float | None:
    for n in plan_nodes(node):
        v = log.metric(n, "number of output rows")
        if v is not None:
            return v
    return None


def anti_join_rows(log: EventLog, span: dict) -> tuple[float, float]:
    """(rows entering, rows leaving) the lineage left-anti joins under
    the span's writes: rows computed upstream vs rows kept."""
    rows_in = rows_out = 0.0
    for _, w in write_nodes(log, span):
        for n in plan_nodes(w):
            if "Join" in n.get("nodeName", "") and "LeftAnti" in n.get("simpleString", ""):
                kids = n.get("children", [])
                left = _first_rows(log, kids[0]) if kids else None
                rows_in += left or 0.0
                rows_out += log.metric(n, "number of output rows") or 0.0
    return rows_in, rows_out


def join_rows(log: EventLog, span: dict, key: str) -> float:
    """Output rows of the inner joins on ``key`` under a span."""
    total = 0.0
    for ex in log.sql_for(span):
        for n in plan_nodes(ex["plan"]):
            s = n.get("simpleString", "")
            if "Join" in n.get("nodeName", "") and "Inner" in s and key in s:
                total += log.metric(n, "number of output rows") or 0.0
    return total


def node_rows(log: EventLog, span: dict, node_name: str) -> float:
    total = 0.0
    for ex in log.sql_for(span):
        for n in plan_nodes(ex["plan"]):
            if n.get("nodeName", "") == node_name:
                total += log.metric(n, "number of output rows") or 0.0
    return total


def task_quantiles(stages: list[dict]) -> tuple[int, float, float]:
    durs = sorted(t["dur"] for s in stages for t in s["tasks"])
    if not durs:
        return 0, 0.0, 0.0
    return len(durs), statistics.median(durs), durs[-1]


# --------------------------- UDF profiles -----------------------------

def udf_python_seconds(spark) -> dict[str, float]:
    """Python time per profiled UDF, keyed ``<module>.<function>`` of
    the library function with the largest cumulative time in that
    UDF's profile (the profiler keeps file basenames only)."""
    import fujishadergpu_spark

    results = spark._profiler_collector._perf_profile_results
    pkg_dir = os.path.dirname(fujishadergpu_spark.__file__)
    modules = {
        f: f[:-3] for _, _, files in os.walk(pkg_dir) for f in files if f.endswith(".py")
    }
    out: dict[str, float] = {}
    for _, stats in results.items():
        best = None
        for (path, _line, fn), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            mod = modules.get(os.path.basename(path))
            if mod is not None and mod != "__init__" and (best is None or ct > best[0]):
                best = (ct, f"{mod}.{fn}")
        name = best[1] if best else "other"
        out[name] = out.get(name, 0.0) + stats.total_tt
    return out


# ------------------------------ memory --------------------------------

class RssSampler:
    """Peak memory of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc. Each process counts its
    Pss, the resident set with shared pages split among the processes
    sharing them, so the forked Python workers' common pages count
    once; RSS is the fallback where Pss is unavailable."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self):
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % RSS_TREE_EVERY == 0:
                pids = descendants(os.getpid())
            n += 1
            self.peak_kb = max(self.peak_kb, sum(resident_kb(p) for p in pids))
            self._stop.wait(RSS_INTERVAL_S)


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                data = f.read().decode("ascii", "replace")
            out[int(d)] = int(data.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(path: str, key: str) -> int | None:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def resident_kb(pid: int) -> int:
    pss = _status_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
    if pss is not None:
        return pss
    return _status_kb(f"/proc/{pid}/status", "VmRSS:") or 0
