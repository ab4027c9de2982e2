"""Traced-run instrumentation, all of it outside ``insights_spark/``.

Two sources feed the per-layer numbers:

* ``Spans``: the benchmark's own timers around its calls into each
  layer's public functions. ``wrap_layers`` patches
  ``LineageLog.record``, the ``CheckpointStore`` methods and the parquet
  writer for the duration of a traced run, and every span sets its own
  Spark job description (``<op>|<phase>|<layer>``) so the event log can
  say which layer fired which job.
* ``EventLog``: Spark's event log of the same run, parsed after the
  session stops, for jobs, stages, tasks, task metrics and the Python
  runner's SQL metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

MB = 1024.0 * 1024.0
# the Python runner's time metrics are Spark "timing" metrics, in ms
PY_TIME_UNIT = 1000.0
# job-description phases of the timed passes (warm-up and check are apart)
TIMED = ("build", "exec", "run")

# Python runner SQL metrics (PythonSQLMetrics), by their display names
PY_METRICS = {
    "time to run Python workers": "udf",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "recv",
}

# layers whose own writes belong to them, not to the sinks layer
OWNING_LAYERS = ("lineage", "checkpoint")


class Spans:
    """In-memory span recorder: (op, phase, layer, start, end, parent)."""

    def __init__(self, sc):
        self.sc = sc
        self.rows: list[dict] = []
        self.stack: list[dict] = []
        self.op = ""
        self.phase = ""

    def layer(self) -> str:
        return self.stack[-1]["layer"] if self.stack else ""

    @contextlib.contextmanager
    def span(self, layer: str, op: str | None = None, phase: str | None = None):
        if op is not None:
            self.op, self.phase = op, phase or ""
        row = {"op": self.op, "phase": self.phase, "layer": layer,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "id": len(self.rows)}
        self.rows.append(row)
        self.stack.append(row)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description",
                                 f"{self.op}|{self.phase}|{layer}")
        row["start"] = time.time()
        try:
            yield row
        finally:
            row["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)

    def total(self, layer: str) -> float:
        """Wall seconds of the outermost spans of ``layer`` in timed passes."""
        ids = {r["id"]: r for r in self.rows}
        out = 0.0
        for r in self.rows:
            if r["layer"] != layer or r["phase"] not in TIMED:
                continue
            p = r["parent"]
            nested = False
            while p is not None:
                if ids[p]["layer"] == layer:
                    nested = True
                    break
                p = ids[p]["parent"]
            if not nested:
                out += r["end"] - r["start"]
        return out


@contextlib.contextmanager
def wrap_layers(spans: Spans):
    """Time the warehouse layers' public calls for the length of the block."""
    from pyspark.sql.readwriter import DataFrameWriter

    from insights_spark.runtime import checkpoint, lineage

    patched = []

    def patch(owner, name, layer, passthrough=()):
        orig = getattr(owner, name)

        def wrapper(*a, **kw):
            if spans.layer() in (layer, *passthrough):
                return orig(*a, **kw)
            with spans.span(layer):
                return orig(*a, **kw)

        setattr(owner, name, wrapper)
        patched.append((owner, name, orig))

    patch(lineage.LineageLog, "record", "lineage")
    for name in ("last_sequence", "read_all", "commit"):
        patch(checkpoint.CheckpointStore, name, "checkpoint")
    patch(DataFrameWriter, "parquet", "sinks", passthrough=OWNING_LAYERS)
    try:
        yield
    finally:
        for owner, name, orig in reversed(patched):
            setattr(owner, name, orig)


class EventLog:
    """The parts of one Spark event log the layer report needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.sql: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
        return cls(files[0])

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "desc": props.get("spark.job.description") or "",
                "sql": props.get("spark.sql.execution.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[ev["executionId"]] = {"start": ev["time"] / 1000.0}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.sql:
                self.sql[ev["executionId"]]["end"] = ev["time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            py = defaultdict(float)
            for acc in info.get("Accumulables") or []:
                key = PY_METRICS.get(acc.get("Name"))
                if key and acc.get("Update") is not None:
                    py[key] += float(acc["Update"])
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            deser_ms = m.get("Executor Deserialize Time", 0)
            end_ms = info["Finish Time"]
            if info.get("Getting Result Time"):
                end_ms = info["Getting Result Time"]
            # Spark's scheduler delay: task duration not spent deserializing,
            # running or serializing the result on the executor
            sched_ms = (end_ms - info["Launch Time"] - run_ms - deser_ms
                        - m.get("Result Serialization Time", 0))
            self.tasks.append({
                "stage": ev["Stage ID"],
                "sched_s": max(0, sched_ms) / 1000.0,
                "run_s": run_ms / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "py": dict(py),
            })

    def job_layer(self, jid: int) -> tuple[str, str, str]:
        parts = (self.jobs[jid]["desc"].split("|") + ["", "", ""])[:3]
        return parts[0], parts[1], parts[2]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_report(spans: Spans, log: EventLog, passes: int, pass_walls: list[float],
                 session_s: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics (per timed pass) and per-op rows of a traced run.

    Only jobs whose description names a timed phase (``build``, ``exec`` or
    ``run``) count: the warm-up and the output check are labelled apart.
    """
    jobs = {j: v for j, v in log.jobs.items()
            if log.job_layer(j)[1] in TIMED and v["end"] is not None}
    op_of = {j: log.job_layer(j)[0] for j in jobs}
    phase_of = {j: log.job_layer(j)[1] for j in jobs}
    layer_of = {j: log.job_layer(j)[2] for j in jobs}
    stage_ids = {s for s, j in log.stage_job.items() if j in jobs}
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]

    def tsum(key, jobs_in=None):
        return sum(t[key] for t in tasks
                   if jobs_in is None or log.stage_job[t["stage"]] in jobs_in)

    def pysum(key):
        return sum(t["py"].get(key, 0.0) for t in tasks)

    def engine_s(job_ids) -> float:
        """Wall time covered by these jobs and the SQL executions they ran in."""
        iv = [(jobs[j]["start"], jobs[j]["end"]) for j in job_ids]
        for sid in {jobs[j]["sql"] for j in job_ids if jobs[j]["sql"] is not None}:
            ex = log.sql.get(int(sid))
            if ex and "end" in ex:
                iv.append((ex["start"], ex["end"]))
        return _union(iv)

    # planning: SQL execution start → its first job
    first_job: dict[int, float] = {}
    for v in jobs.values():
        if v["sql"] is not None:
            sid = int(v["sql"])
            first_job[sid] = min(first_job.get(sid, v["start"]), v["start"])
    plan_s = sum(max(0.0, t - log.sql[s]["start"]) for s, t in first_job.items() if s in log.sql)

    timed_rows = [r for r in spans.rows if r["phase"] in TIMED]
    ops = []
    for op in dict.fromkeys(r["op"] for r in timed_rows):
        top = [r for r in timed_rows if r["op"] == op and r["parent"] is None]
        build = sum(r["end"] - r["start"] for r in top if r["phase"] == "build")
        run = sum(r["end"] - r["start"] for r in top if r["phase"] != "build")
        exec_jobs = [j for j in jobs if op_of[j] == op and phase_of[j] != "build"]
        build_jobs = [j for j in jobs if op_of[j] == op and phase_of[j] == "build"]
        exec_s = engine_s(exec_jobs)
        wall = build + run
        ops.append({
            "op": op, "wall_s": wall / passes, "build_s": build / passes,
            "exec_s": exec_s / passes, "build_jobs": len(build_jobs) / passes,
            "exec_jobs": len(exec_jobs) / passes,
            # share of the op's wall the builder call plus the event log's
            # engine time cover; below 0.9 a layer is missing from the split
            "accounted": (build + exec_s) / wall if wall else 0.0,
        })

    build_s = sum(o["build_s"] for o in ops)
    wall_s = sum(o["wall_s"] for o in ops)
    n_jobs = len(jobs)
    sink_jobs = {j for j in jobs if layer_of[j] == "sinks"}
    lin_jobs = {j for j in jobs if layer_of[j] == "lineage"}
    in_bytes = tsum("in_bytes")
    sink_bytes = tsum("out_bytes", sink_jobs)
    p = float(passes)
    metrics = {
        "session.start_s": session_s,
        "entry.build_s": build_s,
        "entry.build_jobs": sum(o["build_jobs"] for o in ops),
        "entry.build_share": build_s / wall_s if wall_s else 0.0,
        "engine.exec_s": sum(o["exec_s"] for o in ops),
        "engine.plan_s": plan_s / p,
        "engine.jobs": n_jobs / p,
        "engine.stages": len({t["stage"] for t in tasks}) / p,
        "engine.tasks": len(tasks) / p,
        "engine.sched_delay_s": tsum("sched_s") / p,
        "engine.task_run_s": tsum("run_s") / p,
        "engine.task_cpu_s": tsum("cpu_s") / p,
        "engine.gc_s": tsum("gc_s") / p,
        "engine.shuffle_read_mb": tsum("shuffle_read") / MB / p,
        "engine.shuffle_write_mb": tsum("shuffle_write") / MB / p,
        "engine.spill_mb": tsum("spill") / MB / p,
        "python.udf_s": pysum("udf") / PY_TIME_UNIT / p,
        "python.boot_s": (pysum("boot") + pysum("init")) / PY_TIME_UNIT / p,
        "python.sent_mb": pysum("sent") / MB / p,
        "python.recv_mb": pysum("recv") / MB / p,
        "sinks.write_s": spans.total("sinks") / p,
        "sinks.jobs": len(sink_jobs) / p,
        "sinks.bytes_written_mb": sink_bytes / MB / p,
        "sinks.write_amp": sink_bytes / in_bytes if in_bytes else 0.0,
        "lineage.record_s": spans.total("lineage") / p,
        "lineage.jobs": len(lin_jobs) / p,
        "lineage.job_share": len(lin_jobs) / n_jobs if n_jobs else 0.0,
        "checkpoint.s": spans.total("checkpoint") / p,
        "trace.pass_s": statistics.median(pass_walls),
    }
    return metrics, ops


def group_shares(ops: list[dict], groups: dict[str, list[str]]) -> dict[str, dict]:
    """Build share and wall per op group (e.g. iterative vs analytics)."""
    out = {}
    for name, members in groups.items():
        rows = [o for o in ops if o["op"] in members]
        wall = sum(o["wall_s"] for o in rows)
        build = sum(o["build_s"] for o in rows)
        out[name] = {"wall_s": wall, "build_s": build,
                     "build_share": build / wall if wall else 0.0,
                     "build_jobs": sum(o["build_jobs"] for o in rows)}
    return out
