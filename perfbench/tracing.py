"""Traced-run plumbing: benchmark spans, the wrappers that open them around
the engine's driver-side calls, Spark's event log, and the attribution of
the traced extraction's wall to layers.

Nothing inside ``pdf_extractor_spark`` is instrumented. A span is opened
around each call the benchmark makes into a layer, and every Spark job a
span issues carries the span's id as its job group, so the event log
(parsed after the session ends) maps stages back to spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = ("scan", "exchange", "arrow", "kernel", "commit", "jvm")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    once, at the end, by ``dump``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def lineage_spans(self):
        """Open spans around the driver-side calls ``run_extraction`` makes:
        ``resume_filter``/``committed_part_ids`` (scan.resume), the lazy
        ``extract_documents`` plan build (arrow.plan), each chunk's
        ``_write_chunk`` (commit.chunk), the chunk's data write inside it
        (commit.write) and ``CommitLog.commit_chunk`` (commit.marker)."""
        from pyspark.sql.readwriter import DataFrameWriter

        import pdf_extractor_spark.spark.lineage as L

        def in_span(name, fn, attrs=None):
            @functools.wraps(fn)
            def call(*a, **k):
                cur = self.current()
                if cur is not None and cur["name"] == name:
                    return fn(*a, **k)
                with self.span(name, **(attrs(*a, **k) if attrs else {})):
                    return fn(*a, **k)

            return call

        def chunk_attrs(spark, log, extracted, chunk_id, chunk_parts, *a, **k):
            return {"chunk_id": chunk_id, "parts": list(chunk_parts or ()), "data_dir": log.data_dir}

        write_parquet = DataFrameWriter.parquet

        @functools.wraps(write_parquet)
        def parquet(writer, path, *a, **k):
            cur = self.current()
            if cur is not None and cur["name"] == "commit.chunk" and path.startswith(cur["data_dir"]):
                with self.span("commit.write"):
                    return write_parquet(writer, path, *a, **k)
            return write_parquet(writer, path, *a, **k)

        patches = [
            (L, "resume_filter", in_span("scan.resume", L.resume_filter)),
            (L, "extract_documents", in_span("arrow.plan", L.extract_documents)),
            (L.CommitLog, "committed_part_ids", in_span("scan.resume", L.CommitLog.committed_part_ids)),
            (L, "_write_chunk", in_span("commit.chunk", L._write_chunk, chunk_attrs)),
            (L.CommitLog, "commit_chunk", in_span("commit.marker", L.CommitLog.commit_chunk)),
            (DataFrameWriter, "parquet", parquet),
        ]
        saved = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
        for owner, name, fn in patches:
            setattr(owner, name, fn)
        try:
            yield
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --------------------------------------------------------------- event log


@dataclass
class Stage:
    wall_ms: float = 0.0
    completed: bool = False
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_ms: float = 0.0
    fetch_wait_ms: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    # SQL metrics by name, summed over tasks: seconds for timings, else raw
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    group: str | None
    execution: int | None
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # driver-side SQL metrics by execution id, by name
    driver: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> EventLog:
    """One pass over an uncompressed event log. TaskEnd metrics accumulate
    onto their stage; StageCompleted then stamps the stage's wall."""
    log = EventLog()
    accums: dict[int, tuple[str, str]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = Job(
                    props.get("spark.jobGroup.id"),
                    int(exec_id) if exec_id is not None else None,
                    e["Stage IDs"],
                )
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], Stage())
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st.tasks += 1
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics", {})
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_write_ms += sw.get("Shuffle Write Time", 0) / 1e6
                st.fetch_wait_ms += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                for a in info.get("Accumulables", ()):
                    name, mtype = accums.get(a["ID"], (a.get("Name"), None))
                    if name and not name.startswith("internal.") and "Update" in a:
                        st.sql[name] += float(a["Update"]) * _SCALE.get(mtype, 1.0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage())
                if "Completion Time" in info and "Submission Time" in info:
                    st.wall_ms = info["Completion Time"] - info["Submission Time"]
                    st.completed = "Failure Reason" not in info
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(e["sparkPlanInfo"], accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    name, mtype = accums.get(acc_id, (None, None))
                    if name:
                        log.driver[e["executionId"]][name] += float(value) * _SCALE.get(mtype, 1.0)
    return log


# ------------------------------------------------------------- attribution


def _under(spans: list[dict], root_id: str) -> set[str]:
    """Ids of ``root_id`` and every span below it."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


def _stages_of(ev: EventLog, groups: set[str]) -> list[Stage]:
    ids = {sid for j in ev.jobs.values() if j.group in groups for sid in j.stages}
    return [ev.stages[i] for i in sorted(ids) if i in ev.stages and ev.stages[i].completed]


def _is_python(st: Stage) -> bool:
    return "time to run Python workers" in st.sql


def _split_stage(st: Stage, kernel_ms: float) -> dict[str, float]:
    """A stage's wall (s) by layer, in proportion to its tasks' core time."""
    if _is_python(st):
        py_run = st.sql["time to run Python workers"] * 1e3
        kernel = min(kernel_ms, py_run)
        core = {
            "kernel": kernel,
            "arrow": py_run - kernel
            + 1e3 * (st.sql.get("time to start Python workers", 0) + st.sql.get("time to initialize Python workers", 0)),
            "exchange": st.fetch_wait_ms,
            "commit": 1e3 * (st.sql.get("sort time", 0) + st.sql.get("task commit time", 0)),
            "jvm": st.gc_ms,
        }
        # the rest of the task thread's time is the JVM side of the write
        core["commit"] += max(0.0, st.run_ms - sum(core.values()))
    elif st.shuffle_write_bytes > 0:
        core = {
            "exchange": st.shuffle_write_ms,
            "jvm": st.gc_ms,
            "scan": max(0.0, st.run_ms - st.shuffle_write_ms - st.gc_ms),
        }
    else:
        core = {"scan" if st.input_bytes else "commit": max(0.0, st.run_ms - st.gc_ms), "jvm": st.gc_ms}
    total = sum(core.values())
    if total <= 0:
        return {"commit": st.wall_ms / 1e3}
    return {k: st.wall_ms / 1e3 * v / total for k, v in core.items()}


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


def attribute_extraction(
    spans: list[dict], ev: EventLog, root: dict, kernel_ms_by_part: dict[int, int]
) -> dict[str, float]:
    """Split the wall of ``root`` (the traced ``run_extraction`` calls) into
    layer seconds; what no span covers is ``unattributed_s``."""
    inside = _under(spans, root["id"])
    mine = [s for s in spans if s["id"] in inside and s["id"] != root["id"]]
    by_id = {s["id"]: s for s in mine}
    layer = defaultdict(float)
    out = defaultdict(float)
    python_stages: list[Stage] = []
    for s in mine:
        w = _wall(s)
        if s["name"] == "scan.resume":
            if by_id.get(s["parent"], {}).get("name") != "scan.resume":
                layer["scan"] += w
                out["scan.resume_s"] += w
        elif s["name"] == "arrow.plan":
            layer["arrow"] += w
            out["arrow.plan_s"] += w
        elif s["name"] == "commit.marker":
            layer["commit"] += w
            out["commit.marker_s"] += w
        elif s["name"] == "commit.chunk":
            children = sum(_wall(c) for c in mine if c["parent"] == s["id"])
            layer["commit"] += w - children
            out["commit.lineage_s"] += w - children
            out["commit.chunks"] += 1
        elif s["name"] == "commit.write":
            parts = by_id[s["parent"]]["parts"]
            kernel_ms = sum(kernel_ms_by_part.get(p, 0) for p in parts)
            stages = _stages_of(ev, {s["id"]})
            covered = 0.0
            for st in stages:
                for k, v in _split_stage(st, kernel_ms).items():
                    layer[k] += v
                covered += st.wall_ms / 1e3
                if _is_python(st):
                    python_stages.append(st)
                elif st.shuffle_write_bytes > 0:
                    out["scan.tasks"] += st.tasks
                out["exchange.shuffle_write_bytes"] += st.shuffle_write_bytes
                out["commit.sort_s"] += st.sql.get("sort time", 0)
            # driver side of the write: planning, job submission, job commit
            layer["commit"] += max(0.0, w - covered)
            out["commit.write_s"] += w
    for st in _stages_of(ev, inside):
        out["scan.input_bytes"] += st.input_bytes
        out["exchange.fetch_wait_s"] += st.fetch_wait_ms / 1e3
        out["jvm.gc_s"] += st.gc_ms / 1e3
    for st in python_stages:
        out["arrow.bytes_to_python"] += st.sql.get("data sent to Python workers", 0)
        out["arrow.bytes_from_python"] += st.sql.get("data returned from Python workers", 0)
        out["arrow.worker_start_s"] += st.sql.get("time to start Python workers", 0)
        out["arrow.worker_init_s"] += st.sql.get("time to initialize Python workers", 0)
        out["arrow.worker_run_s"] += st.sql.get("time to run Python workers", 0)
    task_ms = [t for st in python_stages for t in st.task_ms]
    out["exchange.task_s_max_over_median"] = (
        max(task_ms) / statistics.median(task_ms) if task_ms and statistics.median(task_ms) > 0 else 0.0
    )
    for k in LAYERS:
        out[f"{k}.s"] = layer[k]
    wall = _wall(root)
    out["trace.wall_s"] = wall
    out["unattributed_s"] = wall - sum(layer[k] for k in LAYERS)
    out["attributed_frac"] = 1.0 - out["unattributed_s"] / wall
    return dict(out)


def derived_stage_metrics(spans: list[dict], ev: EventLog, stage_names) -> dict[str, float]:
    out: dict[str, float] = {}
    for stage in stage_names:
        s = next(s for s in spans if s["name"] == f"derived.{stage}")
        groups = _under(spans, s["id"])
        jobs = [j for j in ev.jobs.values() if j.group in groups]
        execs = {j.execution for j in jobs if j.execution is not None}
        out[f"{stage}.s"] = _wall(s)
        out[f"{stage}.jobs"] = len(jobs)
        out[f"{stage}.shuffle_bytes"] = sum(st.shuffle_write_bytes for st in _stages_of(ev, groups))
        out[f"{stage}.input_files"] = sum(ev.driver[x].get("number of files read", 0) for x in execs)
    return out
