"""Tracing from outside the program: spans around public calls, Spark's own
event log, and an in-process kernel split.

Nothing here edits the program. Wrappers are installed on module attributes
for the duration of one traced call and removed afterwards:

* ``CheckpointTracer`` wraps the four calls ``run_extraction`` makes into its
  own module (``completed_partitions``, ``extract_corpus``, ``_write_output``,
  ``_append_checkpoint``). Each wrapper records a span and sets the Spark job
  description, so every job the call submits is charged to one layer.
* ``parse_event_log`` reads the JSON event log Spark writes when
  ``spark.eventLog.enabled`` is set and sums task metrics and SQL metrics per
  layer and per plan node.
* ``kernel_split`` runs ``extract.extract_map_in_arrow`` in this process over
  the workload's parquet files with timing wrappers around the kernel entry
  points ``extract`` calls, and reports each one's self time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Spans:
    """In-memory span store; written out once, when the run ends."""

    run_id: str
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.spans.append(Span(name, start, end, parent, self.run_id))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it that its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length([(c.start, c.end) for c in kids.get(s.name, [])
                                     if c.end > s.start and c.start < s.end],
                                    s.start, s.end)
            out[s.name] += (s.end - s.start) - covered
        return dict(out)


def union_length(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# checkpoint / pipeline spans around one run_extraction call
# --------------------------------------------------------------------------

# The phase that follows each wrapped call, until the next wrapped call
# starts: run_extraction's own actions between them (the pending-partition
# collect and count, the metrics read-back) get a span and a job description.
_AFTER = {
    "checkpoint.completed_partitions": "checkpoint.pending_scan",
    "pipeline.extract_corpus": "pipeline.plan_tail",
    "checkpoint.write_output": "checkpoint.readback",
    "checkpoint.append_checkpoint": "checkpoint.summary",
}
_WRAPPED = {
    "completed_partitions": "checkpoint.completed_partitions",
    "extract_corpus": "pipeline.extract_corpus",
    "_write_output": "checkpoint.write_output",
    "_append_checkpoint": "checkpoint.append_checkpoint",
}


class CheckpointTracer:
    """Spans and Spark job descriptions for one run_extraction call; the
    phases cover the call from start to end, one after another."""

    def __init__(self, spark, spans: Spans):
        self.sc = spark.sparkContext
        self.spans = spans
        self.phase = ("checkpoint.plan_head", 0.0)

    def _switch(self, name: str) -> None:
        prev, t0 = self.phase
        now = time.time()
        self.spans.add(prev, t0, now, "run")
        self.phase = (name, now)
        self.sc.setJobDescription(name)

    def _wrap(self, fn, name):
        def wrapper(*a, **kw):
            self._switch(name)
            try:
                return fn(*a, **kw)
            finally:
                self._switch(_AFTER[name])
        return wrapper

    @contextmanager
    def installed(self):
        from pdf_extract_sys_spark import checkpoint as ck

        saved = {attr: getattr(ck, attr) for attr in _WRAPPED}
        for attr, name in _WRAPPED.items():
            setattr(ck, attr, self._wrap(saved[attr], name))
        t0 = time.time()
        self.phase = ("checkpoint.plan_head", t0)
        self.sc.setJobDescription("checkpoint.plan_head")
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(ck, attr, fn)
            prev, ts = self.phase
            t1 = time.time()
            self.spans.add(prev, ts, t1, "run")
            self.spans.add("run", t0, t1, None)
            self.sc.setJobDescription(None)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), info.get("simpleString", ""),
                                   m["name"], m.get("metricType", ""))
    for c in info.get("children", []):
        _plan_metrics(c, out)


@dataclass
class EventLog:
    """The jobs of one layer's calls, told apart by their job description."""

    jobs: dict          # job id -> {desc, submit, end}
    stages: dict        # stage id -> {submit, end, job}
    tasks: list         # {stage, launch, finish, run_ms, cpu_ns, gc_ms, shuffle_b, accums}
    metric_nodes: dict  # accumulator id -> (node name, node string, metric, type)
    metric_values: dict  # accumulator id -> final value

    def job_intervals(self, desc: str | None = None) -> list[tuple[float, float]]:
        """(submit, end) of the finished jobs, of one layer if `desc` is given."""
        return [(v["submit"], v["end"]) for v in self.jobs.values()
                if "end" in v and desc in (None, v["desc"])]


def parse_event_log(path: Path, prefix: str | tuple[str, ...]) -> EventLog:
    """The jobs whose description starts with `prefix`, with their stages,
    tasks and SQL metrics. Jobs without a description (warm-up and untraced
    calls) are left out."""
    jobs, stages, tasks, stage_job = {}, {}, [], {}
    plans: dict = defaultdict(dict)  # execution id -> accumulator id -> node
    metric_values = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description")
                if desc is None or not desc.startswith(prefix):
                    continue
                jobs[ev["Job ID"]] = {"desc": desc,
                                      "submit": ev["Submission Time"] / 1e3,
                                      "exec": props.get("spark.sql.execution.id")}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si["Stage ID"] not in stage_job:
                    continue
                stages[si["Stage ID"]] = {"submit": si.get("Submission Time", 0) / 1e3,
                                          "end": si.get("Completion Time", 0) / 1e3,
                                          "job": stage_job[si["Stage ID"]]}
                for a in si.get("Accumulables", []):
                    try:
                        v = float(a["Value"])
                    except (TypeError, ValueError, KeyError):
                        continue
                    metric_values[a["ID"]] = max(metric_values.get(a["ID"], v), v)
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_job:
                    continue
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": ti["Launch Time"] / 1e3,
                    "finish": ti["Finish Time"] / 1e3,
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_b": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "accums": {a["ID"] for a in ti.get("Accumulables", [])},
                })
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev.get("sparkPlanInfo", {}), plans[str(ev["executionId"])])
    traced = {str(v["exec"]) for v in jobs.values()}
    metric_nodes = {i: node for e in traced for i, node in plans.get(e, {}).items()}
    return EventLog(jobs, stages, tasks, metric_nodes, metric_values)


_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}  # to s, s and MB


def _ids(log: EventLog, node_pred, metric_pred) -> set:
    return {i for i, (node, s, m, _t) in log.metric_nodes.items()
            if node_pred(node, s) and metric_pred(m)}


def _sum(log: EventLog, ids: set) -> float:
    return sum(log.metric_values.get(i, 0.0) * _UNIT.get(log.metric_nodes[i][3], 1.0)
               for i in ids)


def _is_normal_udf(node, s):
    return node.startswith("MapInArrow") and "extract_map_in_arrow" in s


def _is_extract_udf(node, s):
    return node.startswith("MapInArrow") and (
        "extract_map_in_arrow" in s or "extract_chunk_map_in_arrow" in s)


def event_log_metrics(log: EventLog) -> dict[str, float]:
    """Engine totals and per-layer SQL metrics of one traced call."""
    out: dict[str, float] = {}
    ms = 1e-3
    udf = _is_extract_udf
    out["extract.python_exec_s"] = _sum(log, _ids(
        log, udf, lambda m: m == "time to run Python workers"))
    out["extract.python_boot_s"] = _sum(log, _ids(
        log, udf, lambda m: m == "time to start Python workers"))
    out["extract.python_sent_mb"] = _sum(log, _ids(
        log, udf, lambda m: m == "data sent to Python workers"))
    out["extract.python_received_mb"] = _sum(log, _ids(
        log, udf, lambda m: m == "data returned from Python workers"))
    out["pipeline.classifier_python_s"] = _sum(log, _ids(
        log, lambda n, s: n.startswith("ArrowEvalPython"),
        lambda m: m == "time to run Python workers"))
    shuffle_written = lambda m: m == "shuffle bytes written"  # noqa: E731
    out["pipeline.salt_shuffle_mb"] = _sum(log, _ids(
        log, lambda n, s: n == "Exchange" and "RoundRobinPartitioning" in s,
        shuffle_written))
    out["pipeline.reassembly_shuffle_mb"] = _sum(log, _ids(
        log, lambda n, s: n == "Exchange" and "hashpartitioning(doc_id" in s,
        shuffle_written))

    normal_ids = _ids(log, _is_normal_udf, lambda m: True)
    write_jobs = {j for j, v in log.jobs.items() if v["desc"] == "checkpoint.write_output"}
    write_stages = {s for s, v in log.stages.items() if v["job"] in write_jobs}
    normal = [t for t in log.tasks if t["accums"] & normal_ids]
    salted = [t for t in log.tasks if t["stage"] in write_stages and not t["accums"] & normal_ids]
    out["pipeline.normal_stage_s"] = sum(t["run_ms"] for t in normal) * ms
    out["pipeline.salted_stages_s"] = sum(t["run_ms"] for t in salted) * ms

    out["spark.executor_run_s"] = sum(t["run_ms"] for t in log.tasks) * ms
    out["spark.executor_cpu_s"] = sum(t["cpu_ns"] for t in log.tasks) * 1e-9
    out["spark.gc_s"] = sum(t["gc_ms"] for t in log.tasks) * ms
    out["spark.tasks"] = float(len(log.tasks))
    out["spark.jobs"] = float(len(log.jobs))
    by_stage = defaultdict(list)
    for t in log.tasks:
        by_stage[t["stage"]].append(t["finish"] - t["launch"])
    skew = 1.0
    if log.stages:
        longest = max(log.stages, key=lambda s: log.stages[s]["end"] - log.stages[s]["submit"])
        d = by_stage.get(longest) or [0.0]
        med = statistics.median(d)
        skew = max(d) / med if med > 0 else 1.0
    out["spark.task_skew"] = skew
    return out


def query_metrics(log: EventLog) -> dict[str, float]:
    """Engine totals of a registry pass, whose jobs carry the description
    ``queries.<name>``."""
    return {"queries.spark_jobs": float(len(log.jobs)),
            "queries.shuffle_mb": sum(t["shuffle_b"] for t in log.tasks) / 1e6}


# --------------------------------------------------------------------------
# in-process kernel split
# --------------------------------------------------------------------------

# (module, attribute, span name). The extract-level entries sit above the
# kernel entries, so each one's self time excludes the kernels it calls.
_KERNEL_POINTS = [
    ("extract", "_record_batch_to_rows", "extract.to_rows"),
    ("extract", "extract_docs_safe", "extract.docs_safe"),
    ("extract", "extract_docs", "extract.assemble"),
    ("extract", "_rows_to_record_batch", "extract.to_batch"),
    ("kernels.pdf_text", "decode_pdf_core", "kernels.pdf_text.decode"),
    ("kernels.pdf_text", "page_stripped_lengths_core", "kernels.pdf_text.classify"),
    ("kernels.pdf_text", "segment_sentences_core", "kernels.pdf_text.segment"),
    ("kernels.ocr", "decode_ocr_core", "kernels.ocr.decode"),
    ("kernels.ocr", "group_ocr_lines_core", "kernels.ocr.group"),
    ("kernels.html", "extract_html_spans", "kernels.html.extract"),
]
_COUNTED = {"kernels.pdf_text.decode": "kernels.pdf_text.pages",
            "kernels.ocr.decode": "kernels.ocr.pages",
            "kernels.html.extract": "kernels.html.docs"}


def kernel_split(corpus_dir: str, batch_rows: int) -> dict[str, float]:
    """Run the normal-path mapInArrow function in this process over the
    corpus, in batches of the session's Arrow batch size."""
    import importlib

    import pyarrow.parquet as pq

    pkg = "pdf_extract_sys_spark."
    spans = Spans("kernels")
    counts = {name: 0.0 for name in _COUNTED.values()}
    stack: list[str] = []

    def wrap(fn, name):
        def wrapper(*a, **kw):
            parent = stack[-1] if stack else "extract.map_in_arrow"
            stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                stack.pop()
                spans.add(name, t0, time.perf_counter(), parent)
                if name in _COUNTED and a:
                    counts[_COUNTED[name]] += len(a[0])
        return wrapper

    mods = {m: importlib.import_module(pkg + m) for m, _, _ in _KERNEL_POINTS}
    saved = [(mods[m], attr, getattr(mods[m], attr)) for m, attr, _ in _KERNEL_POINTS]
    for (mod, attr, fn), (_, _, name) in zip(saved, _KERNEL_POINTS):
        setattr(mod, attr, wrap(fn, name))
    try:
        table = pq.read_table(corpus_dir, columns=["doc_id", "spans"]).combine_chunks()
        t0 = time.perf_counter()
        n_batches = 0
        for _ in mods["extract"].extract_map_in_arrow(iter(table.to_batches(batch_rows))):
            n_batches += 1
        spans.add("extract.map_in_arrow", t0, time.perf_counter(), None)
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)

    st = spans.self_times()
    # a fallback batch re-runs extract_docs once per doc; count each batch once
    fallback_batches = sum(
        1 for s in spans.spans if s.name == "extract.docs_safe"
        and sum(1 for c in spans.spans if c.name == "extract.assemble"
                and c.start >= s.start and c.end <= s.end) > 1)
    out = {
        "extract.to_rows_s": st.get("extract.to_rows", 0.0),
        "extract.assemble_s": st.get("extract.assemble", 0.0) + st.get("extract.docs_safe", 0.0),
        "extract.to_batch_s": st.get("extract.to_batch", 0.0),
        "extract.batches": float(n_batches),
        "extract.fallback_batches": float(fallback_batches),
    }
    for _, _, name in _KERNEL_POINTS:
        if name.startswith("kernels."):
            out[name + "_s"] = st.get(name, 0.0)
    out.update(counts)
    return out
