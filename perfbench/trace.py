"""Tracing from outside the program for the traced benchmark run.

- ``Tracer`` records spans with the engine's own
  ``operators.tracing.SpanRecorder`` (so the rows have
  ``SPAN_SCHEMA`` shape), passes that recorder to ``run_ingest_job``
  through its public ``recorder=`` parameter, wraps public functions
  with timing spans while a traced op runs, counts py4j round trips,
  and sets the Spark job description to ``span:<trace>:<id>`` around
  every span it opens, so Spark jobs map back to spans.
- ``read_event_log`` folds Spark's JSON event log into per-job task
  metrics and Python-boundary SQL metrics.
- ``attribute`` assigns each job to a span: the span named by the job
  description, narrowed to the innermost descendant span (e.g. an
  ingest-job phase span) whose interval holds the job's submission.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from gpt_rag_ingestion_spark.operators.tracing import SpanRecorder

#: SQL-metric name on a Python-boundary node -> short key
PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "recv_b",
}
TASK_KEYS = (
    "tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms", "sched_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "output_b",
    "records_written",
)


def _descr(trace_id: str, sid: int) -> str:
    return f"span:{trace_id}:{sid}"


class Tracer:
    """One trace per benchmark run; ops are root spans."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.rec = SpanRecorder(trace_id)
        self.py4j_by_span: dict[int, int] = {}
        self._py4j = 0
        self._patches: list[tuple[object, str, object]] = []
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **k):
            self._py4j += 1
            return send(*a, **k)

        client.send_command = counting_send
        self._client, self._send = client, send

    def close(self) -> None:
        self.unpatch()
        self._client.send_command = self._send

    @contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        with self.rec.span(name) as sid:
            self.sc.setJobDescription(_descr(self.trace_id, sid))
            n0 = self._py4j
            try:
                yield sid
            finally:
                self.py4j_by_span[sid] = self._py4j - n0
                self.sc.setJobDescription(prev)

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return wrapper

    def patch(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``module.attr`` with a timing span named ``name`` for
        every ``(module, attr, name)``; ``unpatch`` restores them."""
        for mod, attr, name in targets:
            orig = getattr(mod, attr)
            self._patches.append((mod, attr, orig))
            setattr(mod, attr, self.timed(name, orig))

    def unpatch(self) -> None:
        while self._patches:
            mod, attr, orig = self._patches.pop()
            setattr(mod, attr, orig)

    # -- span tree helpers over the recorder rows -------------------
    def rows(self) -> list[dict]:
        return [
            dict(zip(("trace_id", "span_id", "parent_id", "name", "start_ms",
                      "dur_ms", "ok", "attrs"), r))
            for r in self.rec.rows
        ]


def children_of(rows: list[dict]) -> dict:
    kids = defaultdict(list)
    for r in rows:
        kids[r["parent_id"]].append(r)
    return kids


def subtree(rows: list[dict], root: int) -> list[dict]:
    kids = children_of(rows)
    out, stack = [], [r for r in rows if r["span_id"] == root]
    while stack:
        r = stack.pop()
        out.append(r)
        stack.extend(kids.get(r["span_id"], []))
    return out


# -- event log ------------------------------------------------------

def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _walk_plan(node, out: dict) -> None:
    for m in node.get("metrics", []):
        key = PYTHON_METRICS.get(m["name"])
        if key is not None:
            out[m["accumulatorId"]] = key
    for c in node.get("children", []):
        _walk_plan(c, out)


def read_event_log(path: str) -> dict:
    """Per job: description, submission/completion ms, and summed task
    and Python-boundary metrics.  Returns {job_id: dict}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_accums: dict[int, str] = {}
    task_events = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:120]
            if "TaskEnd" in head:
                task_events.append(json.loads(line))
            elif "SparkListenerJobStart" in head:
                e = json.loads(line)
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "descr": props.get("spark.job.description"),
                    "submit_ms": e["Submission Time"],
                    "end_ms": None,
                    "stages": 0,
                    **{k: 0 for k in TASK_KEYS},
                    **{k: 0 for k in PYTHON_METRICS.values()},
                }
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif "SparkListenerJobEnd" in head:
                e = json.loads(line)
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif "SparkListenerStageCompleted" in head:
                e = json.loads(line)
                j = stage_job.get(e["Stage Info"]["Stage ID"])
                if j in jobs:
                    jobs[j]["stages"] += 1
            elif "SQLExecutionStart" in head or "SQLAdaptiveExecutionUpdate" in head:
                _walk_plan(json.loads(line)["sparkPlanInfo"], py_accums)
    for e in task_events:
        j = jobs.get(stage_job.get(e["Stage ID"]))
        if j is None:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        j["tasks"] += 1
        if e["Task End Reason"].get("Reason") != "Success":
            j["task_failures"] += 1
        run = m.get("Executor Run Time", 0)
        j["run_ms"] += run
        j["cpu_ns"] += m.get("Executor CPU Time", 0)
        j["gc_ms"] += m.get("JVM GC Time", 0)
        j["sched_ms"] += max(
            0,
            info["Finish Time"] - info["Launch Time"] - run
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        j["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
        j["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j["spill_b"] += m.get("Disk Bytes Spilled", 0)
        j["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out = m.get("Output Metrics") or {}
        j["output_b"] += out.get("Bytes Written", 0)
        j["records_written"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            key = py_accums.get(acc["ID"])
            if key is not None:
                j[key] += int(acc.get("Update") or 0)
    return jobs


def attribute(jobs: dict, rows: list[dict], trace_id: str) -> dict:
    """span_id -> list of job dicts run directly under that span."""
    by_id = {r["span_id"]: r for r in rows}
    kids = children_of(rows)
    prefix = f"span:{trace_id}:"
    out = defaultdict(list)
    for j in jobs.values():
        d = j["descr"] or ""
        if not d.startswith(prefix):
            continue
        sid = int(d[len(prefix):])
        t = j["submit_ms"]
        while True:  # descend into the child span whose interval holds t
            inner = [
                c for c in kids.get(sid, [])
                if c["start_ms"] <= t <= c["start_ms"] + c["dur_ms"]
            ]
            if not inner:
                break
            sid = inner[0]["span_id"]
        if sid in by_id:
            out[sid].append(j)
    return out


def sum_jobs(jobs: list[dict]) -> dict:
    keys = ("stages",) + TASK_KEYS + tuple(PYTHON_METRICS.values())
    tot = {k: 0 for k in keys}
    for j in jobs:
        for k in keys:
            tot[k] += j[k]
    tot["jobs"] = len(jobs)
    return tot


def job_busy_ms(jobs: list[dict], start_ms: int, end_ms: int) -> int:
    """Milliseconds of [start_ms, end_ms] covered by at least one job."""
    iv = sorted(
        (max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
        for j in jobs
    )
    busy, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def wait_for_listeners(spark) -> None:
    """Drain Spark's listener bus (up to 30 s) so the event log holds
    every event."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # private API moved: fall back to a grace period
        time.sleep(2.0)
