"""Per-layer trace of a benchmark run, measured from outside the package.

Three sources, none of them inside ``glue_etl_pyspark_spark``:

- spans the benchmark records around its calls into the package's
  public functions (``get_spark``, ``load_all``, each query's registry
  ``fn``, its noop write, ``parity.check_query``);
- Spark's UI REST API (``/jobs``, ``/stages``, ``/sql``, ``/executors``),
  whose jobs, stages and SQL executions are attributed to a span by
  submission time — queries run one at a time, so a time window names
  its jobs even when a stream drain runs them on its own thread, outside
  the caller's job group;
- a ``StreamingQueryListener`` for micro-batches.

Spans stay in memory and are written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
import urllib.request
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

import stats

MIB = float(1 << 20)

# Node names in the final (AQE-updated) plan of a SQL execution.
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
SORT_MERGE_JOINS = ("SortMergeJoin",)
AQE_SHUFFLE_READS = ("AQEShuffleRead",)
PY_SENT = "data sent to Python workers"
PY_ROWS = "number of output rows"

# Per-layer metric names, in report order. ``window_metrics`` gives the
# Spark-side ones per pass; the run adds the span timers (``session.*``,
# ``registry.*``, ``queries.*``) and the memory readings (``mem.*``).
LAYER_METRICS = (
    "session.get_spark_s", "registry.load_all_s",
    "queries.cold_pass_s", "queries.call_s", "queries.materialize_s",
    "queries.call_self_s", "queries.materialize_self_s",
    "driver.jobs", "driver.no_job_s",
    "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.busy_cores",
    "io.scan_tasks", "io.input_mb", "io.input_rows",
    "io.write_tasks", "io.output_mb", "io.output_rows",
    "exchange.shuffle_write_mb", "exchange.shuffle_read_mb",
    "exchange.fetch_wait_s", "exchange.spill_mb",
    "plan.broadcast_joins", "plan.sort_merge_joins", "plan.aqe_shuffle_reads",
    "python.nodes", "python.tasks", "python.sent_mb", "python.rows_returned",
    "stream.batches", "stream.batch_s", "stream.idle_s", "stream.state_rows",
    "mem.jvm_heap_peak_mb", "mem.rss_peak_mb", "mem.python_workers",
)

_TS = re.compile(r"^(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d(?:\.\d+)?)(GMT|Z)$")


def parse_ts(text: str | None) -> float | None:
    """Epoch seconds of a Spark REST or listener timestamp
    (``2026-01-02T03:04:05.678GMT`` / ``...Z``)."""
    if not text:
        return None
    m = _TS.match(text)
    if m is None:
        raise ValueError(f"unrecognised Spark timestamp {text!r}")
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in m.group(1) else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(m.group(1), fmt).replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024, "ms": 1e-3, "s": 1.0,
          "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """The total of a SQL metric as the REST API prints it: ``10,000``,
    ``2.9 MiB``, ``370 ms``, or a ``total (min, med, max ...)`` header
    followed by the total on the next line. Sizes come back in bytes
    and times in seconds."""
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.match(line.strip())
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkRest:
    """Reads one application's UI REST API over localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=100000"),
            "executors": self.get("/executors"),
        }


class StreamEvents(StreamingQueryListener):
    """Collects micro-batch progress and query start/stop times.

    Callbacks arrive on a py4j thread after the listener bus delivers
    them, so readers call ``settle`` before using the lists."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.runId)] = parse_ts(event.timestamp) or time.time()

    def onQueryProgress(self, event):
        p = event.progress
        start = parse_ts(p.timestamp)
        dur = p.durationMs.get("triggerExecution", 0) / 1e3
        state = sum(s.numRowsTotal for s in p.stateOperators)
        with self.lock:
            self.batches.append({"run": str(p.runId), "batch": p.batchId, "start": start,
                                 "end": start + dur, "rows": p.numInputRows, "state_rows": state})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated[str(event.runId)] = time.time()

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until every started query has been seen to terminate."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if set(self.started) <= set(self.terminated):
                    return
            time.sleep(0.05)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans sharing one run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: Span | None = None, **attrs) -> Span:
        span = Span(next(self._ids), parent.span_id if parent else None, name, start, end, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs) -> Iterator[Span]:
        span = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_time(self, span: Span) -> float:
        return stats.self_time(span.start, span.end, [(c.start, c.end) for c in self.children(span)])

    def attach_spark(self, parents: list[Span], snap: dict, events: StreamEvents | None) -> None:
        """Add Spark jobs, their stages and stream micro-batches as child
        spans of the innermost parent span whose interval holds their
        submission time."""
        by_id: dict[int, list[dict]] = {}  # one entry per stage attempt
        for s in snap["stages"]:
            by_id.setdefault(s["stageId"], []).append(s)
        for job in snap["jobs"]:
            sub = parse_ts(job.get("submissionTime"))
            parent = _innermost(parents, sub)
            if parent is None:
                continue
            end = parse_ts(job.get("completionTime")) or parent.end
            jspan = self.add("spark.job", sub, end, parent, job_id=job["jobId"], status=job["status"])
            for sid in job["stageIds"]:
                for st in by_id.get(sid, ()):
                    s0 = parse_ts(st.get("submissionTime"))
                    if s0 is None or st["status"] == "SKIPPED":
                        continue
                    s1 = parse_ts(st.get("completionTime")) or end
                    self.add("spark.stage", s0, s1, jspan, stage_id=sid, attempt=st["attemptId"])
        if events is not None:
            with events.lock:
                batches = list(events.batches)
            for b in batches:
                parent = _innermost(parents, b["start"])
                if parent is not None:
                    self.add("stream.batch", b["start"], b["end"], parent, batch=b["batch"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}, f)


def _innermost(parents: list[Span], t: float | None) -> Span | None:
    best = None
    if t is None:
        return None
    for p in parents:
        # REST times carry millisecond resolution: allow that much slack
        if p.start - 1e-3 <= t <= p.end + 1e-3 and (best is None or p.dur < best.dur):
            best = p
    return best


def _in(t: float | None, lo: float, hi: float) -> bool:
    return t is not None and lo - 1e-3 <= t <= hi + 1e-3


def window_metrics(lo: float, hi: float, snap: dict, events: StreamEvents | None) -> dict[str, float]:
    """Layer metrics of everything Spark ran between ``lo`` and ``hi``
    (epoch seconds), read from one REST snapshot and the stream events."""
    wall = hi - lo
    jobs = [j for j in snap["jobs"] if _in(parse_ts(j.get("submissionTime")), lo, hi)]
    job_iv = [(parse_ts(j["submissionTime"]), parse_ts(j.get("completionTime")) or hi) for j in jobs]
    stages = [s for s in snap["stages"]
              if s["status"] != "SKIPPED" and _in(parse_ts(s.get("submissionTime")), lo, hi)]
    m: dict[str, float] = {
        "driver.jobs": len(jobs),
        "driver.no_job_s": wall - stats.union_length(job_iv, lo, hi),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["numTasks"] for s in stages),
        "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "io.scan_tasks": sum(s["numTasks"] for s in stages if s["inputBytes"] > 0),
        "io.input_mb": sum(s["inputBytes"] for s in stages) / MIB,
        "io.input_rows": sum(s["inputRecords"] for s in stages),
        "io.write_tasks": sum(s["numTasks"] for s in stages if s["outputRecords"] > 0 or s["outputBytes"] > 0),
        "io.output_mb": sum(s["outputBytes"] for s in stages) / MIB,
        "io.output_rows": sum(s["outputRecords"] for s in stages),
        "exchange.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MIB,
        "exchange.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MIB,
        "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "exchange.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MIB,
    }
    m["exec.busy_cores"] = m["exec.run_s"] / wall if wall > 0 else 0.0

    execs = [e for e in snap["sql"] if _in(parse_ts(e.get("submissionTime")), lo, hi)]
    nodes = [n for e in execs for n in e["nodes"]]
    m["plan.broadcast_joins"] = sum(n["nodeName"] in BROADCAST_JOINS for n in nodes)
    m["plan.sort_merge_joins"] = sum(n["nodeName"] in SORT_MERGE_JOINS for n in nodes)
    m["plan.aqe_shuffle_reads"] = sum(n["nodeName"] in AQE_SHUFFLE_READS for n in nodes)
    py = [(n, {x["name"]: parse_sql_metric(x["value"]) for x in n["metrics"]}) for n in nodes]
    py = [(n, vals) for n, vals in py if vals.get(PY_SENT, 0) > 0]
    m["python.nodes"] = len(py)
    m["python.sent_mb"] = sum(vals[PY_SENT] for _, vals in py) / MIB
    m["python.rows_returned"] = sum(vals.get(PY_ROWS, 0) for _, vals in py)
    scan_tasks = {s["stageId"]: s["numTasks"] for s in stages if s["inputRecords"] > 0}
    job_stages = {j["jobId"]: j.get("stageIds", ()) for j in jobs}
    m["python.tasks"] = sum(_python_tasks(e, scan_tasks, job_stages) for e in execs)

    m.update(stream_metrics(lo, hi, events))
    return m


def _python_tasks(execution: dict, scan_tasks: dict[int, int], job_stages: dict[int, list]) -> int:
    """Tasks that ran a Python node of one SQL execution.

    The REST API names no stage per plan node, so each Python node's
    width is read from the plan: walking down from the node, the first
    shuffle boundary (``AQEShuffleRead`` or ``Exchange``) reports its
    partition count, which is the task count of the node's stage.
    Broadcast inputs do not set the width and are skipped. A node fed
    straight by a file scan runs in the scan stage, whose task count
    comes from the execution's stages that read input."""
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    inputs: dict[int, list[int]] = {}
    for edge in execution["edges"]:
        inputs.setdefault(edge["toId"], []).append(edge["fromId"])
    stage_ids = {s for j in execution.get("successJobIds", ()) for s in job_stages.get(j, ())}
    scan_width = max((scan_tasks.get(s, 0) for s in stage_ids), default=0)
    total = 0
    for node in execution["nodes"]:
        vals = {x["name"]: x["value"] for x in node["metrics"]}
        if PY_SENT not in vals or parse_sql_metric(vals[PY_SENT]) <= 0:
            continue
        width, todo, seen = 0, list(inputs.get(node["nodeId"], ())), set()
        while todo:
            nid = todo.pop()
            if nid in seen or nid not in nodes:
                continue
            seen.add(nid)
            child = nodes[nid]
            name = child["nodeName"]
            parts = {x["name"]: x["value"] for x in child["metrics"]}.get("number of partitions")
            if name.startswith("BroadcastExchange"):
                continue
            if parts is not None and ("ShuffleRead" in name or "Exchange" in name):
                width = max(width, int(parse_sql_metric(parts)))
                continue
            if name.startswith("Scan"):
                width = max(width, scan_width)
                continue
            todo.extend(inputs.get(nid, ()))
        total += width
    return total


def stream_metrics(lo: float, hi: float, events: StreamEvents | None) -> dict[str, float]:
    out = {"stream.batches": 0, "stream.batch_s": 0.0, "stream.idle_s": 0.0, "stream.state_rows": 0}
    if events is None:
        return out
    with events.lock:
        runs = {r: t for r, t in events.started.items() if _in(t, lo, hi)}
        batches = [b for b in events.batches if b["run"] in runs]
        terminated = dict(events.terminated)
    last_state: dict[str, int] = {}
    for b in batches:
        last_state[b["run"]] = b["state_rows"]
    batch_s = sum(b["end"] - b["start"] for b in batches)
    drain = sum(min(terminated.get(r, hi), hi) - t for r, t in runs.items())
    out.update({"stream.batches": len(batches), "stream.batch_s": batch_s,
                "stream.idle_s": max(0.0, drain - batch_s), "stream.state_rows": sum(last_state.values())})
    return out


def jvm_heap_peak_mb(snap: dict) -> float:
    """Peak JVM heap of the driver (the only executor in local mode)."""
    peak = 0.0
    for ex in snap["executors"]:
        pm = ex.get("peakMemoryMetrics") or {}
        peak = max(peak, pm.get("JVMHeapMemory", 0) / MIB)
    return peak
