"""Per-layer accounting from spans and a Spark event log.

Pure logic, no Spark import: the benchmark records spans around the
calls it makes into each layer (`trace.Tracer`), Spark writes its
uncompressed JSON-lines event log, and this module joins the two.

- `read_event_log` keeps the events the accounting needs: job start/end
  (with the job group the benchmark set), stage submission, task
  launch/finish with their task metrics and Python-runner accumulables.
- `attribute_jobs` maps every job to a span: by job group when the job
  carries one, else to the innermost span open at the job's submission
  time. Jobs the engine starts on its own thread pools carry no group.
- `self_times` is a span's duration minus the part its children cover.
- `tail_percentile` is the highest reported percentile that still has
  at least ten samples beyond it.
- Metric names and units follow the benchmark's format, checked by
  `test_layers.py`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
PY_RUN = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


def tail_percentile(n: int):
    """Highest of TAIL_PERCENTILES with >= 10 of `n` samples beyond it,
    or None when even the median has fewer."""
    ok = [p for p in TAIL_PERCENTILES if n * (100.0 - p) / 100.0 >= 10 - 1e-9]
    return max(ok) if ok else None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Span:
    sid: str
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    failed: bool
    metrics: dict  # flat name -> number


@dataclass
class Stage:
    sid: int
    submit: float | None = None
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    jid: int
    submit: float
    end: float | None
    group: str | None
    stages: list


def _task_metrics(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    im = tm.get("Input Metrics") or {}
    om = tm.get("Output Metrics") or {}
    out = {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": im.get("Bytes Read", 0),
        "input_rows": im.get("Records Read", 0),
        "output_bytes": om.get("Bytes Written", 0),
        "python_run_s": 0.0,
        "python_bytes_in": 0,
        "python_bytes_out": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        name, upd = acc.get("Name"), acc.get("Update")
        try:
            val = float(upd)
        except (TypeError, ValueError):
            continue
        if name == PY_RUN:
            out["python_run_s"] += val / 1e3
        elif name == PY_IN:
            out["python_bytes_in"] += val
        elif name == PY_OUT:
            out["python_bytes_out"] += val
    return out


def parse_events(lines) -> tuple[dict, dict]:
    """JSON event lines -> ({job id: Job}, {stage id: Stage})."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                jid=ev["Job ID"],
                submit=ev["Submission Time"] / 1e3,
                end=None,
                group=props.get("spark.jobGroup.id"),
                stages=list(ev.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") is not None:
                st.submit = info["Submission Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch=info["Launch Time"] / 1e3,
                    failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                    metrics=_task_metrics(ev),
                )
            )
    return jobs, stages


def read_event_log(path: str) -> tuple[dict, dict]:
    with open(path, encoding="utf-8") as fh:
        return parse_events(fh)


def attribute_jobs(jobs: dict, spans: list) -> dict:
    """job id -> span sid. A job whose group names a known span goes to
    that span. Any other job goes to the innermost span open at its
    submission time: the latest-started one, the deeper one on a tie.
    Jobs outside every span map to None."""
    by_sid = {s.sid: s for s in spans}
    depth: dict[str, int] = {}

    def d(s: Span) -> int:
        if s.sid not in depth:
            p = by_sid.get(s.parent) if s.parent else None
            depth[s.sid] = 0 if p is None else d(p) + 1
        return depth[s.sid]

    out = {}
    for jid, job in jobs.items():
        if job.group in by_sid:
            out[jid] = job.group
            continue
        open_spans = [s for s in spans if s.start <= job.submit <= s.end]
        if not open_spans:
            out[jid] = None
            continue
        out[jid] = max(open_spans, key=lambda s: (s.start, d(s))).sid
    return out


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    return _union_length((max(a, lo), min(b, hi)) for a, b in intervals)


def self_times(spans: list) -> dict:
    """sid -> span duration minus the time its direct children cover."""
    kids: dict[str, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - covered(kids.get(s.sid, []), s.start, s.end) for s in spans
    }


def descendants(spans: list, sid: str) -> set:
    """`sid` and every span below it."""
    kids: dict[str, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [sid]
    while todo:
        cur = todo.pop()
        out.add(cur)
        todo.extend(kids.get(cur, []))
    return out


@dataclass
class SpanCost:
    """Spark work attributed to one span (and, via `rollup`, its subtree)."""

    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    task_wait_s: float = 0.0
    job_intervals: list = field(default_factory=list)
    totals: dict = field(default_factory=dict)

    def add(self, other: "SpanCost") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.tasks_failed += other.tasks_failed
        self.task_wait_s += other.task_wait_s
        self.job_intervals.extend(other.job_intervals)
        for k, v in other.totals.items():
            self.totals[k] = self.totals.get(k, 0) + v

    def get(self, key: str) -> float:
        return self.totals.get(key, 0)


def span_costs(jobs: dict, stages: dict, owner: dict) -> dict:
    """sid -> SpanCost of the jobs attributed directly to that span.
    Task wait of a stage = its first task launch minus its submission."""
    out: dict[str, SpanCost] = {}
    for jid, job in jobs.items():
        sid = owner.get(jid)
        if sid is None:
            continue
        c = out.setdefault(sid, SpanCost())
        c.jobs += 1
        c.job_intervals.append((job.submit, job.end if job.end is not None else job.submit))
        for st_id in job.stages:
            st = stages.get(st_id)
            if st is None or not st.tasks:
                continue  # skipped stage (shuffle output reused)
            if st.submit is not None:
                c.task_wait_s += max(0.0, min(t.launch for t in st.tasks) - st.submit)
            for t in st.tasks:
                c.tasks += 1
                c.tasks_failed += int(t.failed)
                for k, v in t.metrics.items():
                    c.totals[k] = c.totals.get(k, 0) + v
    return out


def rollup(spans: list, costs: dict, sid: str) -> SpanCost:
    """Cost of a span's whole subtree."""
    total = SpanCost()
    for s in descendants(spans, sid):
        if s in costs:
            total.add(costs[s])
    return total


def driver_time(span: Span, cost: SpanCost) -> float:
    """Span wall not covered by any of its Spark jobs' run intervals."""
    return span.dur - covered(cost.job_intervals, span.start, span.end)
