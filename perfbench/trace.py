"""Spans around the benchmark's calls into each layer, a /proc RSS
sampler, and the process-tree clean-up the benchmark owes its host.

Spans live in memory and are only read when the run ends. With
`label_jobs` on (the traced run), entering a span also sets the Spark
job group of the client thread to the span id, so the event log ties
each job the thread submits to its span.
"""

from __future__ import annotations

import itertools
import os
import signal
import threading
import time
from contextlib import contextmanager

from layers import Span


class Clock:
    """Epoch-aligned monotonic seconds: spans line up with the event
    log's epoch-millisecond timestamps and never jump backwards."""

    def __init__(self):
        self._base = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._base + time.perf_counter()


class Tracer:
    """Spans of the benchmark's single client thread, kept in memory."""

    def __init__(self, clock: Clock):
        self.clock = clock
        self.spans: list[Span] = []
        self.sc = None  # SparkContext once job labelling is on
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def label_jobs(self, sc) -> None:
        self.sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.sid, span.name)

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        """Record one call as a child of the innermost open span."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=f"bench-span-{next(self._ids)}",
            name=name,
            start=self.clock.now(),
            end=float("nan"),
            parent=parent.sid if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            attrs=dict(attrs),
        )
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock.now()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may hold spaces/parens: the ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _proc_children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """One daemon thread that sums the RSS of this process tree (Python
    driver, JVM, Python workers) every `interval` seconds and keeps the
    peak. It is the only thread the benchmark adds besides its clients."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in process_tree())
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, then wait until
    every process this one started (JVM, Python daemon and workers) has
    exited; whatever is left after the grace period is killed."""
    from pyspark import SparkContext

    tree = [p for p in process_tree() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if not alive:
                return
            time.sleep(0.1)
        for p in tree:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode("ascii", "replace")
        return stat[stat.rindex(")") + 2] == "Z"
    except (OSError, ValueError):
        return True
