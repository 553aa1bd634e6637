"""Spans around the benchmark's calls, and process-tree probes from /proc.

A span is (run id, span id, parent id, name, start, end). While a span is
open its id is the Spark local property ``eventlog.SPAN_PROPERTY``, so
the jobs an action starts carry it into the event log. Spans stay in
memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import threading
import time

from eventlog import SPAN_PROPERTY

_TICK = os.sysconf("SC_CLK_TCK")


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None):
        yield None


class Tracer:
    def __init__(self, spark_context):
        self._sc = spark_context
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        run = run_id or (parent["run"] if parent else name)
        rec = {
            "run": run,
            "id": f"{run}/{len(self.spans)}",
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setLocalProperty(SPAN_PROPERTY, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                SPAN_PROPERTY, self._stack[-1]["id"] if self._stack else None
            )

    def roots(self) -> dict[str, str]:
        """span id -> id of the root span of its run."""
        root = {}
        for s in self.spans:
            root[s["id"]] = root[s["parent"]] if s["parent"] else s["id"]
        return root


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, starting at field 3
    return data[data.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident pages, with each shared
    page split among the processes sharing it. Summed RSS would count
    the pages forked Python workers share with their daemon once per
    worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(l.split()[1]) for l in fh if l.startswith("Pss:")) * 1024
        except (OSError, StopIteration):  # the process ended meanwhile
            pass
    return total


def tree_cpu_seconds(pids: list[int]) -> float:
    """utime + stime of the live tree plus the reaped children each
    process has waited for (cutime + cstime)."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time the
    hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose JVM exited)
    children of this process, so reap_children can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout: float) -> None:
    """Wait until every descendant has exited; SIGKILL what remains
    after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in process_tree(os.getpid())[1:]:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


class TreeSampler:
    """Background thread: peak summed PSS of this process and all its
    descendants (driver JVM, Python workers) while ``running``."""

    INTERVAL = 0.1  # seconds between samples

    def __init__(self):
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                pss = tree_pss_bytes(process_tree(os.getpid()))
                self.peak = max(self.peak, pss)
            self._stop.wait(self.INTERVAL)

    @contextlib.contextmanager
    def running(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
