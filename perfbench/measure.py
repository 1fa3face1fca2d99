"""Client-side measurement: timed HTTP calls, process-tree CPU, RSS.

Reads only this process's own ``/proc`` entries and its descendants'.
"""

from __future__ import annotations

import http.client
import os
import statistics
import time
from urllib.parse import urlencode

_TICK = os.sysconf("SC_CLK_TCK")

#: header naming the client's request id; the traced run's handler
#: wrapper reads it to join server spans to the client span
REQ_HEADER = "X-Bench-Req"


def process_age_s() -> float:
    """Seconds since this process was created (includes interpreter start)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def descendants(root: int | None = None) -> list[int]:
    """Live pids of the process tree under ``root`` (this process), root included."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process tree: the service, the JVM and the
    Python workers, with each exited child folded in by its parent."""
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total / _TICK


def peak_rss_mb() -> float:
    """Peak resident set of this (the service's) process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from /proc/self/status")


class Sample:
    """One completed client request."""

    __slots__ = ("kind", "req_id", "t0", "t1", "status", "body", "size", "failed")

    def __init__(self, kind, req_id, t0, t1, status, body):
        self.kind, self.req_id, self.t0, self.t1 = kind, req_id, t0, t1
        self.status, self.body, self.size, self.failed = status, body, len(body), False

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def request(port: int, kind: str, req_id: str, path: str,
            form: dict | None = None, timeout: float = 120.0) -> Sample:
    """One request from connect to the last body byte (GET, or POST of a form)."""
    headers = {REQ_HEADER: req_id}
    body = None
    if form is not None:
        body = urlencode(form)
        headers["Content-Type"] = "application/x-www-form-urlencoded"
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("POST" if form is not None else "GET", path, body, headers)
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    return Sample(kind, req_id, t0, time.perf_counter(), resp.status, data)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """90th percentile, reported only with at least 100 samples (ten beyond it)."""
    if len(xs) < 100:
        return 0.0
    return statistics.quantiles(xs, n=10)[-1]
