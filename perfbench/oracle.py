"""Reference calculators and output checks, written apart from the program.

Nothing here imports ``graphouse_spark`` or pyspark: every expected
response is computed in plain Python from the generator's closed form,
following graphite's documented semantics, so a fault in the program
cannot hide in a shared helper. Each ``check_*`` function returns a
list of mismatch strings (empty when the response is right).
"""

from __future__ import annotations

import re

#: value tolerance: the program rounds function outputs to 6 decimals
TOL = 2e-6


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= TOL + 1e-9 * abs(b)


# -- storage semantics --------------------------------------------------------

def lww(rows):
    """Last-writer-wins dedup: ``(ts, value, updated)`` rows -> ``{ts: value}``
    keeping, per timestamp, the value with the greatest ``updated``."""
    best: dict[int, tuple[int, float]] = {}
    for ts, value, updated in rows:
        cur = best.get(ts)
        if cur is None or updated > cur[0]:
            best[ts] = (updated, value)
    return {ts: v for ts, (_, v) in best.items()}


AGGREGATES = {
    "avg": lambda vs: sum(vs) / len(vs),
    "sum": sum,
    "max": max,
    "min": min,
}


def query_window(start: int, end: int, step: int) -> tuple[int, int]:
    """Snap a request onto the step grid: the first bucket holds ``start``,
    and the window keeps ``(end - start) // step`` whole buckets."""
    n = (end - start) // step
    first = start // step * step
    return first, first + n * step


def bucket_series(points: dict, step: int, fn: str, start: int, end: int):
    """Bucket deduped points on the epoch-aligned grid and gap-fill:
    ``[(bucket_ts, value | None), ...]`` for every bucket of the window."""
    first, last = query_window(start, end, step)
    groups: dict[int, list[float]] = {}
    for ts, v in points.items():
        if first <= ts < last:
            groups.setdefault(ts - ts % step, []).append(v)
    agg = AGGREGATES[fn]
    return [(t, agg(groups[t]) if t in groups else None)
            for t in range(first, last, step)]


# -- render function semantics (graphite-web render/functions.py) -------------

def sum_series(series: list[list]):
    """sumSeries: per timestamp, the sum of the non-None values; None when
    every series is None there."""
    out = []
    for row in zip(*series):
        ts = row[0][0]
        vals = [v for _, v in row if v is not None]
        out.append((ts, sum(vals) if vals else None))
    return out


def average_series(series: list[list]):
    """averageSeries: per timestamp, the mean of the non-None values."""
    out = []
    for row in zip(*series):
        ts = row[0][0]
        vals = [v for _, v in row if v is not None]
        out.append((ts, sum(vals) / len(vals) if vals else None))
    return out


def derivative(points):
    """derivative: difference to the previous point; None after a None."""
    out, prev = [], None
    for ts, v in points:
        out.append((ts, None if v is None or prev is None else v - prev))
        prev = v
    return out


def scale(points, factor: float):
    return [(ts, None if v is None else v * factor) for ts, v in points]


def consolidate(points, start: int, end: int, base_step: int, max_points: int):
    """maxDataPoints: when the request span holds more than ``max_points``
    base steps, average (None-skipping) into buckets of a whole number of
    base steps, anchored at the request start, truncating toward zero."""
    span = end - start
    if span <= max_points * base_step:
        return list(points)
    step = base_step * -(-span // (max_points * base_step))
    groups: dict[int, list] = {}
    order: list[int] = []
    for ts, v in points:
        b = start + int((ts - start) / step) * step
        if b not in groups:
            groups[b] = []
            order.append(b)
        if v is not None:
            groups[b].append(v)
    return [(b, sum(groups[b]) / len(groups[b]) if groups[b] else None)
            for b in sorted(order)]


# -- glob matching (graphite per-level globs) ---------------------------------

def expand_braces(level: str) -> list[str]:
    """``a{b,c}d`` -> ``[abd, acd]``; groups do not nest."""
    m = re.search(r"\{([^{}]*)\}", level)
    if not m:
        return [level]
    head, tail = level[:m.start()], level[m.end():]
    return [x for alt in m.group(1).split(",")
            for x in expand_braces(head + alt + tail)]


def _level_regex(glob: str) -> str:
    out, i = [], 0
    while i < len(glob):
        c = glob[i]
        if c == "*":
            out.append("[^.]*")
        elif c == "?":
            out.append("[^.]")
        elif c == "[":
            j = glob.index("]", i + 1)
            body = glob[i + 1:j]
            neg = body.startswith("!")
            body = body[1:] if neg else body
            out.append("[" + ("^" if neg else "") + body.replace("\\", "\\\\") + "]")
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def level_matcher(glob: str):
    """One path level's glob as a full-match predicate."""
    rx = re.compile("|".join(f"(?:{_level_regex(g)})" for g in expand_braces(glob)))
    return lambda s: rx.fullmatch(s) is not None


class NameIndex:
    """The generated names as nested dicts, matched level by level: a query
    of k levels returns the nodes at depth k whose every level matches,
    directories with the trailing dot."""

    def __init__(self, names: list[str]) -> None:
        self.root: dict = {}
        for n in names:
            node = self.root
            for part in n.split("."):
                node = node.setdefault(part, {})

    def match(self, query: str) -> set[str]:
        preds = [level_matcher(g) for g in query.split(".")]
        out: set[str] = set()

        def walk(node: dict, k: int, prefix: str) -> None:
            for part, child in node.items():
                if preds[k](part):
                    if k == len(preds) - 1:
                        out.add(prefix + part + ("." if child else ""))
                    elif child:
                        walk(child, k + 1, prefix + part + ".")

        walk(self.root, 0, "")
        return out


# -- response checks ----------------------------------------------------------

def check_points(label: str, got: list, want: list) -> list[str]:
    """Compare ``[(ts, value)]`` series; reports the first few mismatches."""
    errs = []
    if [t for t, _ in got] != [t for t, _ in want]:
        return [f"{label}: timestamps differ "
                f"(got {len(got)} from {got[:1]}, want {len(want)} from {want[:1]})"]
    for (t, g), (_, w) in zip(got, want):
        if not close(g, w):
            errs.append(f"{label}: ts {t} got {g} want {w}")
            if len(errs) >= 3:
                break
    return errs


def check_render(body: list, want: dict) -> list[str]:
    """``body``: graphite render JSON; ``want``: target -> [(ts, value)]."""
    got = {s["target"]: [(t, v) for v, t in s["datapoints"]] for s in body}
    if sorted(got) != sorted(want):
        return [f"render targets differ: got {sorted(got)[:5]} want {sorted(want)[:5]}"]
    errs = []
    for name in sorted(want):
        errs += check_points(name, got[name], want[name])
    return errs


def check_metric_data(body: dict, want: dict) -> list[str]:
    """``want``: name -> (start, end, step, [values])."""
    if sorted(body) != sorted(want):
        return [f"metricData names differ: got {sorted(body)[:5]} want {sorted(want)[:5]}"]
    errs = []
    for name, (start, end, step, values) in want.items():
        s = body[name]
        if (s["start"], s["end"], s["step"]) != (start, end, step):
            errs.append(f"{name}: window {(s['start'], s['end'], s['step'])} "
                        f"want {(start, end, step)}")
            continue
        errs += check_points(name, list(enumerate(s["points"])),
                             list(enumerate(values)))
    return errs


def check_names(label: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [f"{label}: extra {sorted(got - want)[:3]} missing {sorted(want - got)[:3]}"]

