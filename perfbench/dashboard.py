"""``dashboard``: Grafana-style panels polling ``/render`` and ``/metricData``.

The lake is written once at set-up through ``sources.tables.write_data``
from a closed form in (series, raw index, seed), so every expected
response can be recomputed in plain Python (``expected``).

Lake: 4 retention functions x 6 hosts x 8 metrics = 192 series, one raw
point a minute for 40 h from 16:00 UTC (three date partitions), about
490 k rows in one append: the base rows, later resubmissions (greater
``updated``, must win) and stale duplicates (smaller ``updated``, must
lose). Gaps: single dropped points, one seeded outage of 30-90 min on
every third series, and one outage at a fixed place that does not
depend on the seed (``dash.avg.h00.cpu``, raw minutes 600-659).
"""

from __future__ import annotations

import itertools
import random
import threading
import time
from urllib.parse import quote

import oracle
from measure import median, p90, request

#: (retention function, step seconds) per top-level group
FUNCTIONS = (("avg", 120), ("sum", 300), ("max", 120), ("min", 600))
HOSTS = 6
METRICS = ("cpu", "mem", "disk", "net", "load", "io", "swap", "temp")
PER_FN = HOSTS * len(METRICS)
SERIES = len(FUNCTIONS) * PER_FN
RAW = 2400  # raw points per series, one a minute
FIXED_GAP = (0, 600, 660)  # series, first and end raw index; seed-independent
CLIENTS = 2

ROLLUP_XML = "<graphite_rollup>" + "".join(
    f"<pattern><regexp>^dash\\.{fn}\\.</regexp><function>{fn}</function>"
    f"<retention><age>0</age><precision>{step}</precision></retention></pattern>"
    for fn, step in FUNCTIONS) + (
    "<default><function>avg</function>"
    "<retention><age>0</age><precision>60</precision></retention></default>"
    "</graphite_rollup>")


def name(s: int) -> str:
    f, rest = divmod(s, PER_FN)
    h, m = divmod(rest, len(METRICS))
    return f"dash.{FUNCTIONS[f][0]}.h{h:02d}.{METRICS[m]}"


def fn_step(s: int) -> tuple[str, int]:
    return FUNCTIONS[s // PER_FN]


class Lake:
    """The closed form. Each rule is written once as a formula over
    (series ``s``, raw index ``i``) and evaluated both by Spark (``build``)
    and by Python (``rows``)."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.t0 = (19000 + seed % 97) * 86400 + 16 * 3600
        self.updated = self.t0 + RAW * 60 + 3600
        self._points: dict[int, dict] = {}

    # the formulas take ints (Python) or Columns (Spark) alike
    def value(self, s, i):
        return ((s * 7 + i * 13 + self.seed * 3) % 101) * 0.5 - 10

    def ts(self, s, i):
        return self.t0 + i * 60 + (s * 37 + self.seed * 11) % 60

    def outage_start(self, s):
        return (s * 97 + self.seed * 31) % (RAW - 120)

    def outage_len(self, s):
        return 30 + (s * 13 + self.seed) % 60

    def dropped(self, s, i):
        return (s * 31 + i * 17 + self.seed) % 23

    def resubmitted(self, s, i):
        return (s * 11 + i * 5 + self.seed) % 13

    def stale(self, s, i):
        return (s * 3 + i * 7 + self.seed) % 19

    def present(self, s: int, i: int) -> bool:
        if s % 3 == 0 and 0 <= i - self.outage_start(s) < self.outage_len(s):
            return False
        if s == FIXED_GAP[0] and FIXED_GAP[1] <= i < FIXED_GAP[2]:
            return False
        return self.dropped(s, i) != 0

    def rows(self, s: int):
        """All rows written for series ``s``: (ts, value, updated)."""
        for i in range(RAW):
            if not self.present(s, i):
                continue
            v, ts = self.value(s, i), self.ts(s, i)
            resub = self.resubmitted(s, i) == 0
            yield ts, v + 1000 if resub else v, self.updated
            if resub:
                yield ts, v, self.updated + 600
            if self.stale(s, i) == 0:
                yield ts, v + 5000, self.updated - 600

    def points(self, s: int) -> dict:
        if s not in self._points:
            self._points[s] = oracle.lww(self.rows(s))
        return self._points[s]

    def grid(self, s: int, start: int, end: int):
        fn, step = fn_step(s)
        return oracle.bucket_series(self.points(s), step, fn, start, end)

    def build(self, spark, data_path: str) -> None:
        """Write the three appends through the program's writer."""
        from pyspark.sql import functions as F

        from graphouse_spark.sources.tables import write_data

        s, i = F.col("s"), F.col("i")
        base = spark.range(SERIES * RAW).select(
            (F.col("id") % SERIES).alias("s"), (F.col("id") / SERIES).cast("long").alias("i"))
        in_outage = ((s % 3 == 0) & (i - self.outage_start(s) >= 0)
                     & (i - self.outage_start(s) < self.outage_len(s)))
        in_fixed = (s == FIXED_GAP[0]) & (i >= FIXED_GAP[1]) & (i < FIXED_GAP[2])
        present = base.where(~in_outage & ~in_fixed & (self.dropped(s, i) != 0))
        names = F.element_at(F.array(*[F.lit(name(k)) for k in range(SERIES)]), (s + 1).cast("int"))
        resub = self.resubmitted(s, i) == 0

        def rows(frame, value, updated):
            return frame.select(names.alias("metric"), value.alias("value"),
                                self.ts(s, i).alias("timestamp"),
                                F.lit(updated).cast("long").alias("updated"))

        base_rows = rows(present, F.when(resub, self.value(s, i) + 1000)
                         .otherwise(self.value(s, i)), self.updated)
        resubmissions = rows(present.where(resub), self.value(s, i), self.updated + 600)
        stale = rows(present.where(self.stale(s, i) == 0), self.value(s, i) + 5000,
                     self.updated - 600)
        write_data(base_rows.unionByName(resubmissions).unionByName(stale), data_path)

    def metric_rows(self) -> list[str]:
        """Tree rows (name, level, parent) for every series and directory."""
        out, dirs = [], set()
        for s in range(SERIES):
            parts = name(s).split(".")
            out.append(f"{name(s)}\t{len(parts)}\t{'.'.join(parts[:-1])}.")
            for k in range(1, len(parts)):
                dirs.add(tuple(parts[:k]))
        for d in sorted(dirs):
            parent = ".".join(d[:-1]) + "." if len(d) > 1 else ""
            out.append(f"{'.'.join(d)}.\t{len(d)}\t{parent}")
        return out


# -- requests -----------------------------------------------------------------

class Req:
    """One planned request and how to compute its expected answer."""

    def __init__(self, kind: str, path: str, form: dict | None, want):
        self.kind, self.path, self.form, self.want = kind, path, form, want


def plan_round(lake: Lake, rnd: int) -> list[Req]:
    """The twelve panel requests of one dashboard refresh, in a fixed order:
    4 single-series renders, 3 ``/metricData`` calls, and one each of a wide
    glob with maxDataPoints, ``sumSeries``, ``averageSeries``, a nested
    transform and a wide render without maxDataPoints; then a ``/hide`` and
    ``/approve`` pair on one series.

    The retention group of each request (its step, and so its size) is
    fixed by the round and the request's place in it; the seed picks
    hosts, metrics and time windows. Every run thus measures rounds of
    the same cost."""
    rng = random.Random(f"{lake.seed}/{rnd}")
    t0 = lake.t0
    place = itertools.count(rnd)

    def group() -> int:
        return next(place) % len(FUNCTIONS)

    def series() -> int:
        return group() * PER_FN + rng.randrange(PER_FN)

    def window(hours: int, latest: int) -> tuple[int, int]:
        start = t0 + rng.randrange(0, latest * 3600)
        return start, start + hours * 3600

    def render(kind, target, start, end, want, mdp=None):
        q = f"/render?target={quote(target)}&from={start}&until={end}&format=json"
        if mdp:
            q += f"&maxDataPoints={mdp}"
        return Req(kind, q, None, want)

    def single():
        s = series()
        start, end = window(6, 34)
        return render("render", name(s), start, end,
                      lambda: {name(s): lake.grid(s, start, end)})

    def metric_data():
        f = group()
        ss = rng.sample(range(f * PER_FN, (f + 1) * PER_FN), 3)
        start, end = window(12, 28)

        def want():
            out = {}
            for s in ss:
                step = fn_step(s)[1]
                first, last = oracle.query_window(start, end, step)
                out[name(s)] = (first, last, step,
                                [v for _, v in lake.grid(s, start, end)])
            return out
        return Req("metricdata", f"/metricData?start={start}&end={end}",
                   {"metrics": ",".join(name(s) for s in ss)}, want)

    def wide_mdp():
        f = group()
        start, end = window(36, 4)
        ss = range(f * PER_FN, (f + 1) * PER_FN)
        base = FUNCTIONS[f][1]
        return render("render", f"dash.{FUNCTIONS[f][0]}.*.*", start, end,
                      lambda: {name(s): oracle.consolidate(
                          lake.grid(s, start, end), start, end, base, 100) for s in ss},
                      mdp=100)

    def sum_series():
        m = rng.randrange(len(METRICS))
        hosts = rng.choice(("*", "h0[0-3]"))
        start, end = window(24, 16)
        f = 1  # sum
        ss = [f * PER_FN + h * len(METRICS) + m
              for h in (range(HOSTS) if hosts == "*" else range(4))]
        return render("render", f"sumSeries(dash.sum.{hosts}.{METRICS[m]})", start, end,
                      lambda: {"sumSeries": oracle.sum_series(
                          [lake.grid(s, start, end) for s in ss])})

    def average_series():
        # seed-independent: spans the fixed outage of dash.avg.h00.cpu
        start = t0 + 540 * 60
        end = start + 6 * 3600
        ss = [h * len(METRICS) for h in range(3)]
        return render("render", "averageSeries(dash.avg.h0[0-2].cpu)", start, end,
                      lambda: {"averageSeries": oracle.average_series(
                          [lake.grid(s, start, end) for s in ss])})

    def nested():
        s = series()
        start, end = window(6, 34)
        return render("render", f"scale(derivative({name(s)}),2)", start, end,
                      lambda: {name(s): oracle.scale(
                          oracle.derivative(lake.grid(s, start, end)), 2)})

    def wide_raw():
        f = group()
        start, end = window(12, 28)
        ss = range(f * PER_FN, (f + 1) * PER_FN)
        return render("render", f"dash.{FUNCTIONS[f][0]}.*.*", start, end,
                      lambda: {name(s): lake.grid(s, start, end) for s in ss})

    hidden = name(series())
    return [single(), metric_data(), wide_mdp(), single(), sum_series(), metric_data(),
            single(), average_series(), metric_data(), nested(), single(), wide_raw(),
            Req("modify", "/hide", {"name": hidden}, lambda: hidden),
            Req("modify", "/approve", {"name": hidden}, lambda: hidden)]


def drive(port: int, lake: Lake, first_round: int, seconds: float) -> tuple[list, float]:
    """Closed loop of dashboard refreshes: each round's requests go out over
    ``CLIENTS`` connections at once, and the next round starts when the
    last answer is in. Whole rounds run until ``seconds`` have passed."""
    samples: list = []
    deadline = time.perf_counter() + seconds
    t0 = time.perf_counter()
    rnd = first_round
    while True:
        panels = plan_round(lake, rnd)
        queue = list(enumerate(panels[:-2]))
        lock = threading.Lock()
        errors: list = []

        def client(queue=queue, rnd=rnd, lock=lock, errors=errors) -> None:
            try:
                while True:
                    with lock:
                        if not queue:
                            return
                        k, req = queue.pop(0)
                    req_id = f"r{rnd}q{k}"
                    sep = "&" if "?" in req.path else "?"
                    smp = request(port, req.kind, req_id,
                                  f"{req.path}{sep}reqKey={req_id}", req.form)
                    smp.body = (req, smp.body)
                    with lock:
                        samples.append(smp)
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        # an operator hides a series and approves it again, after the panels
        for k, req in enumerate(panels[-2:], len(panels) - 2):
            smp = request(port, req.kind, f"r{rnd}q{k}", req.path, req.form)
            smp.body = (req, smp.body)
            samples.append(smp)
        rnd += 1
        if time.perf_counter() >= deadline:
            return samples, time.perf_counter() - t0


def check(samples: list) -> tuple[int, list[str]]:
    """Verify every response; returns (failed, unexpected mismatches).

    ``averageSeries`` over the fixed outage fails on every run: the program
    divides by all series, gaps included, where graphite skips None. It
    counts as failed; any other mismatch makes the run incorrect."""
    import json

    errors = []
    for smp in samples:
        req, body = smp.body
        if smp.status != 200:
            smp.failed = True
            errors.append(f"{smp.req_id} {req.kind}: HTTP {smp.status} {body[:200]!r}")
            continue
        if req.kind == "modify":
            errs = [] if body.decode() == req.want() else [f"touched {body[:100]!r}"]
        elif req.kind == "metricdata":
            errs = oracle.check_metric_data(json.loads(body), req.want())
        else:
            errs = oracle.check_render(json.loads(body), req.want())
        if errs:
            smp.failed = True
            if "averageSeries" not in req.path:
                errors += [f"{smp.req_id} {req.path[:80]}: {e}" for e in errs[:3]]
        smp.body = (req, None)
    failed = sum(1 for smp in samples if smp.failed)
    return failed, errors


def client_metrics(samples: list) -> dict:
    ms = [s.ms for s in samples]
    return {
        "client.render_p50_ms": median([s.ms for s in samples if s.kind == "render"]),
        "client.metricdata_p50_ms": median([s.ms for s in samples if s.kind == "metricdata"]),
        "client.modify_p50_ms": median([s.ms for s in samples if s.kind == "modify"]),
        "client.req_p90_ms": p90(ms),
    }


def main(ctx) -> dict:
    from graphouse_spark.api.service import GraphouseService
    from graphouse_spark.retention import CombinedRetentionProvider, parse_rollup_xml

    from measure import peak_rss_mb, tree_cpu_s

    spark = ctx.start_spark()
    ctx.note("spark started")
    lake = Lake(ctx.seed)
    data, metrics = ctx.data_path, ctx.path("metrics")
    lake.build(spark, data)
    ctx.note("lake written")
    ctx.write_tree(lake.metric_rows(), metrics)
    provider = CombinedRetentionProvider(parse_rollup_xml(ROLLUP_XML))
    svc = GraphouseService(spark, data, metrics, provider)
    svc.load_tree()
    ctx.note("tree loaded")
    port = ctx.serve(svc)
    ctx.setup_done()

    # two whole rounds warm every request class
    warm, _ = drive(port, lake, 0, 0)
    warm += drive(port, lake, 1, 0)[0]
    ctx.note("warmed")
    cpu0 = tree_cpu_s()
    ctx.window_start = time.time()
    samples, elapsed = drive(port, lake, 2, ctx.seconds)
    cpu = tree_cpu_s() - cpu0
    rss = peak_rss_mb()
    ctx.note(f"measured {len(samples)} requests")
    _, errors = check(warm)
    failed, more = check(samples)
    ctx.note("checked")
    out = {"latency_ms": [s.ms for s in samples], "ops": len(samples), "elapsed_s": elapsed,
           "cpu_s": cpu, "rss_mb": rss, "attempted": len(samples), "failed": failed,
           "errors": errors + more}
    if ctx.tracer is not None:
        import layers

        out["layers"] = layers.collect(ctx, samples, client_metrics(samples))
    return out
