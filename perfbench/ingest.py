"""``ingest``: Graphite plaintext over TCP into the daemon, read back.

The daemon is ``__main__.run_serve(..., block=False)`` with a graphite
listener on an ephemeral port and a 1 s trigger. One client connection
sends a closed loop of bursts: a burst is sent, the client waits until
the streaming query has committed it, refreshes the tree with
``load_tree`` (what the serve refresh loop calls) and reads the burst
back through ``/metricData`` and ``/search``.

Each burst (340 lines): 300 updates of the 600 known series (seeded
sample), 20 new names, 10 lines under ``ing.banned.`` (banned before
the run) and 10 malformed lines, shuffled. Every valid point of a burst
carries the burst's own minute, so the read-back of that minute shows
exactly the burst's values.

Each burst is sent 250 ms before a whole second of the wall clock. The
1 s processing-time trigger fires on whole seconds while the query is
idle, so no burst is split across two micro-batches and the wait for
the trigger is the same in every run.
"""

from __future__ import annotations

import random
import socket
import time

import oracle
from measure import median, request

KNOWN_HOSTS, KNOWN_METRICS = 20, 30
UPDATES, NEW, BANNED, MALFORMED = 300, 20, 10, 10
HISTORY = 30  # minutes of points per known series written at set-up
WARM_BURSTS = 2
SEND_PHASE = 0.75  # seconds past the whole second at which a burst goes out

ROLLUP_XML = ("<graphite_rollup><default><function>avg</function>"
              "<retention><age>0</age><precision>60</precision></retention>"
              "</default></graphite_rollup>")


def known(s: int) -> str:
    return f"ing.known.h{s // KNOWN_METRICS:02d}.m{s % KNOWN_METRICS:02d}"


class Bursts:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.t0 = (19500 + seed % 97) * 86400

    def value(self, s: int, k: int) -> float:
        return ((s * 7 + k * 13 + self.seed) % 101) * 0.5

    def burst(self, k: int):
        """(lines, {name: value} of the valid points, new names)."""
        rng = random.Random(f"{self.seed}/{k}")
        ts = self.t0 + k * 60
        points = {known(s): self.value(s, k)
                  for s in rng.sample(range(KNOWN_HOSTS * KNOWN_METRICS), UPDATES)}
        new = [f"ing.new.b{k:04d}.s{j:02d}" for j in range(NEW)]
        points.update((n, j * 0.5) for j, n in enumerate(new))
        lines = [f"{n} {v} {ts}" for n, v in points.items()]
        lines += [f"ing.banned.h{j:02d}.x{k} 1.0 {ts}" for j in range(BANNED)]
        bad = ("ing.bad.n{k}x{j} notanumber {ts}", "ing.bad.f{k}x{j} 1.0",
               "ing.bad.e{k}x{j} 1.0 {ts} extra", "ing.bad..d{k}x{j} 1.0 {ts}",
               "ing.bad.i{k}x{j} inf {ts}")
        lines += [bad[j % len(bad)].format(k=k, j=j, ts=ts) for j in range(MALFORMED)]
        rng.shuffle(lines)
        return lines, points, new

    def history_rows(self) -> list[str]:
        out = [f"{known(s)}\t4\t{known(s).rsplit('.', 1)[0]}."
               for s in range(KNOWN_HOSTS * KNOWN_METRICS)]
        out += [f"ing.known.h{h:02d}.\t3\ting.known." for h in range(KNOWN_HOSTS)]
        out += ["ing.\t1\t", "ing.known.\t2\ting."]
        return out


class Progress:
    """Committed lines, from the query's own progress reports. A report is
    keyed by (batch id, trigger time): an idle trigger reports the batch id
    that the next batch with data will carry, with no rows."""

    def __init__(self, query) -> None:
        self.query = query
        self.reports: dict[tuple, dict] = {}

    def poll(self) -> int:
        last = self.query.lastProgress
        if last is not None and (last["batchId"], last["timestamp"]) not in self.reports:
            for p in self.query.recentProgress:
                self.reports.setdefault((p["batchId"], p["timestamp"]), p)
        return sum(p["numInputRows"] for p in self.reports.values())

    @property
    def batches(self) -> dict[int, dict]:
        """Batch id -> the report of that batch with rows."""
        return {bid: p for (bid, _), p in sorted(self.reports.items()) if p["numInputRows"]}

    def wait(self, lines: int, timeout: float = 60.0) -> float:
        deadline = time.perf_counter() + timeout
        while self.poll() < lines:
            if time.perf_counter() > deadline:
                raise RuntimeError(f"ingest did not commit {lines} lines in {timeout} s")
            time.sleep(0.01)
        return time.perf_counter()


def run_burst(k: int, gen: Bursts, conn, progress: Progress, svc, port: int,
              sent_before: int) -> dict:
    lines, points, new = gen.burst(k)
    time.sleep(SEND_PHASE - time.time() % 1.0 if time.time() % 1.0 < SEND_PHASE
               else 1.0 + SEND_PHASE - time.time() % 1.0)
    conn.sendall(("\n".join(lines) + "\n").encode())
    t_sent = time.perf_counter()
    t_wall = time.time()
    t_commit = progress.wait(sent_before + len(lines))
    svc.load_tree()
    t_loaded = time.perf_counter()
    start = gen.t0 + k * 60
    md = request(port, "metricdata", f"b{k}md",
                 f"/metricData?start={start}&end={start + 60}&reqKey=b{k}md",
                 {"metrics": f"ing.known.*.*,ing.new.b{k:04d}.*"})
    search = request(port, "search", f"b{k}s", f"/search?query=ing.new.b{k:04d}.*")
    return {"k": k, "lines": len(lines), "points": points, "new": new,
            "sent_wall": t_wall, "visible_ms": (search.t1 - t_sent) * 1000.0,
            "commit_ms": (t_commit - t_sent) * 1000.0,
            "load_ms": (t_loaded - t_commit) * 1000.0,
            "metricdata": md, "search": search}


def check_burst(b: dict, start: int) -> list[str]:
    import json

    errors = []
    md, search = b["metricdata"], b["search"]
    for smp in (md, search):
        if smp.status != 200:
            return [f"burst {b['k']}: HTTP {smp.status} {smp.body[:200]!r}"]
    want = {known(s): (start, start + 60, 60, [b["points"].get(known(s))])
            for s in range(KNOWN_HOSTS * KNOWN_METRICS)}
    want.update((n, (start, start + 60, 60, [b["points"][n]])) for n in b["new"])
    errors += oracle.check_metric_data(json.loads(md.body), want)
    got = set(search.body.decode().split("\n")) - {""}
    errors += oracle.check_names(f"burst {b['k']} new names", got, set(b["new"]))
    return [f"burst {b['k']}: {e}" for e in errors]


def main(ctx) -> dict:
    from pyspark.sql import functions as F

    from graphouse_spark.__main__ import build_parser, run_serve
    from graphouse_spark.sources.tables import read_data, read_metrics, write_data

    from measure import peak_rss_mb, tree_cpu_s

    spark = ctx.start_spark()
    ctx.note("spark started")
    gen = Bursts(ctx.seed)
    data, metrics = ctx.data_path, ctx.path("metrics")
    n = KNOWN_HOSTS * KNOWN_METRICS
    hist = spark.range(n * HISTORY).select(
        F.element_at(F.array(*[F.lit(known(s)) for s in range(n)]),
                     (F.col("id") % n + 1).cast("int")).alias("metric"),
        (F.col("id") % 7 * 0.5).alias("value"),
        (F.lit(gen.t0 - HISTORY * 60) + (F.col("id") / n).cast("long") * 60).alias("timestamp"),
        F.lit(gen.t0).alias("updated"))
    write_data(hist, data)
    ctx.write_tree(gen.history_rows(), metrics)
    ctx.write_tree(["ing.banned.\t2\ting."], metrics, status="BAN")
    rollup = ctx.path("rollup.xml")
    with open(rollup, "w") as f:
        f.write(ROLLUP_XML)
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        gport = s.getsockname()[1]
    args = build_parser().parse_args([
        "serve", "--data", data, "--metrics", metrics, "--checkpoint", ctx.path("ckpt"),
        "--http-port", "0", "--graphite-port", str(gport), "--trigger-seconds", "1",
        "--rollup-xml", rollup])
    svc, http, query = run_serve(args, spark=spark, block=False)
    ctx.on_exit(query.stop)
    ctx.on_exit(http.server_close)
    ctx.on_exit(http.shutdown)
    port = http.server_address[1]
    conn = None
    deadline = time.time() + 60
    while conn is None:  # the listener binds on the stream's first poll
        try:
            conn = socket.create_connection(("127.0.0.1", gport), timeout=5)
        except OSError:
            if time.time() > deadline:
                raise
            time.sleep(0.1)
    ctx.on_exit(conn.close)
    ctx.setup_done()

    progress = Progress(query)
    sent, k, bursts = 0, 0, []
    for _ in range(WARM_BURSTS):
        bursts.append(run_burst(k, gen, conn, progress, svc, port, sent))
        sent += bursts[-1]["lines"]
        k += 1
    ctx.note("warmed")
    first_batch = max(progress.batches) + 1
    cpu0 = tree_cpu_s()
    ctx.window_start = time.time()
    t0 = time.perf_counter()
    stop_at = t0 + ctx.seconds
    measured = []
    while True:
        measured.append(run_burst(k, gen, conn, progress, svc, port, sent))
        sent += measured[-1]["lines"]
        k += 1
        if time.perf_counter() >= stop_at:
            break
    elapsed = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    rss = peak_rss_mb()
    ctx.note(f"measured {len(measured)} bursts")

    errors = []
    for b in bursts + measured:
        errors += check_burst(b, gen.t0 + b["k"] * 60)
    received = progress.poll()
    if received != sent:
        errors.append(f"lines sent {sent} != lines received {received}")
    leaked = read_data(spark, data).where(
        F.col("metric").startswith("ing.banned.") | F.col("metric").startswith("ing.bad")).count()
    leaked += read_metrics(spark, metrics).where(
        (F.col("name").startswith("ing.banned.") & (F.col("name") != "ing.banned."))
        | F.col("name").startswith("ing.bad")).count()
    if leaked:
        errors.append(f"{leaked} banned or malformed rows landed")
    ctx.note("checked")
    out = {"latency_ms": [b["visible_ms"] for b in measured], "ops": len(measured),
           "elapsed_s": elapsed, "cpu_s": cpu, "rss_mb": rss, "attempted": len(measured),
           "failed": 0, "errors": errors}
    for b in measured:
        ctx.note(f"burst {b['k']}: commit {b['commit_ms']:.0f} ms, load_tree "
                 f"{b['load_ms']:.0f} ms, visible {b['visible_ms']:.0f} ms")
    if ctx.tracer is not None:
        import layers

        points = sum(len(b["points"]) for b in measured)
        client = {"client.points_per_s": points / elapsed,
                  "client.visible_p50_ms": median(out["latency_ms"]),
                  "client.cpu_us_per_point": cpu * 1e6 / points,
                  "client.metricdata_p50_ms": median([b["metricdata"].ms for b in measured])}
        samples = [b[key] for b in measured for key in ("metricdata", "search")]
        out["layers"] = layers.collect(ctx, samples, client, ingest=(progress, measured, first_batch))
    return out
