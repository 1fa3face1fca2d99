"""Benchmark entry point: run one workload and print one result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The last line on stdout is the JSON
result; everything else (Spark, log4j, the progress bar, this script's
own notes) goes to stderr. All state lives in a fresh directory under
``perfbench/.tmp/`` that is removed at exit, and every process the run
starts is stopped before the result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402

WORKLOADS = ("dashboard", "tree", "ingest")


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, seed: int, seconds: float, run_dir: str, tracer) -> None:
        self.seed, self.seconds, self.run_dir, self.tracer = seed, seconds, run_dir, tracer
        self.data_path = self.path("data")
        self.spark = None
        self.setup_s = None
        #: wall-clock start of the measured window (traced runs use it)
        self.window_start = None
        #: Spark's jobs, read from the status store by a traced run
        self.jobs: list[dict] = []
        self._cleanups: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def start_spark(self):
        from graphouse_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def write_tree(self, rows: list[str], metrics_path: str, status: str = "SIMPLE") -> None:
        """Write ``name<TAB>level<TAB>parent`` rows as tree rows of one
        status through ``sources.tables.write_metrics``."""
        from pyspark.sql import functions as F

        from graphouse_spark.sources.tables import write_metrics

        src = self.path("metric_rows.tsv")
        with open(src, "w") as f:
            f.write("\n".join(rows) + "\n")
        frame = self.spark.read.csv(src, sep="\t",
                                    schema="name string, level int, parent string")
        write_metrics(frame.select(
            "name", "level", F.coalesce("parent", F.lit("")).alias("parent"),
            F.lit(status).alias("status"), F.current_timestamp().alias("updated")),
            metrics_path)

    def serve(self, svc) -> int:
        """Serve ``svc`` over HTTP on an ephemeral port; returns the port."""
        from graphouse_spark.api.http import start_http_server

        http = start_http_server(svc)
        self.on_exit(http.server_close)
        self.on_exit(http.shutdown)
        return http.server_address[1]

    def on_exit(self, fn) -> None:
        """Register a cleanup; cleanups run last-in first-out."""
        self._cleanups.append(fn)

    def note(self, what: str) -> None:
        """A progress line on stderr, stamped with the process age."""
        print(f"[perfbench {measure.process_age_s():7.2f} s] {what}", file=sys.stderr, flush=True)

    def setup_done(self) -> None:
        """Set-up ends here: time since the process started."""
        self.setup_s = measure.process_age_s()
        self.note("set-up done")

    def close(self) -> None:
        while self._cleanups:
            fn = self._cleanups.pop()
            try:
                fn()
            except Exception:  # noqa: BLE001 - keep cleaning up
                traceback.print_exc()
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait for every process under this one."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    wait_descendants()


def wait_descendants(timeout: float = 30.0) -> None:
    """Wait until no process under this one is left; kill stragglers."""
    me = os.getpid()
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in measure.descendants() if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes still running: {left}")
            sig, deadline = signal.SIGKILL, time.time() + 10
        for p in left:  # reap direct children
            try:
                os.waitpid(p, os.WNOHANG)
            except OSError:
                pass
        time.sleep(0.1)


def environment(run_dir: str) -> None:
    """Keep Spark, the JVM and the Python workers inside the run directory
    and small: a 2 GB heap, one Spark core per CPU up to four."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = str(min(4, len(os.sched_getaffinity(0))))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)


E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s",
             "cpu_ms_per_op": "ms", "service_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    # the result goes to the real stdout; everything else, children
    # included, writes to stderr through fd 1
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    base = os.path.join(HERE, ".tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    ctx = None
    try:
        environment(run_dir)
        import importlib

        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
            spans.install(tracer)
        ctx = Ctx(args.seed, args.seconds, run_dir, tracer)
        out = importlib.import_module(args.workload).main(ctx)
        if args.trace:
            tracer.dump(os.path.join(HERE, "trace-out", f"{args.workload}-{args.seed}.jsonl"),
                        ctx.jobs)
        ctx.close()
    except BaseException:
        traceback.print_exc()
        if ctx is not None:
            ctx.close()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    for e in out["errors"][:20]:
        print("MISMATCH", e, file=sys.stderr)
    values = {"setup_s": ctx.setup_s, "latency_p50_ms": measure.median(out["latency_ms"]),
              "ops_per_s": out["ops"] / out["elapsed_s"],
              "cpu_ms_per_op": out["cpu_s"] * 1000.0 / out["ops"],
              "service_rss_mb": out["rss_mb"]}
    # end-to-end figures go to stderr in both modes: their traced/untraced
    # gap is the tracing overhead
    print("end-to-end:", json.dumps(values), file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in out["layers"].items()}
    else:
        metrics = {k: {"value": round(v, 6), "unit": E2E_UNITS[k]} for k, v in values.items()}
    result = {"correct": not out["errors"], "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
