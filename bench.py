"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": "..."}

Each query runs once after a warm-up pass of the input scans (the JVM
and file cache warm exactly like a long-lived cluster would be); the
timed number is the end-to-end action (collect/count) including
shuffle + aggregation.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from graphouse_spark.session import get_spark

#: pinned reference host calib (the r11 builder-gate quiet-box run,
#: GATE.json bench line): all *_norm numbers are rescaled to THIS
#: host, so "cpu went up" across rounds means the plan, not the box.
#: Re-pin only when the probes themselves change shape.
REF_CALIB = {"numpy_cpu_sec": 0.6764, "jvm_cpu_sec": 7.7221}
#: per-query detail file, relative to this script (git-ignored)
DETAIL_PATH = "bench-out/BENCH_DETAIL.json"

#: benchmark set: the flagship read path + the heaviest operators
BENCH_QUERIES = [
    "gh_bucket_agg",
    "gh_two_level_agg",
    "gh_gap_fill",
    "gh_lww_dedup",
    "gh_session_window",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "window_rank",
    "asof_click_attrib",
    "interval_click_density",
    "doc_exact_dedup",
    "doc_token_stats",
    "doc_minhash_neardup",
    "doc_winnow_pairs",
    "emb_cosine_topk",
    "emb_cosine_topk_np",  # same logical op, Arrow strategy — keep both visible
]

#: round-2+ operators benched separately so headline totals stay
#: comparable round over round (same 20-query basket since r1)
EXTENDED_QUERIES = [
    "doc_minhash_np",      # Arrow signature kernel (scale path of minhash)
    "doc_dedup_clusters",  # iterative connected components
    "doc_simhash_pairs",   # banded hamming LSH
    "doc_tfidf_topk",
    "emb_quantize",
    "doc_contamination",   # eval-set 8-gram leak check
    "doc_pack_sequences",  # token-budget FFD packing
    "doc_corpus_pipeline", # dedup -> decontaminate -> sample, one DAG
    "doc_chunk_dedup",     # corpus-wide exact chunk dedup (explode-heavy)
    "doc_repetition",      # Gopher repetition signals (two-level gram agg)
    "ev_window_funnel",    # CH windowFunnel (filtered-min chain)
    "doc_quality_gate",    # composed 4-signal quality gate
    "emb_pq_topk",         # product-quantization ANN (train+encode+ADC)
    "gh_rollup_navigate",  # aggregate navigation from a partial-sum rollup
    "ev_topk_users",       # bounded-state heavy hitters (mapInPandas summaries)
    "ev_sum_map",          # CH sumMap as flat-row two-level agg
    "sketch_value_quantiles",  # mergeable bfloat16 quantile sketch
    "ts_ema",              # truncated EMA, exact rational integer weights
    # round-3 operators
    "doc_duplicated_spans",    # corpus-wide exact substring spans
    "ev_max_intersections",    # sweep-line concurrency peak
    "ev_moments",              # exact-decimal skew/kurtosis
    "ev_sequence_next",        # sorted-array chain scan
    "multimodal_decode",       # byte-built image round-trip decode
    "join_any",                # ANY-strictness first-match join
    # round-3 continuation
    "doc_lm_perplexity",       # corpus-trained bigram-LM quality scores
    "doc_url_funcs",           # CH URL-function family (regexp dialect)
    "ev_json_dialect",         # CH JSON-function family over props
    "ts_select_series",        # graphite generic selector+filter
    "ev_weighted_quantiles",   # CH quantileExactWeighted
    "emb_twostage_topk",       # Matryoshka coarse-to-fine retrieval
    "ev_funnel_latency",       # time-to-convert distribution
    "doc_ppl_buckets",         # CCNet head/middle/tail perplexity split
    "doc_corpus_pipeline_v2",  # dedup -> LM gate -> sample, one plan
    "doc_langid_ngram",        # Cavnar-Trenkle trigram profiles
    "doc_pooled_embed",        # chunk-and-pool long-doc embeddings
    "sketch_audience_overlap", # HLL inclusion-exclusion intersection
    # graphite rounds 8-9
    "ts_linreg_line",          # per-series OLS fit line
    "ts_series_lists",         # rank-paired divide/sumSeriesLists
    "ts_remove_between_pctl",  # per-ts percentile band prune
    "ts_map_reduce",           # reduceSeries as one equi-join
    "ts_lttb",                 # shape-preserving downsample (CH LTTB)
    # round 4
    "multimodal_resize",       # real decode->resample->PNG re-encode
    # round 5
    "multimodal_video",        # MJPEG MP4 sample-table decode
    "doc_gopher_rules",        # Gopher quality rule-pack (one projection)
    "doc_c4_filters",          # C4 line-level cleaning + doc drops
    # round 7
    "emb_w2v_neighbors",       # in-sandbox Word2Vec train + serve + top-k
    "doc_quality_rulepacks",   # fused gopher+c4+dup-lines gate, one plan
    # round 9
    "doc_exact_substr_dedup",  # Lee et al. ExactSubstr removal transform
]


class _StageMeter:
    """Per-query executor metrics from the JVM AppStatusStore (always
    populated, UI on or off). Wall-clock on this host swings 1.2-2x
    with ambient load on byte-identical plans (measured rounds 2/4/6);
    executor task-time and shuffle bytes are properties of the PLAN, so
    round-over-round comparisons should read these. Stage IDs are
    monotonic, so "stages since a snapshot" survives the status
    store's retained-stage eviction."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm, self._gw = sc._jvm, sc._gateway

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        return self._store.stageList(
            empty, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList())

    def max_stage_id(self) -> int:
        seq, hi = self._stages(), -1
        for i in range(seq.size()):
            hi = max(hi, seq.apply(i).stageId())
        return hi

    def since(self, snapshot_id: int) -> dict[str, float]:
        """Sum task metrics over stages newer than the snapshot,
        polling briefly until the async listener queue settles."""
        last = None
        for _ in range(20):
            seq, agg = self._stages(), [0, 0, 0, 0, 0, 0]
            for i in range(seq.size()):
                s = seq.apply(i)
                if s.stageId() <= snapshot_id:
                    continue
                agg[0] += s.executorRunTime()
                agg[1] += s.shuffleReadBytes()
                agg[2] += s.shuffleWriteBytes()
                agg[3] += s.inputBytes()
                agg[4] += s.diskBytesSpilled() + s.memoryBytesSpilled()
                agg[5] += s.executorCpuTime()
            if agg == last:
                break
            last = agg
            time.sleep(0.05)
        mb = 1024.0 * 1024.0
        return {
            "task_sec": round(last[0] / 1000.0, 4),
            # executorCpuTime: JVM CPU only — excludes time JVM threads
            # spend BLOCKED on Python workers (Arrow round-trips) and
            # scheduler preemption, both of which inflate task_sec under
            # ambient load. The round-8 emb_w2v_neighbors "regression"
            # (task_sec 1.97->2.70 on a byte-identical plan) was exactly
            # this: cpu_sec is the number to compare across rounds for
            # Python/ML-stage queries.
            "cpu_sec": round(last[5] / 1e9, 4),
            "shuffle_read_mb": round(last[1] / mb, 3),
            "shuffle_write_mb": round(last[2] / mb, 3),
            "input_mb": round(last[3] / mb, 3),
            "spill_mb": round(last[4] / mb, 3),
        }

    def stages_since(self, snapshot_id: int) -> list[dict]:
        """Per-stage detail for plan audits (e.g. a 1-task stage
        chewing through gigabytes is a scale-killer)."""
        seq, out = self._stages(), []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= snapshot_id:
                continue
            out.append({
                "stage_id": s.stageId(),
                "num_tasks": s.numTasks(),
                "input_mb": round(s.inputBytes() / 1048576.0, 2),
                "shuffle_read_mb": round(s.shuffleReadBytes() / 1048576.0, 2),
                "task_sec": round(s.executorRunTime() / 1000.0, 3),
            })
        return out


def _calibrate(spark, meter: _StageMeter) -> dict:
    """Fixed-work host-speed probes (round-10 verdict #3): two rounds in
    a row were adjudicated through a "the box got slower" caveat on
    long-vector-loop kernels. These two loops are byte-identical every
    round, so cross-round cpu_sec claims can be NORMALIZED against them
    instead of argued:

    - ``numpy``: a md5 + numpy-broadcast loop shaped exactly like the
      Arrow minhash kernel (the workload class that drifted 35-45%
      between rounds 9 and 10 on identical code);
    - ``jvm``: one fixed Spark aggregation over ``range`` (pure
      whole-stage-codegen arithmetic, no I/O, no Python).

    Reported per probe: wall seconds and cpu seconds (process cpu for
    numpy; executorCpuTime for jvm). Ratios vs a prior round's calib
    estimate how much of a kernel's cpu delta is the HOST, not the plan.
    """
    import hashlib

    import numpy as np

    rng = np.random.default_rng(0)
    A = rng.integers(1, 1 << 30, size=64, dtype=np.uint64)[:, None]
    B = rng.integers(0, 1 << 60, size=64, dtype=np.uint64)[:, None]
    P = np.uint64((1 << 61) - 1)
    n_docs, n_shingles = 800, 600
    acc = 0

    def np_probe() -> tuple[float, float]:
        nonlocal acc
        t0w, t0c = time.perf_counter(), time.process_time()
        for i in range(n_docs):
            hs = np.fromiter(
                (int(hashlib.md5(f"tok{i}-{j}".encode()).hexdigest()[:8], 16)
                 for j in range(n_shingles)),
                dtype=np.uint64, count=n_shingles)[None, :]
            acc ^= int(((A * hs + B) % P).min(axis=1).sum())
        return time.perf_counter() - t0w, time.process_time() - t0c

    n_rows = 100_000_000

    def jvm_probe(seed: int) -> tuple[float, float]:
        # fresh plan per call: re-collecting the SAME DataFrame object
        # reuses its map-side shuffle files (stage skipped) and measures
        # nothing. modulo before summing: raw xxhash64 longs overflow
        # the ANSI sum.
        q = spark.range(n_rows, numPartitions=8).select(
            F.sum(F.xxhash64((F.col("id") * 2654435761 + seed)
                             .cast("string")) % 1000003))
        snap = meter.max_stage_id()
        t0w = time.perf_counter()
        q.collect()
        return time.perf_counter() - t0w, meter.since(snap)["cpu_sec"]

    # one warm (codegen compile + JIT), then min-of-2 measured — the
    # same steady-state protocol as the query baskets. Minima are
    # PER-METRIC (round-11 ADVICE): min() over (wall, cpu) tuples is
    # lexicographic and reports the cpu of the min-WALL run; under
    # noise the jvm probe's listener-derived cpu can anticorrelate
    # with wall, which weakens the very normalization this exists for.
    jvm_probe(0)
    np_probe()
    np_runs = [np_probe() for _ in range(2)]
    jvm_runs = [jvm_probe(s) for s in (1, 2)]
    np_wall = min(w for w, _ in np_runs)
    np_cpu = min(c for _, c in np_runs)
    jvm_wall = min(w for w, _ in jvm_runs)
    jvm_cpu = min(c for _, c in jvm_runs)
    return {
        "numpy_wall_sec": round(np_wall, 4),
        "numpy_cpu_sec": round(np_cpu, 4),
        "numpy_work": f"{n_docs}x{n_shingles} md5+broadcast (checksum {acc & 0xffff})",
        "jvm_wall_sec": round(jvm_wall, 4),
        "jvm_cpu_sec": round(jvm_cpu, 4),
        "jvm_work": f"xxhash64-sum over range({n_rows})",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("graphouse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    meter = _StageMeter(spark)

    queries = entry_mod.queries()

    # warm-up: touch every input file once (OS page cache + JVM JIT)
    for t in ["events", "lineitem", "orders", "customer", "supplier",
              "nation", "region", "documents", "embeddings"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # each query runs twice: the first execution pays one-time
    # whole-stage-codegen compilation + JIT (~0.5-2 s per novel plan —
    # at sf<=0.1 that fixed cost dwarfs the actual compute); the second
    # run is the steady-state number a long-lived cluster sees.
    def run_set(names: list[str], repeats: int = 1):
        timings: dict[str, float] = {}
        tasks: dict[str, dict[str, float]] = {}
        for name in names:
            fn = queries[name]
            fn(spark, sf_dir).count()  # compile + warm
            # timed executions, keep the MIN: this host shows heavy
            # noisy-neighbor variance (the same plan measured 2-3x apart
            # minutes apart); min-of-N is the standard noise-robust
            # steady-state estimator. Both baskets run min-of-2 — the
            # single-run extended set is exactly where round 2's and
            # round 4's phantom 1.2-2x drifts landed. Each execution
            # recomputes the full pipeline — clearCache drops
            # intra-query persist() results.
            best, n, best_task = float("inf"), 0, None
            for _ in range(repeats):
                spark.catalog.clearCache()
                snap = meter.max_stage_id()
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                wall = time.perf_counter() - t0
                stats = meter.since(snap)
                best = min(best, wall)
                # task-time is plan-determined; keep the min too (load
                # only ever inflates it). Bytes are identical per run.
                if best_task is None or stats["task_sec"] < best_task["task_sec"]:
                    best_task = stats
            timings[name] = round(best, 4)
            tasks[name] = best_task
            print(f"# {name}: {timings[name]:.3f}s wall / "
                  f"{best_task['task_sec']:.2f}s task / "
                  f"{best_task['shuffle_write_mb']:.1f}MB shuffle ({n} rows)",
                  file=sys.stderr)
        return timings, tasks

    # quiet-box protocol (round-8 verdict #8): wall deltas measured at
    # loadavg ~6 needed manual adjudication round over round. If the
    # box is busy at start, wait for it to settle (bounded) and report
    # quiet=false when it never does, so readers know up front whether
    # wall numbers carry noisy-neighbor drift.
    quiet_threshold = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "4"))
    settle_deadline = time.time() + float(
        os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "120"))

    def is_quiet() -> bool:
        # the 1-min average alone dips below threshold in the gaps
        # between bursts (observed: 1-min 3.8 with 5-min 9.9 right
        # after a heavy run) — require the 5-min average to agree.
        # STRICTLY below (round-9 verdict #6): the r9 sample passed
        # with l5 exactly at its bound and produced the round's only
        # wall regression; a gate that passes at its own boundary
        # invites round-over-round adjudication.
        l1, l5, _ = os.getloadavg()
        return l1 < quiet_threshold and l5 < 2 * quiet_threshold

    # minimum settle even when the box already looks quiet: loadavg is
    # exponentially damped, so the first seconds after a heavy process
    # exits still read stale-high (or stale-LOW right after boot) —
    # sample after the window has absorbed the current state
    min_settle = float(os.environ.get("SPARK_GRAFT_MIN_SETTLE_SEC", "15"))
    time.sleep(min_settle)
    while not is_quiet() and time.time() < settle_deadline:
        print(f"# loadavg {os.getloadavg()[:2]} above "
              f"({quiet_threshold}, {2 * quiet_threshold}); waiting for "
              "the box to settle", file=sys.stderr)
        time.sleep(10)
    load_before = os.getloadavg()
    quiet = is_quiet()
    # quiet_margin (round-11 verdict #6): the r11 driver run passed
    # quiet=true at 5-min loadavg 7.96 — one hundredth under the
    # 2*threshold bound — and produced a +15% wall artifact that
    # needed the calib block to adjudicate. Grade the margin in the
    # artifact itself so marginal runs are visible up front:
    # margin = how far (fraction of bound) the binding loadavg sits
    # BELOW its limit; <0.15 on either average => "marginal".
    l1b, l5b, _ = load_before
    quiet_margin = round(min(1 - l1b / quiet_threshold,
                             1 - l5b / (2 * quiet_threshold)), 3)
    quiet_grade = ("loaded" if not quiet
                   else "marginal" if quiet_margin < 0.15 else "quiet")
    calib = _calibrate(spark, meter)
    print(f"# calib: numpy {calib['numpy_cpu_sec']:.2f}s cpu / "
          f"jvm {calib['jvm_cpu_sec']:.2f}s cpu", file=sys.stderr)
    # headline basket: min-of-3 (round-12 verdict #5 — two same-day
    # quiet-box gates on near-identical trees differed 12% at
    # min-of-2; a third sample tightens the wall-noise band the
    # cross-round comparisons must clear). Extended basket stays
    # min-of-2: it is read via task_sec/cpu_sec (load-invariant), not
    # wall, and a third pass of its ~30 s costs more than it informs.
    timings, task_stats = run_set(BENCH_QUERIES, repeats=3)
    extended, ext_task_stats = run_set(EXTENDED_QUERIES, repeats=2)
    load_after = os.getloadavg()

    # Per-query executor task-time + shuffle/input/spill bytes and the
    # per-query extended walls go to bench-out/BENCH_DETAIL.json beside
    # this script (git-ignored, so a run leaves the checkout clean):
    # a harness may keep only a bounded tail of stdout, and
    # round 6's artifact proved the full payload truncates mid-token
    # ("parsed": null). The ONE stdout line below stays compact enough
    # to survive a 2000-char tail capture; the detail file carries the
    # load-invariant numbers rounds are compared on.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               DETAIL_PATH)
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as fh:
        json.dump({
            "calib": calib,
            "task_metrics": task_stats,
            "extended": extended,
            "extended_task_metrics": ext_task_stats,
            "mode": "steady-state min-of-3 headline / min-of-2 extended "
                    "(per-query warm run; cold run excluded)",
            "sf": sf,
        }, fh, indent=1, sort_keys=True)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        # executor task-time totals (sum of task run time): the
        # load-invariant numbers to compare across rounds — wall above
        # is the user-facing one; per-query breakdown in detail file
        "task_time_total": round(
            sum(t["task_sec"] for t in task_stats.values()), 4),
        # JVM-CPU-only totals: immune to Python-worker wait and
        # preemption — THE cross-round comparison number
        "cpu_time_total": round(
            sum(t["cpu_sec"] for t in task_stats.values()), 4),
        "extended_total": round(sum(extended.values()), 4),
        "extended_task_time_total": round(
            sum(t["task_sec"] for t in ext_task_stats.values()), 4),
        "extended_cpu_time_total": round(
            sum(t["cpu_sec"] for t in ext_task_stats.values()), 4),
        "quiet": quiet,
        "quiet_grade": quiet_grade,
        "quiet_margin": quiet_margin,
        # fixed-work host-speed probes: normalize cross-round cpu_sec
        # deltas against these before attributing them to plan changes
        "calib": calib,
        # calib-NORMALIZED totals (round-11 verdict #4): cpu totals
        # rescaled to the pinned r11 quiet-box reference host, so
        # cross-round cpu claims compare plans, not boxes. cpu_sec is
        # JVM executorCpuTime => jvm ratio; python-kernel task_sec
        # claims in PLANS.md use host_ratio_numpy the same way.
        "host_ratio_jvm": round(REF_CALIB["jvm_cpu_sec"]
                                / calib["jvm_cpu_sec"], 4),
        "host_ratio_numpy": round(REF_CALIB["numpy_cpu_sec"]
                                  / calib["numpy_cpu_sec"], 4),
        "cpu_time_total_norm": round(
            sum(t["cpu_sec"] for t in task_stats.values())
            * REF_CALIB["jvm_cpu_sec"] / calib["jvm_cpu_sec"], 4),
        "extended_cpu_time_total_norm": round(
            sum(t["cpu_sec"] for t in ext_task_stats.values())
            * REF_CALIB["jvm_cpu_sec"] / calib["jvm_cpu_sec"], 4),
        # ambient-load indicator: a 1-min loadavg far above the bench's
        # own footprint means the numbers carry noisy-neighbor drift
        # (the round-2 and round-4 phantom regressions) — read deltas
        # against this, not as plan changes
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        # self-evidencing CPU contract (round-13 verdict #2): the
        # effective master / parallelism this run actually used, so a
        # low-core driver run proves $SPARK_GRAFT_CPUS was honored
        # from the artifact alone
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "detail": DETAIL_PATH,
        "sf": sf,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
