"""``tree``: one client browsing the metric tree over HTTP.

Reads are ``/search``, ``/metrics/find`` and ``/searchCachedMetrics``
with varied globs; a small share are ``/hide`` + ``/approve`` pairs on a
leaf, which change the tree and persist a status row. No read starts a
Spark job: ``tree_index``, ``globs`` and ``api.http`` do the work.

Names: 8 of 12 application names (chosen by the seed) x 3 environments
x 100 hosts, each host kept with probability 0.9 (seeded), x 4 groups x
8 leaves: about 69 k leaves and 11 k directories, loaded at set-up by
``load_tree``.
"""

from __future__ import annotations

import json
import random
import time
from urllib.parse import quote

import oracle
from measure import median, p90, request

APPS = ("api", "web", "db", "cache", "queue", "auth", "search", "mail",
        "billing", "gateway", "cdn", "batch")
ENVS = ("prod", "stage", "dev")
HOSTS = 100
GROUPS = {
    "cpu": ("user", "system", "idle", "iowait", "steal", "nice", "irq", "softirq"),
    "mem": ("used", "free", "cached", "buffers", "swap_used", "swap_free", "shared", "avail"),
    "disk": ("read", "write", "util", "await", "queue", "iops_r", "iops_w", "free"),
    "net": ("rx", "tx", "err_rx", "err_tx", "drop_rx", "drop_tx", "conn", "retrans"),
}


class Names:
    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        self.apps = rng.sample(APPS, 8)
        self.leaves: list[str] = []
        self.hosts: dict[tuple[str, str], list[str]] = {}
        for app in self.apps:
            for env in ENVS:
                hosts = [f"host{h:03d}" for h in range(HOSTS) if rng.random() >= 0.1]
                self.hosts[app, env] = hosts
                for host in hosts:
                    for group, leaves in GROUPS.items():
                        self.leaves.extend(f"{app}.{env}.{host}.{group}.{leaf}"
                                           for leaf in leaves)

    def rows(self) -> list[str]:
        """Tree rows (name, level, parent) for every leaf and directory."""
        out, dirs = [], set()
        for n in self.leaves:
            parent = n.rsplit(".", 1)[0]
            out.append(f"{n}\t5\t{parent}.")
            dirs.add(parent)
        more = set()
        for d in dirs:
            parts = d.split(".")
            for k in range(1, len(parts)):
                more.add(".".join(parts[:k]))
        for d in sorted(dirs | more):
            parent = d.rsplit(".", 1)[0] + "." if "." in d else ""
            out.append(f"{d}.\t{d.count('.') + 1}\t{parent}")
        return out


ENDPOINTS = ("search", "find", "cached")
PATHS = {"search": "/search", "find": "/metrics/find", "cached": "/searchCachedMetrics"}


def plan_round(names: Names, seed: int, rnd: int) -> tuple[list[tuple[str, str]], str]:
    """Twenty reads (ten globs, each on two endpoints) and the leaf that the
    round hides and approves again."""
    rng = random.Random(f"{seed}/{rnd}")
    app, app2 = rng.sample(names.apps, 2)
    env = rng.choice(ENVS)
    host = rng.choice(names.hosts[app, env])
    group, group2 = rng.sample(sorted(GROUPS), 2)
    leaf = rng.choice(GROUPS[group])
    globs = [
        "*",
        f"{app}.*",
        f"{app}.{env}.*",
        f"{app}.{env}.host0[5-9]?.{group}.*",
        f"{app}.*.{host}.{{{group},{group2}}}.*",
        f"*.prod.host00[0-9].{group}.*",
        f"{app}.{env}.{host}.*.*",
        f"{app}.{env}.{host}.{group}.{leaf}",
        f"{{{app},{app2}}}.{env}.host0[0-4]?.{group}.{leaf}",
        f"*.*.host0[0-9][0-9].{group}.{leaf}",
    ]
    reads = [(ENDPOINTS[(k + rnd + d) % 3], g) for k, g in enumerate(globs) for d in (0, 1)]
    return reads, rng.choice(names.leaves)


def drive(port: int, names: Names, seed: int, first_round: int,
          seconds: float) -> tuple[list, float]:
    """One client, whole rounds, until ``seconds`` have passed. Each sample
    keeps (endpoint, query, hidden leaf or None, body) for the checks."""
    samples = []
    deadline = time.perf_counter() + seconds
    t0 = time.perf_counter()
    rnd = first_round

    def get(kind, endpoint, query, hidden=None):
        req_id = f"r{rnd}q{len(samples)}"
        smp = request(port, kind, req_id, f"{PATHS[endpoint]}?query={quote(query)}")
        smp.body = (endpoint, query, hidden, smp.body)
        samples.append(smp)

    def modify(route, leaf):
        req_id = f"r{rnd}q{len(samples)}"
        smp = request(port, "modify", req_id, route, {"name": leaf})
        smp.body = (route, leaf, None, smp.body)
        samples.append(smp)

    while True:
        reads, leaf = plan_round(names, seed, rnd)
        for endpoint, query in reads:
            get(endpoint, endpoint, query)
        modify("/hide", leaf)
        get("search", "search", leaf, hidden=leaf)
        get("cached", "cached", leaf, hidden=leaf)
        modify("/approve", leaf)
        get("search", "search", leaf)
        rnd += 1
        if time.perf_counter() >= deadline:
            return samples, time.perf_counter() - t0


def check(samples: list, index: oracle.NameIndex) -> list[str]:
    """Every result set equals the reference matcher over the generated
    names; a hidden leaf is gone from /search but kept in the cached search."""
    cache: dict[str, set] = {}
    errors = []
    for smp in samples:
        endpoint, query, hidden, body = smp.body
        label = f"{smp.req_id} {endpoint} {query}"
        if smp.status != 200:
            smp.failed = True
            errors.append(f"{label}: HTTP {smp.status} {body[:200]!r}")
            continue
        text = body.decode()
        if endpoint in ("/hide", "/approve"):
            errs = [] if text == query else [f"{label}: touched {text!r}"]
        else:
            if query not in cache:
                cache[query] = index.match(query)
            want = cache[query]
            if endpoint == "search" and hidden is not None:
                want = want - {hidden}
            if endpoint == "find":
                nodes = json.loads(text)
                got = {n["id"] + ("" if n["leaf"] else ".") for n in nodes}
                errs = [f"{label}: bad node {n}" for n in nodes
                        if n["text"] != n["id"].rsplit(".", 1)[-1]
                        or n["leaf"] == n["expandable"]][:1]
            else:
                got = set(text.split("\n")) - {""}
                errs = []
            errs += oracle.check_names(label, got, want)
        if errs:
            smp.failed = True
            errors += errs
        smp.body = (endpoint, query, hidden, None)
    return errors


def client_metrics(samples: list) -> dict:
    return {
        "client.search_p50_ms": median([s.ms for s in samples if s.kind == "search"]),
        "client.find_p50_ms": median([s.ms for s in samples if s.kind == "find"]),
        "client.modify_p50_ms": median([s.ms for s in samples if s.kind == "modify"]),
        "client.req_p90_ms": p90([s.ms for s in samples]),
    }


def main(ctx) -> dict:
    from graphouse_spark.api.service import GraphouseService

    from measure import peak_rss_mb, tree_cpu_s

    ctx.start_spark()
    ctx.note("spark started")
    names = Names(ctx.seed)
    metrics = ctx.path("metrics")
    ctx.write_tree(names.rows(), metrics)
    ctx.note(f"tree table written: {len(names.leaves)} leaves")
    svc = GraphouseService(ctx.spark, ctx.data_path, metrics)
    svc.load_tree()
    ctx.note("tree loaded")
    port = ctx.serve(svc)
    ctx.setup_done()

    warm, _ = drive(port, names, ctx.seed, 0, 0)
    cpu0 = tree_cpu_s()
    ctx.window_start = time.time()
    samples, elapsed = drive(port, names, ctx.seed, 1, ctx.seconds)
    cpu = tree_cpu_s() - cpu0
    rss = peak_rss_mb()
    ctx.note(f"measured {len(samples)} requests")
    index = oracle.NameIndex(names.leaves)
    errors = check(warm, index) + check(samples, index)
    ctx.note("checked")
    out = {"latency_ms": [s.ms for s in samples], "ops": len(samples), "elapsed_s": elapsed,
           "cpu_s": cpu, "rss_mb": rss, "attempted": len(samples),
           "failed": sum(1 for s in samples if s.failed), "errors": errors}
    if ctx.tracer is not None:
        import layers

        out["layers"] = layers.collect(ctx, samples, client_metrics(samples))
    return out
