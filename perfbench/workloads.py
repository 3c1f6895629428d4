"""The crawl workloads and one measured crawl.

Load model: a closed loop with one caller. One driver process runs
``local[cores]`` and executes one crawl at a time; each crawl starts when
the previous one has been counted and checked.

Every crawl is timed from ``SparkCrawler(...)`` until its ``pages`` and
``seen`` are counted, which includes corpus keying and the edge build that
users pay on every crawl. Its counters cover exactly the Spark jobs
launched in that window. The oracle check and any trace-only inspection
run after the window closes.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import functions as F

from cobweb_spark.config import CrawlConfig
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.plans.state import SnapshotStore

from . import sparkenv
from .dataprep import LAYERS as DATAPREP_LAYERS, OPERATORS
from .inputs import sequence_digest
from .tracing import PREFIX, covered, self_times

LAYERS = (
    "corpus", "edges", "admit", "fetch", "expand", "filters", "state", "crawler"
)
WAVE_GROUP = re.compile(r"^(wave-\d+|drain)$")
# per-job counters; jvm_task_cpu_s is Spark's executorCpuTime, the CPU of the
# JVM task threads only (Python UDF work runs in the workers)
COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "jvm_task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
# spill reads 0 at these sizes: it stays in the results record but is not
# a per-layer metric
LAYER_COUNTERS = {k: u for k, u in COUNTER_UNITS.items() if k != "spill_mb"}
# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    **{
        f"{layer}.{k}": u
        for layer in LAYERS + DATAPREP_LAYERS
        for k, u in {"calls": "count", "span_s": "s", "self_s": "s", **LAYER_COUNTERS}.items()
    },
    **{f"unattributed.{k}": u for k, u in LAYER_COUNTERS.items()},
    **{f"{layer}.{op}.span_s": "s" for layer, op, _ in OPERATORS},
    "session.start_s": "s",
    "edges.rows": "count",
    "admit.admitted_ratio": "ratio",
    "fetch.redirect_hops": "count",
    "fetch.hit_ratio": "ratio",
    "expand.fresh_ratio": "ratio",
    "state.bytes_written": "bytes",
    "crawler.waves": "count",
    "crawler.wave_s_p50": "s",
    "crawler.wave_s_max": "s",
    "crawler.jobs_per_wave": "count",
    "crawler.driver_gap_s": "s",
    "trace.urls_per_s": "URLs/s",
    "trace.overhead_ratio": "ratio",
    "trace.cpu_s": "s",
    "trace.python_workers_cpu_s": "s",
}

# the untimed warm-up crawl: the workload's config over a tiny corpus of
# the same shape, for enough waves to load the JVM, codegen and Python
# worker paths of every wave kind
WARM_SHAPE = {"hosts": 4, "pages": 10, "seeds": 4}
WARM_WAVES = 1


@dataclass(frozen=True)
class CrawlWorkload:
    name: str
    why: str
    shape: dict  # passed to inputs.CrawlInput
    config: Callable[[list, int], CrawlConfig]  # (seed_urls, n_docs)
    snapshots: bool = False  # crawl with a SnapshotStore
    dataprep: bool = False  # traced run ends with the dataprep pass

    def warm_config(self, seeds, n_docs):
        return self.config(seeds, n_docs).with_(max_waves=WARM_WAVES)


def _bfs_config(seeds, n_docs):
    # the dictionary edge path of bench.py's headline crawl. The bloom
    # tier's engage threshold scales with the corpus (bench.py: 1M of
    # 1.01M URLs), so it engages in the crawl's later waves here too
    return CrawlConfig(
        internal_urls=["http://*"],
        seed_urls=seeds,
        store_inbound_links=False,
        precompute_edges=True,
        prefilter_min_seen=max(1, int(0.4 * n_docs)),
    )


def _polite_config(seeds, n_docs):
    # the default config (per-wave span extraction, inbound links stored)
    # plus a per-host budget that binds on the mega-host in most waves and
    # a crawl_limit above the reachable count: every wave pays the limit
    # cut, no crawl is truncated
    return CrawlConfig(
        internal_urls=["http://*"],
        seed_urls=seeds,
        host_budget=120,
        crawl_limit=2 * n_docs,
    )


WORKLOADS = {
    w.name: w
    for w in (
        CrawlWorkload(
            name="crawl_bfs",
            why="bench.py's crawl shape on the dictionary edge path; the bloom "
            "tier engages, admission and snapshots are bypassed; trace adds the "
            "dataprep pass",
            shape={"hosts": 16, "pages": 100, "seeds": 60},
            config=_bfs_config,
            dataprep=True,
        ),
        CrawlWorkload(
            name="crawl_polite",
            why="default config (per-wave span extraction) with a binding host "
            "budget, the limit cut and per-wave snapshot commits; bloom tier idle",
            shape={"hosts": 10, "pages": 20, "seeds": 100},
            config=_polite_config,
            snapshots=True,
        ),
    )
}


@dataclass
class CrawlRun:
    wall_s: float
    fetched: int
    correct: bool
    totals: dict
    cpu: dict  # process CPU seconds by part; "total" is their sum
    steal: float
    layers: dict | None = None


def matches_oracle(n_fetched: int, n_seen: int, rows, answer: dict) -> bool:
    """The oracle gate: fetched count, seen count and the digest of the
    ``(fetch_order, url, status_code)`` sequence must all match."""
    return (
        n_fetched == answer["fetched"]
        and n_seen == answer["seen"]
        and sequence_digest(rows) == answer["digest"]
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def crawl_once(
    spark, store, inp, docs, run_id, tracer=None, state_dir=None, bench_tids=()
) -> CrawlRun:
    """One timed crawl of ``docs``, checked against the oracle answer.
    With ``state_dir`` the crawl commits every wave to a fresh
    ``SnapshotStore`` there, which is removed afterwards. ``bench_tids``
    are driver threads whose CPU is left out of the crawl's."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{run_id}")
    snapshots = None
    if state_dir is not None:
        shutil.rmtree(state_dir, ignore_errors=True)
        snapshots = SnapshotStore(spark, state_dir)
    if tracer is not None:
        tracer.run = run_id
        tracer.install()
    lo = store.last_job_id()
    cpu0 = sparkenv.cpu_times()
    proc0 = sparkenv.process_cpu(bench_tids)
    t0 = time.perf_counter()
    try:
        crawler = SparkCrawler(spark, docs, inp.cfg, snapshot_store=snapshots)
        res = crawler.crawl(None)
        n_fetched = res.pages.count()
        n_seen = res.seen.count()
        wall = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.uninstall()
    proc1 = sparkenv.process_cpu(bench_tids)
    steal = sparkenv.steal_share(cpu0, sparkenv.cpu_times())
    cpu = {k: proc1[k] - proc0[k] for k in proc0}
    cpu["total"] = sum(cpu.values())
    hi = store.last_job_id()
    sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{run_id}-check")
    rows = (
        res.pages.select("fetch_order", "url", "status_code")
        .orderBy("fetch_order")
        .collect()
    )
    correct = matches_oracle(n_fetched, n_seen, rows, inp.answer)
    jobs = store.window(lo, hi)
    totals = {}
    for j in jobs:
        sparkenv.add_counters(totals, sparkenv.job_counters(j))
    totals["state_bytes"] = dir_bytes(state_dir) if state_dir else 0
    run = CrawlRun(wall, n_fetched, correct, totals, cpu, steal)
    if tracer is not None:
        run.layers = layer_table(tracer, jobs, res, crawler, inp, totals)
        run.layers["trace.cpu_s"] = cpu["total"]
        run.layers["trace.python_workers_cpu_s"] = cpu["python_workers"]
    crawler.close()
    if state_dir is not None:
        shutil.rmtree(state_dir, ignore_errors=True)
    return run


def layer_table(tracer, jobs, res, crawler, inp, totals) -> dict:
    """Per-layer metrics of one traced crawl."""
    spans = [s for s in tracer.spans if s.run == tracer.run]
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        out[f"{layer}.calls"] = len(mine)
        out[f"{layer}.span_s"] = sum(s.end - s.start for s in mine)
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine)
        for k in COUNTER_UNITS:
            out[f"{layer}.{k}"] = 0
    for k in COUNTER_UNITS:
        out[f"unattributed.{k}"] = 0
    wave_jobs = 0
    for j in jobs:
        desc, group = j.get("description") or "", j.get("jobGroup") or ""
        wave_jobs += group.startswith("wave-")
        if desc.startswith(PREFIX) and int(desc[len(PREFIX) :]) in by_id:
            layer = by_id[int(desc[len(PREFIX) :])].layer
        elif WAVE_GROUP.match(group):
            layer = "crawler"
        else:
            layer = "unattributed"
        for k, v in sparkenv.job_counters(j).items():
            out[f"{layer}.{k}"] += v
    for k in ("tasks", "shuffle_mb"):
        parts = sum(out[f"{l}.{k}"] for l in LAYERS + ("unattributed",))
        if abs(parts - totals[k]) > 1e-6 * max(1, totals[k]):
            raise sparkenv.CountersIncomplete(
                f"per-layer {k} sum {parts} != run total {totals[k]}"
            )

    # layer-specific ratios and sizes (read after the timed window)
    obs = tracer.observed
    out["state.bytes_written"] = totals["state_bytes"]
    out["admit.admitted_ratio"] = (
        obs.get("admit.admitted", 0) / obs["admit.frontier"]
        if obs.get("admit.frontier")
        else 0.0
    )
    out["expand.fresh_ratio"] = obs.get("expand.fresh", 0) / max(
        inp.answer["candidate_links"], 1
    )
    agg = res.pages.agg(
        F.sum(
            F.when(
                F.col("redirect_through").isNotNull(), F.size("redirect_through")
            ).otherwise(0)
        ).alias("hops"),
        F.avg(F.col("corpus_hit").cast("double")).alias("hit"),
    ).collect()[0]
    out["fetch.redirect_hops"] = agg["hops"] or 0
    out["fetch.hit_ratio"] = agg["hit"] or 0.0
    edges = crawler._edges_sel  # the cached per-wave edge table, if built
    out["edges.rows"] = edges.count() if edges is not None else 0
    crawl_spans = [s for s in spans if s.layer == "crawler"]
    waves = [m["t_fetch"] + m["t_expand"] for m in res.metrics]
    out["crawler.waves"] = res.n_waves
    out["crawler.wave_s_p50"] = statistics.median(waves) if waves else 0.0
    out["crawler.wave_s_max"] = max(waves, default=0.0)
    out["crawler.jobs_per_wave"] = wave_jobs / max(res.n_waves, 1)
    gap = 0.0
    for sp in crawl_spans:
        s, e = sp.start + tracer.epoch, sp.end + tracer.epoch
        busy = [
            (max(s, j["submissionTime"] / 1e3), min(e, j["completionTime"] / 1e3))
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
        gap += (e - s) - covered([(a, b) for a, b in busy if b > a])
    out["crawler.driver_gap_s"] = gap
    return out
