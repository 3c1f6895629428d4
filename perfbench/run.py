"""Crawl benchmark for cobweb_spark.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Generates the workload's corpus
from ``--seed``, computes the pure-Python oracle answer (cached under
``perfbench/.work``), starts one host-sized Spark session, runs an
untimed warm-up crawl, then crawls the corpus in a closed loop for at
least ``--seconds`` seconds, checking every crawl against the oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs two
untraced crawls and then one traced crawl, and prints the per-layer
metrics; tracing overhead compares the traced crawl with the second
untraced one, so both follow the same warm-up. On the workload that
carries it, the traced run ends with the oracle-checked dataprep pass
(``perfbench/dataprep.py``), which gives the ``textops`` and
``similarity`` layers. The last
line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a human-readable table
and the input sizes come before it, and the full record (host shape,
effective Spark conf, per-crawl numbers, steal share, spans) is written
to ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "urls_per_s": "URLs/s",
    "setup_s": "s",
    "cpu_s": "s",
    "spark_jobs": "count",
    "spark_tasks": "count",
    "shuffle_mb": "MB",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cobweb_spark", "__init__.py")):
        print(f"perfbench: no cobweb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import dataprep, sparkenv
    from perfbench.inputs import CrawlInput
    from perfbench.tracing import Tracer
    from perfbench.workloads import PER_LAYER, WARM_SHAPE, WORKLOADS, crawl_once

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    inp = CrawlInput(WORK, wl.name, wl.shape, args.seed, wl.config)
    warm = CrawlInput(WORK, wl.name + "-warm", WARM_SHAPE, args.seed, wl.warm_config)
    print(f"perfbench: {wl.name} seed={args.seed} input {json.dumps(inp.sizes)}")
    prep = None
    if args.trace and wl.dataprep:
        prep = dataprep.DataprepInput(WORK, args.seed)
        print(f"perfbench: dataprep input {json.dumps(prep.sizes)}")
    state_dir = os.path.join(WORK, "state") if wl.snapshots else None

    attempted = failed = 0
    runs, errors = [], []

    def attempt(label, docs_inp, docs, tracer=None, bench_tids=()):
        nonlocal attempted, failed
        attempted += 1
        try:
            r = crawl_once(spark, store, docs_inp, docs, f"{label}-{attempted}",
                           tracer, state_dir, bench_tids)
        except Exception:
            failed += 1
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
            return None
        if not r.correct:
            failed += 1
            errors.append(f"{label}: output differs from the oracle")
            print(f"perfbench: {errors[-1]}", file=sys.stderr)
        return r

    from cobweb_spark.sources.corpus import load_documents

    t0 = time.perf_counter()
    spark, env = sparkenv.start_session(WORK, f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    try:
        store = sparkenv.StatusStore(spark)
        w = attempt("warmup", warm, load_documents(spark, warm.path))
        setup_s = session_s + w.wall_s if w else None
        docs = load_documents(spark, inp.path)
        tracer = Tracer(spark.sparkContext) if args.trace else None
        t_loop = time.perf_counter()
        with sparkenv.RssSampler() as rss:
            for n in itertools.count(1):
                r = attempt("crawl", inp, docs, bench_tids=rss.tids)
                if r is not None and r.correct:
                    runs.append(r)
                if n == 2 if args.trace else time.perf_counter() - t_loop >= args.seconds:
                    break
        traced = attempt("traced", inp, docs, tracer) if args.trace else None
        prep_layers = {}
        if prep is not None:
            attempted += 1
            try:
                prep_layers, wrong = dataprep.run_pass(
                    spark, store, prep, tracer, f"dataprep-{attempted}"
                )
            except Exception:
                wrong = [traceback.format_exc()]
            if wrong:
                failed += 1
                errors.append(f"dataprep: differs from DuckDB or failed: {wrong}")
                print(f"perfbench: {errors[-1]}", file=sys.stderr)
    finally:
        sparkenv.stop_session(spark)

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **env,
        "input": inp.sizes,
        "session_start_s": session_s,
        "setup_s": setup_s,
        "crawls": [
            {"wall_s": r.wall_s, "fetched": r.fetched, "steal": r.steal,
             "cpu_s": r.cpu, **r.totals}
            for r in runs
        ],
        "errors": errors,
    }
    metrics: dict[str, tuple[float, str]] = {}
    if runs and setup_s is not None:
        med = lambda key: statistics.median(r.totals[key] for r in runs)  # noqa: E731
        e2e = {
            "urls_per_s": statistics.median(r.fetched / r.wall_s for r in runs),
            "setup_s": setup_s,
            "cpu_s": statistics.median(r.cpu["total"] for r in runs),
            "spark_jobs": med("jobs"),
            "spark_tasks": med("tasks"),
            "shuffle_mb": med("shuffle_mb"),
            "peak_rss_mb": rss.peak,
        }
        info = {
            "spill_mb": med("spill_mb"),
            "jvm_task_cpu_s": med("jvm_task_cpu_s"),
            **{
                f"{part}_cpu_s": statistics.median(r.cpu[part] for r in runs)
                for part in ("driver", "jvm", "python_workers")
            },
            "error_rate": failed / attempted,
            "steal_share": statistics.median(r.steal for r in runs),
            "crawls": len(runs),
        }
        record["end_to_end"], record["diagnostics"] = e2e, info
        if not args.trace:
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        print(f"perfbench: host {env['host']} "
              f"master={env['conf']['spark.master']} "
              f"heap={env['conf']['spark.driver.memory']} "
              f"partitions={env['conf']['spark.sql.shuffle.partitions']}")
        for k, v in e2e.items():
            print(f"  {k:<20} {v:>14.4f} {END_TO_END[k]}")
        for k, v in info.items():
            print(f"  {k:<20} {v:>14.4f} (diagnostic)")
    if args.trace and traced is not None and "end_to_end" in record:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(traced.layers)
        layers.update(prep_layers)
        layers["session.start_s"] = session_s
        layers["trace.urls_per_s"] = traced.fetched / traced.wall_s
        layers["trace.overhead_ratio"] = layers["trace.urls_per_s"] / (
            runs[-1].fetched / runs[-1].wall_s
        )
        record["layers"] = layers
        record["spans"] = [s.as_dict() for s in tracer.spans]
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        for k, (v, u) in metrics.items():
            print(f"  {k:<42} {v:>14.4f} {u}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(
        WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
