"""Self-test for the benchmark: python3 -m pytest perfbench -q

Runs every workload once on its small warm-up input (untraced and
traced), runs the dataprep pass against its DuckDB answers, and checks
that the oracle gate rejects perturbed results. Its
files go to ``perfbench/.work/selftest``, inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
SELFTEST = os.path.join(HERE, ".work", "selftest")

from cobweb_spark.oracle import CrawlOracle  # noqa: E402
from perfbench.inputs import CrawlInput, oracle_corpus  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LAYERS,
    WARM_SHAPE,
    WORKLOADS,
    crawl_once,
    matches_oracle,
)


@pytest.fixture(scope="module")
def work():
    shutil.rmtree(SELFTEST, ignore_errors=True)
    os.makedirs(SELFTEST)
    return SELFTEST


def test_gate_rejects_perturbed_results(work):
    wl = WORKLOADS["crawl_bfs"]
    inp = CrawlInput(work, wl.name, WARM_SHAPE, 3, wl.config)
    res = CrawlOracle(oracle_corpus(pq.read_table(inp.path)), inp.cfg).crawl(None)
    rows = [(p.fetch_order, p.queued_url, p.status_code) for p in res.pages]
    n, seen = len(rows), inp.answer["seen"]
    assert matches_oracle(n, seen, rows, inp.answer)

    dropped = rows[:5] + rows[6:]
    assert not matches_oracle(n - 1, seen, dropped, inp.answer)
    # the sequence digest alone catches the drop
    assert not matches_oracle(n, seen, dropped, inp.answer)

    swapped = list(rows)
    (fa, ua, sa), (fb, ub, sb) = swapped[3], swapped[7]
    swapped[3], swapped[7] = (fa, ub, sb), (fb, ua, sa)
    assert not matches_oracle(n, seen, swapped, inp.answer)


def test_exits_nonzero_without_the_package(work):
    bare = os.path.join(work, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_bfs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def session(work):
    from perfbench import sparkenv

    spark, _ = sparkenv.start_session(work, "perfbench-selftest")
    try:
        yield spark, sparkenv.StatusStore(spark), work
    finally:
        sparkenv.stop_session(spark)


# layers each workload bypasses read 0 calls in its trace
BYPASSED = {
    "crawl_bfs": ("admit", "state"),
    "crawl_polite": ("edges", "filters"),
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_small_input_pass(session, name):
    from cobweb_spark.sources.corpus import load_documents
    from perfbench.tracing import Tracer

    spark, store, work = session
    wl = WORKLOADS[name]
    inp = CrawlInput(work, name, WARM_SHAPE, 5, wl.config)
    docs = load_documents(spark, inp.path)
    state_dir = os.path.join(work, "state") if wl.snapshots else None

    plain = crawl_once(spark, store, inp, docs, f"{name}-plain", None, state_dir)
    assert plain.correct
    assert plain.fetched == inp.answer["fetched"]
    assert plain.totals["jobs"] > 0 and plain.totals["tasks"] > 0

    traced = crawl_once(
        spark, store, inp, docs, f"{name}-traced", Tracer(spark.sparkContext),
        state_dir,
    )
    assert traced.correct
    layers = traced.layers
    for k in ("jobs", "tasks", "shuffle_mb"):
        parts = sum(layers[f"{l}.{k}"] for l in LAYERS + ("unattributed",))
        assert parts == pytest.approx(traced.totals[k])
    for layer in BYPASSED[name]:
        assert layers[f"{layer}.calls"] == 0
        assert layers[f"{layer}.jobs"] == 0
    assert layers["corpus.calls"] == layers["crawler.calls"] == 1
    assert layers["fetch.calls"] > 0 and layers["expand.calls"] > 0
    if name == "crawl_bfs":
        assert layers["filters.calls"] > 0
        assert layers["fetch.redirect_hops"] == 0
    else:
        assert layers["admit.calls"] > 0
        assert 0 < layers["admit.admitted_ratio"] <= 1
        assert layers["state.calls"] > 0 and layers["state.jobs"] > 0
        assert layers["state.bytes_written"] > 0


def test_dataprep_pass(session):
    from perfbench import dataprep
    from perfbench.tracing import Tracer

    spark, store, work = session
    inp = dataprep.DataprepInput(work, 2)
    layers, wrong = dataprep.run_pass(
        spark, store, inp, Tracer(spark.sparkContext), "dataprep"
    )
    assert not wrong
    for layer, op, _ in dataprep.OPERATORS:
        assert layers[f"{layer}.{op}.span_s"] > 0
    assert layers["textops.calls"] == 6 and layers["similarity.calls"] == 3
    assert layers["textops.jobs"] > 0 and layers["similarity.jobs"] > 0
    # the gate rejects a perturbed answer
    got = inp.answer("dedup_cluster_keepers")
    bad = got.assign(keeper=got["keeper"].where(got.index != 0, -1))
    assert dataprep.same_answer(got, inp.answer("dedup_cluster_keepers"))
    assert not dataprep.same_answer(bad, inp.answer("dedup_cluster_keepers"))


@pytest.mark.xfail(
    strict=True,
    reason="engine and oracle disagree on this redirect-chain corpus: the "
    "engine fetches fewer URLs from wave 2 on, with the same seen set",
)
def test_redirect_chain_corpus_parity(session):
    """The 5%-redirect corpus that keeps redirects out of the workloads.

    Chains of 1-4 hops plus a 5-page ring, at redirect_limit 4. When the
    engine matches the oracle here, a redirect workload can return.
    """
    from cobweb_spark.config import CrawlConfig
    from cobweb_spark.sources.corpus import load_documents

    def config(seeds, n_docs):
        return CrawlConfig(
            internal_urls=["http://*"],
            seed_urls=seeds,
            crawl_limit=2 * n_docs,
            redirect_limit=4,
        )

    shape = {"hosts": 10, "pages": 40, "seeds": 20, "redirect_share": 0.05,
             "cycle_len": 5, "cycles": 1}
    spark, store, work = session
    inp = CrawlInput(work, "redirect_chains", shape, 1, config)
    assert inp.sizes["redirect_documents"] > 0
    assert inp.sizes["redirect_limit_errors"] > 0
    run = crawl_once(spark, store, inp, load_documents(spark, inp.path), "redirects")
    assert run.correct
