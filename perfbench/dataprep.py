"""Seeded training-data pass: the text and ANN operators, oracle-checked.

The traced run of the workload that carries it ends with one pass of the
``textops`` and ``similarity`` operators over a generated documents table
and embeddings table. Each operator is called through the repository's
own query surface (``__spark_entry__.queries()``, so its parameters are
the ones the DuckDB oracle SQL was written for), materialised with
``toPandas`` inside one span, and compared with the DuckDB answer of
``__spark_entry__.oracle_sql()`` over the same parquet files. The DuckDB
answers are computed before the Spark session starts and cached beside
the inputs.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import sparkenv
from .tracing import PREFIX

# (layer, operator, query name in __spark_entry__)
OPERATORS = (
    ("textops", "minhash_signatures", "dedup_minhash_signatures"),
    ("textops", "lsh_near_dup_pairs", "dedup_lsh_pairs"),
    ("textops", "cluster_keepers", "dedup_cluster_keepers"),
    ("textops", "quality_scores", "text_quality_scores"),
    ("textops", "pii_redact", "text_pii_redact"),
    ("textops", "segment_dedup", "dedup_segments"),
    ("similarity", "semantic_dedup_keepers", "dedup_semantic_keepers"),
    ("similarity", "ivf_ann_topk", "ann_ivf_topk"),
    ("similarity", "lsh_ann_topk_multitable", "ann_lsh_multitable"),
)
LAYERS = tuple(dict.fromkeys(layer for layer, _, _ in OPERATORS))
N_DOCS, N_VECTORS, DIM = 600, 400, 64
VERSION = 1

STOPWORDS = {
    "en": "the and of to in is it you that was".split(),
    "de": "der die das und ist nicht ein mit sich".split(),
    "fr": "le la les et est pas une pour dans".split(),
    "es": "el la los y es no una por con para".split(),
}
# repeated openings: the first 10-token chunk that segment_dedup finds
HEADERS = [
    "home about contact privacy terms login signup search menu help",
    "skip to main content accessibility cookies settings news blog shop",
]


class _Manifest(dict):
    """Stands in for the sample-site fixture manifest: every key is
    another stand-in and formats as a path no query here reads."""

    def __missing__(self, key):
        return _Manifest()

    def __format__(self, spec):
        return "unused.parquet"

    __str__ = __repr__ = lambda self: "unused.parquet"


@contextlib.contextmanager
def entry_module():
    """``__spark_entry__`` with its fixture generator stubbed out.

    ``queries()`` and ``oracle_sql()`` first generate the sample-site
    crawl goldens, which need files outside a source checkout; the
    operators used here read only the ``documents`` and ``embeddings``
    tables passed to them.
    """
    import __spark_entry__ as entry

    real = entry._gen_fixture_data
    entry._gen_fixture_data = _Manifest
    try:
        yield entry
    finally:
        entry._gen_fixture_data = real


def generate(seed: int) -> tuple[pa.Table, pa.Table]:
    """Documents with near and exact duplicates, shared openings and PII;
    embeddings with near-duplicate vectors."""
    rng = np.random.default_rng(seed + 104729)
    vocab = [f"w{i}" for i in range(5000)]
    langs = sorted(STOPWORDS) + ["zh"]
    rows = []
    for i in range(N_DOCS):
        lang = langs[int(rng.integers(len(langs)))]
        r = rng.random()
        if i > 10 and r < 0.15:  # near duplicate: one token replaced
            toks = rows[int(rng.integers(i))][1].split()
            toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))]
        elif i > 10 and r < 0.18:  # exact duplicate
            toks = rows[int(rng.integers(i))][1].split()
        else:
            n = int(rng.integers(20, 60))
            toks = list(rng.choice(vocab, size=n))
            if lang in STOPWORDS:
                for k in rng.choice(n, size=n // 10, replace=False):
                    toks[k] = STOPWORDS[lang][int(rng.integers(len(STOPWORDS[lang])))]
            for k in rng.choice(n, size=n // 8, replace=False):
                toks[k] += "."
            if rng.random() < 0.05:
                toks = HEADERS[int(rng.integers(len(HEADERS)))].split() + toks
            if rng.random() < 0.15:
                toks.insert(int(rng.integers(len(toks))), rng.choice([
                    f"user{int(rng.integers(1000))}@example.org",
                    f"10.{int(rng.integers(256))}.{int(rng.integers(256))}.1",
                    f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}",
                ]))
        text = " ".join(toks)
        rows.append((i, text, lang, f"src{int(rng.integers(8))}", len(text)))
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    vecs = rng.standard_normal((N_VECTORS, DIM))
    for i in range(N_VECTORS):
        if i > 10 and rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(i))] + 0.1 * rng.standard_normal(DIM)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, N_VECTORS), pa.int32()),
        }
    )
    return docs, emb


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column order by name, floats at 6 decimals, rows sorted: the
    order-insensitive form both engines' answers are compared in."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = df[c].dtype
        if np.issubdtype(dt, np.floating):
            df[c] = df[c].astype("float64").round(6)
        elif np.issubdtype(dt, np.integer):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def same_answer(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if np.issubdtype(a[c].dtype, np.floating) and np.issubdtype(
            b[c].dtype, np.floating
        ):
            # one rounding step apart at most
            if not np.allclose(a[c], b[c], rtol=0, atol=2e-6, equal_nan=True):
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


class DataprepInput:
    """Generated ``documents``/``embeddings`` parquet and the DuckDB answer
    of every operator in ``OPERATORS``."""

    def __init__(self, work: str, seed: int):
        key = hashlib.sha1(
            json.dumps([VERSION, N_DOCS, N_VECTORS, DIM, OPERATORS]).encode()
        ).hexdigest()[:12]
        self.dir = os.path.join(work, "inputs", f"dataprep-{seed}-{key}")
        self.sizes = {"documents": N_DOCS, "vectors": N_VECTORS, "dim": DIM}
        done = os.path.join(self.dir, "answers", "done")
        if os.path.exists(done):
            return
        import duckdb

        os.makedirs(os.path.join(self.dir, "answers"), exist_ok=True)
        for name, tbl in zip(("documents", "embeddings"), generate(seed)):
            pq.write_table(tbl, os.path.join(self.dir, f"{name}.parquet"))
        with entry_module() as entry:
            sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for name in ("documents", "embeddings"):
                path = os.path.join(self.dir, f"{name}.parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            for _, _, query in OPERATORS:
                con.execute(sql[query]).fetchdf().to_parquet(
                    os.path.join(self.dir, "answers", f"{query}.parquet")
                )
        finally:
            con.close()
        open(done, "w").close()

    def answer(self, query: str) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.dir, "answers", f"{query}.parquet"))


def run_pass(spark, store, inp: DataprepInput, tracer, run_id: str):
    """One traced pass over every operator. Returns the per-layer metrics
    of the ``textops`` and ``similarity`` layers and the queries whose
    answer differs from DuckDB's."""
    tracer.run = run_id
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", f"perfbench-{run_id}")
    results = {}
    with entry_module() as entry:
        queries = entry.queries()
    lo = store.last_job_id()
    for layer, op, query in OPERATORS:
        call = tracer.span(
            layer,
            f"{layer}.{op}",
            lambda q=queries[query]: q(spark, inp.dir).toPandas(),
        )
        results[query] = call()
    hi = store.last_job_id()
    wrong = [q for q, df in results.items() if not same_answer(df, inp.answer(q))]

    spans = {s.id: s for s in tracer.spans if s.run == run_id}
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans.values() if s.layer == layer]
        out[f"{layer}.calls"] = len(mine)
        # operator spans do not nest: self time is span time
        out[f"{layer}.span_s"] = out[f"{layer}.self_s"] = sum(
            s.end - s.start for s in mine
        )
        for s in mine:
            out[f"{s.name}.span_s"] = s.end - s.start
    for j in store.window(lo, hi):
        desc = j.get("description") or ""
        sid = int(desc[len(PREFIX) :]) if desc.startswith(PREFIX) else None
        if sid not in spans:
            raise sparkenv.CountersIncomplete(
                f"dataprep job {j['jobId']} ran outside every operator span"
            )
        for k, v in sparkenv.job_counters(j).items():
            key = f"{spans[sid].layer}.{k}"
            out[key] = out.get(key, 0) + v
    return out, wrong
