"""Seeded benchmark inputs and their oracle answers.

Every input is a pure function of the workload's shape and the run seed.
Corpora come from the package's scale-corpus generator; the redirect
rewrite below is the benchmark's own. The pure-Python ``CrawlOracle``
answer for each (workload, seed) is computed before the Spark session
starts and cached as a small JSON digest beside the corpus parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cobweb_spark.oracle import CrawlOracle, OracleDoc
from cobweb_spark.testkit import fixtures as fx

# bumped whenever generation or the digest format changes, so stale cache
# entries are never compared against
INPUT_VERSION = 1


def scale_table(seed: int, n_hosts: int, pages_per_host: int, n_seeds: int):
    """The ``bench.py`` corpus shape (mega-host x10, out-degree 18, 15%
    media links) at a host-sized page count."""
    return fx.build_scale_corpus_arrays(
        n_hosts=n_hosts,
        pages_per_host=pages_per_host,
        mega_host_factor=10,
        out_degree=18,
        media_ratio=0.15,
        cross_host_prob=0.10,
        seed=seed,
        n_seeds=n_seeds,
    )


def rewrite_redirects(
    tbl: pa.Table,
    seed: int,
    share: float,
    protect: set[str],
    cycle_len: int,
    n_cycles: int,
) -> pa.Table:
    """Turn about ``share`` of the HTML pages into 301 responses.

    Chosen pages are grouped into chains of 1-4 hops whose last member
    points at an ordinary page of the same host; ``n_cycles`` groups of
    ``cycle_len`` pages point at each other in a ring, so a fetch that
    enters one exhausts ``redirect_limit``. Seed URLs in ``protect`` stay
    ordinary pages. A redirecting page carries no spans.
    """
    rng = np.random.default_rng(seed + 7919)
    doc_ids = tbl.column("doc_id").to_pylist()
    mimes = tbl.column("mime_type").to_pylist()
    by_host: dict[str, list[int]] = {}
    for i, (d, m) in enumerate(zip(doc_ids, mimes)):
        if m == "text/html" and d not in protect:
            by_host.setdefault(d.split("/")[2], []).append(i)
    hosts = sorted(by_host)
    n_pick = int(round(share * sum(len(v) for v in by_host.values())))
    status = tbl.column("status_code").to_pylist()
    location = tbl.column("location").to_pylist()
    spans = tbl.column("spans").to_pylist()
    picked: set[int] = set()  # redirecting pages and chain targets

    def point(src: int, dst: int, relative: bool) -> None:
        status[src] = 301
        spans[src] = []
        url = doc_ids[dst]
        location[src] = "/" + url.split("/", 3)[3] if relative else url

    # cycles on the largest host, so the ring members are linked often
    big = max(hosts, key=lambda h: len(by_host[h]))
    pool = [i for i in by_host[big]]
    rng.shuffle(pool)
    for c in range(n_cycles):
        ring = pool[c * cycle_len : (c + 1) * cycle_len]
        for k, src in enumerate(ring):
            point(src, ring[(k + 1) % len(ring)], relative=bool(k % 2))
        picked.update(ring)
    n_redirects = len(picked)
    while n_redirects < n_pick:
        h = hosts[int(rng.integers(len(hosts)))]
        free = [i for i in by_host[h] if i not in picked]
        if len(free) < 6:
            continue
        idx = rng.choice(len(free), size=int(rng.integers(1, 5)) + 1, replace=False)
        chain = [free[j] for j in idx]
        *heads, final = chain
        for k, src in enumerate(heads):
            nxt = heads[k + 1] if k + 1 < len(heads) else final
            point(src, nxt, relative=bool(rng.integers(2)))
        # the target is reserved too, so chains never join into longer ones
        picked.update(chain)
        n_redirects += len(heads)
    return (
        tbl.set_column(
            tbl.schema.get_field_index("status_code"),
            "status_code",
            pa.array(status, type=pa.int32()),
        )
        .set_column(
            tbl.schema.get_field_index("location"),
            "location",
            pa.array(location, type=pa.string()),
        )
        .set_column(
            tbl.schema.get_field_index("spans"),
            "spans",
            pa.array(spans, type=tbl.schema.field("spans").type),
        )
    )


def oracle_corpus(tbl: pa.Table) -> dict[str, OracleDoc]:
    corpus = {}
    for row in tbl.to_pylist():
        corpus[row["doc_id"]] = OracleDoc(
            doc_id=row["doc_id"],
            spans=[
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["spans"]
            ],
            status_code=row["status_code"],
            mime_type=row["mime_type"],
            character_set=row["character_set"],
            length=row["length"],
            response_time=row["response_time"],
            location=row["location"],
        )
    return corpus


def sequence_digest(rows) -> str:
    """sha256 over the ``(fetch_order, url, status_code)`` sequence."""
    h = hashlib.sha256()
    for fo, url, sc in rows:
        h.update(f"{fo}\t{url}\t{sc}\n".encode())
    return h.hexdigest()


def oracle_answer(corpus, cfg) -> dict:
    """Fetched count, seen count and sequence digest of one oracle crawl,
    plus the input-size facts later changes quote shares against."""
    res = CrawlOracle(corpus, cfg).crawl(None)
    hops = Counter(len(p.redirect_through or [1]) - 1 for p in res.pages)
    return {
        "fetched": len(res.pages),
        "seen": len(res.seen),
        "digest": sequence_digest(
            (p.fetch_order, p.queued_url, p.status_code) for p in res.pages
        ),
        "waves": 1 + max((p.wave_id for p in res.pages), default=-1),
        "candidate_links": sum(len(p.links) for p in res.pages),
        "redirected_fetches": sum(1 for p in res.pages if p.redirect_through),
        "hop_histogram": {str(k): v for k, v in sorted(hops.items())},
        "limit_errors": sum(
            1 for p in res.pages if p.error == "Redirect Limit reached"
        ),
    }


class CrawlInput:
    """One generated corpus: parquet on disk, seed URLs, its oracle answer."""

    def __init__(self, work: str, name: str, shape: dict, seed: int, cfg_fn):
        """``cfg_fn(seeds, n_docs)`` builds the workload's CrawlConfig."""
        # the config's repr at a sample size stands in for the config
        # function, so a changed workload config never reads a stale answer
        key = hashlib.sha1(
            json.dumps(
                [INPUT_VERSION, name, shape, seed, repr(cfg_fn(["u"], 1000))],
                sort_keys=True,
            ).encode()
        ).hexdigest()[:16]
        base = os.path.join(work, "inputs", f"{name}-{seed}-{key}")
        self.path = base + ".parquet"
        answer_path = base + ".oracle.json"
        if os.path.exists(answer_path):
            with open(answer_path) as f:
                cached = json.load(f)
            self.seeds, self.n_docs = cached["seeds"], cached["n_docs"]
            self.answer, self.sizes = cached["answer"], cached["sizes"]
            self.cfg = cfg_fn(self.seeds, self.n_docs)
            return
        tbl, self.seeds = scale_table(
            seed, shape["hosts"], shape["pages"], shape["seeds"]
        )
        if shape.get("redirect_share"):
            tbl = rewrite_redirects(
                tbl,
                seed,
                shape["redirect_share"],
                set(self.seeds),
                shape["cycle_len"],
                shape["cycles"],
            )
        self.n_docs = tbl.num_rows
        self.cfg = cfg_fn(self.seeds, self.n_docs)
        self.answer = oracle_answer(oracle_corpus(tbl), self.cfg)
        status = tbl.column("status_code").to_pylist()
        mimes = tbl.column("mime_type").to_pylist()
        n_html = sum(1 for m in mimes if m == "text/html")
        self.sizes = {
            "documents": self.n_docs,
            "html_documents": n_html,
            "redirect_documents": sum(1 for s in status if 300 <= s < 400),
            "redirect_share": round(
                sum(1 for s in status if 300 <= s < 400) / max(n_html, 1), 4
            ),
            "seed_urls": len(self.seeds),
            "reachable_urls": self.answer["seen"],
            "fetched_urls": self.answer["fetched"],
            "waves": self.answer["waves"],
            "hop_histogram": self.answer["hop_histogram"],
            "redirect_limit_errors": self.answer["limit_errors"],
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, self.path)
        with open(answer_path + ".tmp", "w") as f:
            json.dump(
                {
                    "seeds": self.seeds,
                    "n_docs": self.n_docs,
                    "answer": self.answer,
                    "sizes": self.sizes,
                },
                f,
            )
        os.replace(answer_path + ".tmp", answer_path)
