"""End-to-end Spark engine tests: exact parity with the oracle.

The correctness contract (BASELINE.json north_rule): identical crawl
ordering and final URL-seen set given the same seed list and politeness
budget, plus per-document span-sequence equality.
"""

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.oracle import CrawlOracle, RobotsRules
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.sources.corpus import corpus_df, robots_df
from cobweb_spark.testkit import fixtures as fx

BASE = fx.SAMPLE_SITE_BASE

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark, sample_site_corpus):
    df = corpus_df(spark, sample_site_corpus).cache()
    df.count()
    return df


def assert_parity(spark, corpus, docs, cfg, base_url, robots_rules=None):
    robots = (
        robots_df(spark, robots_rules) if robots_rules is not None else None
    )
    res = SparkCrawler(spark, docs, cfg, robots=robots).crawl(base_url)
    oracle = CrawlOracle(
        corpus,
        cfg,
        robots=RobotsRules(robots_rules) if robots_rules else None,
    ).crawl(base_url)

    assert res.fetch_sequence() == oracle.fetch_sequence
    seen_spark = {r["url"] for r in res.seen.collect()}
    assert seen_spark == oracle.seen
    return res, oracle


class TestSampleSiteParity:
    def test_full_crawl_exact_order_and_seen(
        self, spark, sample_site_corpus, docs
    ):
        res, oracle = assert_parity(
            spark, sample_site_corpus, docs, CrawlConfig(), BASE
        )
        st = res.stats()
        assert st["crawl_counter"] == 77
        assert st["mime_counts"]["text/html"] == 8
        assert st["mime_counts"]["text/css"] == 18
        assert st["mime_counts"]["image/jpeg"] == 25
        ost = oracle.stats
        assert st["page_count"] == ost["page_count"]
        assert st["asset_count"] == ost["asset_count"]
        assert st["total_length"] == ost["total_length"]
        assert st["minimum_length"] == ost["minimum_length"]
        assert st["maximum_length"] == ost["maximum_length"]
        assert abs(
            st["average_response_time"] - ost["average_response_time"]
        ) < 1e-9

    def test_crawl_limit_10(self, spark, sample_site_corpus, docs):
        assert_parity(
            spark,
            sample_site_corpus,
            docs,
            CrawlConfig(crawl_limit=10),
            BASE,
        )

    def test_crawl_limit_5_by_page(self, spark, sample_site_corpus, docs):
        cfg = CrawlConfig(crawl_limit=5, crawl_limit_by_page=True)
        res, oracle = assert_parity(
            spark, sample_site_corpus, docs, cfg, BASE
        )
        html = res.pages.filter(
            "mime_type rlike 'text/html'"
        ).count()
        assert html == 5
        assert res.pages.count() > 10

    def test_politeness_budget(self, spark, sample_site_corpus, docs):
        cfg = CrawlConfig(host_budget=7)
        res, oracle = assert_parity(
            spark, sample_site_corpus, docs, cfg, BASE
        )
        # ≤ budget fetches per host per wave
        per = (
            res.pages.groupBy("wave_id", "host")
            .count()
            .agg({"count": "max"})
            .collect()[0][0]
        )
        assert per <= 7

    def test_obey_robots(self, spark, sample_site_corpus, docs):
        rules = fx.sample_site_robots_rules(host="localhost:3532")
        cfg = CrawlConfig(obey_robots=True)
        res, _ = assert_parity(
            spark, sample_site_corpus, docs, cfg, BASE, robots_rules=rules
        )
        fetched = set(res.fetch_sequence())
        assert "http://localhost:3532/forms.html" not in fetched
        assert "http://localhost:3532/gallery.html" not in fetched
        assert "http://localhost:3532/typography.html" in fetched

    def test_inbound_links_index(self, spark, sample_site_corpus, docs):
        from cobweb_spark.operators.graph import inbound_links

        res = SparkCrawler(spark, docs, CrawlConfig()).crawl(BASE)
        idx = {
            r["url"]: set(r["inbound"])
            for r in inbound_links(res.candidates).collect()
        }
        oracle = CrawlOracle(sample_site_corpus, CrawlConfig()).crawl(BASE)
        for url, golden in oracle.inbound.items():
            assert idx.get(url) == golden, url


class TestInboundIndexParity:
    """The inbound-links index covers every document link, internal or
    not, on both expand paths (precompute_edges falls back to per-wave
    spans when inbound links are stored)."""

    @pytest.fixture(scope="class")
    def mixed_hosts(self, spark):
        corpus, seeds = fx.scale_corpus_as_oracle_dict(
            n_hosts=6,
            pages_per_host=15,
            mega_host_factor=2,
            out_degree=6,
            media_ratio=0.2,
            cross_host_prob=0.3,
            seed=5,
            n_seeds=3,
        )
        # seeds round-robin over hosts: with n_seeds=3 they are the first
        # pages of the three internal hosts
        internal = [f"http://host{h}.example.com/*" for h in range(3)]
        assert [s.split("/")[2] for s in seeds] == [
            f"host{h}.example.com" for h in range(3)
        ]
        return corpus, corpus_df(spark, corpus), internal, seeds

    @pytest.mark.parametrize("precompute", [False, True])
    def test_inbound_matches_oracle(self, spark, mixed_hosts, precompute):
        from cobweb_spark.operators.graph import inbound_links

        corpus, docs, internal, seeds = mixed_hosts
        cfg = CrawlConfig(
            internal_urls=internal,
            seed_urls=seeds,
            precompute_edges=precompute,
        )
        res = SparkCrawler(spark, docs, cfg).crawl(None)
        oracle = CrawlOracle(corpus, cfg).crawl(None)
        idx = {
            r["url"]: set(r["inbound"])
            for r in inbound_links(res.candidates).collect()
        }
        assert idx == oracle.inbound
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen


class TestRedirectParity:
    def test_redirect_chain(self, spark):
        corpus = fx.build_redirect_corpus()
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig(internal_urls=["http://redirect-me.com/*"])
        res, oracle = assert_parity(
            spark, corpus, docs, cfg, "http://redirect-me.com/redirect.html"
        )
        row = res.pages.orderBy("fetch_order").collect()[0]
        assert row["fetch_url"] == "http://redirected-to.com/redirected.html"
        assert row["redirect_through"] == [
            "http://redirect-me.com/redirect.html",
            "http://redirected-to.com/redirect2.html",
            "http://redirected-to.com/redirected.html",
        ]

    def test_redirect_limit_exhaustion(self, spark):
        corpus = fx.build_redirect_loop_corpus(hops=30)
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig(internal_urls=["http://loop.example.com/*"])
        res, oracle = assert_parity(
            spark, corpus, docs, cfg, "http://loop.example.com/hop0.html"
        )
        row = res.pages.collect()[0]
        orow = oracle.pages[0]
        assert row["status_code"] == 0 == orow.status_code
        assert row["mime_type"] == "error/dnslookup"
        assert row["error"] == "Redirect Limit reached"
        assert row["fetch_url"] == orow.url
        assert list(row["redirect_through"] or []) == list(
            orow.redirect_through or []
        )


class TestSpanRoundTrip:
    def test_span_sequence_equality(self, spark, sample_site_corpus, docs):
        """input_hint invariant: (kind, text, media_ref, order) per document
        round-trips through the engine unchanged."""
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in (r["spans"] or [])
            ]
            for r in docs.select("doc_id", "spans").collect()
        }
        for doc_id, doc in sample_site_corpus.items():
            assert got[doc_id] == [tuple(s) for s in doc.spans], doc_id
