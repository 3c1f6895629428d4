"""Candidate-link classification and selection — all JVM-side ``rlike``.

Replays the reference's per-link selection pipeline
(``lib/cobweb_crawler.rb:105-120`` / ``lib/crawl.rb:119-130``):

1. internal? — matches an internal pattern AND no external pattern
   (patterns compiled driver-side into two alternation regexes)
2. crawl_linked_external disjunct (parent internal, link not external)
3. https→http normalization (treat_https_as_http)
4. robots-allow gate (when obey_robots) via broadcast join on host

The "cheap filter first" tactic the reference hand-codes
(regex classification before the expensive seen lookups,
``lib/cobweb_crawler.rb:105``) falls out of plan order here: rlike filters
run before the anti-join and Catalyst keeps them pushed ahead of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.url_udfs import host_udf
from ..patterns import LinkClassifier, escape_pattern_for_regex


def select_internal(
    candidates: DataFrame, classifier: LinkClassifier, cfg: CrawlConfig
) -> DataFrame:
    """Filter candidates to enqueueable links and normalize https→http."""
    link = F.col("link")
    is_internal = link.rlike(classifier.internal_re) & ~link.rlike(
        classifier.external_re
    )
    if cfg.crawl_linked_external:
        parent = F.col("parent")
        parent_internal = parent.rlike(
            classifier.internal_re
        ) & ~parent.rlike(classifier.external_re)
        cond = is_internal | (
            parent_internal & ~link.rlike(classifier.external_re)
        )
    else:
        cond = is_internal
    out = candidates.filter(cond)
    if cfg.treat_https_as_http:
        out = out.withColumn(
            "link", F.regexp_replace("link", "^https", "http")
        )
    return out.filter(F.col("link") != "")


def compile_robots_rules(
    robots: DataFrame, user_agent: str
) -> DataFrame:
    """(host, user_agent, rule, pattern, rank) rows → one compiled
    (host, allow_re, disallow_re) row per host.

    Fully distributed (groupBy host + applyInPandas): at millions of hosts
    a driver-side collect would OOM — each host's handful of rules compiles
    independently inside its shuffle partition. Hosts whose rules name
    neither our user-agent nor ``*`` emit no row (⇒ allowed via the left
    join's nulls), matching ``lib/robots.rb:17-21``.
    """
    import pandas as pd

    ua = user_agent.lower()

    def compile_host(pdf: pd.DataFrame) -> pd.DataFrame:
        uas: dict[str, dict[str, list]] = {}
        for r in pdf.itertuples(index=False):
            uas.setdefault(
                r.user_agent.lower(), {"allow": [], "disallow": []}
            )[r.rule].append((r.rank, r.pattern))
        params = uas.get(ua) or uas.get("*")
        if params is None:
            return pd.DataFrame(
                columns=["host", "allow_re", "disallow_re"]
            )
        allow_re = (
            "|".join(
                escape_pattern_for_regex(p)
                for _rk, p in sorted(params["allow"])
            )
            or "(?!)"
        )
        disallow_re = (
            "|".join(
                escape_pattern_for_regex(p)
                for _rk, p in sorted(params["disallow"])
            )
            or "(?!)"
        )
        return pd.DataFrame(
            {
                "host": [pdf["host"].iloc[0]],
                "allow_re": [allow_re],
                "disallow_re": [disallow_re],
            }
        )

    return robots.groupBy("host").applyInPandas(
        compile_host, "host string, allow_re string, disallow_re string"
    )


# rules tables under this many hosts broadcast to the classify join; above
# it the join shuffles on host (a million-host rules table must never be
# collected or broadcast)
ROBOTS_BROADCAST_MAX_HOSTS = 100_000


def robots_gate(
    candidates: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    compiled: tuple[DataFrame, int] | None = None,
    host_col: str | None = None,
) -> DataFrame:
    """Reject links disallowed by per-host robots rules.

    Rules are compiled per host in a DISTRIBUTED pass (see
    ``compile_robots_rules``) into (allow_re, disallow_re) pairs — allow
    checked first, then disallow, else allowed (``lib/robots.rb:28-37``) —
    then joined on host and evaluated with JVM rlike. Small rule tables
    broadcast; big ones shuffle on the host key. Callers joining per wave
    pass ``compiled`` — a (materialized compile_robots_rules output, host
    count) pair — so compilation and counting run once per crawl.
    """
    if not cfg.obey_robots or robots is None:
        return candidates
    if compiled is not None:
        rules_df, n_hosts = compiled
    else:
        rules_df = compile_robots_rules(robots, cfg.user_agent)
        n_hosts = rules_df.count()
    if n_hosts == 0:
        return candidates
    # the rules' key is renamed BEFORE the join: the caller's frame may
    # carry its own ``host`` column (precomputed edge table / dictionary
    # layout), and ``drop("host")`` after an ambiguous join would drop
    # BOTH — stripping the column frontier emission reads (latent since
    # the edges path gained a host column; exposed by the round-7
    # dict+robots parity test)
    rules_df = rules_df.withColumnRenamed("host", "__rules_host")
    if n_hosts <= ROBOTS_BROADCAST_MAX_HOSTS:
        rules_df = F.broadcast(rules_df)
    # ``host_col``: caller already carries the link's host (precomputed
    # edge table) — skip the per-wave pandas UDF pass
    with_host = candidates.withColumn(
        "__host",
        F.col(host_col) if host_col else host_udf("link"),
    )
    path = F.parse_url(F.col("link"), F.lit("PATH"))
    joined = with_host.join(
        rules_df,
        with_host["__host"] == rules_df["__rules_host"],
        "left",
    )
    allowed = (
        F.col("allow_re").isNull()
        | F.rlike(path, F.col("allow_re"))
        | ~F.rlike(path, F.col("disallow_re"))
    )
    return joined.filter(allowed).drop(
        "__host", "__rules_host", "allow_re", "disallow_re"
    )


def first_discovery_wins(
    candidates: DataFrame, key_col: str = "link"
) -> DataFrame:
    """Intra-wave dedup: the earliest (parent fetch order, position)
    discovery of a URL wins — the wave-model analogue of the reference's
    per-link re-check under lock (``lib/crawl.rb:132-138``).

    Implemented as groupBy + min_by (NOT a window): duplicate discoveries
    are the dominant traffic in a dense web graph, and partial aggregation
    combines them map-side so the shuffle carries ~unique links instead of
    every (parent, link) pair. Ties impossible — (parent_fetch_order,
    position) is unique.

    ``key_col``: group on an 8-byte ``link_key`` (xxhash64) instead of
    the URL string, as the crawler does — the exchange key shrinks ~6x and the downstream anti-join chain reuses
    the same hash partitioning with no new exchange.
    """
    cols = [c for c in candidates.columns if c != key_col]
    packed = candidates.groupBy(key_col).agg(
        F.min_by(
            F.struct(*cols), F.struct("parent_fetch_order", "position")
        ).alias("__best")
    )
    return packed.select(
        key_col, *[F.col(f"__best.{c}").alias(c) for c in cols]
    )
