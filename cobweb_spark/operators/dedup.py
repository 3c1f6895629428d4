"""Seen-set rejection — the heart of the engine.

The reference holds the seen-set in Redis sets and does per-link
``sismember`` round-trips (``lib/crawl.rb:130``,
``lib/cobweb_crawler.rb:118-119``). Here the seen-set is a DataFrame of
queued-form URLs (plus their xxhash64 key) and rejection is one
``left_anti`` equi-join per wave.

Scale tier (north rule): a partitioned bloom filter with a cuckoo-filter
overflow, keyed by xxhash64(url), prefilters candidates *before* the
anti-join: bloom misses are definitely-new and skip the join entirely;
only probable-hits flow into the exact anti-join, which remains the
correctness backstop (a false positive merely routes a new URL through the
join, never drops it). See ``cobweb_spark/operators/filters.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reject_seen(
    candidates: DataFrame,
    seen: DataFrame,
    prefilter=None,
    materialize: bool = True,
    seen_parts: list[DataFrame] | None = None,
    miss_backstop: list[DataFrame] | None = None,
    key_col: str = "link",
) -> DataFrame:
    """candidates minus seen (on the queued-form URL string, or — as the
    crawler does — on its 8-byte ``link_key = xxhash64(url)``, with seen
    parts stored as key frames; a ~6x smaller join payload).

    Key-based rejection is exact up to xxhash64 collisions: for n distinct
    URLs, E[colliding pairs] ≈ n²/2^65 ≈ 2.7 at n = 10^10 (each collision
    suppresses at most one URL), zero in practice at test scale — the same
    keying the north rule specifies for the bloom/cuckoo membership tier.

    ``prefilter`` is an optional SeenFilterBank (bloom+cuckoo tier): when
    given, candidates are split into definite-misses (pass through —
    they never scan, shuffle against or join the seen table, THE saving
    at a 10^10-row seen set) and probable-hits (exact anti-join, the
    correctness backstop).

    ``seen_parts`` is the LSM-shaped fast path: a list of frames that
    PARTITION the seen set, each single-column ``link``, hash-partitioned
    on it and checkpointed (the crawler maintains one part per wave,
    compacted when the list grows). The anti-join then chains per part:
    the candidate side is shuffled ONCE (by the first join's
    ENSURE_REQUIREMENTS) and every part streams with no exchange —
    checkpointed frames keep their partitioning — so the per-wave cost
    stops including a full re-shuffle of the ever-growing seen relation
    (the Iceberg analogue: anti-join against a bucket(url) table's
    appended snapshots). Falls back to the single anti-join against
    ``seen`` when absent.

    The flagged stream is materialized before the split (``materialize``):
    both branches read one checkpointed pass instead of re-executing the
    whole extract→classify→dedup→probe pipeline per branch.
    """

    def chain(df: DataFrame, parts) -> DataFrame:
        out = df
        for p in parts:
            out = out.join(p, key_col, "left_anti")
        return out

    def anti(df: DataFrame) -> DataFrame:
        if seen_parts:
            return chain(df, seen_parts)
        fallback = (
            seen.select(F.col("url").alias("link"))
            if key_col == "link"
            else seen.select(F.xxhash64("url").alias(key_col))
        )
        return df.join(fallback, key_col, "left_anti")

    if prefilter is None:
        return anti(candidates)

    flagged = prefilter.mark_probable(
        candidates, key_col=key_col, key_is_hash=key_col != "link"
    )
    if materialize:
        flagged = flagged.localCheckpoint()
    misses = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    probable = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    if miss_backstop:
        # bounded-staleness bank: the bank may lag the newest seen parts
        # (maintenance is amortized over several waves), so a "definite
        # miss" is only definite w.r.t. the synced prefix — the unsynced
        # residual parts (small, co-partitioned) backstop it exactly.
        misses = chain(misses, miss_backstop)
    return misses.unionByName(anti(probable))
