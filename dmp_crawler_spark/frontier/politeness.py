"""Priority queue + per-host politeness budget as pure DataFrame ops.

The reference throttles with Thread.sleep(2000-3000) between requests
(…/crawler/ms/Crawler4Dxy_BBS.java:169-173) and bounds the crawl with a
global page budget (…/main/CrawlerManager.java:79). Sleeping executors
is the anti-pattern at scale; the engine instead does admission control:
each iteration admits at most `budget(host)` URLs per host, ranked by the
north-rule priority key (depth, discovery_ts, score, url).

W1 in SURVEY.md §2.5: row_number over Window.partitionBy(host) — one
shuffle on host, which is the same shuffle the fetch stage needs anyway
(politeness locality), so AQE reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the canonical, fully deterministic crawl-order key (north rule):
# shallower first, earlier discovery first, higher site-rule score first,
# url as the total-order tie-break.
PRIORITY_COLS = ("depth", "discovery_iter", "score", "url")


def priority_window():
    return Window.partitionBy("host").orderBy(
        F.col("depth").asc(),
        F.col("discovery_iter").asc(),
        F.col("score").desc(),
        F.col("url").asc(),
    )


def admit(frontier: DataFrame, per_host_budget: int,
          global_budget: int | None = None) -> DataFrame:
    """Rank pending frontier rows and admit ≤ budget per host (and
    optionally ≤ global_budget overall, lowest-rank-first — the
    setMaxPagesToFetch analog).

    Skew: a Zipf-hot host can hold a large fraction of a 10^10-row
    frontier, yet the plain host window stays skew-safe on Spark ≥3.5 —
    the `row_number() <= budget` filter compiles to a partial
    WindowGroupLimit BEFORE the host shuffle (map-side per-host top-k,
    plan-asserted in tests/test_plans.py), so a hot host contributes at
    most budget × map_partitions rows to its reducer. An explicit
    (host, salt) two-phase rank admitted the identical set and never won
    at 8-48M rows (BENCH/BASELINE.md §2q).
    """
    ranked = frontier.withColumn("rn", F.row_number().over(priority_window()))
    admitted = ranked.filter(F.col("rn") <= per_host_budget)
    if global_budget is not None:
        # Global cap = exact top-K by the same total-order key. A
        # row_number() over an unpartitioned Window would funnel every
        # admitted row (budget × #hosts — tens of millions at 10^7 hosts)
        # through ONE task; orderBy().limit() instead compiles to
        # TakeOrderedAndProject: each partition keeps its local top-K and
        # only ≤ K survivors per partition reach the final merge.
        admitted = admitted.drop("rn").orderBy(
            F.col("depth").asc(), F.col("discovery_iter").asc(),
            F.col("score").desc(), F.col("url").asc(),
        ).limit(global_budget)
        return admitted
    return admitted.drop("rn")
