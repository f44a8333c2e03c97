"""Distributed materialization of the synthetic web corpus.

Generates the `pages` table exactly per BASELINE.json input_hint —
(url string, warc_ts timestamp, html binary, text string, lang string) —
plus the robots / site_rules config tables (FIXTURES.md §3-4).

Generation is `spark.range(n) → mapInPandas`, so it scales horizontally:
each partition builds its rows from the deterministic templates with no
driver involvement and no shared state — the same pattern generates 10^10
rows on a cluster as 10^4 locally.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dmp_crawler_spark.corpus import templates
from dmp_crawler_spark.extractors.udfs import fetch_extract_pass

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])


def _gen_batches(n_urls: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [templates.build_page(int(i), n_urls) for i in pdf["id"].values]
            yield pd.DataFrame({
                "url": [r["url"] for r in rows],
                "warc_ts": [r["warc_ts"] for r in rows],
                "html": [r["html"] for r in rows],
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
            })
    return gen


def generate_pages(spark: SparkSession, n_urls: int, partitions: int | None = None) -> DataFrame:
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_urls, numPartitions=partitions)
    return base.mapInPandas(_gen_batches(n_urls), PAGES_SCHEMA)


def write_pages(spark: SparkSession, n_urls: int, path: str, partitions: int | None = None) -> None:
    generate_pages(spark, n_urls, partitions).write.mode("overwrite").parquet(path)


class GeneratorFetcher:
    """Simulated HTTP fetch that regenerates the deterministic corpus page
    from the URL itself, executor-side, inside the shared fetch+extract
    pass (extractors/udfs.fetch_extract_pass).

    Production fetch is per-URL work with no data-plane input (an HTTP GET
    per row); joining a materialized corpus table instead — as
    CorpusFetcher does — adds a full corpus scan + shuffle per iteration
    that no real crawler pays. This fetcher models the real cost shape:
    O(admitted) CPU, embarrassingly parallel, zero scan, no misses. Used
    by bench.py and the benchmark; CorpusFetcher runs the same pass over
    a corpus join and is the fixture for fetch-miss/retry tests."""

    def __init__(self, spark: SparkSession, n_urls: int):
        self.spark = spark
        self.n_urls = n_urls

    def fetch_extract(self, admitted: DataFrame) -> DataFrame:
        n = self.n_urls

        def page_of(row: dict) -> tuple[str, str, str]:
            idx = int(row["url"].rsplit("/", 1)[-1].replace(".html", ""))
            page = templates.build_page(idx, n)
            return page["html_str"], page["lang"], page["text"]

        # The admitted set is tiny in bytes (urls + meta), so AQE coalesces
        # it to 1-2 partitions — which would serialize the expensive Python
        # pass. Repartition to full width first: a few-MB shuffle buys a
        # cluster-wide fetch stage (same reasoning as production, where the
        # fetch stage is sized by URL count, not byte size).
        width = self.spark.sparkContext.defaultParallelism
        return fetch_extract_pass(
            admitted.repartition(width, "url"), admitted.columns, page_of
        )


def generate_robots(spark: SparkSession, n_urls: int) -> DataFrame:
    """Per-host robots rules: every 7th host disallows /private/; deterministic
    crawl delays mirroring the reference sleeps (…/crawler/ms/Crawler4Dxy_BBS.java:170)."""
    nh = templates.n_hosts_for(n_urls)
    rows = []
    for h in range(nh):
        host = f"h{h}.example.com"
        if h % 7 == 0:
            rows.append((host, "*", "disallow", "/private/", 0))
        delay = [0, 2000, 3000][h % 3]
        rows.append((host, "*", "allow", "/", delay))
    return spark.createDataFrame(
        rows, "host string, user_agent string, rule string, path_prefix string, crawl_delay_ms int"
    )


def generate_site_rules(spark: SparkSession) -> DataFrame:
    """The per-site dispatch/score registry (config-as-data) — the Spark form
    of the shouldVisit regexes (…/crawler/auto/Crawler4Autohome.java:53-77)."""
    rows = [
        (arch, arch, rf"https?://[^/]+/{arch}/\d+\.html", 1.0 + i * 0.1, f"extract_{arch}")
        for i, arch in enumerate(templates.ARCHETYPES)
    ]
    return spark.createDataFrame(
        rows, "site string, page_class string, url_regex string, score double, extractor string"
    )
