"""The crawl's one Python stage: the fused fetch+extract pass.

This is the Spark rewrite of the reference's per-site `visit()` dispatch
(e.g. …/crawler/auto/Crawler4Autohome.java:125-141). The HTML field
extraction — inherently a parse, the one thing Catalyst can't express —
runs in Arrow batches through the shared oracle functions
(extractors/oracle.py), so the pass's result rows are byte-identical to
the oracle by construction.

Output model mirrors the reference's 3-level HBase map
(…/crawler/BaseCrawler.java:28-55): (rowkey, family, cols map<string,string>).

Every fetcher runs fetch_extract_pass, so page landing, extraction and
link discovery (HtmlParseData.getOutgoingUrls + addSeed, e.g.
…/crawler/auto/Crawler4BitAuto.java:357,564) happen in one pass per page,
and its page or miss row is the crawl's one record of each fetch.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dmp_crawler_spark.extractors import oracle
from dmp_crawler_spark.frontier.urlnorm import py_normalize_url, py_resolve_link

_HREF_RE = r'<a\s[^>]*href="([^"#]+)"[^>]*>(.*?)</a>'


def _decode(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        # GBK fallback mirrors common/AjaxClient.java:110,127 decode path
        try:
            return bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            return bytes(html).decode("gbk", errors="replace")
    return str(html)


# columns the fetch+extract pass appends to the caller's meta columns
PASS_FIELDS = [
    T.StructField("kind", T.StringType(), False),  # page|miss|result|link
    T.StructField("rowkey", T.StringType(), True),
    T.StructField("family", T.StringType(), True),
    T.StructField("cols", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("out_url", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
]

# link rows dominate the pass's output (~40×/page), so the per-partition
# link dict is flushed as a partial frame past this many entries: executor
# memory never scales with partition size (500k entries ≈ 100 MB of
# Python dict — sized for the spark.executor.pyspark.memory defaults)
_LINK_FLUSH = 500_000


def fetch_extract_pass(
    df: DataFrame,
    meta: list[str],
    page_of: Callable[[dict], tuple[str, str, str] | None],
) -> DataFrame:
    """Fused fetch+extract: ONE Python pass per input row, the production
    shape of crawler4j's visit() — download and parse in the same worker
    (…/main/CrawlerManager.java:102-108). page_of(row) -> (html, lang,
    text), or None for a failed fetch, is the fetch; the html is consumed
    inside the worker and never crosses the Arrow boundary. Output = the
    `meta` columns (which must include url and depth) plus PASS_FIELDS,
    one of:

      kind='page'    per fetched input row: the pages-table landing (lang +
                     boilerplate-stripped text; html bytes are elided)
      kind='miss'    per failed input row: its meta columns only
      kind='result'  the oracle.extract rows (rowkey, family, cols)
      kind='link'    (url=src, out_url, depth) per discovered URL, out_url
                     already resolved (py_resolve_link ≡ urljoin) AND
                     normalized (py_normalize_url ≡ normalize_url), both
                     parity-tested — the scheduler runs no per-link
                     resolve+normalize pass. Other meta columns are null.

    Link rows are pre-combined map-side to one row per out_url with the
    minimum source depth — the Python analog of a partial aggregate
    before the shuffle. The combine keys on the RESOLVED absolute URL:
    keying on the raw href would merge directory-relative hrefs from
    different source directories and silently drop a discoverable URL.
    The window is the whole PARTITION, not one Arrow batch: a per-batch
    dict only spans 256 pages, and popular cross-page links then survive
    ~7× (measured 800k vs 560k link rows/iteration at bench scale)."""
    out_schema = T.StructType([df.schema[c] for c in meta] + PASS_FIELDS)
    names = out_schema.fieldNames()
    # no DOTALL: an <a> whose body spans a newline is not matched
    href_re = re.compile(_HREF_RE)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        link_min_depth: dict[str, tuple] = {}

        def links_frame() -> pd.DataFrame:
            # normalize ONCE PER UNIQUE link at flush time, re-combining
            # keys that normalization collapses
            norm_min: dict[str, tuple] = {}
            for raw, (src, d) in link_min_depth.items():
                key = py_normalize_url(raw)
                prev = norm_min.get(key)
                if prev is None or d < prev[1]:
                    norm_min[key] = (src, d)
            n_links = len(norm_min)
            cols: dict[str, list] = {c: [None] * n_links for c in names}
            cols["out_url"] = list(norm_min.keys())
            cols["url"] = [s for s, _ in norm_min.values()]
            cols["depth"] = [d for _, d in norm_min.values()]
            cols["kind"] = ["link"] * n_links
            return pd.DataFrame(cols, columns=names)

        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in names}

            def emit(row, kind, rowkey=None, family=None, cols=None,
                     lang=None, text=None):
                for c in meta:
                    rows[c].append(row[c])
                rows["kind"].append(kind)
                rows["rowkey"].append(rowkey)
                rows["family"].append(family)
                rows["cols"].append(cols)
                rows["out_url"].append(None)
                rows["lang"].append(lang)
                rows["text"].append(text)

            for row in pdf.to_dict("records"):
                page = page_of(row)
                if page is None:
                    emit(row, "miss")
                    continue
                html, lang, text = page
                emit(row, "page", lang=lang, text=text)
                src, d = row["url"], row["depth"]
                for m in href_re.finditer(html):
                    key = py_resolve_link(src, m.group(1))
                    prev = link_min_depth.get(key)
                    if prev is None or d < prev[1]:
                        link_min_depth[key] = (src, d)
                for r in oracle.extract(src, html):
                    emit(row, "result", rowkey=r["rowkey"],
                         family=r["family"], cols=r["cols"])

            # page/result rows are yielded per batch (bounded memory);
            # link rows accumulate across the partition
            yield pd.DataFrame(rows, columns=names)
            if len(link_min_depth) >= _LINK_FLUSH:
                yield links_frame()
                link_min_depth.clear()

        if link_min_depth:
            yield links_frame()

    return df.mapInPandas(gen, out_schema)

