"""URL normalization + host-hash columns.

The reference leans on crawler4j's URLCanonicalizer; here normalization is
declarative so Catalyst keeps it inside whole-stage codegen:

  - strip fragment, lowercase scheme+host, drop default port
  - host + host_hash = xxhash64(host) — the key the engine partitions
    crawl state and politeness admission on

Relative hrefs are resolved inside the fused fetch+extract pass
(py_resolve_link ≡ urljoin ≙ crawler4j absUrl), which also applies the
byte-identical pure-Python normalize (py_normalize_url).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.parse_url(c, F.lit("HOST")))


def normalize_url(url: Column | str) -> Column:
    """Strip fragment + query-empty '?', lowercase scheme+host, drop
    default ports (http://h:80/ → http://h/, https://h:443/ → https://h/)."""
    c = F.col(url) if isinstance(url, str) else url
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"\?$", "")
    scheme_host = F.lower(F.regexp_extract(c, r"^(https?://[^/]+)", 1))
    rest = F.regexp_replace(c, r"^https?://[^/]+", "")
    c = F.when(scheme_host != "", F.concat(scheme_host, rest)).otherwise(c)
    c = F.regexp_replace(c, r"^(http://[^/:]+):80(?=/|\?|$)", "$1")
    c = F.regexp_replace(c, r"^(https://[^/:]+):443(?=/|\?|$)", "$1")
    return c


import re as _re

_PY_SCHEME_HOST = _re.compile(r"^(https?://[^/]+)")
_PY_P80 = _re.compile(r"^(http://[^/:]+):80(?=/|\?|$)")
_PY_P443 = _re.compile(r"^(https://[^/:]+):443(?=/|\?|$)")


def py_normalize_url(url: str) -> str:
    """Pure-Python replica of normalize_url, for the fused fetch+extract
    pass (extractors/udfs.fetch_extract_pass), which emits link rows
    already normalized so the scheduler's link pipeline runs no
    resolve+normalize regex stack on the full link volume. Byte-identical to the Column version
    on scheme-ful URLs without embedded newlines (property-tested in
    tests/test_frontier.py); a newline inside a URL would diverge (Java
    `.` / `$` are line-aware) but the href scanner never emits one."""
    i = url.find("#")
    if i >= 0:
        url = url[:i]
    if url.endswith("?"):
        url = url[:-1]
    m = _PY_SCHEME_HOST.match(url)
    if m:
        url = m.group(1).lower() + url[m.end():]
    url = _PY_P80.sub(r"\1", url)
    url = _PY_P443.sub(r"\1", url)
    return url


_PY_BASE = _re.compile(r"^(https?://[^/?#]+)")
from urllib.parse import urljoin as _urljoin  # noqa: E402


def py_resolve_link(src: str, href: str) -> str:
    """urllib.parse.urljoin with fast branches for the two href shapes that
    dominate discovered links on the corpus and the real web: absolute
    (returned as-is) and root-relative (scheme://host + href). urljoin
    re-parses both URLs on every call (~8 µs); the fast branches are
    ~0.5 µs and cover ~100% of the corpus href volume. Anything else —
    protocol-relative, directory-relative, query/fragment-only, uppercase
    schemes, dot segments (which urljoin removes even in absolute hrefs) —
    falls through to urljoin itself, so the function is byte-identical to
    urljoin everywhere (parity-tested in tests/test_frontier.py)."""
    if "/." not in href:
        if href.startswith("http://") or href.startswith("https://"):
            return href
        if href.startswith("/") and not href.startswith("//"):
            m = _PY_BASE.match(src)
            if m:
                return m.group(1) + href
    return _urljoin(src, href)


def with_url_cols(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach (host, host_hash) — the engine's partition key columns."""
    return df.withColumn("host", host_of(url_col)).withColumn(
        "host_hash", F.xxhash64(F.col("host"))
    )

