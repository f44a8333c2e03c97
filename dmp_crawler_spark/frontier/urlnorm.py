"""URL normalization + host-hash columns (all JVM-side Column expressions).

The reference leans on crawler4j's URLCanonicalizer; here normalization is
declarative so Catalyst keeps it inside whole-stage codegen:

  - strip fragment, lowercase scheme+host, drop default port
  - resolve relative hrefs against the source URL (crawler4j absUrl)
  - host + host_hash = xxhash64(host) — the partitioning key the whole
    engine shuffles on (north rule: salted host-hash partitioning)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.parse_url(c, F.lit("HOST")))


def host_hash_of(url: Column | str) -> Column:
    return F.xxhash64(host_of(url))


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


def _normalize_dots(url: Column) -> Column:
    """RFC 3986 §5.2.4 remove-dot-segments on the path of an absolute URL,
    as a pure Column expression: split the path on '/', fold segments with
    F.aggregate ('.' skipped, '..' pops, clamped at root), and re-join.
    Query/fragment are held aside so '?a=./x' is untouched."""
    base = F.regexp_extract(url, r"^(https?://[^/?#]*)", 1)
    path = F.regexp_extract(url, r"^https?://[^/?#]*([^?#]*)", 1)
    tail = F.regexp_extract(url, r"^https?://[^/?#]*[^?#]*([?#].*)?$", 1)
    has_dots = path.rlike(r"(^|/)\.\.?(/|$)")
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(
                s == "..",
                F.when(
                    F.size(acc) > 1,
                    F.slice(acc, 1, F.size(acc) - 1),
                ).otherwise(acc),
            )
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    last = F.element_at(segs, -1)
    rebuilt = F.concat_ws("/", folded)
    # '.'/'..' as the FINAL segment leaves a trailing slash (urljoin parity)
    rebuilt = F.when(
        (last == ".") | (last == ".."), F.concat(rebuilt, F.lit("/"))
    ).otherwise(rebuilt)
    return F.when(has_dots, F.concat(base, rebuilt, tail)).otherwise(url)


def resolve_link(src: Column | str, href: Column | str) -> Column:
    """crawler4j/jsoup absUrl ≙ RFC 3986 relative resolution: absolute
    stays; '//host/x' inherits scheme; '/x' joins scheme://host; '?q'
    replaces the source query; '#f' replaces the fragment; 'x' joins the
    source directory. './' and '../' segments are then normalized
    (remove-dot-segments, clamped at root). Property-tested against
    urllib.parse.urljoin (tests/test_frontier.py)."""
    s = F.col(src) if isinstance(src, str) else src
    h = F.col(href) if isinstance(href, str) else href
    scheme = F.regexp_extract(s, r"^(https?)://", 1)
    base = F.regexp_extract(s, r"^(https?://[^/]+)", 1)
    src_no_frag = F.regexp_replace(s, r"#.*$", "")
    src_no_query = F.regexp_replace(src_no_frag, r"\?.*$", "")
    src_dir = F.regexp_extract(src_no_query, r"^(https?://.*/)[^/]*$", 1)
    # pathless source ("http://a.com"): the directory is the root
    src_dir = F.when(src_dir == "", F.concat(base, F.lit("/"))).otherwise(src_dir)
    joined = (
        F.when(h.rlike(r"^https?://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(base, h))
        .when(h.startswith("?"), F.concat(src_no_query, h))
        .when(h.startswith("#"), F.concat(src_no_frag, h))
        .when(h == "", s)
        .otherwise(F.concat(src_dir, h))
    )
    return _normalize_dots(joined)


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


def salted_partition(host_hash: Column | str, n_partitions: int, salt_buckets: int = 1,
                     url: Column | str | None = None) -> Column:
    """Partition id with optional per-host salting: hot hosts (Zipf head)
    spread over `salt_buckets` partitions so one domain can't pin an
    executor; politeness caps are applied per-host before this, so the
    split never violates ordering semantics."""
    hh = F.col(host_hash) if isinstance(host_hash, str) else host_hash
    if salt_buckets <= 1 or url is None:
        return F.pmod(hh, F.lit(n_partitions))
    u = F.col(url) if isinstance(url, str) else url
    salt = F.pmod(F.xxhash64(u), F.lit(salt_buckets))
    return F.pmod(hh + salt, F.lit(n_partitions))
