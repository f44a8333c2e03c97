"""Scalar string/date helpers replicating the reference's semantics.

Each function mirrors a helper from the reference suite (cited per
function, reference root = /root/reference/src/main/java/com/pxene/dmp)
but is expressed as a JVM-side pyspark Column expression so it stays
inside whole-stage codegen — no Python in the hot path.

Byte-compat notes (SURVEY.md §2.7):
- regexp_extract_trim returns '' (never null) and trims, like
  common/StringUtils.java:10-20.
- the date helpers return '' on null/'null'/parse-error like
  StringUtils.java:44-52,63-71 — not null.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# C1 — StringUtils.regexpExtract (common/StringUtils.java:10-20):
# group(1) of first match, trimmed; '' when no match or null input.


def regexp_extract_trim(col: Column | str, pattern: str, group: int = 1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_extract(F.coalesce(c, F.lit("")), pattern, group))


# C2 — StringUtils.removePunctuations (StringUtils.java:22-27):
# strips \pP (punct), \pZ (separators), \pS (symbols).


def remove_punctuations(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[\p{P}\p{Z}\p{S}]", "")


# C3 — StringUtils.removeLineBreak (StringUtils.java:29-34).


def remove_line_break(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[\n\r]", "")


# C4 — StringUtils.timeStamp2Date (StringUtils.java:44-52): input is an
# epoch-SECONDS string; returns formatted local time, '' for null/'null'/''.
# fmt uses Java SimpleDateFormat patterns, same dialect Spark uses.


def timestamp_to_date(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    bad = c.isNull() | (c == "null") | (c == "")
    # try_cast: ANSI-safe — a non-numeric string must yield '' (the reference
    # returns '' on bad input), never a CAST_INVALID_INPUT error.
    formatted = F.date_format(F.to_timestamp(F.from_unixtime(c.try_cast("long"))), fmt)
    return F.when(bad, F.lit("")).otherwise(F.coalesce(formatted, F.lit("")))


# C5 — StringUtils.date2TimeStamp (StringUtils.java:63-71): date string →
# epoch-seconds string; '' on parse error (try_to_timestamp → null → '').


def date_to_timestamp(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    ts = F.try_to_timestamp(c, F.lit(fmt))
    return F.coalesce(F.unix_timestamp(ts).cast("string"), F.lit(""))


# C6 — StringUtils.stringinsert (StringUtils.java:80-82): insert `ins` at
# 0-based position idx. Used to insert '-' at pos 8 of yyyyMMddHHmmss
# (crawler/ms/Crawler4Dxy.java:146).


def string_insert(col: Column | str, ins: str, idx: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.substring(c, 1, idx), F.lit(ins), F.substring(c, idx + 1, 2147483640))


# C7 — date-format completion with the reference's invalid sentinel
# (crawler/ms/Crawler4Dxy.java:110-116): pad 'yyyy-MM-dd' with ' 00:00:00',
# 'yyyy-MM-dd HH:mm' with ':00'; empty/other → the literal (buggy but
# observable) sentinel '1970-00-00 00:00:00'.

DATE_SENTINEL = "1970-00-00 00:00:00"


def complete_datetime(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    full = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"
    ymd_hm = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}$"
    ymd = r"^\d{4}-\d{2}-\d{2}$"
    return (
        F.when(c.rlike(full), c)
        .when(c.rlike(ymd_hm), F.concat(c, F.lit(":00")))
        .when(c.rlike(ymd), F.concat(c, F.lit(" 00:00:00")))
        .otherwise(F.lit(DATE_SENTINEL))
    )


# C8 — 'yyyy-M-d H:m:s' → zero-padded 'yyyyMMdd'
# (crawler/auto/Crawler4Autohome.java:447-458).


def compact_date(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.try_to_timestamp(c, F.lit("yyyy-M-d H:m:s")), "yyyyMMdd")


# C9 — locale datetime parse: java.util.Date.toString() form
# 'EEE MMM dd HH:mm:ss zzz yyyy' → timestamp (crawler/auto/
# Crawler4PCAuto.java:655-671, SimpleDateFormat @ GMT+8). Spark ≥3 bans
# 'EEE' in *parse* patterns (week-day adds no information), so the helper
# strips the leading weekday token and parses the remainder.


def parse_locale_datetime(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    rest = F.regexp_replace(c, r"^[A-Za-z]{3}\s+", "")
    return F.try_to_timestamp(rest, F.lit("MMM dd HH:mm:ss zzz yyyy"))


# C10 — str2Timestamp returning epoch-millis string, '0' on error
# (crawler/auto/Crawler4PCAuto.java:635-648).


def date_to_millis(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    ts = F.try_to_timestamp(c, F.lit(fmt))
    return F.coalesce((F.unix_timestamp(ts) * 1000).cast("string"), F.lit("0"))


# C11 — substring-after-colon trim (Crawler4PCAuto.java:394-410).


def after_colon(col: Column | str, sep: str = ":") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.substring_index(c, sep, -1))


# C12 — numeric extraction '([.\d]+)万' — price in 10k units, kept as the
# extracted string (Crawler4Autohome.java:180; byte-compat: NOT multiplied).


def extract_wan_price(col: Column | str) -> Column:
    return regexp_extract_trim(col, r"([.\d]+)万", 1)


# C13 — gender encoding: contains 男→'0' else '1'
# (Crawler4Autohome.java:287-300).


def gender_code(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.contains("男"), F.lit("0")).otherwise(F.lit("1"))


# C15 — zero-padded sequence names classification01..NN
# (crawler/ec/Crawler4Jingdong.java:550-563).


def classification_name(idx: Column | str) -> Column:
    c = F.col(idx) if isinstance(idx, str) else idx
    return F.format_string("classification%02d", c.cast("int"))


# C17 — URL-decode (crawler/social/worker/WXMetaDataGenerator.java:95-98).


def url_decode(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.try_url_decode(c)


# C20 — JSONP unwrap: body like `cb123({...});` → the inner JSON
# (Crawler4Jingdong.java:480; Crawler4Gpsspg.java:391).


def jsonp_unwrap(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^\s*[\w$.]*\((.*)\)\s*;?\s*$", 1)


# C22 — bsid → (sid, nid, bid) 4+4+4 hex split
# (crawler/gpsspg/Crawler4Gpsspg.java:197-213).


def bsid_sid(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, 4)


def bsid_nid(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 5, 4)


def bsid_bid(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 9, 4)


# S1 — SeedParser range templates (common/SeedParser.java:5-31):
# 'http://h/p-[1-50].html' → array of expanded URLs. Column-level:
# returns an ArrayType(StringType) column; explode() at call site.


def expand_seed_template(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    lo = F.regexp_extract(c, r"\[(\d+)-(\d+)\]", 1).cast("long")
    hi = F.regexp_extract(c, r"\[(\d+)-(\d+)\]", 2).cast("long")
    prefix = F.regexp_extract(c, r"^(.*?)\[\d+-\d+\]", 1)
    suffix = F.regexp_extract(c, r"\[\d+-\d+\](.*)$", 1)
    expanded = F.transform(
        F.sequence(lo, hi), lambda i: F.concat(prefix, i.cast("string"), suffix)
    )
    return F.when(c.rlike(r"\[\d+-\d+\]"), expanded).otherwise(F.array(c))
