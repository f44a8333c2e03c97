"""Text-analysis columns for a large-scale training-data pipeline.

Language ID (character-class heuristic), quality scoring (length /
punctuation / word-length / stopword gates), token counting (whitespace +
BPE-ish regex), normalized-text and fingerprint dedup keys — all as JVM-side
Column expressions over a `text` column, so they run inside whole-stage
codegen at 100 TB with zero Python cost.

No reference analog (the reference stores raw text only); these are the
engine-side additions required for web-text curation at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish token regex: word pieces, numbers, CJK chars one-by-one,
# or single non-space symbols — close to GPT-2's pretokenizer classes.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[一-鿿]|[^\sA-Za-z0-9一-鿿]"

_EN_STOPWORDS = (
    "the|a|an|and|or|of|to|in|is|are|was|were|it|that|this|for|on|with|as|by|at|be"
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ws_token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(_c(col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count via the pretokenizer regex (regexp_count)."""
    return F.regexp_count(_c(col), F.lit(TOKEN_REGEX))


def detect_lang(col: Column | str) -> Column:
    """Character-class language ID: zh if CJK-dominant, en if Latin-dominant,
    else 'und'. Deterministic, cheap, codegen'd — the n-gram model upgrade
    slots in behind the same column name."""
    c = _c(col)
    ln = F.length(c)
    cjk = ln - F.length(F.regexp_replace(c, "[一-鿿]", ""))
    latin = ln - F.length(F.regexp_replace(c, "[A-Za-z]", ""))
    return (
        F.when((ln > 0) & (cjk / ln > 0.25), F.lit("zh"))
        .when((ln > 0) & (latin / ln > 0.4), F.lit("en"))
        .otherwise(F.lit("und"))
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] web-text quality score from four cheap gates:
    length band, punctuation sanity, word-length sanity, stopword (or CJK)
    presence. Gopher-rules-style heuristics, deterministic (no model
    weights), rounded to 4 decimals."""
    c = _c(col)
    ln = F.length(c)
    punct = ln - F.length(F.regexp_replace(c, r"[\p{P}\p{S}]", ""))
    toks = ws_token_count(c)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    mwl = F.when(toks > 0, nonspace / toks).otherwise(F.lit(0.0))
    sw = F.size(
        F.regexp_extract_all(
            F.lower(c), F.lit(r"\b(" + _EN_STOPWORDS + r")\b"), F.lit(0)
        )
    )
    swr = F.when(toks > 0, sw / toks).otherwise(F.lit(0.0))
    cjk = ln - F.length(F.regexp_replace(c, "[一-鿿]", ""))
    length_ok = F.when((ln >= 50) & (ln <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when((ln > 0) & (punct / ln < 0.3), 1.0).otherwise(0.0)
    word_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    sw_ok = F.when((swr > 0.05) | ((ln > 0) & (cjk / ln > 0.25)), 1.0).otherwise(0.0)
    return F.round((length_ok + punct_ok + word_ok + sw_ok) / 4.0, 4)


def norm_text(col: Column | str) -> Column:
    """Punct-stripped, whitespace-collapsed, lowercased text: the
    exact-dedup key."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(_c(col)), r"[\p{P}]", ""), r"\s+", " "
        )
    )


def doc_fingerprint(col: Column | str) -> Column:
    """64-bit content fingerprint: xxhash64 over punctuation/whitespace-
    normalized lowercase text — the exact-dedup key that survives
    whitespace jitter."""
    norm = F.regexp_replace(F.lower(_c(col)), r"[\s\p{P}]+", " ")
    return F.xxhash64(F.trim(norm))


def shingles(col: Column | str, k: int = 5) -> Column:
    """Array of k-word shingles (for MinHash / Jaccard dedup)."""
    toks = F.split(F.trim(F.lower(_c(col))), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )).otherwise(F.array(F.array_join(toks, " ")))


# ---------------------------------------------------------------------------
# Repetition filters (Gopher rules, Rae et al. 2021 Table A1): documents
# dominated by repeated lines or by one repeated n-gram are boilerplate /
# spam and poison LLM training data. All line stats are per-row array
# expressions (zero shuffle); only the top-bigram mode needs aggregation.


def _line_array(col: Column | str) -> Column:
    """Non-blank, space-trimmed lines of a text column."""
    return F.filter(
        F.transform(F.split(_c(col), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def dup_line_frac(col: Column | str) -> Column:
    """Fraction of non-blank lines that are repeats of an earlier line
    (1 - distinct/total); 0.0 for line-less text."""
    lines = _line_array(col)
    n = F.size(lines)
    return F.round(
        F.when(n > 0, 1.0 - F.size(F.array_distinct(lines)).cast("double") / n)
        .otherwise(F.lit(0.0)),
        4,
    )


def dup_line_char_frac(col: Column | str) -> Column:
    """Fraction of line characters carried by repeated line occurrences
    (1 - chars(distinct lines)/chars(all lines)); 0.0 for line-less text."""
    lines = _line_array(col)
    tot = F.aggregate(lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    dist = F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return F.round(
        F.when(tot > 0, 1.0 - dist.cast("double") / tot).otherwise(F.lit(0.0)), 4
    )


def repetition_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document repetition filters → (id, dup_line_frac,
    dup_line_char_frac, top_bigram_frac, rep_keep).

    top_bigram_frac is the token-fraction variant of the Gopher "top
    2-gram" rule: occurrences of the modal word bigram / total bigrams.
    rep_keep applies the published thresholds (dup lines ≤0.30, dup line
    chars ≤0.20, top 2-gram ≤0.18) to the rounded stats.

    Plan shape for 100 TB: ONE per-row projection, zero shuffles. The
    modal-bigram count is a pure function of the document's own bigram
    array — sort it and take the longest run of equal adjacent elements
    (array_sort + a running (prev, run, best) F.aggregate). The first
    version exploded (id, bigram) pairs into a groupBy(id, bigram) →
    groupBy(id) max: correct, but the explode materializes ~one row per
    TOKEN of the corpus and the hash aggregation carries nearly all of
    them into the exchange (few repeated bigrams). The per-row
    sort-and-scan replaces the corpus-volume shuffle with O(len log len)
    JVM work per document — measured 11× at sf0.1 (6.5 s → 0.57 s),
    bit-identical output, and it removes the two-branch join the explode
    form needed to dodge the §2j CollapseProject trap (no Generate, no
    trap).
    """
    c = _c(text_col)
    toks = F.filter(
        F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != F.lit("")
    )
    n_tok = F.size(toks)
    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def _mode_count(arr):
        """Max multiplicity of any element: longest equal-adjacent run
        of the sorted array. 0 for an empty array."""
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def merge(s, x):
            run = F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(s["best"], run).alias("best"),
            )

        return F.aggregate(F.array_sort(arr), init, merge, lambda s: s["best"])

    stats = docs.select(
        F.col(id_col),
        dup_line_frac(c).alias("dup_line_frac"),
        dup_line_char_frac(c).alias("dup_line_char_frac"),
        (n_tok - 1).alias("n_bigrams"),
        _mode_count(bigrams).alias("top_cnt"),
    )
    tbf = F.round(
        F.when(
            F.col("n_bigrams") > 0,
            F.col("top_cnt").cast("double") / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)),
        4,
    )
    return stats.select(
        F.col(id_col),
        "dup_line_frac",
        "dup_line_char_frac",
        tbf.alias("top_bigram_frac"),
        (
            (F.col("dup_line_frac") <= 0.30)
            & (F.col("dup_line_char_frac") <= 0.20)
            & (tbf <= 0.18)
        ).alias("rep_keep"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (the Dolma / ROOTS-style redaction pass): emails, IPv4
# addresses, and dashed phone numbers are replaced with typed tokens
# before text ships to training. Patterns deliberately avoid lookarounds
# so they mean the same thing under Java regex (Spark) and RE2 (DuckDB),
# which is what makes the pass oracle-checkable cross-engine.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}-\d{4}\b"


def pii_scrub(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Redact PII → (id, clean_text, n_emails, n_ips, n_phones).

    Replacement order is email → IPv4 → phone, with each count taken on
    the intermediate string the pattern actually ran against, so the
    three passes compose deterministically (an email's host part can
    never be double-counted as an IP, etc). Pure Column expressions —
    whole-stage codegen, zero shuffle, linear in corpus size.
    """
    t0 = _c(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (the CCNet third pillar, Wenzek et al.
# 2019: dedup / lang-id / LM perplexity bucketing). CCNet scores each
# document with a KenLM 5-gram model; no external LM exists in this
# environment, so the model is a self-trained in-corpus unigram LM —
# the same scoring contract (mean negative log-probability per token,
# lower = more natural relative to the corpus) with the model swap
# point documented.


def unigram_lm_scores(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document unigram negative-log-likelihood rate →
    (id, n_tokens, logppl) where logppl = -mean ln p(tok) under the
    corpus-wide MLE unigram model p(tok) = count(tok) / total_tokens.
    Documents with no tokens are absent (no distribution to score).

    Plan shape for 100 TB: two scans of the corpus. Scan 1 builds the
    vocabulary — explode tokens → groupBy(token); the map-side partial
    aggregation compresses token INSTANCES to the per-partition
    VOCABULARY, so the exchange carries ~|vocab| rows per partition,
    not corpus volume (unlike the per-(doc,bigram) shape §2u replaced —
    natural-language token frequencies are Zipfian, so the compression
    is large by construction). Scan 2 re-explodes and joins the
    BROADCAST vocabulary map-side, then partially aggregates
    (id, Σ ln p, count) before the only other exchange — token
    instances never ride a shuffle. The broadcast is the resource
    contract: a unigram vocab is ~10⁶-10⁸ rows.
    """
    c = _c(text_col)
    toks = F.filter(
        F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != F.lit("")
    )
    inst = docs.select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok")
    ).filter(F.col("tok").isNotNull())
    vocab = inst.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    scored = (
        inst.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log(F.col("cnt") / F.col("n_total"))).alias("_slp"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.round(-F.col("_slp") / F.col("n_tokens"), 4).alias("logppl"),
    )
