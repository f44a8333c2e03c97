"""Minimal jsoup-compatible DOM on stdlib html.parser.

The reference extracts fields with jsoup CSS selectors and relies on
jsoup's `Element.text()` whitespace normalization (single-space join,
trim, block-element boundaries become single spaces). This module
reimplements exactly those semantics in pure Python so that (a) the
extraction oracle and (b) the vectorized pandas-UDF extractors share one
byte-identical text function (the per-row invariant in BASELINE.json).

jsoup text() rule replicated (jsoup Element.text() / appendNormalisedText):
  - text nodes: collapse runs of whitespace to one space; drop a leading
    space if the accumulator is empty or already ends with a space
  - element nodes: if block-level or <br>, and accumulator is non-empty
    and doesn't end with a space, append one space
  - final result is trimmed

Selector subset (all the reference uses — SURVEY.md §2.7 C23):
  tag, #id, .class, [attr], [attr=val], compound (div.a#b[x=y]),
  descendant combinator (space), child combinator (>), grouping (,).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# jsoup's block-level tag set (org.jsoup.parser.Tag isBlock), trimmed to
# tags that can plausibly appear in our corpora.
_BLOCK = {
    "html", "body", "head", "div", "p", "ul", "ol", "li", "table", "tr",
    "td", "th", "thead", "tbody", "tfoot", "h1", "h2", "h3", "h4", "h5",
    "h6", "blockquote", "pre", "dl", "dt", "dd", "section", "article",
    "header", "footer", "nav", "aside", "form", "fieldset", "hr",
    "script", "style", "title",
}

_WS_RE = re.compile(r"\s+")
# fast-path detector: a string is CHANGED by _WS_RE.sub(" ", s) only if it
# contains a whitespace char other than plain ' ' ([^\S ] is
# unicode-whitespace minus space) or a multi-space run — most text nodes
# are already normalized, and one C-level search beats a sub per node
_WS_DIRTY_RE = re.compile(r"[^\S ]| {2,}")

# Text nodes repeat heavily within and across pages of a site (boilerplate,
# nav items, inter-tag whitespace runs), so the normalize result is memoized
# for short-to-medium nodes. Bounded both ways: entries ≤ _NORM_MAX_LEN chars
# and the dict is cleared at _NORM_MAX_ENTRIES (worst case ≈ 32 MB/worker).
# Measured on the corpus archetypes: 97% hit rate, whole-page text collection
# drops ~4× (the dirty-scan regex over long repeated nodes was 40% of parse).
_NORM_CACHE: dict[str, str] = {}
_NORM_MAX_LEN = 4096
_NORM_MAX_ENTRIES = 8192


def _norm_ws(s: str) -> str:
    """_WS_RE.sub(' ', s), skipping the sub when it would be the identity."""
    if len(s) <= _NORM_MAX_LEN:
        v = _NORM_CACHE.get(s)
        if v is None:
            v = s if _WS_DIRTY_RE.search(s) is None else _WS_RE.sub(" ", s)
            if len(_NORM_CACHE) >= _NORM_MAX_ENTRIES:
                _NORM_CACHE.clear()
            _NORM_CACHE[s] = v
        return v
    if _WS_DIRTY_RE.search(s) is None:
        return s
    return _WS_RE.sub(" ", s)


class Element:
    __slots__ = ("tag", "attrs", "children", "parent", "_desc", "_idx")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None,
                 parent: "Element | None" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[object] = []  # Element | str (text node)
        self.parent = parent
        self._desc: list["Element"] | None = None  # select() descendant cache
        self._idx: dict | None = None  # select() tag→elements index

    # -- attribute / class helpers ------------------------------------
    def attr(self, name: str) -> str:
        return self.attrs.get(name, "")

    def has_class(self, cls: str) -> bool:
        return cls in self.attrs.get("class", "").split()

    @property
    def id(self) -> str:
        return self.attrs.get("id", "")

    # -- traversal ------------------------------------------------------
    def iter_elements(self):
        for ch in self.children:
            if isinstance(ch, Element):
                yield ch
                yield from ch.iter_elements()

    def child_elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def next_element_sibling(self) -> "Element | None":
        if self.parent is None:
            return None
        sibs = self.parent.child_elements()
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    # -- jsoup text() ----------------------------------------------------
    def text(self) -> str:
        parts: list[str] = []

        def ends_with_space() -> bool:
            return bool(parts) and parts[-1].endswith(" ")

        def walk(el: Element) -> None:
            # jsoup parses <script>/<style> content as DataNode, which
            # Element.text() excludes — replicate that.
            if el.tag in ("script", "style"):
                return
            for ch in el.children:
                if isinstance(ch, str):
                    norm = _norm_ws(ch)
                    if norm.startswith(" ") and (not parts or ends_with_space()):
                        norm = norm[1:]
                    if norm:
                        parts.append(norm)
                else:
                    if (ch.tag in _BLOCK or ch.tag == "br") and parts and not ends_with_space():
                        parts.append(" ")
                    walk(ch)

        walk(self)
        return "".join(parts).strip()

    def own_text(self) -> str:
        """jsoup ownText(): normalized text of direct text-node children."""
        parts: list[str] = []
        for ch in self.children:
            if isinstance(ch, str):
                norm = _norm_ws(ch)
                if norm.startswith(" ") and (not parts or parts[-1].endswith(" ")):
                    norm = norm[1:]
                if norm:
                    parts.append(norm)
        return "".join(parts).strip()

    def html_inner(self) -> str:
        out: list[str] = []
        for ch in self.children:
            if isinstance(ch, str):
                out.append(ch)
            else:
                out.append(ch.html_outer())
        return "".join(out)

    def html_outer(self) -> str:
        a = "".join(f' {k}="{v}"' for k, v in self.attrs.items())
        if self.tag in _VOID:
            return f"<{self.tag}{a}>"
        return f"<{self.tag}{a}>{self.html_inner()}</{self.tag}>"

    # -- CSS select -------------------------------------------------------
    def select(self, selector: str) -> list["Element"]:
        out: list[Element] = []
        seen: set[int] = set()
        for group in selector.split(","):
            for el in _select_group(self, group.strip()):
                if id(el) not in seen:
                    seen.add(id(el))
                    out.append(el)
        return out

    def select_one(self, selector: str) -> "Element | None":
        res = self.select(selector)
        return res[0] if res else None

    def elements_containing_own_text(self, needle: str) -> list["Element"]:
        """jsoup getElementsContainingOwnText."""
        return [el for el in self.iter_elements() if needle in el.own_text()]

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Element {self.tag} id={self.id!r}>"


_SIMPLE_RE = re.compile(
    r"(?P<tag>[a-zA-Z][\w-]*|\*)?"
    r"(?P<rest>(?:[#.][\w-]+|\[[^\]]+\])*)"
)
_PART_RE = re.compile(r"([#.][\w-]+|\[[^\]]+\])")


from functools import lru_cache


@lru_cache(maxsize=512)
def _compile_simple(simple: str):
    """Parse one simple selector ONCE into (tag, typed parts) — selector
    strings are a small fixed set per extractor, but _match_simple runs
    hundreds of times per select(); re-regexing the selector per element
    was ~10% of whole-page extraction time."""
    m = _SIMPLE_RE.fullmatch(simple)
    if not m:
        return None
    tag = m.group("tag")
    tag = tag.lower() if tag and tag != "*" else None
    parts: list[tuple] = []
    for part in _PART_RE.findall(m.group("rest") or ""):
        if part.startswith("#"):
            parts.append(("id", part[1:]))
        elif part.startswith("."):
            parts.append(("class", part[1:]))
        else:  # [attr], [attr=val], [attr^=val], [attr!=val] (jsoup)
            body = part[1:-1]
            if "!=" in body:
                k, v = body.split("!=", 1)
                parts.append(("attr_ne", k.strip(), v.strip("\"'")))
            elif "^=" in body:
                k, v = body.split("^=", 1)
                parts.append(("attr_prefix", k.strip(), v.strip("\"'")))
            elif "=" in body:
                k, v = body.split("=", 1)
                parts.append(("attr_eq", k.strip(), v.strip("\"'")))
            else:
                parts.append(("attr_has", body.strip()))
    return tag, tuple(parts)


# class-attr strings repeat across elements (shared boilerplate), so the
# split result is memoized; bounded like _NORM_CACHE
_CLASS_CACHE: dict[str, list] = {}


def _split_classes(cls: str) -> list:
    v = _CLASS_CACHE.get(cls)
    if v is None:
        v = cls.split()
        if len(_CLASS_CACHE) >= _NORM_MAX_ENTRIES:
            _CLASS_CACHE.clear()
        _CLASS_CACHE[cls] = v
    return v


def _match_compiled(el: Element, compiled) -> bool:
    if compiled is None:
        return False
    tag, parts = compiled
    if tag is not None and el.tag != tag:
        return False
    attrs = el.attrs
    for p in parts:
        op = p[0]
        if op == "id":
            if attrs.get("id", "") != p[1]:
                return False
        elif op == "class":
            if p[1] not in _split_classes(attrs.get("class", "")):
                return False
        elif op == "attr_ne":
            # jsoup [attr!=val]: matches when the attribute differs OR
            # is absent entirely (attr() returns '' for missing)
            if attrs.get(p[1], "") == p[2]:
                return False
        elif op == "attr_prefix":
            if not attrs.get(p[1], "").startswith(p[2]):
                return False
        elif op == "attr_eq":
            if attrs.get(p[1]) != p[2]:
                return False
        else:  # attr_has
            if p[1] not in attrs:
                return False
    return True


def _match_simple(el: Element, simple: str) -> bool:
    return _match_compiled(el, _compile_simple(simple))


@lru_cache(maxsize=512)
def _parse_group(group: str):
    """Tokenize a selector group (combinator chain) once per distinct
    string; returns (simples, combs) with combs[k] the combinator to the
    LEFT of simples[k]."""
    tokens = re.findall(r">|[^\s>]+", group)
    if not tokens:
        return None
    simples: list[str] = [tokens[0]]
    combs: list[str] = [""]
    i = 1
    while i < len(tokens):
        comb = " "
        if tokens[i] == ">":
            comb = ">"
            i += 1
        simples.append(tokens[i])
        combs.append(comb)
        i += 1
    return tuple(simples), tuple(combs)


def _select_group(root: Element, group: str) -> list[Element]:
    """jsoup-semantics select: candidates are the context element itself
    plus its descendants (jsoup Element.getAllElements includes self — the
    reference leans on this, e.g. font.select("font > div > h4") where the
    context font matches the leftmost part), matched right-to-left; the
    ancestor chain for combinators may climb ABOVE the context element
    (jsoup evaluates ancestry absolutely, not subtree-bounded)."""
    parsed = _parse_group(group)
    if parsed is None:
        return []
    simples, combs = parsed
    compiled = [_compile_simple(s) for s in simples]

    def chain_ok(el: Element, k: int) -> bool:
        if k == 0:
            return True
        if combs[k] == ">":
            p = el.parent
            return (
                p is not None and p.tag != "#root"
                and _match_compiled(p, compiled[k - 1]) and chain_ok(p, k - 1)
            )
        p = el.parent
        while p is not None and p.tag != "#root":
            if _match_compiled(p, compiled[k - 1]) and chain_ok(p, k - 1):
                return True
            p = p.parent
        return False

    last = len(simples) - 1
    desc = root._desc
    if desc is None:
        # trees are immutable once _Builder finishes (selectors/text() are
        # read-only), so the flattened descendant list is cached per
        # element — select() is called several times per page
        desc = list(root.iter_elements())
        root._desc = desc
    comp_last = compiled[last]
    if comp_last is not None and comp_last[0] is not None and comp_last[0] != "*":
        # tag-indexed candidates: nearly every extractor selector ends in a
        # tagged simple, so the final match scans ~count(tag) elements
        # instead of the whole tree. Index is built once per context
        # element alongside _desc (same immutability argument) and
        # preserves document order; the context element itself is a
        # candidate when its tag matches (jsoup getAllElements includes
        # self — see docstring).
        idx = root._idx
        if idx is None:
            idx = {}
            for e in desc:
                lst = idx.get(e.tag)
                if lst is None:
                    idx[e.tag] = [e]
                else:
                    lst.append(e)
            root._idx = idx
        cands = idx.get(comp_last[0], ())
        if root.tag == comp_last[0]:
            cands = [root, *cands]
        return [el for el in cands
                if _match_compiled(el, comp_last) and chain_ok(el, last)]
    pool = ([root] if root.tag != "#root" else []) + desc
    return [el for el in pool
            if _match_compiled(el, comp_last) and chain_ok(el, last)]


class _Builder(HTMLParser):
    """Tree builder; with collect_text=True it ALSO accumulates the jsoup
    Document.text() stream during the same pass (handle_* events arrive in
    document order, which is exactly the order Element.text() walks), so
    whole-page text costs zero extra traversals. Byte-parity with
    Element.text() is asserted in tests/test_extractors.py. Driven only by
    stdlib_parse below."""

    def __init__(self, collect_text: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root")
        self.stack = [self.root]
        self._raw_depth = 0  # inside <script>/<style> (jsoup DataNode)
        self.text_parts: list[str] | None = [] if collect_text else None

    def _text_block_break(self, tag: str) -> None:
        parts = self.text_parts
        if (tag in _BLOCK or tag == "br") and parts and not parts[-1].endswith(" "):
            parts.append(" ")

    # stdlib HTMLParser lowercases tag/attr names before dispatch
    # (parse_starttag / parse_endtag), so the handlers don't re-lower.

    def handle_starttag(self, tag, attrs):
        el = Element(tag, dict(attrs), parent=self.stack[-1])
        self.stack[-1].children.append(el)
        if tag not in _VOID:
            self.stack.append(el)
        if self.text_parts is not None:
            if tag in ("script", "style"):
                self._raw_depth += 1
            elif not self._raw_depth:
                self._text_block_break(tag)

    def handle_startendtag(self, tag, attrs):
        el = Element(tag, dict(attrs), parent=self.stack[-1])
        self.stack[-1].children.append(el)
        if self.text_parts is not None and not self._raw_depth:
            self._text_block_break(tag)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break
        if self.text_parts is not None and tag in ("script", "style"):
            self._raw_depth = max(0, self._raw_depth - 1)

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)
            parts = self.text_parts
            if parts is not None and not self._raw_depth:
                norm = _norm_ws(data)
                if norm.startswith(" ") and (not parts or parts[-1].endswith(" ")):
                    norm = norm[1:]
                if norm:
                    parts.append(norm)


def stdlib_parse(rawdata: str, collect_text: bool) -> tuple[Element, list | None]:
    """The reference parse: _Builder driven by the public HTMLParser API
    (feed + close). The parity tests pin _fused_parse to it, and it is
    _fused_parse itself on a CPython without the private grammar."""
    b = _Builder(collect_text=collect_text)
    b.feed(rawdata or "")
    b.close()
    return b.root, b.text_parts


# ---------------------------------------------------------------------------
# Fused tokenizer + builder. stdlib HTMLParser.feed spends most of its time
# in per-construct dispatch, line/column bookkeeping (updatepos) and charref
# scanning that a whole-document parse doesn't need; _fused_parse below
# scans the document once and builds the tree inline with the same event
# semantics as HTMLParser driving _Builder (mirroring
# goahead/parse_starttag/parse_endtag for the convert_charrefs=True,
# single-feed case) at a fraction of the cost. Well-formed tags take a
# single-regex fast path; anything unusual falls back to the stdlib's own
# tolerant regexes so attribute/recovery semantics stay byte-identical.
# Parity with stdlib_parse is asserted over every corpus archetype, a
# malformed-html battery and a fuzz sweep in tests/test_htmlmini.py.

from html import unescape as _unescape  # noqa: E402  (stdlib html package)

# The tolerant-grammar regexes are undocumented html.parser internals
# (verified against CPython 3.11's module); a future CPython may remove or
# rename them, so their absence must degrade to the public HTMLParser
# drive (ADVICE r03), keeping _fused_parse an optimization rather than a
# hard dependency on stdlib internals.
try:
    from html.parser import (  # noqa: E402  — the stdlib's tolerant grammar
        attrfind_tolerant as _attrfind,
        commentclose as _commentclose,
        endtagfind as _endtagfind,
        locatestarttagend_tolerant as _locatestart,
        piclose as _piclose,
        tagfind_tolerant as _tagfind,
    )

    _HAVE_TOLERANT_GRAMMAR = True
except ImportError:  # pragma: no cover — exercised via test monkeypatch
    _HAVE_TOLERANT_GRAMMAR = False

# one regex per well-formed start tag: name + zero or more
# double-quoted/single-quoted/bare attributes without entities, optional
# self-close. Anything it can't swallow goes through the tolerant path.
_FAST_START = re.compile(
    r'<([a-zA-Z][-.a-zA-Z0-9:_]*)'
    r'((?:\s+[^\s/>=&]+(?:=(?:"[^"&<>]*"|\'[^\'&<>]*\'|[^>\s\'"=&]+))?)*)'
    r'\s*(/?)>'
)
_FAST_ATTR = re.compile(
    r'([^\s/>=&]+)(?:=(?:"([^"]*)"|\'([^\']*)\'|([^>\s\'"=&]+)))?'
)
# the full close tag, as in 3.11's set_cdata_mode: `</scriptx>` or
# `</script attr>` never leaves raw-text mode
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")

# Raw attribute strings repeat heavily across a site's pages (the same
# class=/id= boilerplate on every page; measured 89% repeats on the corpus
# archetypes), so the parsed attr dict is memoized and SHARED across
# elements with identical raw attr strings. Safe because Element.attrs is
# never mutated after construction — the only write in the repo is the
# __init__ assignment (invariant asserted by grep in round 4; selectors,
# text() and extractors are read-only). Bounded like _NORM_CACHE:
# unique-href churn just cycles the dict.
_ATTR_DICTS: dict[str, dict] = {}


def _attr_dict(rawattrs: str) -> dict:
    d = _ATTR_DICTS.get(rawattrs)
    if d is None:
        d = {}
        for a in _FAST_ATTR.finditer(rawattrs):
            v = a.group(2)
            if v is None:
                v = a.group(3) if a.group(3) is not None else a.group(4)
            d[a.group(1).lower()] = v
        if len(_ATTR_DICTS) >= _NORM_MAX_ENTRIES:
            _ATTR_DICTS.clear()
        _ATTR_DICTS[rawattrs] = d
    return d


def _flush_incomplete(rawdata: str, i: int, handle_data) -> int:
    """The goahead end-of-input recovery: an unterminated construct is
    flushed as data up to the next '>' (inclusive) / '<' / one char."""
    k = rawdata.find(">", i + 1)
    if k < 0:
        k = rawdata.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    chunk = rawdata[i:k]
    if "&" in chunk:
        chunk = _unescape(chunk)
    handle_data(chunk)
    return k


_BLOCK_BR = frozenset(_BLOCK) | {"br"}

# Whole-tag-string memos: a site's pages repeat the same literal tag
# strings heavily (measured 88% repeats across corpus archetypes), so the
# (tag, shared-attrs-dict, selfclose) triple is cached keyed by the raw
# `<...>` slice. Sound because _FAST_START forbids '>' anywhere inside a
# match (attr values exclude it), so whenever it matches, the match ends
# exactly at the first '>' — the cached slice IS the regex input, and a
# hit replaces match+lower+attr-parse with one str.find + dict get
# (measured 2.6 → 1.3 µs/tag). A None value marks a slice the fast
# grammar can't parse: those fall through to the tolerant path below.
# Attr dicts are shared exactly as _attr_dict already shares them
# (Element.attrs is immutable by invariant). Bounded like _NORM_CACHE.
_TAG_CACHE: dict[str, tuple | None] = {}
_END_CACHE: dict[str, str | None] = {}
_TAG_MEMO_MAX = 32  # only memoize short tag slices (see branch comment)


def _fused_parse(rawdata: str, collect_text: bool) -> tuple[Element, list | None]:
    """One token scan building the tree and text stream inline instead of
    through per-event method dispatch (~390 handle_* calls per corpus
    page, measured ~40% of parse time). The result is byte-identical to
    stdlib_parse — pinned by the archetype/edge/fuzz parity battery in
    tests/test_htmlmini.py. Attr dicts on the well-formed fast path are
    shared via _attr_dict (Element.attrs is immutable by invariant)."""
    root = Element("#root")
    stack = [root]
    parts: list | None = [] if collect_text else None
    cdata_elem: str | None = None
    i, n = 0, len(rawdata)

    def emit_data(data: str) -> None:
        # full handle_data semantics for the rare/recovery paths
        # (_flush_incomplete, bogus tags, stray '<')
        if data:
            stack[-1].children.append(data)
            if parts is not None and cdata_elem is None:
                norm = _norm_ws(data)
                if norm.startswith(" ") and (not parts or parts[-1].endswith(" ")):
                    norm = norm[1:]
                if norm:
                    parts.append(norm)

    while i < n:
        if cdata_elem is None:
            j = rawdata.find("<", i)
            if j < 0:
                j = n
            if i < j:
                chunk = rawdata[i:j]
                if "&" in chunk:
                    chunk = _unescape(chunk)
                if chunk:
                    stack[-1].children.append(chunk)
                    if parts is not None:
                        # inline _NORM_CACHE hit (97% of data nodes)
                        norm = _NORM_CACHE.get(chunk)
                        if norm is None:
                            norm = _norm_ws(chunk)
                        if norm.startswith(" ") and (
                            not parts or parts[-1].endswith(" ")
                        ):
                            norm = norm[1:]
                        if norm:
                            parts.append(norm)
            i = j
            if i == n:
                break
        else:
            m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
            if not m:
                # unterminated raw-text element: stdlib buffers forever
                return root, parts
            j = m.start()
            if i < j:
                # DataNode content: in the tree, never in text()
                stack[-1].children.append(rawdata[i:j])
            tag = cdata_elem
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == tag:
                    del stack[k:]
                    break
            cdata_elem = None
            i = m.end()
            continue
        nxt = rawdata[i + 1:i + 2]
        if ("a" <= nxt <= "z") or ("A" <= nxt <= "Z"):
            # --- start tag: memoized whole-tag fast path for SHORT tags
            # (boilerplate `<div class=...>` repeats; long tags are mostly
            # unique-href anchors whose churn would thrash the memo —
            # measured: ≤32-char slices are 88% of occurrences with only
            # ~300 distinct strings, while the >32 tail is ~90% unique)
            gt = rawdata.find(">", i)
            v: tuple | None | bool = False
            if 0 <= gt - i < _TAG_MEMO_MAX:
                key = rawdata[i:gt + 1]
                v = _TAG_CACHE.get(key, False)
                if v is False:
                    m = _FAST_START.match(rawdata, i)
                    # when _FAST_START matches, it ends at the first '>'
                    # (its grammar excludes '>' everywhere else), so the
                    # sliced key fully determines the parse
                    v = (
                        (m.group(1).lower(),
                         _attr_dict(m.group(2)) if m.group(2) else None,
                         bool(m.group(3)))
                        if m is not None else None
                    )
                    if len(_TAG_CACHE) >= _NORM_MAX_ENTRIES:
                        _TAG_CACHE.clear()
                    _TAG_CACHE[key] = v
                endpos = gt + 1
            if v is False:
                # long / unterminated tag: un-memoized regex attempt
                m = _FAST_START.match(rawdata, i)
                if m is not None:
                    v = (m.group(1).lower(),
                         _attr_dict(m.group(2)) if m.group(2) else None,
                         bool(m.group(3)))
                    endpos = m.end()
                else:
                    v = None
            if v is not None:
                tag, attrs, selfclose = v
                cur = stack[-1]
                el = Element(tag, attrs, cur)
                cur.children.append(el)
                if selfclose:
                    # startendtag: never pushed, never enters cdata
                    if parts is not None and tag in _BLOCK_BR and parts \
                            and not parts[-1].endswith(" "):
                        parts.append(" ")
                else:
                    if tag not in _VOID:
                        stack.append(el)
                    if tag in _CDATA_CLOSE:
                        cdata_elem = tag
                    elif parts is not None and tag in _BLOCK_BR and parts \
                            and not parts[-1].endswith(" "):
                        parts.append(" ")
                i = endpos
                continue
            # --- tolerant path (mirrors parse_starttag)
            lm = _locatestart.match(rawdata, i)
            j = lm.end()
            nc = rawdata[j:j + 1]
            if nc == ">":
                endpos = j + 1
            elif nc == "/":
                if rawdata.startswith("/>", j):
                    endpos = j + 2
                else:
                    endpos = j if j > i else i + 1
            elif nc == "" or nc in (
                "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            ):
                i = _flush_incomplete(rawdata, i, emit_data)
                continue
            else:
                endpos = j if j > i else i + 1
            tm = _tagfind.match(rawdata, i + 1)
            k = tm.end()
            tag = tm.group(1).lower()
            attrs = []
            while k < endpos:
                am = _attrfind.match(rawdata, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif (
                    attrvalue[:1] == "'" == attrvalue[-1:]
                    or attrvalue[:1] == '"' == attrvalue[-1:]
                ):
                    attrvalue = attrvalue[1:-1]
                if attrvalue:
                    attrvalue = _unescape(attrvalue)
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            end = rawdata[k:endpos].strip()
            if end not in (">", "/>"):
                emit_data(rawdata[i:endpos])
            else:
                cur = stack[-1]
                el = Element(tag, dict(attrs), cur)
                cur.children.append(el)
                if end.endswith("/>"):
                    if parts is not None and tag in _BLOCK_BR and parts \
                            and not parts[-1].endswith(" "):
                        parts.append(" ")
                else:
                    if tag not in _VOID:
                        stack.append(el)
                    if tag in _CDATA_CLOSE:
                        cdata_elem = tag
                    elif parts is not None and tag in _BLOCK_BR and parts \
                            and not parts[-1].endswith(" "):
                        parts.append(" ")
            i = endpos
        elif nxt == "/":
            # --- end tag (mirrors parse_endtag); memoized like start tags
            # (_endtagfind's grammar contains no '>' except the terminal
            # one, so a match always ends at gtpos and the slice fully
            # determines it)
            gt = rawdata.find(">", i + 1)
            if gt < 0:
                i = _flush_incomplete(rawdata, i, emit_data)
                continue
            gtpos = gt + 1
            key = rawdata[i:gtpos]
            tag = _END_CACHE.get(key, False)
            if tag is not False:
                if tag is not None:
                    for k in range(len(stack) - 1, 0, -1):
                        if stack[k].tag == tag:
                            del stack[k:]
                            break
                    i = gtpos
                    continue
                em = None
            else:
                em = _endtagfind.match(rawdata, i)
                if len(_END_CACHE) >= _NORM_MAX_ENTRIES:
                    _END_CACHE.clear()
                _END_CACHE[key] = em.group(1).lower() if em else None
            if not em:
                nm = _tagfind.match(rawdata, i + 2)
                if not nm:
                    if rawdata.startswith("</>", i):
                        i += 3
                    else:  # bogus comment: consumed to '>'
                        i = gtpos
                    continue
                tag = nm.group(1).lower()
                for k in range(len(stack) - 1, 0, -1):
                    if stack[k].tag == tag:
                        del stack[k:]
                        break
                i = rawdata.find(">", nm.end()) + 1
                continue
            tag = em.group(1).lower()
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == tag:
                    del stack[k:]
                    break
            i = gtpos
        elif rawdata.startswith("<!--", i):
            m = _commentclose.search(rawdata, i + 4)
            if not m:
                i = _flush_incomplete(rawdata, i, emit_data)
                continue
            i = m.end()
        elif rawdata.startswith("<?", i):
            m = _piclose.search(rawdata, i + 2)
            if not m:
                i = _flush_incomplete(rawdata, i, emit_data)
                continue
            i = m.end()
        elif rawdata.startswith("<!", i):
            # declaration family (mirrors parse_html_declaration)
            if rawdata.startswith("<![", i):
                m = _MARKED_CLOSE.search(rawdata, i + 3)
                if not m:
                    i = _flush_incomplete(rawdata, i, emit_data)
                    continue
                i = m.end()
            else:
                gt = rawdata.find(">", i + 2)
                if gt < 0:
                    i = _flush_incomplete(rawdata, i, emit_data)
                    continue
                i = gt + 1
        else:
            if i + 1 < n:
                emit_data("<")
                i += 1
            else:
                emit_data("<")  # final-flush path emits the lone '<'
                i = n
    return root, parts


if not _HAVE_TOLERANT_GRAMMAR:
    # tolerant-grammar internals unavailable: same result via the public
    # HTMLParser drive (ADVICE r03 fallback contract)
    _fused_parse = stdlib_parse  # noqa: F811


# One-slot parse memo: the fused fetch pass derives BOTH the stripped-text
# column and the extracted fields from the same html, and every extractor
# opens with parse(html) — without the memo each page is DOM-parsed twice
# (measured 3.2ms build + 2.3ms extract per page; the parse is the bulk of
# both). Elements are never mutated after the parse finishes (selectors and
# text() are read-only), so sharing the tree is safe. The value compare on
# a hit is a ~µs memcmp vs a ~2ms reparse.
_MEMO: list = [None, None]  # [html, root]


def parse(html: str) -> Element:
    if html is not None and _MEMO[0] == html:
        return _MEMO[1]
    root, _ = _fused_parse(html or "", False)
    _MEMO[0] = html
    _MEMO[1] = root
    return root


def parse_with_text(html: str) -> tuple[Element, str]:
    """One pass → (tree, jsoup Document.text()). Populates the parse memo
    so a following extractor parse(html) reuses the tree."""
    if html is not None and _MEMO[0] == html:
        root = _MEMO[1]
        return root, root.text()
    root, parts = _fused_parse(html or "", True)
    _MEMO[0] = html
    _MEMO[1] = root
    return root, "".join(parts).strip()


def jsoup_text(html: str) -> str:
    """The byte-identical text contract: jsoup Document.text() of html."""
    return parse_with_text(html)[1]
