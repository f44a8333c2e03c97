"""jsoup-compatibility tests for the stdlib DOM (extractors/htmlmini.py)."""

from dmp_crawler_spark.corpus import templates
from dmp_crawler_spark.extractors.htmlmini import jsoup_text, parse


def test_text_whitespace_collapse():
    assert jsoup_text("<p>hello   \n  world</p>") == "hello world"


def test_text_block_boundaries():
    # jsoup: block boundary becomes exactly one space, inline tags none
    assert jsoup_text("<div>a</div><div>b</div>") == "a b"
    assert jsoup_text("<span>a</span><span>b</span>") == "ab"
    assert jsoup_text("x<br>y") == "x y"


def test_text_excludes_script_and_style():
    assert jsoup_text("<p>a</p><script>var x=1;</script><p>b</p>") == "a b"
    assert jsoup_text("<style>.x{}</style><p>c</p>") == "c"


def test_text_trims():
    assert jsoup_text("  <p> padded </p>  ") == "padded"


def test_select_by_id_class_attr():
    root = parse(
        '<div id="a" class="x y"><p class="y" title="t">one</p>'
        '<p data-k="v">two</p></div>'
    )
    assert root.select_one("#a").attr("class") == "x y"
    assert [e.text() for e in root.select(".y")] == ["one two", "one"]
    assert root.select_one("p[title=t]").text() == "one"
    assert root.select_one("[data-k]").text() == "two"


def test_select_descendant_and_child():
    root = parse("<ul id='u'><li><a>deep</a></li></ul><a>shallow</a>")
    assert [e.text() for e in root.select("#u a")] == ["deep"]
    assert [e.text() for e in root.select("ul > li > a")] == ["deep"]
    assert len(root.select("a")) == 2


def test_own_text_and_sibling():
    root = parse("<div>own <b>bold</b> tail</div>")
    d = root.select_one("div")
    assert d.own_text() == "own tail"
    assert d.text() == "own bold tail"


def test_elements_containing_own_text():
    root = parse("<p>alpha</p><p>beta</p>")
    els = root.elements_containing_own_text("bet")
    assert len(els) == 1 and els[0].text() == "beta"


# ---------------------------------------------------------------------------
# _fused_parse parity vs stdlib HTMLParser: the fused tokenizer must
# produce an IDENTICAL tree and text stream to HTMLParser(feed+close) for
# every corpus archetype, a malformed-html battery, and a deterministic
# fragment-soup fuzz sweep.

def _dump(el):
    if isinstance(el, str):
        return ("D", el)
    return (
        "E", el.tag, sorted(el.attrs.items()), [_dump(c) for c in el.children]
    )


def _stdlib(html):
    from dmp_crawler_spark.extractors.htmlmini import stdlib_parse

    root, parts = stdlib_parse(html or "", True)
    return _dump(root), "".join(parts).strip()


def _fused(html):
    from dmp_crawler_spark.extractors.htmlmini import _fused_parse

    root, parts = _fused_parse(html or "", True)
    return _dump(root), "".join(parts).strip()


_EDGE_HTML = [
    "", "<", ">", "plain", "a<b", "&amp; &lt;x&gt;", "&unknown; &#65; &#x41;",
    "<div>", "</div>", "<DIV CLASS='X'>t</DIV>", '<a href="x&amp;y">t</a>',
    "<a href=x&amp;y>t</a>", "<a href=/a/b>x</a>", '<a href="a>b">t</a>',
    "<img src='s'/>", "<br/>", "<br />", "<input value=''>", "<p><p>n</p>",
    "<b><i>x</b></i>", "<script>if(a<b){x='</div>';}</script>ok",
    "<script>unterminated", "<style>a{color:red}</style>",
    "<SCRIPT>x</SCRIPT>y", "<script>a</scriptx></script>b",
    "<script>a</script attr></script>b", "<script>a</ScRiPt >b",
    "<!-- c -->x", "<!-->x", "<!---->y", "<!doctype html><p>x</p>",
    "<?php ?>x", "<![CDATA[raw]]>x", "<!decl>x", "<a b=c>t</a>",
    "<a b = 'c'>t</a>", '<a b="c"d="e">t</a>', "<a =x>t</a>", "<a/ >t</a>",
    "<a b>t</a>", "<a 中文=值>t</a>", "<中文>x</中文>", "<div unterminated",
    "<div a='x", "text &am", "text &amp", "tail &", "<td>a</td  >",
    "</ div>x", "</>x", "</ >x", "<a\nhref='x'\n>t</a>",
    '<a href="multi\nline">t</a>', "<div  class='a b'   id='c'>x</div>",
    "<a href='x' href='y'>t</a>", "<em id=post-date>2016</em>",
    "中文<div>文本</div>", "<div>&#20013;&#x6587;</div>",
    "<a b='&quot;q&quot;'>t</a>", '<a title="a&apos;b">t</a>', "< div>x",
    "<3>x", "<a b='c'>&nbsp;</a>", "<a href=''>e</a>",
    "<style>p>a{}</style>t", "<script><div></script>t",
]


def test_fused_parse_parity_archetypes():
    n = 200000
    for i in range(0, 256):
        html = templates.build_page(i * 251 % n, n)["html"].decode("utf-8")
        ref = _stdlib(html)
        assert ref == _fused(html), f"fused archetype page idx={i * 251 % n}"


def test_fused_parse_parity_edge_cases():
    for html in _EDGE_HTML:
        ref = _stdlib(html)
        assert ref == _fused(html), repr(html)


def test_fused_parse_parity_fuzz():
    import random

    rng = random.Random(7)
    frags = [
        "<div>", "</div>", "<a href='x'>", "</a>", "text", "&amp;", "&",
        "<", ">", "<br/>", "<script>", "</script>", "x='<i>'",
        "<!-- c -->", "<b ", "class='y'>", "</", "!", "<p", " ", "中",
    ]
    for _ in range(1500):
        html = "".join(
            rng.choice(frags) for _ in range(rng.randint(1, 25))
        )
        ref = _stdlib(html)
        assert ref == _fused(html), repr(html)


def test_fallback_without_tolerant_grammar(monkeypatch):
    """If a future CPython drops the undocumented html.parser tolerant
    regexes, the module must still import and parse identically via the
    public HTMLParser drive (ADVICE r03)."""
    import builtins
    import importlib.util

    from dmp_crawler_spark.extractors import htmlmini as orig

    real_import = builtins.__import__

    def no_private(name, globals=None, locals=None, fromlist=(), level=0):
        if name == "html.parser" and fromlist and "attrfind_tolerant" in fromlist:
            raise ImportError("simulated removal of private grammar")
        return real_import(name, globals, locals, fromlist, level)

    monkeypatch.setattr(builtins, "__import__", no_private)
    spec = importlib.util.spec_from_file_location(
        "htmlmini_fallback_under_test", orig.__file__
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod._HAVE_TOLERANT_GRAMMAR is False
    n = 200000
    for i in range(0, 64):
        html = templates.build_page(i * 251 % n, n)["html"].decode("utf-8")
        assert mod.parse_with_text(html)[1] == orig.parse_with_text(html)[1]
    for html in _EDGE_HTML:
        assert mod.jsoup_text(html) == orig.jsoup_text(html), repr(html)
