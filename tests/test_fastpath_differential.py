"""Differential test: the fused tag step (the whole-tag regex fast path in
Parser._st_data) must be semantically invisible — events, line numbers and
extract_doc rows identical with every fast-path regex disabled, so that
every tag takes the tokenizer machine and TreeBuilder.dispatch."""
import random
import re
import string
from contextlib import contextmanager

import pytest
from hypothesis import given, settings, strategies as st

import htmpark
from htmpark import parser as P
from htmpark.corpus import FRAGMENTS
from htmpark.extract import extract_doc

_NEVER = re.compile(r"(?!x)x")
_FAST_REGEXES = ("_RE_FAST_TAG", "_RE_FAST_END_TAG")


@contextmanager
def _machine_only():
    saved = {k: getattr(P, k) for k in _FAST_REGEXES}
    for k in saved:
        setattr(P, k, _NEVER)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(P, k, v)


def events_both(html: bytes, with_lines: bool = False):
    fast, _ = htmpark.parse_events(html, with_lines=with_lines)
    with _machine_only():
        slow, _ = htmpark.parse_events(html, with_lines=with_lines)
    return fast, slow


def rows_both(html: bytes):
    fast = extract_doc(html)
    with _machine_only():
        slow = extract_doc(html)
    return fast, slow


def assert_invisible(html: bytes):
    for with_lines in (False, True):
        fast, slow = events_both(html, with_lines)
        assert fast == slow
    fast, slow = rows_both(html)
    assert fast == slow


# grammar mixing eligible and ineligible tag shapes, in the contexts that
# change what a tag does: headings, lists, tables, pre, foreign content and
# the datafn switches
name = st.sampled_from([
    "div", "p", "a", "x1", "DIV", "DIv", "spAn", "h1", "h2", "li", "ul", "dd",
    "pre", "table", "tr", "td", "svg", "math", "circle", "mi", "textarea",
    "script", "style", "title", "br", "img", "image", "html", "body",
])
attr = st.sampled_from([
    ' a="1"', " b='2'", " c=3", ' d="x<y"', ' e="&amp;"', " f", ' G="8"',
    '  multi="v"\tws="w"', ' a="1" a="2"', " =odd", ' Z="u"', ' k-x="v"',
    " c=a/b", " c=a=b", ' c=a"b', " c=a'b", " c=a<b", " c=a`b", " c=x/",
    ' b="1"c=2', " a=b/", " s='it\"s'", ' q="it\'s"', " n=\"l\nm\"", " e=''",
    " u=x&amp;y", " v=/n/1/2", " a = b",
])
tail = st.sampled_from([">", "/>", " >", " / >", ""])
start_tag = st.builds(lambda n, a, t: f"<{n}{a}{t}", name, attr, tail)
end_tag = st.builds(lambda n, t: f"</{n}{t}", name,
                    st.sampled_from([">", " >", "/>", ' x="1">', ""]))
text = st.text(alphabet=list(string.ascii_letters) + ["&", " ", "<", "\n", "/"],
               max_size=12)
doc = st.lists(st.one_of(start_tag, end_tag, text), max_size=14).map("".join)


@settings(max_examples=400, deadline=None)
@given(doc)
def test_fast_path_invisible(s):
    assert_invisible(s.encode("utf-8"))


@pytest.mark.parametrize("html", [
    b'<div a="1" b="2">x</div>',
    b"<div >x",
    b"<br/>",
    b'<p class="x" class="y">dup</p>',
    b'<a href="q=1&amp;r=2">charref attr</a>',  # & -> not fast path
    b"<p a='sq'>single-quote attrs</p>",
    b"<p a=unquoted>u</p>",
    b'<textarea rows="2">rc</textarea>',        # datafn switch via fast path
    b'<script type="t">s</script>x',
    b'<input value="v">',
    b'<p\ta="tab ws">t</p>',
    b"</p>x</div>y</P>z",                       # end tags with nothing open
    b'<a b="1"c=2>no space between attrs</a>',
    b"<br a=b/>x",                              # '/' is part of the value
    b"<a href=/n/1/2>nav</a><meta name=d content='page 1'>",
    b"<h1>a<h2>b</h1><ul><li>1<li>2</ul>",
    b'<svg viewbox="0 0 1 1"><circle r="1"/>t</svg><math><mi>x</mi></math>',
    b"<table><tr><td>c</td><td>d</td></tr>b</table>after",
    b"<pre>\n  raw\n  text  </pre>\n<p>a\nb</p>",
    b"<textarea>a</p></textarea><script>x</p></script><style>p</style>tail",
    b"<p>a</p></body></html>after",
    b"<p>a</html>after<p>b",                    # </html> redoes in AFTER_BODY
    b"<image src=x>",
])
def test_fast_path_cases(html):
    assert_invisible(html)


@pytest.mark.parametrize("src, groups", [
    ("p>", ("p", "", "")),
    ("br/>", ("br", "", "/")),
    ("a b=c />", ("a", " b=c", "/")),
    ("a b=c/>", ("a", " b=c/", "")),
    ("a href=/x/y>", ("a", " href=/x/y", "")),
    ("meta n='v w' c=\"x\">", ("meta", " n='v w' c=\"x\"", "")),
])
def test_fast_grammar_accepts(src, groups):
    m = P._RE_FAST_TAG.match(src)
    assert m is not None and m.end() == len(src) and m.groups() == groups


@pytest.mark.parametrize("src", [
    'a b="1"c=2>', "a b=x<y>", "a b=x`y>", "a b=x=y>", "a b=x\"y>",
    "a b=>", "a b=x&amp;>", "a B=x>", "A>", "a b = c>", "a b/ >",
])
def test_fast_grammar_rejects(src):
    assert P._RE_FAST_TAG.match(src) is None


def test_fast_attrs_values():
    assert P._fast_attrs(" a=\"1\" b='x y' c=/p/q d='' e=\"it's\"") == [
        ("a", "1"), ("b", "x y"), ("c", "/p/q"), ("d", ""), ("e", "it's")]


# page blocks of the crawl corpus shape, besides corpus.FRAGMENTS
_NAV = ("<nav><ul><li><a href=/n/{i}/1>one</a><li><a href=/n/{i}/2>two</a>"
        "</ul></nav><header><h2>Site {i}</h2></header>")
_TABLE = ("<table><tr><th>k</th><th>v</th></tr><tr><td>{i}</td><td><b>bold"
          "</b> <i>it</i></td></tr><tr><td colspan=2>span</td></tr></table>")
_ENTITY = ("<p>caf&eacute; &amp; cr&egrave;me &lt;{i}&gt; &#169; &notin; "
           "&nbsp;&hellip; &copy &amp &unknown;</p>")
_SCRIPT = ("<script>var c{i} = '<p>not a tag</p>'; if (a < b) {{}}</script>"
           "<style>.c{i} > p {{ margin: 0 }}</style>"
           "<noscript><p>enable js {i}</p></noscript>")
_BLOCKS = FRAGMENTS + [_NAV, _TABLE, _ENTITY, _SCRIPT]


def _corpus_page(rng: random.Random, i: int) -> bytes:
    parts = [f"<!DOCTYPE html><html><head><meta charset=utf-8><title>Page {i}"
             f" &amp; more</title><meta name=description content='page {i}'>"
             "</head><body>"]
    for k in range(rng.randint(1, 12)):
        block = rng.choice(_BLOCKS).replace("{i}", str(i + k))
        parts.append(block.replace("{{", "{").replace("}}", "}"))
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_corpus_rows_fast_path_invisible(seed):
    """The crawl workload's page shape, not only the fuzz grammar: seeded
    pages of corpus fragments and nav/table/entity/script blocks give the
    same extract_doc rows with the fused tag step off as on."""
    rng = random.Random(seed)
    for i in range(150):
        html = _corpus_page(rng, i)
        fast, slow = rows_both(html)
        assert fast == slow, html
