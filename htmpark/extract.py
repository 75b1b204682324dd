"""Per-document extraction: parity text + main-content (boilerplate strip).

Two distinct surfaces, per SURVEY.md §2A.4/§7:

* ``text``      — the BYTE-PARITY surface: concatenation of characters
  events outside script/style, exactly as the reference's event stream
  produces them.  This is what the north rule's "byte-identical extracted
  text per url" refers to.

* ``main_text`` — an ENGINE ADDITION (the reference has no boilerplate
  notion): a clearly-labeled second pass implementing tag-class +
  link-density heuristics over the same parse.  Block-level texts joined
  with newlines, chrome subtrees (nav/header/footer/aside/...) dropped,
  link-dominated short blocks dropped.

Both are produced by ONE parse via ExtractSink (no second tokenizer pass).
"""

from __future__ import annotations

import re

from .parser import HTML_NS, Parser
from .sinks import BaseSink

# subtrees excluded from the parity text surface (FIXTURES.md P11)
PARITY_EXCLUDE = frozenset(("script", "style"))

# subtrees dropped entirely for main_text (engine heuristic, not reference)
CHROME_TAGS = frozenset(
    "script style template nav header footer aside noscript noframes iframe "
    "form select textarea option button svg math".split()
)

# elements that delimit main_text blocks
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li dt dd td th blockquote pre article section "
    "figcaption summary main caption tr table ul ol body title".split()
)

# link-density gate: a short block that is mostly link text is chrome
LINK_RATIO_MAX = 0.5
LINK_SHORT_BLOCK = 120


class ExtractSink(BaseSink):
    """Single-pass sink producing parity text, main-text blocks, counters."""

    __slots__ = ("parts", "_parity_skip", "_chrome_depth", "_link_depth",
                 "_block", "_blocks", "n_elements", "n_text", "n_comments",
                 "_title_depth", "title_parts", "outlinks", "meta_pairs")

    def __init__(self):
        self.parts = []          # parity text pieces
        self._parity_skip = 0
        self._chrome_depth = 0
        self._link_depth = 0
        self._block = []         # [(text, is_link), ...] of the open block
        self._blocks = []
        self.n_elements = 0
        self.n_text = 0
        self.n_comments = 0
        self._title_depth = 0
        self.title_parts = []    # text inside <title> (page metadata)
        self.outlinks = []       # href of every HTML <a>, document order,
                                 # entity-decoded by the tokenizer (the
                                 # crawl-frontier / web-graph surface)
        self.meta_pairs = []     # (name, content) of every <meta name=...>
                                 # (robots/noindex gates, descriptions);
                                 # charset/http-equiv variants reach the
                                 # same hook via their own attr names

    def _close_block(self):
        if self._block:
            self._blocks.append(self._block)
            self._block = []

    def start_element(self, uri, local, attrs):
        self.n_elements += 1
        if uri == HTML_NS:
            if local in PARITY_EXCLUDE:
                self._parity_skip += 1
            if local in CHROME_TAGS:
                self._chrome_depth += 1
            elif local in BLOCK_TAGS:
                self._close_block()
                if local == "title":
                    self._title_depth += 1
            elif local == "a":
                self._link_depth += 1
                for _uri, _prefix, alocal, aval in attrs:
                    if alocal == "href":
                        self.outlinks.append(aval)
            elif local == "meta":
                name = content = None
                for _uri, _prefix, alocal, aval in attrs:
                    if alocal == "name":
                        name = aval
                    elif alocal == "content":
                        content = aval
                if name is not None:
                    self.meta_pairs.append((name, content or ""))
        else:
            # foreign content (svg/math) is never main text
            self._chrome_depth += 1

    def end_element(self, uri, local):
        if uri == HTML_NS:
            if local in PARITY_EXCLUDE:
                self._parity_skip -= 1
            if local in CHROME_TAGS:
                self._chrome_depth -= 1
            elif local in BLOCK_TAGS:
                self._close_block()
                if local == "title":
                    self._title_depth -= 1
            elif local == "a":
                self._link_depth -= 1
        else:
            self._chrome_depth -= 1

    def characters(self, text):
        self.n_text += 1
        if not self._parity_skip:
            self.parts.append(text)
        if self._title_depth:
            self.title_parts.append(text)
        if not self._chrome_depth and text:
            self._block.append((text, self._link_depth > 0))

    def comment(self, text):
        self.n_comments += 1

    def end_document(self):
        self._close_block()

    @property
    def text(self) -> str:
        return "".join(self.parts)

    @property
    def main_text(self) -> str:
        out = []
        for block in self._blocks:
            total = sum(len(t) for t, _ in block)
            if total == 0:
                continue
            link = sum(len(t) for t, is_link in block if is_link)
            if total < LINK_SHORT_BLOCK and link / total > LINK_RATIO_MAX:
                continue  # link-dominated short block = chrome
            joined = " ".join(t for t, _ in block if t)
            if joined.strip():
                out.append(joined)
        return "\n".join(out)


# the lone surrogates U+DC80..U+DCFF that surrogateescape decoding maps
# undecodable bytes to (parser deviation D1)
_UNDECODABLE = re.compile("[\udc80-\udcff]")


def extract_doc(html, preserve_ws: bool = False) -> dict:
    """Parse one document; returns the row the Spark UDF emits.

    Bytes are decoded strictly first, so a valid page pays the one decode
    the parser would have done.  Only when that fails is the page decoded
    with surrogateescape (parser deviation D1); the row's strings then
    carry U+FFFD for each undecodable byte (a lone surrogate cannot enter
    an Arrow batch), and each such byte counts one tok_error."""
    undecodable = 0
    if isinstance(html, (bytes, bytearray, memoryview)):
        try:
            html = str(html, "utf-8")
        except UnicodeDecodeError:
            html = str(html, "utf-8", "surrogateescape")
            undecodable = len(_UNDECODABLE.findall(html))
    sink = ExtractSink()
    p = Parser()
    tb = p.parse(html, sink, preserve_ws)
    if not tb.finished:
        sink.end_document()  # close any open block for best-effort main_text
    row = {
        "text": sink.text,
        "main_text": sink.main_text,
        "title": "".join(sink.title_parts),
        "outlinks": sink.outlinks,
        "meta_names": [n for n, _ in sink.meta_pairs],
        "meta_contents": [c for _, c in sink.meta_pairs],
        "n_elements": sink.n_elements,
        "n_text_nodes": sink.n_text,
        "tok_errors": p.tok_errors,
        "tree_errors": tb.tree_errors,
        "parse_ok": tb.finished and not tb.crashed_after_finish,
    }
    if undecodable:
        row["tok_errors"] += undecodable
        for k in ("text", "main_text", "title"):
            row[k] = _UNDECODABLE.sub("\ufffd", row[k])
        for k in ("outlinks", "meta_names", "meta_contents"):
            row[k] = [_UNDECODABLE.sub("\ufffd", v) for v in row[k]]
    return row
