"""HTML5 parser replicating zadean/htmerl semantics, Spark-first packaging.

This is a from-scratch Python implementation of the tokenizer state machine
(/root/reference/src/htmerl_sax_utf8.erl:143-1904) and the simplified
tree-construction stage (insertion-mode dispatch, :1911-3260).  It is NOT a
line-by-line port: the reference is continuation-passing Erlang over
binaries; this is an iterative state machine over ``str`` designed to run
inside vectorized Spark UDFs (``mapInPandas``).  The *semantics* — including
every quirk in SURVEY.md §5's ledger (Q1-Q25) — are replicated exactly; each
section below cites the reference lines it models.

Performance model (SURVEY.md §4): batched run scanning via compiled regexes
(the analogue of ``find_stop``/``binary:compile_pattern``,
htmerl_sax_utf8.erl:132-136,3602-3608), whole-run ``#chars`` emission that
bypasses tree dispatch (:3264-3265), and zero-copy slicing of the input str.
The per-tag cost is Python calls, not scanning, so common tags take one
fused tag step: in the data state, a whole simple tag (``_RE_FAST_TAG``: a
lowercase name with quoted or plain unquoted, charref-free attributes; or a
plain ``</name>``) is matched in one regex call and handed straight to
``TreeBuilder.start_tag`` / ``end_tag``, which call ``_in_body`` directly in
IN_BODY.  Any other tag shape (uppercase, charrefs, valueless or spaced
attributes, ``<!``, ``<?``) and every tag in RCDATA/RAWTEXT/script data
takes the tokenizer machine; a fused tag in any other insertion mode, or
one whose in-body rule redoes (``</html>``), takes ``TreeBuilder.dispatch``.

Byte handling: input bytes are decoded UTF-8 with ``surrogateescape`` so
invalid sequences round-trip byte-identically through the parser (the
reference slices raw binaries in batch paths; per-char paths would crash
Erlang on bad UTF-8 — our engine continues; documented deviation D1).

Deviations from the reference, all counted in ``errors`` and flagged:
  D1  invalid UTF-8: reference crashes in per-char states; we continue on
      the surrogate-escaped text, so ``Parser`` output round-trips the
      bytes.  ``extract.extract_doc`` (the row a Spark task emits) replaces
      each undecodable byte with U+FFFD in the row's strings, since a lone
      surrogate cannot enter an Arrow batch, and counts one tok_error per
      such byte; the page stays one row, never a dead task.
  D2  attributes/self-closing on END tags (``</p x>``): reference crashes
      with badrecord (htmerl_sax_utf8.erl:883-891 on #end_tag); we drop the
      attributes and count a tok_error.
  D3  eof inside before_attribute_value ws-skip: reference has no clause
      (function_clause crash); we emit eof (token dropped) + tok_error.
  D4  eof inside tbody/tr-cell/caption/colgroup restore paths: the
      reference finishes the document and then crashes updating the
      returned tuple (e.g. :2841-2843 after :2638-2639); we keep the
      finished document and set ``crashed_after_finish``.
  D5  docs whose eof is swallowed (frameset stubs :3241-3245,:3259-3260,
      in_head_noscript :2096-2097, bogus-comment-at-eof :1090-1091,
      in_template-eof-without-open-template :3205-3208): the reference never
      emits endDocument and returns a raw state map; we stop parsing and
      leave ``finished=False`` so callers can flag the row.
"""

from __future__ import annotations

import re

from .entities import ENTITIES, MAX_ENTITY_ALNUM, mask_code_ref, ADJUSTED_ATTRS

# Namespace URI constants (htmerl_sax_utf8.erl:36-41).
HTML_NS = "http://www.w3.org/1999/xhtml"
MATH_NS = "http://www.w3.org/1998/Math/MathML"
SVG_NS = "http://www.w3.org/2000/svg"
XLINK_NS = "http://www.w3.org/1999/xlink"
XML_NS = "http://www.w3.org/XML/1998/namespace"
XMLNS_NS = "http://www.w3.org/2000/xmlns/"

_NS_URI = {"xlink": XLINK_NS, "xml": XML_NS, "xmlns": XMLNS_NS, "mathml": MATH_NS, "svg": SVG_NS}

WS = " \t\n\f"  # ?ws macro (:52); \r is gone after newline normalization (Q1)

# Void elements forced self-closing at emit time (norm_tok, :3276-3283). Q16
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Batched stop sets — the compiled-pattern analogues (:132-136).
_RE_DATA = re.compile(r"[&<]")            # data_stop: NUL passes through raw (Q4)
_RE_RCDATA = re.compile(r"[&<\x00]")
_RE_RAWTEXT = re.compile(r"[<\x00]")       # rawtext_stop (also script_data)
_RE_PLAINTEXT = re.compile(r"\x00")
_RE_ATT_DQ = re.compile(r'["&\x00]')
_RE_ATT_SQ = re.compile(r"[&'\x00]")
_RE_ATT_UNQ = re.compile(r"[ \t\n\f&>\x00]")
_RE_COMMENT = re.compile(r"[<\-\x00]")
_RE_BOGUS = re.compile(r"[>\x00]")
_RE_CDATA = re.compile(r"\]")
_RE_DEC = re.compile(r"([0-9]{1,7});")     # 1-7 digits + ';' only (Q7, :1798-1855)
_RE_HEX = re.compile(r"([0-9A-Fa-f]{1,7});")

_HEX_DIGITS = frozenset("0123456789abcdefABCDEF")
_DEC_DIGITS = frozenset("0123456789")
_ASCII_ALNUM = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)

# Tokenizer "data functions" selected by call_data_function (:3610-3621). Q13
DATA, RCDATA, RAWTEXT, SCRIPT_DATA, PLAINTEXT = range(5)
_DATAFN = {
    "textarea": RCDATA,
    "noframes": RAWTEXT,
    "style": RAWTEXT,
    "script": SCRIPT_DATA,
    "plaintext": PLAINTEXT,
}

# Insertion modes (:104-110).
(
    INITIAL, BEFORE_HTML, BEFORE_HEAD, IN_HEAD, IN_HEAD_NOSCRIPT, AFTER_HEAD,
    IN_BODY, TEXT, IN_TABLE, IN_TABLE_TEXT, IN_CAPTION, IN_COLUMN_GROUP,
    IN_TABLE_BODY, IN_ROW, IN_CELL, IN_SELECT, IN_SELECT_IN_TABLE,
    IN_TEMPLATE, AFTER_BODY, IN_FRAMESET, AFTER_FRAMESET, AFTER_AFTER_BODY,
    AFTER_AFTER_FRAMESET,
) = range(23)

# Token kinds fed to TreeBuilder.dispatch.
T_CHAR, T_COMMENT, T_DOCTYPE, T_START, T_END, T_EOF = range(6)

# --- element-name sets used by in_body dispatch (:2154-2516) ---
_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_BLOCK_START = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer header main nav ol p section summary "
    "ul pre listing form plaintext button "
    "a b big code em font i s small strike strong tt u nobr applet marquee "
    "object".split()
)  # :2221-2270
_BLOCK_END = frozenset(
    "address article aside blockquote button center details dialog dir div "
    "dl fieldset figcaption figure footer header listing main nav ol pre "
    "section summary ul form".split()
)  # :2310-2345
_FMT_END = frozenset(
    "li dd dt h1 h2 h3 h4 h5 h6 b big code em font i s small strike strong "
    "tt u nobr applet marquee object".split()
)  # :2357-2391
_BODY_VOID = frozenset("area br embed img wbr input param source track hr".split())  # :2406-2419
_BODY_TEXT_TAGS = frozenset("textarea xmp iframe noembed noscript".split())  # :2420-2432 (Q13)
_HEAD_TEXT_TAGS = frozenset("title noscript noframes style script".split())  # :2028-2040
_HEAD_VOID = frozenset("base basefont bgsound link meta".split())  # :2019-2027
_BODY_STRAY = frozenset(
    "caption col colgroup frame head tbody td tfoot th thead tr".split()
)  # :2479-2492
_TABLEISH = frozenset(("table", "tbody", "tfoot", "thead", "tr"))  # :2536-2541
_IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())  # :3408-3434

# in_body start/end tag -> action code, built in REFERENCE CLAUSE ORDER with
# first-wins semantics (e.g. noscript hits the head-text clause :2170 before
# the body-text clause :2420).
_BODY_START_CODE: dict = {}
for _names, _code in (
    (("html", "body", "frameset"), 1),
    (_HEAD_TEXT_TAGS, 2),
    (tuple(_HEAD_VOID) + ("template",), 3),
    (_BLOCK_START, 4),
    (_HEADINGS, 5),
    (("li", "dd", "dt"), 6),
    (("table",), 7),
    (("image",), 8),
    (_BODY_VOID, 9),
    (_BODY_TEXT_TAGS, 10),
    (("select",), 11),
    (("optgroup", "option"), 12),
    (("rb", "rtc"), 13),
    (("rp", "rt"), 14),
    (("math",), 15),
    (("svg",), 16),
    (_BODY_STRAY, 17),
):
    for _n in _names:
        _BODY_START_CODE.setdefault(_n, _code)

_BODY_END_CODE: dict = {}
for _names, _code in (
    (_HEAD_TEXT_TAGS, 1),
    (("template",), 2),
    (("body",), 3),
    (("html",), 4),
    (_BLOCK_END, 5),
    (("p",), 6),
    (_FMT_END, 7),
    (("br",), 8),
):
    for _n in _names:
        _BODY_END_CODE.setdefault(_n, _code)


def norm_whitespaces(buff: str) -> str:
    """Whitespace collapse at text-flush time (:84-91).

    Split on exactly \\n, space, \\t (NOT \\f — Q2), drop empties, join with
    single spaces.  A ws-only buffer collapses to '' (Q3).
    """
    if ("\n" not in buff and "\t" not in buff and "  " not in buff
            and not buff.startswith(" ") and not buff.endswith(" ")):
        return buff  # already collapsed (C-speed scan beats split/join)
    parts = buff.replace("\n", " ").replace("\t", " ").split(" ")
    return " ".join(p for p in parts if p)


def match_entity(s: str, i: int):
    """First-clause-in-source-order named-entity match (Q6).

    Mirrors htmerl_util:entity/1 (:149-2380): among every table name that is
    a prefix of ``s[i:]``, the one with the smallest clause index wins —
    which is NOT longest-match (``&notin;`` → '¬' + 'in;').
    Returns (decoded, end_pos) or None.
    """
    n = len(s)
    limit = min(MAX_ENTITY_ALNUM, n - i)
    j = 0
    best = None
    best_end = 0
    get = ENTITIES.get
    while j < limit:
        c = s[i + j]
        if c not in _ASCII_ALNUM:
            break
        j += 1
        hit = get(s[i : i + j])  # semicolon-less (legacy) names
        if hit is not None and (best is None or hit[0] < best[0]):
            best, best_end = hit, i + j
    if j and i + j < n and s[i + j] == ";":
        hit = get(s[i : i + j + 1])
        if hit is not None and (best is None or hit[0] < best[0]):
            best, best_end = hit, i + j + 1
    if best is None:
        return None
    return best[1], best_end


def _adjust_att_name(ns: str, name: str):
    """adjust_att_name (:3449-3465) + adjusted_attribute_name table."""
    hit = ADJUSTED_ATTRS.get(("*", name)) or ADJUSTED_ATTRS.get((ns, name))
    if hit is None:
        return "", "", name
    tag, local = hit
    if tag == "xlink":
        return XLINK_NS, "xlink", local
    if tag == "xml":
        return XML_NS, "xml", local
    if tag == "xmlns":
        if local == "":
            return XMLNS_NS, "", "xmlns"
        return XMLNS_NS, "xmlns", local
    if tag == "mathml":
        return MATH_NS, "", local
    if tag == "svg":
        return SVG_NS, "", local
    return "", "", name


class TreeBuilder:
    """Insertion-mode dispatch (:1911-3260) emitting SAX events to a sink.

    Unlike the WHATWG spec there is no DOM: events stream out immediately
    and the only structure kept is the open-element stack.  No active
    formatting list / adoption agency (Q12), no foster parenting (Q22).
    """

    __slots__ = (
        "sink", "preserve_ws", "mode", "orig_mode", "open_elements",
        "ns_stack", "text", "pre_depth", "finished", "crashed_after_finish",
        "tree_errors", "cur_off", "last_off", "line",
    )

    def __init__(self, sink, preserve_ws: bool = False):
        self.sink = sink
        self.preserve_ws = preserve_ws
        self.mode = INITIAL
        self.orig_mode = None
        self.open_elements = []  # names: str for html, ('svg'|'mathml', n) foreign
        self.ns_stack = ["html"]  # inscope_namespace (:122)
        self.text = []  # text_node_buff; [] == undefined (:123)
        self.pre_depth = 0
        self.finished = False
        self.crashed_after_finish = False
        self.tree_errors = 0
        self.cur_off = -1   # source offset of the in-flight start tag's '<'
        self.last_off = -1  # offset of the element most recently emitted
        # line_num (:128-129) at the current token dispatch: the Parser
        # updates this before every dispatch/chars call; every sink callback
        # fired during that dispatch sees it — the analogue of send_event's
        # LineNum argument (:3437-3447)
        self.line = 1

    # -- #chars fast path: bypasses dispatch entirely (emit/2 :3264-3265, Q4)
    def chars(self, data: str) -> None:
        self.text.append(data)

    # ---- stack helpers (:3347-3400) ----

    def _push(self, name) -> None:
        self.open_elements.append(name)
        if name == "pre":
            self.pre_depth += 1

    def _is_open(self, name) -> bool:
        return name in self.open_elements

    def _current(self):
        return self.open_elements[-1] if self.open_elements else None

    def _do_pop_tag(self, name) -> None:
        """do_pop_tag (:3383-3400): endElement + ns bookkeeping."""
        sink = self.sink
        if type(name) is tuple:
            kind, local = name
            if self.ns_stack:
                self.ns_stack.pop()
            uri = SVG_NS if kind == "svg" else MATH_NS
            sink.end_element(uri, local)
            if (kind == "svg" and local == "svg") or (kind == "mathml" and local == "math"):
                sink.end_prefix_mapping("")
        elif name == "html" and self.ns_stack == ["html"]:
            self.ns_stack = []
            sink.end_element(HTML_NS, "html")
            sink.end_prefix_mapping("")
        else:
            sink.end_element(HTML_NS, name)

    def _pop_one(self) -> None:
        name = self.open_elements.pop()
        if name == "pre":
            self.pre_depth -= 1
        self._do_pop_tag(name)

    def pop_all_to_tag(self, name) -> None:
        """pop_all_to_tag (:3365-3381): no-op unless open; else pop through.

        A plain HTML name other than ``html`` is _pop_one + do_pop_tag's
        last clause, inlined; ``html`` and foreign names take _do_pop_tag."""
        els = self.open_elements
        if name not in els:
            return
        end_element = self.sink.end_element
        while els:
            top = els.pop()
            if type(top) is str and top != "html":
                if top == "pre":
                    self.pre_depth -= 1
                end_element(HTML_NS, top)
            else:
                self._do_pop_tag(top)
            if top == name:
                return

    def pop_all(self) -> None:
        self.maybe_pop_text()
        while self.open_elements:
            self._pop_one()

    def generate_implied_end_tags(self, except_name=None) -> None:
        """generate_implied_end_tags (:3408-3434).

        NOTE: pops from the stack WITHOUT do_pop_tag's ns logic — it emits a
        plain HTML endElement for each (faithful to :3420-3422).
        """
        els = self.open_elements
        while els:
            top = els[-1]
            if type(top) is tuple or top not in _IMPLIED_END or top == except_name:
                return
            els.pop()
            if top == "pre":
                self.pre_depth -= 1
            self.sink.end_element(HTML_NS, top)

    # ---- text buffer (:3467-3495) ----

    def add_text_char(self, c: str) -> None:
        self.text.append(c)

    def maybe_pop_text(self) -> None:
        """maybe_pop_text (:3477-3495): flush buffer at structural boundary.

        ws-collapse unless preserve_ws or any open html <pre> (Q2/Q24);
        ws-only buffer still emits an empty characters event (Q3).
        """
        if not self.text:
            return
        buff = "".join(self.text)
        self.text = []
        if self.preserve_ws or self.pre_depth > 0:
            self.sink.characters(buff)
        else:
            self.sink.characters(norm_whitespaces(buff))

    # ---- element emission (:3497-3579) ----

    def _make_atts(self, ns: str, attrs):
        if not attrs:
            return []
        out = []
        for an, av in attrs:
            if an == "xmlns":  # dropped silently (Q11, :3511,3538,3567)
                continue
            uri, prefix, local, = _adjust_att_name(ns, an)
            out.append((uri, prefix, local, av))
        return out

    def add_html_element(self, name: str, attrs, closing: bool,
                         implied: bool = False) -> None:
        self.last_off = -1 if implied else self.cur_off
        atts = self._make_atts("html", attrs)
        self.sink.start_element(HTML_NS, name, atts)
        if closing:
            self.sink.end_element(HTML_NS, name)
        else:
            self._push(name)

    def add_math_element(self, name: str, attrs, closing: bool) -> None:
        self.last_off = self.cur_off
        atts = self._make_atts("mathml", attrs)
        self.sink.start_element(MATH_NS, name, atts)
        if closing:
            self.sink.end_element(MATH_NS, name)
        else:
            self.open_elements.append(("mathml", name))
            self.ns_stack.append("mathml")

    def add_svg_element(self, name: str, attrs, closing: bool) -> None:
        # SVG tag names are NOT camelCase-adjusted (Q20, :3553-3579)
        self.last_off = self.cur_off
        atts = self._make_atts("svg", attrs)
        self.sink.start_element(SVG_NS, name, atts)
        if closing:
            self.sink.end_element(SVG_NS, name)
        else:
            self.open_elements.append(("svg", name))
            self.ns_stack.append("svg")

    def _finish(self) -> None:
        self.sink.end_document()
        self.finished = True

    # ---- dispatch ----

    def start_tag(self, name: str, attrs, closing: bool, off: int) -> None:
        """The tree half of the fused tag step (Parser._st_data): a start
        tag in IN_BODY goes straight to _in_body; any other mode, and a
        redo (mode changed), goes through dispatch."""
        self.cur_off = off
        if self.mode != IN_BODY or self._in_body(T_START, name, attrs, closing):
            self.dispatch(T_START, name, attrs, closing)

    def end_tag(self, name: str) -> None:
        """End-tag twin of start_tag (``</html>`` redoes in AFTER_BODY)."""
        if self.mode != IN_BODY or self._in_body(T_END, name, None, None):
            self.dispatch(T_END, name)

    def dispatch(self, kind: int, a=None, b=None, c=None, off: int = -1) -> None:
        """Token router.  a/b/c payloads:
        T_CHAR: a=1-char str | T_COMMENT: a=str | T_DOCTYPE: a,b,c=name,pub,sys
        T_START: a=name, b=attrs, c=closing (+off: source offset of '<')
        T_END: a=name | T_EOF: -
        Internal re-dispatches keep cur_off (same token, new mode).
        """
        if kind == T_START and off >= 0:
            self.cur_off = off
        while True:
            mode = self.mode
            if mode == IN_BODY:
                redo = self._in_body(kind, a, b, c)
            elif mode == TEXT:
                redo = self._text(kind, a, b, c)
            elif mode == IN_TABLE:
                redo = self._in_table(kind, a, b, c)
            elif mode == IN_TABLE_TEXT:
                redo = self._in_table_text(kind, a, b, c)
            elif mode == INITIAL:
                redo = self._initial(kind, a, b, c)
            elif mode == BEFORE_HTML:
                redo = self._before_html(kind, a, b, c)
            elif mode == BEFORE_HEAD:
                redo = self._before_head(kind, a, b, c)
            elif mode == IN_HEAD:
                redo = self._in_head(kind, a, b, c)
            elif mode == IN_HEAD_NOSCRIPT:
                redo = False  # stub: swallows every token (:2096-2097, Q15)
            elif mode == AFTER_HEAD:
                redo = self._after_head(kind, a, b, c)
            elif mode == IN_CAPTION:
                redo = self._in_caption(kind, a, b, c)
            elif mode == IN_COLUMN_GROUP:
                redo = self._in_column_group(kind, a, b, c)
            elif mode == IN_TABLE_BODY:
                redo = self._in_table_body(kind, a, b, c)
            elif mode == IN_ROW:
                redo = self._in_row(kind, a, b, c)
            elif mode == IN_CELL:
                redo = self._in_cell(kind, a, b, c)
            elif mode == IN_SELECT:
                redo = self._in_select(kind, a, b, c)
            elif mode == IN_SELECT_IN_TABLE:
                redo = self._in_select_in_table(kind, a, b, c)
            elif mode == IN_TEMPLATE:
                redo = self._in_template(kind, a, b, c)
            elif mode == AFTER_BODY:
                redo = self._after_body(kind, a, b, c)
            elif mode == IN_FRAMESET or mode == AFTER_FRAMESET or mode == AFTER_AFTER_FRAMESET:
                redo = False  # stubs swallow everything incl. eof (Q15)
            else:  # AFTER_AFTER_BODY
                redo = self._after_after_body(kind, a, b, c)
            if not redo:
                return

    def _redisp(self, mode: int, kind: int, a=None, b=None, c=None, restore=None) -> None:
        """dispatch(State#{insertion_mode := mode}, Token) [+ forced restore].

        When the inner dispatch finished the document, an Erlang restore
        would crash updating the result tuple (deviation D4).
        """
        self.mode = mode
        self.dispatch(kind, a, b, c)
        if restore is not None:
            if self.finished:
                self.crashed_after_finish = True
                self.tree_errors += 1
            else:
                self.mode = restore

    # ---- per-mode handlers; return True to re-dispatch in the new mode ----

    def _initial(self, kind, a, b, c):  # :1911-1931
        if kind == T_CHAR:
            if a in WS:
                return False
            self.sink.start_document()
            self.mode = BEFORE_HTML
            return True
        if kind == T_COMMENT:
            self.sink.start_document()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            self.sink.start_document()
            self.sink.start_dtd(a, b or "", c or "")
            self.sink.end_dtd()
            self.mode = BEFORE_HTML
            return False
        self.sink.start_document()
        self.mode = BEFORE_HTML
        return True

    def _imply_html(self) -> None:
        self.sink.start_prefix_mapping("", HTML_NS)
        self.add_html_element("html", [], False, implied=True)
        self.mode = BEFORE_HEAD

    def _before_html(self, kind, a, b, c):  # :1933-1967
        if kind == T_DOCTYPE:
            return False
        if kind == T_COMMENT:
            self.sink.comment(a)
            return False
        if kind == T_CHAR and a in WS:
            return False
        if kind == T_START and a == "html":
            self.sink.start_prefix_mapping("", HTML_NS)
            self.add_html_element(a, b, c)
            self.mode = BEFORE_HEAD
            return False
        if kind == T_END:
            if a in ("head", "body", "html", "br"):
                self._imply_html()
                return True
            return False
        self._imply_html()
        return True

    def _imply_head(self) -> None:
        self.maybe_pop_text()
        self.add_html_element("head", [], False, implied=True)
        self.mode = IN_HEAD

    def _before_head(self, kind, a, b, c):  # :1969-2003
        if kind == T_CHAR and a in WS:
            self.add_text_char(a)
            return False
        if kind == T_COMMENT:
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_START and a == "html":
            self._redisp(IN_BODY, kind, a, b, c, restore=BEFORE_HEAD)
            return False
        if kind == T_START and a == "head":
            self.maybe_pop_text()
            self.add_html_element(a, b, c)
            self.mode = IN_HEAD
            return False
        if kind == T_END:
            if a in ("head", "body", "html", "br"):
                self._imply_head()
                return True
            return False
        self._imply_head()
        return True

    def _in_head(self, kind, a, b, c):  # :2005-2094
        if kind == T_CHAR and a in WS:
            self.add_text_char(a)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_START:
            if a == "html":
                self.maybe_pop_text()
                self._redisp(IN_BODY, kind, a, b, c, restore=IN_HEAD)
                return False
            if a in _HEAD_VOID:
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                return False
            if a in _HEAD_TEXT_TAGS:
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.orig_mode = IN_HEAD
                self.mode = TEXT
                return False
            if a == "template":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.orig_mode = IN_HEAD
                self.mode = IN_TEMPLATE
                return False
            if a == "head":
                return False
        elif kind == T_END:
            if a == "head":
                self.maybe_pop_text()
                self.pop_all_to_tag("head")
                self.mode = AFTER_HEAD
                return False
            if a in _HEAD_VOID or a in _HEAD_TEXT_TAGS:
                self.maybe_pop_text()
                self.pop_all_to_tag(a)
                return False
            if a == "template":
                if self._is_open("template"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("template")
                return False
            if a in ("body", "html", "br"):
                self.maybe_pop_text()
                self.pop_all_to_tag(a)  # "should be head" (:2080-2081)
                self.mode = AFTER_HEAD
                return True
            return False
        self.maybe_pop_text()
        self.pop_all_to_tag("head")
        self.mode = AFTER_HEAD
        return True

    def _after_head(self, kind, a, b, c):  # :2099-2152
        if kind == T_CHAR and a in WS:
            self.add_text_char(a)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_START:
            if a == "html":
                self.maybe_pop_text()
                self._redisp(IN_BODY, kind, a, b, c, restore=AFTER_HEAD)
                return False
            if a == "body":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_BODY
                return False
            if a == "frameset":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_FRAMESET
                return False
            if a in ("base", "basefont", "bgsound", "link", "meta", "noframes",
                     "script", "style", "template", "title"):
                self.maybe_pop_text()
                self._redisp(IN_HEAD, kind, a, b, c, restore=AFTER_HEAD)
                return False
            if a == "head":
                return False
        elif kind == T_END:
            if a == "template":
                self.maybe_pop_text()
                self._redisp(IN_HEAD, kind, a, b, c, restore=AFTER_HEAD)
                return False
            return False
        # NOTE: no maybe_pop_text before the implied <body> (:2148-2151)
        self.add_html_element("body", [], False, implied=True)
        self.mode = IN_BODY
        return True

    def _in_body(self, kind, a, b, c):  # :2154-2516
        if kind == T_CHAR:
            self.text.append(a)
            return False
        if kind == T_START:
            code = _BODY_START_CODE.get(a, 0)
            if code == 4 or code == 9:
                # block/formatting start (:2221-2270) or void (:2406-2419):
                # add_html_element inlined, as the commonest in-body token
                if self.text:
                    self.maybe_pop_text()
                self.last_off = self.cur_off
                sink = self.sink
                sink.start_element(HTML_NS, a, self._make_atts("html", b) if b else [])
                if c or code == 9:
                    sink.end_element(HTML_NS, a)
                else:
                    self.open_elements.append(a)
                    if a == "pre":
                        self.pre_depth += 1
                return False
            if code == 0:
                # unknown tag: added in current namespace (:2493-2503)
                if self.text:
                    self.maybe_pop_text()
                ns = self.ns_stack[-1] if self.ns_stack else "html"
                if ns == "html":
                    self.add_html_element(a, b, c)
                elif ns == "mathml":
                    self.add_math_element(a, b, c)
                else:
                    self.add_svg_element(a, b, c)
                return False
            if code == 1:  # html/body/frameset: ignored, Q23 (:2164-2169)
                return False
            if code == 2:  # head text tags (:2170-2182)
                if self.text:
                    self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.orig_mode = IN_BODY
                self.mode = TEXT
                return False
            if code == 3:  # head void + template (:2192-2203)
                if self.text:
                    self.maybe_pop_text()
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_BODY)
                return False
            if code == 5:  # headings (:2271-2294, Q17)
                if self.text:
                    self.maybe_pop_text()
                cur = self._current()
                if cur in _HEADINGS:
                    self.pop_all_to_tag(cur)
                self.add_html_element(a, b, c)
                return False
            if code == 6:  # li/dd/dt (:2295-2309, Q17)
                if self.text:
                    self.maybe_pop_text()
                if self._current() == a:
                    self.pop_all_to_tag(a)
                self.add_html_element(a, b, c)
                return False
            if code == 7:  # table (:2392-2395)
                if self.text:
                    self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_TABLE
                return False
            if code == 8:  # image -> img, Q19 (:2404-2405)
                return self._in_body(T_START, "img", b, c)
            if code == 10:  # body text tags (:2420-2432)
                if self.text:
                    self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.orig_mode = IN_BODY
                self.mode = TEXT
                return False
            if code == 11:  # select (:2433-2436)
                if self.text:
                    self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_SELECT
                return False
            if code == 12:  # optgroup/option (:2437-2446)
                if self.text:
                    self.maybe_pop_text()
                if self._current() == "option":
                    self.pop_all_to_tag("option")
                self.add_html_element(a, b, c)
                return False
            if code == 13:  # rb/rtc (:2447-2457)
                if self.text:
                    self.maybe_pop_text()
                if self._is_open("ruby"):
                    self.generate_implied_end_tags()
                self.add_html_element(a, b, c)
                return False
            if code == 14:  # rp/rt (:2458-2468)
                if self.text:
                    self.maybe_pop_text()
                if self._is_open("ruby"):
                    self.generate_implied_end_tags("rtc")
                self.add_html_element(a, b, c)
                return False
            if code == 15:  # math (:2469-2473)
                if self.text:
                    self.maybe_pop_text()
                self.sink.start_prefix_mapping("", MATH_NS)
                self.add_math_element(a, b, c)
                return False
            if code == 16:  # svg (:2474-2478)
                if self.text:
                    self.maybe_pop_text()
                self.sink.start_prefix_mapping("", SVG_NS)
                self.add_svg_element(a, b, c)
                return False
            return False  # code 17: stray table tags dropped (:2479-2492)
        if kind == T_END:
            code = _BODY_END_CODE.get(a, 0)
            if code == 5 or code == 7 or code == 1:
                # block/formatting end (Q12) or head text tags (:2183-2191);
                # pop_all_to_tag is itself a no-op unless a is open
                if self.text:
                    self.maybe_pop_text()
                self.pop_all_to_tag(a)
                return False
            if code == 0:
                # catch-all end tag: pop by current namespace (:2504-2513)
                if self.text:
                    self.maybe_pop_text()
                ns = self.ns_stack[-1] if self.ns_stack else "html"
                self.pop_all_to_tag(a if ns == "html" else (ns, a))
                return False
            if code == 6:  # </p>, Q18 (:2346-2356)
                if self.text:
                    self.maybe_pop_text()
                if "p" not in self.open_elements:
                    self.add_html_element("p", [], False, implied=True)
                self.pop_all_to_tag("p")
                return False
            if code == 2:  # template (:2204-2207)
                if self.text:
                    self.maybe_pop_text()
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_BODY)
                return False
            if code == 3:  # </body> (:2211-2215)
                if self.text:
                    self.maybe_pop_text()
                self.pop_all_to_tag("body")
                self.mode = AFTER_BODY
                return False
            if code == 4:  # </html> (:2216-2220)
                if self.text:
                    self.maybe_pop_text()
                self.pop_all_to_tag("body")
                self.mode = AFTER_BODY
                return True
            # code 8: </br> -> void br, Q19 (:2396-2403); NO text flush
            self.add_html_element("br", b or [], True)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        # T_EOF (:2208-2210)
        self.pop_all()
        self._finish()
        return False

    def _text(self, kind, a, b, c):  # :2518-2531
        if kind == T_CHAR:
            self.add_text_char(a)
            return False
        self.mode = self.orig_mode
        self.orig_mode = None
        return True

    def _in_table(self, kind, a, b, c):  # :2533-2643
        cur = self._current()
        if kind == T_CHAR:
            if cur in _TABLEISH:
                self.orig_mode = IN_TABLE
                self.mode = IN_TABLE_TEXT
                return True
            # falls to the in_body redirect below (:2640-2642)
            self._redisp(IN_BODY, kind, a, b, c, restore=IN_TABLE)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_EOF:
            self.mode = IN_BODY
            return True
        if kind == T_START:
            if a == "caption":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_CAPTION
                return False
            if a == "colgroup":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_COLUMN_GROUP
                return False
            if a == "col":
                self.maybe_pop_text()
                self.add_html_element("colgroup", [], False, implied=True)
                self.mode = IN_COLUMN_GROUP
                return True
            if a in ("tbody", "tfoot", "thead"):
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_TABLE_BODY
                return False
            if a in ("td", "th", "tr"):
                self.maybe_pop_text()
                self.add_html_element("tbody", [], False, implied=True)
                self.mode = IN_TABLE_BODY
                return True
            if a == "table":
                if self._is_open("table"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("table")
                return False
            if a in ("style", "script", "template"):
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_TABLE)
                return False
            if a in ("input", "form"):
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.pop_all_to_tag(a)
                return False
        else:  # T_END
            if a == "table":
                if self._is_open("table"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("table")
                self.mode = IN_BODY
                return False
            if a in ("body", "caption", "col", "colgroup", "html", "tbody",
                     "td", "tfoot", "th", "thead", "tr"):
                return False
            if a == "template":
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_TABLE)
                return False
        self._redisp(IN_BODY, kind, a, b, c, restore=IN_TABLE)
        return False

    def _in_table_text(self, kind, a, b, c):  # :2645-2658
        if kind == T_CHAR:
            self.add_text_char(a)
            return False
        self.maybe_pop_text()
        self.mode = self.orig_mode
        self.orig_mode = None
        return True

    def _in_caption(self, kind, a, b, c):  # :2660-2717
        if kind == T_END and a == "caption":
            if self._is_open("caption"):
                self.maybe_pop_text()
                self.pop_all_to_tag("caption")
                self.mode = IN_TABLE
            return False
        if kind == T_START and a in ("caption", "col", "colgroup", "tbody",
                                     "td", "tfoot", "th", "thead", "tr"):
            if self._is_open("caption"):
                self.maybe_pop_text()
                self.pop_all_to_tag("caption")
                self.mode = IN_TABLE
                return True
            return False
        if kind == T_END and a == "table":
            if self._is_open("caption"):
                self.maybe_pop_text()
                self.pop_all_to_tag("caption")
                self.mode = IN_TABLE
                return True
            return False
        if kind == T_END and a in ("col", "colgroup", "tbody", "td", "tfoot",
                                   "th", "thead", "tr"):
            return False
        self._redisp(IN_BODY, kind, a, b, c, restore=IN_CAPTION)
        return False

    def _in_column_group(self, kind, a, b, c):  # :2719-2768
        if kind == T_CHAR and a in WS:
            self.add_text_char(a)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_START and a == "html":
            self.maybe_pop_text()
            self._redisp(IN_BODY, kind, a, b, c, restore=IN_COLUMN_GROUP)
            return False
        if kind == T_START and a == "col":
            self.maybe_pop_text()
            self.add_html_element(a, b, True)
            return False
        if kind == T_END and a == "colgroup":
            cur = self._current()
            self.maybe_pop_text()
            if cur == "colgroup":
                self.pop_all_to_tag("colgroup")
            else:
                self.mode = IN_TABLE
            return False
        if kind == T_END and a == "col":
            return False
        if (kind == T_START or kind == T_END) and a == "template":
            self.maybe_pop_text()
            self._redisp(IN_HEAD, kind, a, b, c, restore=IN_COLUMN_GROUP)
            return False
        if kind == T_EOF:
            self.maybe_pop_text()
            self._redisp(IN_BODY, kind, a, b, c, restore=IN_COLUMN_GROUP)  # D4
            return False
        cur = self._current()
        self.maybe_pop_text()
        if cur == "colgroup":
            self.pop_all_to_tag("colgroup")
            self.mode = IN_TABLE
        return False  # token discarded (:2759-2767)

    def _in_table_body(self, kind, a, b, c):  # :2770-2844
        if kind == T_START:
            if a == "tr":
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_ROW
                return False
            if a in ("th", "td"):
                self.maybe_pop_text()
                self.add_html_element("tr", [], False, implied=True)
                self.mode = IN_ROW
                return True
            if a in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                cur = self._current()
                if cur in ("tbody", "thead", "tfoot"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag(cur)
                    self.mode = IN_TABLE
                    return True
                return False
        elif kind == T_END:
            if a in ("tbody", "tfoot", "thead"):
                if self._is_open(a):
                    self.maybe_pop_text()
                    self.pop_all_to_tag(a)
                    self.mode = IN_TABLE
                return False
            if a == "table":
                cur = self._current()
                if cur in ("tbody", "thead", "tfoot"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag(cur)
                    self.mode = IN_TABLE
                    return True
                return False
            if a in ("body", "caption", "col", "colgroup", "html", "td", "th", "tr"):
                return False
        self._redisp(IN_TABLE, kind, a, b, c, restore=IN_TABLE_BODY)
        return False

    def _in_row(self, kind, a, b, c):  # :2846-2920
        if kind == T_START:
            if a in ("th", "td"):
                self.maybe_pop_text()
                self.add_html_element(a, b, c)
                self.mode = IN_CELL
                return False
            if a in ("caption", "col", "colgroup", "tbody", "tfoot", "thead", "tr"):
                if self._is_open("tr"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("tr")
                    self.mode = IN_TABLE_BODY
                    return True
                return False
        elif kind == T_END:
            if a == "tr":
                if self._is_open("tr"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("tr")
                    self.mode = IN_TABLE_BODY
                return False
            if a == "table":
                if self._is_open("tr"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("tr")
                    self.mode = IN_TABLE_BODY
                    return True
                return False
            if a in ("tbody", "tfoot", "thead"):
                if self._is_open(a) or self._is_open("tr"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("tr")
                    self.mode = IN_TABLE_BODY
                    return True
                return False
            if a in ("body", "caption", "col", "colgroup", "html", "td", "th"):
                return False
        # NOTE: no mode restore here — the reference's restore is commented
        # out (:2914-2919), so control stays wherever in_table leaves it.
        self.mode = IN_TABLE
        return True

    def _in_cell(self, kind, a, b, c):  # :2922-2995
        if kind == T_END and a in ("td", "th"):
            if self._is_open(a):
                self.maybe_pop_text()
                self.pop_all_to_tag(a)
                self.mode = IN_ROW
            return False
        if kind == T_START and a in ("caption", "col", "colgroup", "tbody",
                                     "td", "tfoot", "th", "thead", "tr"):
            td_open = self._is_open("td")
            if td_open or self._is_open("th"):
                self.maybe_pop_text()
                self.pop_all_to_tag("td" if td_open else "th")
                self.mode = IN_ROW
                return True  # token re-dispatched in in_row (cell closed)
            return False
        if kind == T_END and a in ("body", "caption", "col", "colgroup", "html"):
            return False
        if kind == T_END and a in ("table", "tbody", "tfoot", "thead", "tr"):
            if self._is_open(a):
                self.maybe_pop_text()
                self.pop_all_to_tag("td" if self._is_open("td") else "th")
                self.mode = IN_ROW
                return True
            return False
        self._redisp(IN_BODY, kind, a, b, c, restore=IN_CELL)
        return False

    def _in_select(self, kind, a, b, c):  # :2997-3111
        if kind == T_CHAR:
            if a == "\x00":  # Q21 (:2999-3000)
                return False
            self.add_text_char(a)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_EOF:
            self.mode = IN_BODY
            return True
        if kind == T_START:
            if a == "html":
                self.maybe_pop_text()
                self._redisp(IN_BODY, kind, a, b, c, restore=IN_SELECT)
                return False
            if a == "option":
                self.maybe_pop_text()
                if self._current() == "option":
                    self.pop_all_to_tag("option")
                self.add_html_element(a, b, c)
                return False
            if a == "optgroup":
                self.maybe_pop_text()
                cur = self._current()
                if cur == "option":
                    self.pop_all_to_tag("option")
                elif cur == "optgroup":
                    self.pop_all_to_tag("optgroup")
                self.add_html_element(a, b, c)
                return False
            if a in ("select", "input", "textarea"):  # nested select = close (:3072-3096)
                if self._is_open("select"):
                    self.maybe_pop_text()
                    self.pop_all_to_tag("select")
                    self.mode = IN_BODY
                return False
            if a in ("script", "template"):
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_SELECT)
                return False
            return False
        # T_END
        if a == "optgroup":
            self.maybe_pop_text()
            if self._current() == "option":
                self.pop_all_to_tag("option")
            if self._current() == "optgroup":
                self.pop_all_to_tag("optgroup")
            return False
        if a == "option":
            if self._current() == "option":
                self.maybe_pop_text()
                self.pop_all_to_tag("option")
            return False
        if a == "select":
            if self._is_open("select"):
                self.maybe_pop_text()
                self.pop_all_to_tag("select")
                self.mode = IN_BODY
            return False
        if a == "template":
            self._redisp(IN_HEAD, kind, a, b, c, restore=IN_SELECT)
            return False
        return False

    def _in_select_in_table(self, kind, a, b, c):  # :3113-3153 (unreachable)
        tb_names = ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th")
        if kind == T_START and a in tb_names:
            self.maybe_pop_text()
            self.pop_all_to_tag("select")
            self.mode = IN_BODY
            return True
        if kind == T_END and a in tb_names:
            if self._is_open(a):
                self.maybe_pop_text()
                self.pop_all_to_tag("select")
                self.mode = IN_BODY
                return True
            return False
        self._redisp(IN_SELECT, kind, a, b, c, restore=IN_SELECT_IN_TABLE)
        return False

    def _in_template(self, kind, a, b, c):  # :3155-3215
        if kind in (T_CHAR, T_COMMENT, T_DOCTYPE):
            self._redisp(IN_BODY, kind, a, b, c, restore=IN_TEMPLATE)
            return False
        if kind == T_START:
            if a in ("base", "basefont", "bgsound", "link", "meta", "noframes",
                     "script", "style", "template", "title"):
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_TEMPLATE)
                return False
            if a in ("caption", "colgroup", "tbody", "tfoot", "thead"):
                self.mode = IN_TABLE
                return True
            if a == "col":
                self.mode = IN_COLUMN_GROUP
                return True
            if a == "tr":
                self.mode = IN_TABLE_BODY
                return True
            if a in ("td", "th"):
                self.mode = IN_ROW
                return True
            self.mode = IN_BODY
            return True
        if kind == T_END:
            if a == "template":
                self._redisp(IN_HEAD, kind, a, b, c, restore=IN_TEMPLATE)
            return False
        # eof (:3205-3214)
        if self._is_open("template"):
            self.maybe_pop_text()
            self.pop_all_to_tag("template")
            self.mode = IN_BODY
            return True
        return False  # eof swallowed (D5)

    def _after_body(self, kind, a, b, c):  # :3217-3239
        if kind == T_CHAR and a in WS:
            self._redisp(IN_BODY, kind, a, b, c, restore=AFTER_BODY)
            return False
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_DOCTYPE:
            return False
        if kind == T_START and a == "html":
            self._redisp(IN_BODY, kind, a, b, c, restore=AFTER_BODY)
            return False
        if kind == T_END and a == "html":
            self.maybe_pop_text()
            self.mode = AFTER_AFTER_BODY
            return False
        if kind == T_EOF:
            self.pop_all()
            self._finish()
            return False
        self.mode = IN_BODY
        return True

    def _after_after_body(self, kind, a, b, c):  # :3247-3257
        if kind == T_COMMENT:
            self.maybe_pop_text()
            self.sink.comment(a)
            return False
        if kind == T_EOF:
            self.pop_all()
            self._finish()
            return False
        self.mode = IN_BODY
        return True


class Parser:
    """Tokenizer (HTML 5.2 §8.2.4 as implemented by the reference)."""

    __slots__ = (
        "tb", "datafn", "temp", "last_start", "tok_name", "tok_is_end",
        "tok_selfclosing", "tok_attrs", "tok_comment", "dt_name", "dt_public",
        "dt_system", "tok_errors", "tok_start", "_s", "_lpos", "_line",
        "_line_to",
    )

    def __init__(self):
        self.tb = None

    def parse(self, data, sink, preserve_ws: bool = False) -> TreeBuilder:
        """Parse one document; returns the TreeBuilder (flags + counters)."""
        if isinstance(data, (bytes, bytearray, memoryview)):
            b = bytes(data)
            if b"\r" in b:
                b = b.replace(b"\r\n", b"\n").replace(b"\r", b"\n")  # Q1
            s = b.decode("utf-8", "surrogateescape")
        else:
            s = data
            if "\r" in s:
                s = s.replace("\r\n", "\n").replace("\r", "\n")
        self.tb = tb = TreeBuilder(sink, preserve_ws)
        if hasattr(sink, "tb"):
            sink.tb = tb
        self.datafn = DATA
        self.temp = []  # temp_buffer — never auto-cleared (Q5)
        self.last_start = None
        self.tok_name = ""
        self.tok_is_end = False
        self.tok_selfclosing = False
        self.tok_attrs = []
        self.tok_comment = []
        self.tok_errors = 0
        self.tok_start = -1  # source (char) offset of the pending tag's '<'
        # line_num tracking (count_newlines :3589-3599, state field :128):
        # counted lazily — _line_to(pos) adds the newlines of the span
        # consumed since the last call.  The reference counts every consumed
        # '\n' exactly once (batch find_stop runs + the 38 per-char ?i
        # clauses), so positional counting is equivalent; the one exception
        # ('&' directly followed by '\n', :1681-1682) is handled in _charref.
        # Tracking is pay-for-what-you-use: only sinks declaring
        # ``wants_lines = True`` (NodeTableSink, EventListSink(with_lines))
        # get it; for others _line_to is a no-op and tb.line stays 1 —
        # measured ~9%% of extraction throughput, which the 100 TB text
        # path must not pay for an unused column.
        self._s = s
        self._lpos = 0
        self._line = 1
        if getattr(sink, "wants_lines", False):
            self._line_to = self._line_to_impl
        else:
            self._line_to = _line_noop
        self._run(s)
        return tb

    def _line_to_impl(self, pos: int) -> None:
        """Advance the newline count through source position ``pos`` and
        publish the resulting line number for the next dispatch.  Chars runs
        pass their START (the reference emits #chars before updating
        line_num, :158-161); every other token passes its end position."""
        lp = self._lpos
        if pos > lp:
            nl = self._s.count("\n", lp, pos)
            if nl:
                self._line += nl
            self._lpos = pos
        self.tb.line = self._line

    # ---- driver over data functions ----

    def _run(self, s: str) -> None:
        pos = 0
        while pos is not None:
            df = self.datafn
            if df == DATA:
                pos = self._st_data(s, pos)
            elif df == RCDATA:
                pos = self._st_rcdata(s, pos)
            elif df == RAWTEXT:
                pos = self._st_rawtext(s, pos)
            elif df == SCRIPT_DATA:
                pos = self._st_script(s, pos)
            else:
                pos = self._st_plaintext(s, pos)

    # ---- emit helpers ----

    def _emit_eof(self):
        self._line_to(len(self._s))
        self.tb.dispatch(T_EOF)
        return None

    def _emit_char(self, ch: str, pos: int) -> None:
        """Single #char token at scan position ``pos``.  The consumed span
        up to pos is line-counted first; a '\\n' char itself is picked up by
        the NEXT _line_to (its dispatch can never fire a sink event — ws
        char tokens are buffered/ignored in every insertion mode)."""
        self._line_to(pos)
        self.tb.dispatch(T_CHAR, ch)

    def _emit_tag(self, end: int) -> None:
        """emit/2 + norm_tok (:3262-3283) + call_data_function (:3610-3621).
        ``end`` = position just after '>': every '\\n' inside the tag was
        consumed by a counting clause in the reference (?i sites / quoted
        value find_stop), so the positional count through ``end`` matches."""
        self._line_to(end)
        name = self.tok_name
        if self.tok_is_end:
            if self.tok_attrs or self.tok_selfclosing:
                self.tok_errors += 1  # deviation D2: reference crashes here
            self.tb.dispatch(T_END, name)
            self.datafn = DATA
        else:
            self.last_start = name
            closing = self.tok_selfclosing or name in VOID_ELEMENTS
            self.tb.dispatch(T_START, name, self.tok_attrs, closing, self.tok_start)
            self.datafn = _DATAFN.get(name, DATA)

    # ---- 8.2.4.1 data (:144-161) ----

    def _st_data(self, s: str, pos: int):
        n = len(s)
        tb = self.tb
        chars = tb.chars
        line_to = self._line_to
        search = _RE_DATA.search
        fast_tag = _RE_FAST_TAG.match
        fast_end_tag = _RE_FAST_END_TAG.match
        while True:
            if pos >= n:
                return self._emit_eof()
            c = s[pos]
            if c == "&":
                pos = self._charref(s, pos + 1, False)
            elif c == "<":
                # the fused tag step: a whole simple tag (_RE_FAST_TAG, or
                # a plain `</name>`) goes straight from here to the tree
                # builder, doing what _emit_tag would; every other '<'
                # takes _tag_open and the machine
                m = fast_tag(s, pos + 1)
                if m is not None:
                    name, atts, slash = m.groups()
                    end = m.end()
                    self.last_start = name
                    line_to(end)
                    tb.start_tag(name, _fast_attrs(atts) if atts else [],
                                 slash == "/" or name in VOID_ELEMENTS, pos)
                    pos = end
                    if name in _DATAFN:
                        self.datafn = _DATAFN[name]
                        return pos
                    continue
                m = fast_end_tag(s, pos + 1)
                if m is not None:
                    pos = m.end()
                    line_to(pos)
                    tb.end_tag(m.group(1))
                    continue
                pos = self._tag_open(s, pos + 1)
                if pos is None:
                    return None
                if self.datafn != DATA:
                    return pos
            else:
                line_to(pos)
                m = search(s, pos)
                end = m.start() if m else n
                chars(s[pos:end])
                pos = end

    # ---- 8.2.4.2 rcdata (:164-184, 349-424) ----

    def _st_rcdata(self, s: str, pos: int):
        return self._st_rawtextish(s, pos, RCDATA, _RE_RCDATA, True)

    def _st_rawtext(self, s: str, pos: int):
        return self._st_rawtextish(s, pos, RAWTEXT, _RE_RAWTEXT, False)

    def _st_rawtextish(self, s, pos, my_df, stop_re, charrefs):
        n = len(s)
        tb = self.tb
        while True:
            if pos >= n:
                return self._emit_eof()
            c = s[pos]
            if charrefs and c == "&":
                pos = self._charref(s, pos + 1, False)
                continue
            if c == "\x00":
                self._emit_char("�", pos)
                pos += 1
                continue
            if c != "<":
                self._line_to(pos)
                m = stop_re.search(s, pos)
                end = m.start() if m else n
                tb.chars(s[pos:end])
                pos = end
                continue
            # less-than-sign (:349-353 / :427-431)
            if pos + 1 >= n or s[pos + 1] != "/":
                self._emit_char("<", pos)
                pos += 1
                continue
            # end_tag_open with temp_buffer := []
            self.temp = []
            self.tok_start = pos
            j = pos + 2
            if j >= n or not ("a" <= s[j] <= "z" or "A" <= s[j] <= "Z"):
                self._emit_char("<", pos)
                self._emit_char("/", pos)
                pos = j
                continue
            name_parts = []
            temp = self.temp
            while j < n:
                ch = s[j]
                if "A" <= ch <= "Z":
                    name_parts.append(chr(ord(ch) + 32))
                    temp.append(ch)
                    j += 1
                elif "a" <= ch <= "z":
                    name_parts.append(ch)
                    temp.append(ch)
                    j += 1
                else:
                    break
            nm = "".join(name_parts)
            if j < n and nm == self.last_start and (s[j] in WS or s[j] == "/" or s[j] == ">"):
                self.tok_is_end = True
                self.tok_name = nm
                self.tok_selfclosing = False
                self.tok_attrs = []
                if s[j] == ">":
                    self._emit_tag(j + 1)
                    return j + 1  # datafn now DATA
                st = _S_BEFORE_ATTR_NAME if s[j] in WS else _S_SELF_CLOSING
                out = self._tag_machine(s, j + 1, st)
                if out is None:
                    return None
                if self.datafn != my_df:
                    return out
                pos = out
                continue
            # anything else: emit '<','/', buffered chars, re-lex from j
            self._emit_char("<", pos)
            self._emit_char("/", pos)
            for ch in temp:
                self._emit_char(ch, pos)
            pos = j

    # ---- 8.2.4.5 plaintext (:230-246) ----

    def _st_plaintext(self, s: str, pos: int):
        n = len(s)
        tb = self.tb
        while True:
            if pos >= n:
                return self._emit_eof()
            if s[pos] == "\x00":
                self._emit_char("�", pos)
                pos += 1
                continue
            self._line_to(pos)
            m = _RE_PLAINTEXT.search(s, pos)
            end = m.start() if m else n
            tb.chars(s[pos:end])
            pos = end

    # ---- 8.2.4.4/.15-.31 script data incl. escape states (:209-227,505-869) ----

    def _st_script(self, s: str, pos: int):
        n = len(s)
        tb = self.tb
        emitc = self._emit_char
        # local sub-state: 0=script_data, 1=escaped, 2=escaped_dash,
        # 3=escaped_dash_dash, 4=double_escaped, 5=dbl_dash, 6=dbl_dash_dash
        st = 0
        while True:
            if pos >= n:
                return self._emit_eof()
            c = s[pos]
            if st == 0:
                if c == "\x00":
                    emitc("�", pos)
                    pos += 1
                    continue
                if c != "<":
                    self._line_to(pos)
                    m = _RE_RAWTEXT.search(s, pos)
                    end = m.start() if m else n
                    tb.chars(s[pos:end])
                    pos = end
                    continue
                # script_data_less_than_sign (:505-513)
                nxt = s[pos + 1] if pos + 1 < n else ""
                if nxt == "/":
                    out = self._script_end_tag(s, pos + 2)
                    if out is None:
                        return None
                    if isinstance(out, tuple):  # failed match: re-lex
                        pos = out[0]
                        continue
                    if self.datafn != SCRIPT_DATA:
                        return out
                    pos = out
                    continue
                if nxt == "!":
                    emitc("<", pos)
                    emitc("!", pos)
                    pos += 2
                    # escape_start (:582-593): need '--'
                    if pos < n and s[pos] == "-":
                        emitc("-", pos)
                        pos += 1
                        if pos < n and s[pos] == "-":
                            emitc("-", pos)
                            pos += 1
                            st = 3  # escaped_dash_dash
                    continue
                emitc("<", pos)
                pos += 1
                continue
            if st in (1, 2, 3):  # escaped family (:596-653)
                if c == "-":
                    emitc("-", pos)
                    pos += 1
                    st = 2 if st == 1 else 3
                    continue
                if c == "<":
                    # escaped_less_than_sign (:656-663)
                    nxt = s[pos + 1] if pos + 1 < n else ""
                    if nxt == "/":
                        out = self._script_escaped_end_tag(s, pos + 2)
                        if out is None:
                            return None
                        if isinstance(out, tuple):
                            pos = out[0]
                            st = 1
                            continue
                        if self.datafn != SCRIPT_DATA:
                            return out
                        pos = out
                        st = 0
                        continue
                    if "a" <= nxt <= "z" or "A" <= nxt <= "Z":
                        emitc("<", pos)
                        pos += 1
                        # double_escape_start (:736-767)
                        self.temp = []
                        pos, entered = self._dbl_escape_scan(s, pos)
                        if pos is None:
                            return None
                        st = 4 if entered else 1
                        continue
                    emitc("<", pos)
                    pos += 1
                    st = 1
                    continue
                if st == 3 and c == ">":
                    emitc(">", pos)
                    pos += 1
                    st = 0
                    continue
                if c == "\x00":
                    emitc("�", pos)
                    pos += 1
                    st = 1
                    continue
                emitc(c, pos)
                pos += 1
                st = 1
                continue
            # st in (4,5,6): double-escaped family (:770-869)
            if c == "-":
                emitc("-", pos)
                pos += 1
                st = 5 if st == 4 else 6
                continue
            if c == "<":
                emitc("<", pos)
                pos += 1
                # dbl_escaped_less_than_sign (:831-835)
                if pos < n and s[pos] == "/":
                    emitc("/", pos)
                    pos += 1
                    self.temp = []
                    pos, exited = self._dbl_escape_scan(s, pos)
                    if pos is None:
                        return None
                    st = 1 if exited else 4
                    continue
                st = 4
                continue
            if st == 6 and c == ">":
                emitc(">", pos)
                pos += 1
                st = 0
                continue
            if c == "\x00":
                emitc("�", pos)
                pos += 1
                st = 4
                continue
            emitc(c, pos)
            pos += 1
            st = 4

    def _dbl_escape_scan(self, s, pos):
        """double_escape_start/_end letter scan (:736-767, 838-869).

        Emits each letter, lowercases into temp; at the first ws / '/' / '>'
        returns (newpos, temp=='script').  Any other char: no transition.
        """
        n = len(s)
        emitc = self._emit_char
        temp = self.temp
        while True:
            if pos >= n:
                return self._emit_eof(), False
            c = s[pos]
            if c in WS or c == "/" or c == ">":
                is_script = "".join(temp) == "script"
                if is_script:
                    return pos + 1, True  # char consumed, NOT emitted
                emitc(c, pos)
                return pos + 1, False
            if "A" <= c <= "Z":
                emitc(c, pos)
                temp.append(chr(ord(c) + 32))
                pos += 1
            elif "a" <= c <= "z":
                emitc(c, pos)
                temp.append(c)
                pos += 1
            else:
                return pos, False  # re-handle char in escaped/double state

    def _script_end_tag(self, s, pos):
        """script_data_end_tag_open/_name (:516-579).

        Returns new pos on tag emit, (relex_pos,) on failed match (after
        emitting one '</'+letters #chars token and CLEARING temp), or None.
        """
        n = len(s)
        self.tok_start = pos - 2
        self.temp = []
        temp = self.temp
        name_parts = []
        j = pos
        if j >= n or not ("a" <= s[j] <= "z" or "A" <= s[j] <= "Z"):
            self._emit_char("<", pos)
            self._emit_char("/", pos)
            return (j,)
        while j < n:
            ch = s[j]
            if "A" <= ch <= "Z":
                name_parts.append(chr(ord(ch) + 32))
                temp.append(ch)
                j += 1
            elif "a" <= ch <= "z":
                name_parts.append(ch)
                temp.append(ch)
                j += 1
            else:
                break
        nm = "".join(name_parts)
        if j < n and nm == self.last_start and (s[j] in WS or s[j] == "/" or s[j] == ">"):
            self.tok_is_end = True
            self.tok_name = nm
            self.tok_selfclosing = False
            self.tok_attrs = []
            if s[j] == ">":
                self._emit_tag(j + 1)
                return j + 1
            st = _S_BEFORE_ATTR_NAME if s[j] in WS else _S_SELF_CLOSING
            return self._tag_machine(s, j + 1, st)
        # failure: ONE batched #chars "</"+letters, temp cleared (:575-579)
        self._line_to(self.tok_start)
        self.tb.chars("</" + "".join(temp))
        self.temp = []
        return (j,)

    def _script_escaped_end_tag(self, s, pos):
        """script_data_escaped_end_tag_open/_name (:666-733).

        Failure path emits '<','/' + buffered chars individually (temp NOT
        cleared), unlike the plain script path.
        """
        n = len(s)
        self.tok_start = pos - 2
        self.temp = []
        temp = self.temp
        name_parts = []
        j = pos
        if j >= n or not ("a" <= s[j] <= "z" or "A" <= s[j] <= "Z"):
            self._emit_char("<", pos)
            self._emit_char("/", pos)
            return (j,)
        while j < n:
            ch = s[j]
            if "A" <= ch <= "Z":
                name_parts.append(chr(ord(ch) + 32))
                temp.append(ch)
                j += 1
            elif "a" <= ch <= "z":
                name_parts.append(ch)
                temp.append(ch)
                j += 1
            else:
                break
        nm = "".join(name_parts)
        if j < n and nm == self.last_start and (s[j] in WS or s[j] == "/" or s[j] == ">"):
            self.tok_is_end = True
            self.tok_name = nm
            self.tok_selfclosing = False
            self.tok_attrs = []
            if s[j] == ">":
                self._emit_tag(j + 1)
                return j + 1
            st = _S_BEFORE_ATTR_NAME if s[j] in WS else _S_SELF_CLOSING
            return self._tag_machine(s, j + 1, st)
        self._emit_char("<", pos)
        self._emit_char("/", pos)
        for ch in temp:
            self._emit_char(ch, pos)
        return (j,)

    # ---- 8.2.4.72-.79 character references (:1681-1904) ----

    def _charref(self, s: str, pos: int, in_attr: bool) -> int:
        """pos is just after '&'.  Mutates temp (stale-replay quirk Q5)."""
        n = len(s)
        if pos >= n:
            return self._charref_end(pos, in_attr)
        c = s[pos]
        if c == "\n":
            # character_reference counts the newline (?i, :1681-1682) but
            # does NOT consume it; the return state re-scans and counts it
            # again -> '&' directly before '\n' advances line_num by 2 (Q30)
            self._line += 1
            return self._charref_end(pos, in_attr)
        if c in WS or c == "<" or c == "&":
            return self._charref_end(pos, in_attr)  # stale temp replays
        if c == "#":
            self.temp = ["&", "#"]
            return self._numeric_charref(s, pos + 1, in_attr)
        got = match_entity(s, pos)
        if got is None:
            return self._charref_end(pos, in_attr)  # stale temp replays
        decoded, end = got
        self.temp = list(decoded)
        return self._charref_end(end, in_attr)

    def _numeric_charref(self, s: str, pos: int, in_attr: bool) -> int:
        n = len(s)
        if pos < n and (s[pos] == "x" or s[pos] == "X"):
            self.temp.append(s[pos])
            pos += 1
            if pos < n and s[pos] in _HEX_DIGITS:
                m = _RE_HEX.match(s, pos)
                if m:
                    self.temp = [chr(mask_code_ref(int(m.group(1), 16)))]
                    return self._charref_end(m.end(), in_attr)
                self.temp = ["�"]  # mask_code_ref(0); digits re-lex (Q7)
                return self._charref_end(pos, in_attr)
            return self._charref_end(pos, in_attr)  # flush "&#x"
        if pos < n and s[pos] in _DEC_DIGITS:
            m = _RE_DEC.match(s, pos)
            if m:
                self.temp = [chr(mask_code_ref(int(m.group(1))))]
                return self._charref_end(m.end(), in_attr)
            self.temp = ["�"]
            return self._charref_end(pos, in_attr)
        return self._charref_end(pos, in_attr)  # flush "&#"

    def _charref_end(self, pos: int, in_attr: bool) -> int:
        buff = self.temp  # intentionally NOT cleared afterwards (Q5)
        if in_attr:
            if buff:
                last = self.tok_attrs[-1]
                last[1] += "".join(buff)
        else:
            for ch in buff:
                self._emit_char(ch, pos)
        return pos

    # ---- 8.2.4.6-.7 tag open (:249-279) ----

    def _tag_open(self, s: str, pos: int):
        n = len(s)
        self.tok_start = pos - 1  # the '<'
        if pos < n:
            c = s[pos]
            if c == "!":
                return self._markup_decl(s, pos + 1)
            if c == "/":
                return self._end_tag_open(s, pos + 1)
            if "a" <= c <= "z" or "A" <= c <= "Z":
                self.tok_is_end = False
                self.tok_name = ""
                self.tok_selfclosing = False
                self.tok_attrs = []
                return self._tag_machine(s, pos, _S_TAG_NAME)
            if c == "?":
                self.tok_comment = []
                return self._bogus_comment(s, pos)  # '?' included (:256-259)
        self._emit_char("<", pos)
        return pos

    def _end_tag_open(self, s: str, pos: int):
        n = len(s)
        if pos < n:
            c = s[pos]
            if "a" <= c <= "z" or "A" <= c <= "Z":
                self.tok_is_end = True
                self.tok_name = ""
                self.tok_selfclosing = False
                self.tok_attrs = []
                return self._tag_machine(s, pos, _S_TAG_NAME)
            if c == ">":
                return pos + 1  # dropped (:268-270)
            self.tok_comment = []
            return self._bogus_comment(s, pos)
        self._emit_char("<", pos)
        self._emit_char("/", pos)
        return self._emit_eof()

    # ---- tag/attribute machine (8.2.4.8, .32-.40; :282-346, 872-1084) ----

    def _tag_machine(self, s: str, pos: int, st: int):
        """Iterative tag scanner.  Returns new pos (tag emitted, datafn set)
        or None (eof emitted)."""
        n = len(s)
        attrs = self.tok_attrs
        while True:
            if st == _S_TAG_NAME:
                # tag_name (:282-299) + the unrolled scan (:301-346)
                while True:
                    if pos >= n:
                        return self._emit_eof()  # token dropped
                    c = s[pos]
                    if c in WS:
                        st = _S_BEFORE_ATTR_NAME
                        pos += 1
                        break
                    if c == "/":
                        st = _S_SELF_CLOSING
                        pos += 1
                        break
                    if c == ">":
                        self._emit_tag(pos + 1)
                        return pos + 1
                    if c == "\x00":
                        self.tok_name += "�"
                        pos += 1
                        continue
                    part, pos = _scan_tag_name(s, pos, n)
                    self.tok_name += part
            elif st == _S_BEFORE_ATTR_NAME:
                # (:872-891)
                while pos < n and s[pos] in WS:
                    pos += 1
                if pos >= n:
                    st = _S_AFTER_ATTR_NAME
                    continue
                c = s[pos]
                if c == "/" or c == ">":
                    st = _S_AFTER_ATTR_NAME
                    continue
                if c == "=":
                    attrs.append(["INVALID", ""])  # Q9 (:883-887)
                    pos += 1
                else:
                    attrs.append(["", ""])
                st = _S_ATTR_NAME
            elif st == _S_ATTR_NAME:
                # (:894-937)
                while True:
                    if pos >= n:
                        st = _S_AFTER_ATTR_NAME
                        break
                    c = s[pos]
                    if c in WS or c == "/" or c == ">":
                        st = _S_AFTER_ATTR_NAME
                        break
                    if c == "=":
                        st = _S_BEFORE_ATTR_VALUE
                        pos += 1
                        break
                    acc = []
                    while pos < n:
                        c = s[pos]
                        if "A" <= c <= "Z":
                            acc.append(chr(ord(c) + 32))
                        elif c in WS or c == "/" or c == ">" or c == "=":
                            break
                        elif c == "\x00":
                            acc.append("�")
                        else:
                            acc.append(c)
                        pos += 1
                    attrs[-1][0] += "".join(acc)
            elif st == _S_AFTER_ATTR_NAME:
                # (:940-957)
                while pos < n and s[pos] in WS:
                    pos += 1
                if pos >= n:
                    return self._emit_eof()  # fatal (:951-953)
                c = s[pos]
                if c == "/":
                    st = _S_SELF_CLOSING
                    pos += 1
                elif c == "=":
                    st = _S_BEFORE_ATTR_VALUE
                    pos += 1
                elif c == ">":
                    self._emit_tag(pos + 1)
                    return pos + 1
                else:
                    attrs.append(["", ""])  # valueless attr (:954-957)
                    st = _S_ATTR_NAME
            elif st == _S_BEFORE_ATTR_VALUE:
                # (:960-972); eof here crashes the reference (D3)
                while pos < n and s[pos] in WS:
                    pos += 1
                if pos >= n:
                    self.tok_errors += 1
                    return self._emit_eof()
                c = s[pos]
                if c == '"':
                    st = _S_ATTR_VAL_DQ
                    pos += 1
                elif c == "'":
                    st = _S_ATTR_VAL_SQ
                    pos += 1
                else:
                    st = _S_ATTR_VAL_UNQ
            elif st == _S_ATTR_VAL_DQ or st == _S_ATTR_VAL_SQ:
                # (:975-1024)
                quote = '"' if st == _S_ATTR_VAL_DQ else "'"
                stop_re = _RE_ATT_DQ if st == _S_ATTR_VAL_DQ else _RE_ATT_SQ
                while True:
                    if pos >= n:
                        return self._emit_eof()  # fatal, token dropped
                    c = s[pos]
                    if c == quote:
                        st = _S_AFTER_ATTR_VAL_Q
                        pos += 1
                        break
                    if c == "&":
                        pos = self._charref(s, pos + 1, True)
                        continue
                    if c == "\x00":
                        attrs[-1][1] += "�"
                        pos += 1
                        continue
                    m = stop_re.search(s, pos)
                    end = m.start() if m else n
                    attrs[-1][1] += s[pos:end]
                    pos = end
            elif st == _S_ATTR_VAL_UNQ:
                # (:1027-1055)
                while True:
                    if pos >= n:
                        return self._emit_eof()  # fatal
                    c = s[pos]
                    if c in WS:
                        st = _S_BEFORE_ATTR_NAME
                        pos += 1
                        break
                    if c == "&":
                        pos = self._charref(s, pos + 1, True)
                        continue
                    if c == ">":
                        self._emit_tag(pos + 1)
                        return pos + 1
                    if c == "\x00":
                        attrs[-1][1] += "�"
                        pos += 1
                        continue
                    m = _RE_ATT_UNQ.search(s, pos)
                    end = m.start() if m else n
                    attrs[-1][1] += s[pos:end]
                    pos = end
            elif st == _S_AFTER_ATTR_VAL_Q:
                # (:1058-1072)
                if pos >= n:
                    return self._emit_eof()  # fatal
                c = s[pos]
                if c in WS:
                    st = _S_BEFORE_ATTR_NAME
                    pos += 1
                elif c == "/":
                    st = _S_SELF_CLOSING
                    pos += 1
                elif c == ">":
                    self._emit_tag(pos + 1)
                    return pos + 1
                else:
                    st = _S_BEFORE_ATTR_NAME  # no consume (:1070-1072)
            else:  # _S_SELF_CLOSING (:1075-1084)
                if pos >= n:
                    return self._emit_eof()  # fatal
                if s[pos] == ">":
                    self.tok_selfclosing = True
                    self._emit_tag(pos + 1)
                    return pos + 1
                st = _S_BEFORE_ATTR_NAME  # no consume

    # ---- 8.2.4.41-.42 bogus comment / markup declaration (:1087-1122) ----

    def _bogus_comment(self, s: str, pos: int):
        n = len(s)
        parts = self.tok_comment
        while True:
            if pos >= n:
                # emits the comment but NOT eof: parse ends unfinished (D5)
                self._line_to(n)
                self.tb.dispatch(T_COMMENT, "".join(parts))
                return None
            c = s[pos]
            if c == ">":
                self._line_to(pos)
                self.tb.dispatch(T_COMMENT, "".join(parts))
                return pos + 1
            if c == "\x00":
                parts.append("�")
                pos += 1
                continue
            m = _RE_BOGUS.search(s, pos)
            end = m.start() if m else n
            parts.append(s[pos:end])
            pos = end

    def _markup_decl(self, s: str, pos: int):
        if s.startswith("--", pos):
            self.tok_comment = []
            return self._comment_machine(s, pos + 2)
        if s[pos : pos + 7].lower() == "doctype":
            return self._doctype_machine(s, pos + 7)
        if s.startswith("[CDATA[", pos):  # unconditional, Q14 (:1116-1118)
            return self._cdata_machine(s, pos + 7)
        self.tok_comment = []
        return self._bogus_comment(s, pos)

    # ---- 8.2.4.43-.52 comments (:1125-1249) ----

    def _comment_machine(self, s: str, pos: int):
        n = len(s)
        parts = self.tok_comment

        def emit():
            # closure reads the CURRENT pos: every '\n' in the comment body
            # was consumed before the emitting '>' / eof
            self._line_to(pos)
            self.tb.dispatch(T_COMMENT, "".join(parts))
        # comment_start (:1125-1132)
        if pos < n and s[pos] == "-":
            pos += 1
            # comment_start_dash (:1135-1143)
            if pos < n and s[pos] == "-":
                pos += 1
                st = 4  # comment_end
            elif pos < n and s[pos] == ">":
                emit()
                return pos + 1
            elif pos >= n:
                emit()
                return self._emit_eof()
            else:
                parts.append("-")
                st = 0
        elif pos < n and s[pos] == ">":
            emit()
            return pos + 1
        else:
            st = 0
        # states: 0=comment 1=lt_sign 2=lt_bang 3=end_dash 4=end 5=end_bang
        # (lt_bang_dash / lt_bang_dash_dash folded inline)
        while True:
            if st == 0:  # comment (:1146-1171)
                if pos >= n:
                    emit()
                    return self._emit_eof()
                c = s[pos]
                if c == "<":
                    parts.append("<")
                    pos += 1
                    st = 1
                elif c == "-":
                    pos += 1
                    st = 3
                elif c == "\x00":
                    parts.append("�")
                    pos += 1
                    st = 1  # quirky transition to less_than_sign (:1151-1153)
                else:
                    m = _RE_COMMENT.search(s, pos)
                    end = m.start() if m else n
                    parts.append(s[pos:end])
                    pos = end
            elif st == 1:  # comment_less_than_sign (:1174-1181)
                if pos < n and s[pos] == "!":
                    parts.append("!")
                    pos += 1
                    st = 2
                elif pos < n and s[pos] == "<":
                    parts.append("<")
                    pos += 1
                else:
                    st = 0
            elif st == 2:  # comment_less_than_sign_bang (:1184-1200)
                if pos < n and s[pos] == "-":
                    pos += 1
                    if pos < n and s[pos] == "-":
                        pos += 1
                        st = 4  # bang_dash_dash -> comment_end either way
                    else:
                        st = 3  # bang_dash -> comment_end_dash
                else:
                    st = 0
            elif st == 3:  # comment_end_dash (:1203-1211)
                if pos >= n:
                    emit()
                    return self._emit_eof()
                if s[pos] == "-":
                    pos += 1
                    st = 4
                else:
                    parts.append("-")
                    st = 0
            elif st == 4:  # comment_end (:1214-1229)
                if pos >= n:
                    emit()
                    return self._emit_eof()
                c = s[pos]
                if c == ">":
                    emit()
                    return pos + 1
                if c == "!":
                    pos += 1
                    st = 5
                elif c == "-":
                    parts.append("-")
                    pos += 1
                else:
                    parts.append("--")
                    st = 0
            else:  # comment_end_bang (:1232-1249)
                if pos >= n:
                    emit()
                    return self._emit_eof()
                c = s[pos]
                if c == "-":
                    parts.append("--!")
                    pos += 1
                    st = 3
                elif c == ">":
                    emit()
                    return pos + 1
                else:
                    parts.append("--!")
                    st = 0

    # ---- 8.2.4.53-.68 DOCTYPE (:1252-1641) ----

    def _doctype_machine(self, s: str, pos: int):
        n = len(s)
        self.dt_name = ""
        self.dt_public = None
        self.dt_system = None

        def emit():
            self._line_to(pos)  # closure: current consumption point
            self.tb.dispatch(T_DOCTYPE, self.dt_name, self.dt_public, self.dt_system)

        # doctype -> before_doctype_name (:1252-1263, 1266-1289); the
        # reference treats a non-ws char after DOCTYPE as parse error but
        # still proceeds to before_doctype_name without consuming.
        while pos < n and s[pos] in WS:
            pos += 1
        if pos >= n:
            emit()
            return self._emit_eof()
        c = s[pos]
        if c == ">":
            emit()
            return pos + 1
        if c == "\x00":
            self.dt_name = "�"
            pos += 1
        elif "A" <= c <= "Z":
            self.dt_name = chr(ord(c) + 32)
            pos += 1
        else:
            self.dt_name = c
            pos += 1
        # doctype_name (:1292-1313)
        while True:
            if pos >= n:
                emit()
                return self._emit_eof()
            c = s[pos]
            if c in WS:
                pos += 1
                break
            if c == ">":
                emit()
                return pos + 1
            if "A" <= c <= "Z":
                self.dt_name += chr(ord(c) + 32)
            elif c == "\x00":
                self.dt_name += "�"
            else:
                self.dt_name += c
            pos += 1
        # after_doctype_name (:1316-1349)
        while pos < n and s[pos] in WS:
            pos += 1
        if pos >= n:
            emit()
            return self._emit_eof()
        if s[pos] == ">":
            emit()
            return pos + 1
        word = s[pos : pos + 6].lower()
        # keep `pos` an int: the emit closure reads it at call time
        if word == "public":
            res = self._doctype_id(s, pos + 6, "public")
        elif word == "system":
            res = self._doctype_id(s, pos + 6, "system")
        else:
            return self._bogus_doctype(s, pos, emit)
        if res is None:
            return None
        if isinstance(res, tuple):  # (pos,) -> bogus_doctype
            return self._bogus_doctype(s, res[0], emit)
        return res

    def _doctype_id(self, s: str, pos: int, which: str):
        """after_doctype_{public,system}_keyword through identifiers.

        Returns: int >= 0 resume pos WITH the doctype already emitted;
        None on eof; (pos,) to switch to bogus_doctype.
        Uses an inner emit since many exits emit the token then data().
        """
        n = len(s)

        def emit():
            self._line_to(pos)  # closure: current consumption point
            self.tb.dispatch(T_DOCTYPE, self.dt_name, self.dt_public, self.dt_system)

        def set_id(val):
            if which == "public":
                self.dt_public = val
            else:
                self.dt_system = val

        # after_*_keyword (:1352-1377 / :1510-1535): ws optional before quote
        while pos < n and s[pos] in WS:
            pos += 1
        if pos >= n:
            emit()
            return self._emit_eof()
        c = s[pos]
        if c == ">":
            emit()
            return pos + 1
        if c not in "\"'":
            return (pos,)
        quote = c
        set_id("")
        pos += 1
        # identifier (quoted) (:1406-1451 / :1564-1609)
        start = pos
        buf = []
        while True:
            if pos >= n:
                emit()
                return self._emit_eof()
            c = s[pos]
            if c == quote:
                buf.append(s[start:pos])
                pos += 1
                break
            if c == ">":
                buf.append(s[start:pos])
                set_id("".join(buf).replace("\x00", "�"))
                emit()
                return pos + 1
            if c == "\x00":
                buf.append(s[start:pos])
                buf.append("�")
                pos += 1
                start = pos
                continue
            pos += 1
        set_id("".join(buf).replace("\x00", "�"))
        if which == "system":
            # after_doctype_system_identifier (:1612-1626)
            while pos < n and s[pos] in WS:
                pos += 1
            if pos >= n:
                emit()
                return self._emit_eof()
            if s[pos] == ">":
                emit()
                return pos + 1
            return (pos,)  # bogus WITHOUT quirks change (:1624-1626)
        # after_doctype_public_identifier / between (:1454-1507)
        while pos < n and s[pos] in WS:
            pos += 1
        if pos >= n:
            emit()
            return self._emit_eof()
        c = s[pos]
        if c == ">":
            emit()
            return pos + 1
        if c in "\"'":
            quote = c
            self.dt_system = ""
            pos += 1
            start = pos
            buf = []
            while True:
                if pos >= n:
                    emit()
                    return self._emit_eof()
                c = s[pos]
                if c == quote:
                    buf.append(s[start:pos])
                    pos += 1
                    break
                if c == ">":
                    buf.append(s[start:pos])
                    self.dt_system = "".join(buf).replace("\x00", "�")
                    emit()
                    return pos + 1
                if c == "\x00":
                    buf.append(s[start:pos])
                    buf.append("�")
                    pos += 1
                    start = pos
                    continue
                pos += 1
            self.dt_system = "".join(buf).replace("\x00", "�")
            while pos < n and s[pos] in WS:
                pos += 1
            if pos >= n:
                emit()
                return self._emit_eof()
            if s[pos] == ">":
                emit()
                return pos + 1
            return (pos,)
        return (pos,)

    def _bogus_doctype(self, s: str, pos: int, emit):
        # (:1629-1641); the caller's emit closure reads the CALLER's stale
        # pos, so the newlines consumed here are counted explicitly first
        n = len(s)
        while pos < n:
            if s[pos] == ">":
                self._line_to(pos)
                emit()
                return pos + 1
            pos += 1
        self._line_to(n)
        emit()
        return self._emit_eof()

    # ---- 8.2.4.69-.71 CDATA (:1644-1678) ----

    def _cdata_machine(self, s: str, pos: int):
        n = len(s)
        tb = self.tb
        while True:
            if pos >= n:
                return self._emit_eof()
            if s[pos] != "]":
                self._line_to(pos)
                m = _RE_CDATA.search(s, pos)
                end = m.start() if m else n
                tb.chars(s[pos:end])
                pos = end
                continue
            # cdata_section_bracket (:1662-1666)
            pos += 1
            if pos >= n or s[pos] != "]":
                self._emit_char("]", pos)
                continue
            # cdata_section_end (:1669-1678)
            pos += 1
            while pos < n and s[pos] == "]":
                self._emit_char("]", pos)
                pos += 1
            if pos < n and s[pos] == ">":
                return pos + 1  # back to data
            self._emit_char("]", pos)
            self._emit_char("]", pos)


def _line_noop(pos):
    """Installed as _line_to for sinks that do not want line numbers."""
    return


# tag-machine states
(
    _S_TAG_NAME, _S_BEFORE_ATTR_NAME, _S_ATTR_NAME, _S_AFTER_ATTR_NAME,
    _S_BEFORE_ATTR_VALUE, _S_ATTR_VAL_DQ, _S_ATTR_VAL_SQ, _S_ATTR_VAL_UNQ,
    _S_AFTER_ATTR_VAL_Q, _S_SELF_CLOSING,
) = range(10)

_TAG_TERM = frozenset(" \t\n\f/>\x00")


_RE_LOWER_NAME = re.compile(r"[a-z][a-z0-9]*")

# The fused tag step's grammar (see Parser._st_data), matched just after the
# '<'.  A start tag: lowercase name; zero+ attributes, each whitespace then
# a lowercase name, '=' and a value that is double- or single-quoted without
# charref/NUL/its quote, or unquoted without whitespace, '&', '>', NUL, any
# quote, '=', '<' or '`' (and ending at whitespace or '>': an unquoted value
# keeps a trailing '/', as the machine's does); then an optional
# self-closing '/'.  An end tag: `</name>` with a lowercase name.  Both are
# strict SUBSETS of the machine's grammar (checked by
# tests/test_fastpath_differential.py), so a matched tag yields the same
# token; anything else falls through to the machine.
_RE_FAST_TAG = re.compile(
    r'([a-z][a-z0-9]*)'
    r'((?:[ \t\n\f]+[a-z][a-z0-9-]*='
    r'''(?:"[^"&\x00]*"|'[^'&\x00]*'|[^ \t\n\f&>\x00"'=<`]+(?=[ \t\n\f>])))*)'''
    r'[ \t\n\f]*(/?)>'
)
_RE_FAST_END_TAG = re.compile(r"/([a-z][a-z0-9]*)>")
_RE_FAST_ATTR = re.compile(r'''([a-z][a-z0-9-]*)=(?:"([^"]*)"|'([^']*)'|([^ \t\n\f]+))''')


def _fast_attrs(src: str) -> list:
    """(name, value) pairs of a _RE_FAST_TAG attribute run, in order."""
    return [(n, dq or sq or unq) for n, dq, sq, unq in _RE_FAST_ATTR.findall(src)]


def _scan_tag_name(s: str, pos: int, n: int):
    """tag_name_1/tag_name_2 (:301-346) including the lowercasing quirk.

    The scanned part is lowercased iff the terminator (or EOS) is examined
    while "in tag_name_2", i.e. immediately after an uppercase letter; a
    char examined by tag_name_2 that is not a terminator is skipped without
    classification (so `<DIv>` keeps the name 'DIv' while `<DIV>` -> 'div').
    """
    # fast path: the overwhelmingly common all-lowercase name followed by a
    # terminator involves no tag_name_2 transitions at all
    m = _RE_LOWER_NAME.match(s, pos)
    if m is not None:
        e = m.end()
        if e >= n or s[e] in _TAG_TERM:
            return m.group(), e
    i = pos
    in2 = False
    while i < n:
        c = s[i]
        if in2:
            if c in _TAG_TERM:
                return s[pos:i].lower(), i
            in2 = False
            i += 1
            continue
        if "a" <= c <= "z":
            i += 1
        elif "A" <= c <= "Z":
            in2 = True
            i += 1
        elif c in _TAG_TERM:
            return s[pos:i], i
        else:
            i += 1
    part = s[pos:]
    return (part.lower() if in2 else part), n
