"""HTML / layout-word parsing into OCR-style token streams.

This is the engine's replacement for the reference's external OCR call
(/root/reference/src/ocr/azure_ocr_client.py:28-63): a deterministic,
in-process *synthetic OCR* front-end that turns a Common-Crawl-style
page payload into exactly the token-stream shape the reference's
downstream stages consume (postprocess.py:53-69):

    {"type": "line"|"word", "text", "page", "bounding_box": [{x,y}]*4|None,
     "confidence": float|None}

Two input forms:

* raw HTML bytes — parsed with a streaming stdlib tokenizer
  (html.parser), segmented into blocks, boilerplate-stripped with
  link-density / chrome-ancestor heuristics (Readability/Boilerpipe
  style), then laid out by a deterministic reading-order layout engine
  that assigns synthetic bounding boxes in inches (labels left of the
  reference's x_split=2.5, values to the right — the geometry contract
  of tests/test_field_extraction.py:156-201);
* a PDF-like layout-word payload (``<script
  type="application/x-layout-words">`` JSON) — bounding-box word
  grouping into reading-order lines (layout-aware block segmentation).

Line confidence is computed from word confidences exactly as the
reference does (postprocess.py:28-51): average of the confidences of
words whose bbox centroid falls inside the line envelope, Python
``round(·, 2)``.
"""

from __future__ import annotations

import hashlib
import json
import re
from functools import lru_cache
from html import unescape
from html.parser import HTMLParser
from typing import Any, Dict, List, Optional, Tuple

Token = Dict[str, Any]

LAYOUT_WORDS_MIME = "application/x-layout-words"

# Elements whose subtree is page chrome (never main content).
_CHROME_TAGS = frozenset({"nav", "header", "footer", "aside"})
# Elements whose text content is never rendered.
_OPAQUE_TAGS = frozenset({"script", "style", "noscript", "template", "svg"})
# Elements that open a fresh text block in reading order.
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "tr",
        "table", "ul", "ol", "dl", "section", "article", "main",
        "blockquote", "pre", "form", "figure", "figcaption",
    }
)
_CELL_TAGS = frozenset({"td", "th"})

# One-lookup tag dispatch for the tokenizer's handlers: the categories
# above are mutually exclusive, so a tag resolves to a single kind code
# instead of cascading 4-5 frozenset membership tests per event.
_K_OPAQUE, _K_CHROME, _K_LINK, _K_BLOCK, _K_ROW, _K_CELL, _K_BR = range(7)
_TAG_KIND: Dict[str, int] = {}
for _t in _OPAQUE_TAGS:
    _TAG_KIND[_t] = _K_OPAQUE
for _t in _CHROME_TAGS:
    _TAG_KIND[_t] = _K_CHROME
_TAG_KIND["a"] = _K_LINK
for _t in _BLOCK_TAGS:
    _TAG_KIND[_t] = _K_ROW if _t == "tr" else _K_BLOCK
for _t in _CELL_TAGS:
    _TAG_KIND[_t] = _K_CELL
_TAG_KIND["br"] = _K_BR

_WS_RE = re.compile(r"\s+")

# Layout constants (inches). Chosen so the emitted geometry satisfies the
# reference's pairing thresholds (x_split=2.5, y_thresh=0.2) the same way
# the reference's own 46-line fixture does: labels at x=0.5, values at
# x=0.5+2.5·cell, value row offset +0.01, one row per unit of y.
CHAR_W = 0.05
ROW_STEP = 1.0
CELL_X_STEP = 2.5
CELL_Y_STEP = 0.01
LEFT_MARGIN = 0.5
TOP_MARGIN = 1.0
PAGE_ROWS = 40  # rows per synthetic page
WRAP_CHARS = 80  # greedy word-wrap width for prose blocks
MAX_LINK_DENSITY = 0.5


_COLLAPSE_CACHE: Dict[str, str] = {}


def _collapse_ws(text: str) -> str:
    # Short cell texts (form labels/values, chrome link text) repeat
    # across millions of documents — memoize those; long texts (prose
    # paragraphs) are corpus-unique, so caching them would only burn
    # memory. Value identical to the uncached expression by definition.
    if len(text) <= 96:
        v = _COLLAPSE_CACHE.get(text)
        if v is None:
            v = _WS_RE.sub(" ", text).strip()
            if len(_COLLAPSE_CACHE) < 32768:
                _COLLAPSE_CACHE[text] = v
        return v
    return _WS_RE.sub(" ", text).strip()


def _stable_unit(key: str) -> float:
    """Deterministic pseudo-random in [0, 1) from md5 — no RNG state."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16) / 0x100000000


@lru_cache(maxsize=262144)
def _word_confidence(word: str, line_idx: int, word_idx: int) -> float:
    """Synthetic per-word OCR confidence in {0.90 … 0.99}, deterministic
    in the word content and its position (memoized — form labels repeat
    at identical positions across millions of documents). The reference's
    round(conf, 2) is folded into the cached value (round(0.9+k/100, 2)
    is load-bearing: 0.90+0.07 is 0.9700000000000001 unrounded)."""
    return round(
        0.90 + int(_stable_unit(f"{word}|{line_idx}|{word_idx}") * 10) / 100.0, 2
    )


class _Block:
    __slots__ = ("cells", "text_chars", "link_chars", "is_chrome", "is_row")

    def __init__(self, is_chrome: bool, is_row: bool) -> None:
        self.cells: List[List[str]] = [[]]
        self.text_chars = 0
        self.link_chars = 0
        self.is_chrome = is_chrome
        self.is_row = is_row

    def add_text(self, text: str, in_link: bool) -> None:
        self.cells[-1].append(text)
        n = len(text)
        self.text_chars += n
        if in_link:
            self.link_chars += n

    def new_cell(self) -> None:
        self.cells.append([])

    def rendered_cells(self) -> List[str]:
        return [c for c in (_collapse_ws("".join(parts)) for parts in self.cells) if c]

    @property
    def link_density(self) -> float:
        return self.link_chars / self.text_chars if self.text_chars else 0.0


class _PageTokenizer(HTMLParser):
    """Streaming DOM tokenizer: flat block segmentation + chrome/link
    accounting + layout-word payload capture. One pass, O(bytes)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[_Block] = []
        self.layout_words_json: List[str] = []
        self._chrome_depth = 0
        self._opaque_depth = 0
        self._link_depth = 0
        self._capture_layout = False
        self._current: Optional[_Block] = None

    def _open_block(self, is_row: bool) -> None:
        self._current = _Block(self._chrome_depth > 0, is_row)
        self.blocks.append(self._current)

    def handle_starttag(self, tag: str, attrs) -> None:
        kind = _TAG_KIND.get(tag)
        if kind is None:
            return
        if kind == _K_BLOCK:
            self._open_block(is_row=False)
        elif kind == _K_ROW:
            self._open_block(is_row=True)
        elif kind == _K_CELL:
            cur = self._current
            if cur is None or not cur.is_row:
                self._open_block(is_row=True)
            elif cur.cells[-1]:
                cur.new_cell()
        elif kind == _K_LINK:
            self._link_depth += 1
        elif kind == _K_CHROME:
            self._chrome_depth += 1
        elif kind == _K_OPAQUE:
            self._opaque_depth += 1
            if tag == "script" and dict(attrs).get("type") == LAYOUT_WORDS_MIME:
                self._capture_layout = True
        elif self._current is not None:  # br
            self._current.add_text(" ", self._link_depth > 0)

    def handle_endtag(self, tag: str) -> None:
        kind = _TAG_KIND.get(tag)
        if kind is None:
            if tag == "body":
                self._current = None
            return
        if kind == _K_BLOCK or kind == _K_ROW:
            self._current = None
        elif kind == _K_OPAQUE:
            self._opaque_depth = max(0, self._opaque_depth - 1)
            self._capture_layout = False
        elif kind == _K_LINK:
            self._link_depth = max(0, self._link_depth - 1)
        elif kind == _K_CHROME:
            self._chrome_depth = max(0, self._chrome_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._opaque_depth:
            if self._capture_layout:
                self.layout_words_json.append(data)
            return
        if not data or data.isspace():  # ≡ `not data.strip()`, no alloc
            return
        if self._current is None:
            self._open_block(is_row=False)
        cur = self._current
        if cur.is_chrome:
            # chrome-marked blocks are dropped unconditionally before
            # their content or link-density is ever read (the layout
            # engine's `is_chrome` check short-circuits) — skip the
            # accumulation. A non-chrome block that stays current
            # across a chrome subtree (e.g. <p>…<nav>…) still
            # accumulates, exactly as before.
            return
        cur.add_text(data, self._link_depth > 0)


# ---------------------------------------------------------------------------
# Fast scan path: a strict-subset HTML scanner that drives the SAME
# _PageTokenizer handler methods as html.parser would, restricted to
# constructs where its event stream is provably identical to
# HTMLParser(convert_charrefs=True). ANY construct outside the proven
# subset aborts the scan and the caller re-parses the whole document
# with the stdlib parser — correctness never depends on the fast path.
# Why: html.parser's char-wise goahead/updatepos machinery was ~40% of
# per-document cost; bulk text here moves with C-speed str.find/regex.
# Equivalence is enforced by tests/test_core_htmlparse.py (fixed
# adversarial cases + hypothesis fuzz comparing both paths) and the
# reference-generated goldens.
# ---------------------------------------------------------------------------

# Tag-name charset exactly as html.parser's tagfind_tolerant.
_TAGNAME_RE = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
# End-of-start-tag finder honoring quoted attribute values (so '>' inside
# quotes doesn't end the tag — same as locatestarttagend_tolerant).
_TAG_BODY_RE = re.compile(r"""[^>"']*(?:"[^"]*"[^>"']*|'[^']*'[^>"']*)*""")
# Strict attribute grammar — a strict SUBSET of attrfind_tolerant, so a
# sequential full match guarantees html.parser would produce the same
# (name, value) pairs and the same end position. NOTE the unquoted value
# charset includes '/' exactly like attrfind_tolerant's [^>\s]* would
# consume it: '<a href=http://x/>' is a NORMAL start tag whose value
# ends in '/', not a self-closing tag.
_ATTR_RE = re.compile(
    r"""\s+([^\s"'<>=/]+)(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'`<>=]+)))?"""
)
_ENDTAG_STRICT_RE = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_DOCTYPE_RE = re.compile(r"<!doctype[^>\[]*>", re.IGNORECASE)


@lru_cache(maxsize=4096)
def _lower_tag(raw: str) -> str:
    """Documents reuse a handful of tag spellings millions of times —
    memoize the lowercasing (value identical to str.lower())."""
    return raw.lower()
_CDATA_CONTENT = ("script", "style")  # html.parser's CDATA_CONTENT_ELEMENTS
_CDATA_END = {
    t: re.compile(rf"</\s*{t}", re.IGNORECASE) for t in _CDATA_CONTENT
}
_CDATA_CLOSE = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _CDATA_CONTENT
}

# Start-tag action cache: raw '<...>' slice (from '<' through the FIRST
# '>') → (startend: bool, tag, attrs, kind). Crawl corpora repeat a
# small set of tag spellings millions of times (chrome links, <td>,
# <p>, ...); reusing the parsed action from a dict lookup skips the
# tagname/body/attr regex machinery per occurrence. SOUNDNESS: an entry
# is stored ONLY when the from-scratch parse consumed exactly the slice
# (end position == the slice's final '>'), which happens iff the
# attribute region's quotes are balanced within the slice — and in that
# case the greedy body regex consumes the identical region wherever the
# same byte sequence appears, so the cached action is a pure function
# of the slice bytes, independent of surrounding document context.
# Slices whose tag body spans past the first '>' (a quoted '>') are
# never cached and always take the full parse path. Bounded; attrs
# tuples are shared read-only (the handler never mutates attrs).
_TAG_ACTION_CACHE: Dict[str, tuple] = {}
_ENDTAG_CACHE: Dict[str, str] = {}
_TAG_ACTION_CACHE_MAX = 8192

# Word-token cache for the synthetic layout engine (see emit_line):
# (word, page, x, y, confidence) → (token dict, centroid tuple, x1).
# Insert-until-full (no eviction — the high-frequency form/label words
# appear in the first documents a worker sees); ~23 MB at the cap.
_WORD_TOKEN_CACHE: Dict[tuple, tuple] = {}
_WORD_TOKEN_CACHE_MAX = 65536

# Whole-line token cache for the words-elided fused path:
# (text, line_idx, page, row, cell) fully determines the emitted line
# token — y/x0/x1 are affine in (row, cell, len(text)) and the
# confidence is the rounded mean of the _word_confidence draws, which
# depend only on (text, line_idx). Tokens are read-only downstream
# (same sharing contract as _WORD_TOKEN_CACHE / the shared corner
# dicts), so reusing the dict is byte-identical to rebuilding it.
# Only the include_words=False path uses it: with words materialized
# the per-word x-advance loop has to run anyway.
_LINE_TOKEN_CACHE: Dict[tuple, Token] = {}
_LINE_TOKEN_CACHE_MAX = 65536


def _fast_feed(handler: "_PageTokenizer", s: str) -> bool:
    """Emit the html.parser(convert_charrefs=True) event stream for ``s``
    into ``handler`` — or return False the moment anything outside the
    proven subset appears (caller falls back to the stdlib parser).

    The _PageTokenizer handler logic is INLINED here with the tokenizer
    state in locals: the scan drives handler.blocks /
    handler.layout_words_json (the handler's own list objects, mutated
    in place) while the depth counters / current-block pointer live in
    local variables — per-event method dispatch plus the second
    _TAG_KIND lookup inside the handlers were a measurable slice of
    per-document parse cost. Every event of the document is scanned;
    the only memos are the per-tag action caches. Equivalence is
    enforced by tests (fuzz + adversarial cases comparing the end-state
    blocks against a stdlib-HTMLParser-driven _PageTokenizer, plus the
    reference goldens): on a True return the handler holds
    exactly the block/layout state the method-driven feed produced; on
    False the caller re-parses the WHOLE document on a fresh handler,
    so no local state ever needs writing back."""
    i, n = 0, len(s)
    find = s.find
    # inlined _PageTokenizer state (fresh handler: all zero/empty)
    blocks = handler.blocks
    layout_json = handler.layout_words_json
    chrome_depth = handler._chrome_depth
    opaque_depth = handler._opaque_depth
    link_depth = handler._link_depth
    capture_layout = handler._capture_layout
    current = handler._current
    tag_kind = _TAG_KIND
    while i < n:
        j = find("<", i)
        if j < 0:
            run = s[i:]
            if "&" in run:
                run = unescape(run)
            # inline handle_data (tail run)
            if opaque_depth:
                if capture_layout:
                    layout_json.append(run)
            elif run and not run.isspace():
                if current is None:
                    current = _Block(chrome_depth > 0, False)
                    blocks.append(current)
                if not current.is_chrome:
                    current.cells[-1].append(run)
                    ln = len(run)
                    current.text_chars += ln
                    if link_depth:
                        current.link_chars += ln
            return True
        if i < j:
            run = s[i:j]
            if "&" in run:
                run = unescape(run)
            # inline handle_data (text run before a tag)
            if opaque_depth:
                if capture_layout:
                    layout_json.append(run)
            elif run and not run.isspace():
                if current is None:
                    current = _Block(chrome_depth > 0, False)
                    blocks.append(current)
                if not current.is_chrome:
                    current.cells[-1].append(run)
                    ln = len(run)
                    current.text_chars += ln
                    if link_depth:
                        current.link_chars += ln
        i = j
        nxt = s[i + 1] if i + 1 < n else ""
        if nxt == "/":
            # '</tag>' slices repeat as much as start tags; the strict
            # end-tag grammar contains no '>', so the slice through the
            # first '>' is the whole match — context-free, cacheable.
            gt2 = find(">", i + 2)
            ent = _ENDTAG_CACHE.get(s[i : gt2 + 1]) if gt2 > 0 else None
            if ent is not None:
                tag_l, kind = ent  # kind rides in the cache entry
                i = gt2 + 1
            else:
                tag_l = None
                m = _ENDTAG_STRICT_RE.match(s, i)
                if m:
                    tag_l = m.group(1).lower()
                    kind = tag_kind.get(tag_l)
                    if m.end() == gt2 + 1 and len(_ENDTAG_CACHE) < _TAG_ACTION_CACHE_MAX:
                        _ENDTAG_CACHE[s[i : gt2 + 1]] = (tag_l, kind)
                    i = m.end()
                else:
                    m = _TAGNAME_RE.match(s, i + 2)
                    gt = find(">", i + 1)
                    if gt < 0:
                        return False  # unterminated — stdlib recovery is subtle
                    if m:  # tolerant endtag: '</div foo>' fires endtag('div')
                        tag_l = m.group(0).lower()
                        kind = tag_kind.get(tag_l)
                    elif s[i : i + 3] == "</>":
                        i += 3
                        continue
                    # else bogus comment '</...>': no event, skip to '>'
                    i = gt + 1
            if tag_l is not None:
                # inline handle_endtag
                if kind is not None:
                    if kind == _K_BLOCK or kind == _K_ROW:
                        current = None
                    elif kind == _K_OPAQUE:
                        opaque_depth = opaque_depth - 1 if opaque_depth > 0 else 0
                        capture_layout = False
                    elif kind == _K_LINK:
                        link_depth = link_depth - 1 if link_depth > 0 else 0
                    elif kind == _K_CHROME:
                        chrome_depth = chrome_depth - 1 if chrome_depth > 0 else 0
                elif tag_l == "body":
                    current = None
            continue
        if nxt == "!":
            if s.startswith("<!--", i):
                end = find("-->", i + 4)
                if end < 0:
                    return False
                i = end + 3
                continue
            m = _DOCTYPE_RE.match(s, i)
            if m:  # handle_decl is a no-op for this handler
                i = m.end()
                continue
            return False  # marked sections / other declarations
        if nxt == "?":
            gt = find(">", i + 2)
            if gt < 0:
                return False
            i = gt + 1  # handle_pi is a no-op
            continue
        # Cached tag action: the slice from '<' through the first '>' is a
        # context-free key for any tag whose parse consumed exactly it
        # (see _TAG_ACTION_CACHE) — one find + one dict get replaces the
        # tagname/body/attr regex machinery for the overwhelmingly
        # common repeated tag spellings.
        gt = find(">", i + 1)
        act = _TAG_ACTION_CACHE.get(s[i : gt + 1]) if gt > 0 else None
        if act is not None:
            startend, tag, attrs, kind = act  # kind rides in the entry
            i = gt + 1
        else:
            m = _TAGNAME_RE.match(s, i + 1)
            if not m:
                # bare '<' is literal text — inline handle_data("<")
                if opaque_depth:
                    if capture_layout:
                        layout_json.append("<")
                else:  # "<" is non-empty, non-space
                    if current is None:
                        current = _Block(chrome_depth > 0, False)
                        blocks.append(current)
                    if not current.is_chrome:
                        current.cells[-1].append("<")
                        current.text_chars += 1
                        if link_depth:
                            current.link_chars += 1
                i += 1
                continue
            raw_tag = m.group(0)
            tag = _lower_tag(raw_tag)
            body = _TAG_BODY_RE.match(s, m.end())
            end = body.end()
            if end >= n or s[end] != ">":
                return False  # unterminated start tag
            region = s[m.end() : end]
            if not region:
                startend = False
                attrs = []
            else:
                # Sequential strict attr matching; whatever the grammar
                # can't consume decides: '' → start tag, '/' → self-
                # closing, anything else → outside the proven subset,
                # fall back.
                attrs = []
                pos = 0
                while True:
                    am = _ATTR_RE.match(region, pos)
                    if not am:
                        break
                    pos = am.end()
                    name, v1, v2, v3 = am.groups()
                    value = v1 if v1 is not None else v2 if v2 is not None else v3
                    if value is not None and "&" in value:
                        value = unescape(value)
                    attrs.append((name.lower(), value))
                rest = region[pos:].strip()
                if rest == "/":
                    startend = True
                elif rest == "":
                    startend = False
                else:
                    return False
            kind = tag_kind.get(tag)
            if end == gt and len(_TAG_ACTION_CACHE) < _TAG_ACTION_CACHE_MAX:
                _TAG_ACTION_CACHE[s[i : end + 1]] = (startend, tag, attrs, kind)
            i = end + 1
        # inline handle_starttag (shared by the cached and parsed routes)
        if kind is not None:
            if kind == _K_BLOCK:
                current = _Block(chrome_depth > 0, False)
                blocks.append(current)
            elif kind == _K_ROW:
                current = _Block(chrome_depth > 0, True)
                blocks.append(current)
            elif kind == _K_CELL:
                if current is None or not current.is_row:
                    current = _Block(chrome_depth > 0, True)
                    blocks.append(current)
                elif current.cells[-1]:
                    current.cells.append([])
            elif kind == _K_LINK:
                link_depth += 1
            elif kind == _K_CHROME:
                chrome_depth += 1
            elif kind == _K_OPAQUE:
                opaque_depth += 1
                if tag == "script" and dict(attrs).get("type") == LAYOUT_WORDS_MIME:
                    capture_layout = True
            elif current is not None:  # br
                current.add_text(" ", link_depth > 0)
        if startend:
            # inline handle_endtag — the self-closing tag's closing
            # half; like the stdlib, a self-closed script/style fires
            # start+end and never enters cdata mode
            if kind is not None:
                if kind == _K_BLOCK or kind == _K_ROW:
                    current = None
                elif kind == _K_OPAQUE:
                    opaque_depth = opaque_depth - 1 if opaque_depth > 0 else 0
                    capture_layout = False
                elif kind == _K_LINK:
                    link_depth = link_depth - 1 if link_depth > 0 else 0
                elif kind == _K_CHROME:
                    chrome_depth = chrome_depth - 1 if chrome_depth > 0 else 0
            elif tag == "body":
                current = None
        elif tag in _CDATA_CONTENT:
            m2 = _CDATA_END[tag].search(s, i)
            if not m2:
                return False  # unterminated cdata
            if i < m2.start():
                # inline handle_data: script/style content is opaque
                # (opaque_depth ≥ 1 here) — raw, no unescape
                if capture_layout:
                    layout_json.append(s[i : m2.start()])
            m3 = _CDATA_CLOSE[tag].match(s, m2.start())
            if not m3:
                return False  # '</script foo>' etc. — let stdlib decide
            # inline handle_endtag(script|style): opaque by definition
            opaque_depth = opaque_depth - 1 if opaque_depth > 0 else 0
            capture_layout = False
            i = m3.end()
    return True


def _wrap(text: str, width: int = WRAP_CHARS) -> List[str]:
    """Greedy word wrap; a single over-long word still gets its own line."""
    # Single-line fast path: when the whole text fits and has no
    # leading/trailing/double spaces, the greedy loop provably rebuilds
    # it verbatim as one line (every split word is non-empty and the
    # cumulative packed length equals the prefix length ≤ width).
    if 0 < len(text) <= width and text[0] != " " and text[-1] != " " and "  " not in text:
        return [text]
    lines: List[str] = []
    current = ""
    for word in text.split(" "):
        if not current:
            current = word
        elif len(current) + 1 + len(word) <= width:
            current += " " + word
        else:
            lines.append(current)
            current = word
    if current:
        lines.append(current)
    return lines


def _assemble_tokens(
    lines: List[Tuple[str, int, List[Dict[str, float]]]],
    words: List[Token],
    word_centroids: Optional[List[Tuple[float, float]]] = None,
) -> List[Token]:
    """Emit per page: all lines (with containment-averaged confidence),
    then all words — the reference's per-page emission order and
    confidence rule (postprocess.py:25-69): a line's confidence is
    round(mean confidence of same-page words whose centroid falls inside
    the line envelope, 2), None when no word matches. (Used by the
    layout-words/PDF path; the synthetic HTML layout engine assembles
    its tokens directly — see _layout_html_blocks.)"""
    lines_by_page: Dict[int, list] = {}
    for entry in lines:
        # entries are (text, page, box) or (text, page, box, envelope)
        lines_by_page.setdefault(entry[1], []).append(
            (entry[0], entry[2], entry[3] if len(entry) > 3 else None)
        )

    from bisect import bisect_left, bisect_right

    # (centroid_y, centroid_x, confidence) per word, grouped by page and
    # sorted by y so each line's containment test bisects to its y-band
    # instead of scanning every word on the page (same comparisons, same
    # results — pure index acceleration). A caller that already knows
    # each word's centroid (tokens_from_layout_words computes the box
    # corners itself) passes ``word_centroids`` aligned with ``words``
    # — values identical to the recomputation by the same expressions.
    words_by_page: Dict[int, List[Token]] = {}
    centroids_by_page: Dict[int, list] = {}
    if word_centroids is not None:
        for w, cent in zip(words, word_centroids):
            pg = w["page"]
            words_by_page.setdefault(pg, []).append(w)
            if cent is not None:
                centroids_by_page.setdefault(pg, []).append(
                    (cent[0], cent[1], w["confidence"])
                )
    else:
        for w in words:
            words_by_page.setdefault(w["page"], []).append(w)
            wb = w["bounding_box"]
            if wb:
                if len(wb) == 4:  # fast path, bit-identical to sum()/len()
                    cy = (wb[0]["y"] + wb[1]["y"] + wb[2]["y"] + wb[3]["y"]) / 4
                    cx = (wb[0]["x"] + wb[1]["x"] + wb[2]["x"] + wb[3]["x"]) / 4
                else:
                    cy = sum(p["y"] for p in wb) / len(wb)
                    cx = sum(p["x"] for p in wb) / len(wb)
                centroids_by_page.setdefault(w["page"], []).append(
                    (cy, cx, w["confidence"])
                )
    for page_centroids in centroids_by_page.values():
        page_centroids.sort(key=lambda t: t[0])

    tokens: List[Token] = []
    for page in sorted(set(lines_by_page) | set(words_by_page)):
        centroids = centroids_by_page.get(page, [])
        ykeys = [t[0] for t in centroids]
        for text, box, env in lines_by_page.get(page, []):
            if env is not None:
                min_x, max_x, min_y, max_y = env
            elif len(box) == 4:  # fast path: no list allocs for the envelope
                x0, x1, x2, x3 = box[0]["x"], box[1]["x"], box[2]["x"], box[3]["x"]
                y0, y1, y2, y3 = box[0]["y"], box[1]["y"], box[2]["y"], box[3]["y"]
                min_x, max_x = min(x0, x1, x2, x3), max(x0, x1, x2, x3)
                min_y, max_y = min(y0, y1, y2, y3), max(y0, y1, y2, y3)
            else:
                xs = [p["x"] for p in box]
                ys = [p["y"] for p in box]
                min_x, max_x, min_y, max_y = min(xs), max(xs), min(ys), max(ys)
            lo = bisect_left(ykeys, min_y)
            hi = bisect_right(ykeys, max_y)
            confs = [
                c
                for (_wcy, wcx, c) in centroids[lo:hi]
                if c is not None and min_x <= wcx <= max_x
            ]
            tokens.append(
                {
                    "type": "line",
                    "text": text,
                    "page": page,
                    "bounding_box": box,
                    "confidence": round(sum(confs) / len(confs), 2) if confs else None,
                }
            )
        tokens.extend(words_by_page.get(page, []))
    return tokens


def _layout_html_blocks(
    blocks: List[_Block], include_words: bool = True
) -> List[Token]:
    """Deterministic reading-order layout engine: content blocks → the
    ASSEMBLED token stream (per page: all lines, then all words — the
    same emission order `_assemble_tokens` produces).

    The generic assembly pass (centroid sort + bisect containment) is
    bypassed because for this synthetic geometry the containment test
    is provably the identity: a line's envelope is the degenerate band
    [y, y] × [x0, x1]; distinct (row, cell) always yield distinct y, so
    the only words whose centroid-y == y are the line's OWN words (all
    of which fall inside [x0, x1] — the last word ends exactly at x1),
    in emission order — exactly the list `sum(confs)/len(confs)` was
    computed over. The running float sum below matches `sum()`'s
    left-associated order, so line confidences are bit-identical.

    ``include_words=False`` skips MATERIALIZING the word-token dicts
    (their confidences are still drawn, in the same order, for the line
    confidence). Callers may use it only when nothing downstream reads
    word tokens — see parse_page."""
    lines_by_page: Dict[int, List[Token]] = {}
    words_by_page: Dict[int, List[Token]] = {}
    page, row = 1, 0
    line_idx = 0

    word_cache = _WORD_TOKEN_CACHE

    line_cache = _LINE_TOKEN_CACHE

    def emit_line(text: str, cell: int) -> None:
        nonlocal line_idx
        li = line_idx
        pg = page
        if not include_words:
            lkey = (text, li, pg, row, cell)
            cached_tok = line_cache.get(lkey)
            if cached_tok is not None:
                plines = lines_by_page.get(pg)
                if plines is None:
                    plines = lines_by_page[pg] = []
                plines.append(cached_tok)
                line_idx = li + 1
                return
        y = TOP_MARGIN + row * ROW_STEP + cell * CELL_Y_STEP
        x0 = LEFT_MARGIN + cell * CELL_X_STEP
        x1 = x0 + CHAR_W * len(text)
        # corners 0/3 and 1/2 are identical points — share the dicts
        # (nothing downstream mutates box points; serialization is
        # byte-identical)
        pl = {"x": x0, "y": y}
        pr = {"x": x1, "y": y}
        conf_of = _word_confidence
        total = 0.0
        nw = 0
        if include_words:
            words = words_by_page.get(pg)
            if words is None:
                words = words_by_page[pg] = []
            words_append = words.append
            char_w = CHAR_W
            x = x0
            for wi, word in enumerate(text.split(" ")):
                conf = conf_of(word, li, wi)
                # Word-token cache: (text, page, x, y, conf) fully
                # determines the token dict (box corners are pure
                # functions of x/y/len(word)). Form words repeat at
                # identical positions across millions of documents
                # (~68% steady-state hit rate, measured); tokens are
                # read-only downstream, so sharing the dicts is safe —
                # same contract as the shared corner dicts above.
                key = (word, pg, x, y, conf)
                ent = word_cache.get(key)
                if ent is None:
                    wx1 = x + char_w * len(word)
                    wl = {"x": x, "y": y}
                    wr = {"x": wx1, "y": y}
                    ent = (
                        {
                            "type": "word",
                            "text": word,
                            "page": pg,
                            "bounding_box": [wl, wr, wr, wl],
                            "confidence": conf,
                        },
                        wx1,
                    )
                    if len(word_cache) < _WORD_TOKEN_CACHE_MAX:
                        word_cache[key] = ent
                words_append(ent[0])
                total += conf
                nw += 1
                x = ent[1] + char_w
        else:
            # same draws in the same order — identical line confidence
            for wi, word in enumerate(text.split(" ")):
                total += conf_of(word, li, wi)
                nw += 1
        tok = {
            "type": "line",
            "text": text,
            "page": pg,
            "bounding_box": [pl, pr, pr, pl],
            "confidence": round(total / nw, 2),
        }
        if not include_words and len(line_cache) < _LINE_TOKEN_CACHE_MAX:
            line_cache[lkey] = tok
        plines = lines_by_page.get(pg)
        if plines is None:
            plines = lines_by_page[pg] = []
        plines.append(tok)
        line_idx = li + 1

    def next_row(n_rows: int = 1) -> None:
        nonlocal page, row
        if row + n_rows > PAGE_ROWS:
            page += 1
            row = 0

    for block in blocks:
        if block.is_chrome or block.link_density > MAX_LINK_DENSITY:
            continue
        cells = block.rendered_cells()
        if not cells:
            continue
        if block.is_row and len(cells) >= 2:
            next_row()  # keep a label/value row on one page
            for c, cell_text in enumerate(cells):
                emit_line(cell_text, c)
            row += 1
        else:
            for cell_text in cells:
                for wrapped in _wrap(cell_text):
                    next_row()
                    emit_line(wrapped, 0)
                    row += 1

    tokens: List[Token] = []
    for pg in sorted(set(lines_by_page) | set(words_by_page)):
        tokens.extend(lines_by_page.get(pg, ()))
        tokens.extend(words_by_page.get(pg, ()))
    return tokens


from operator import itemgetter as _itemgetter

_LAYOUT_SORT_KEY = _itemgetter("p", "y", "x")  # ≡ lambda w: (w["p"], w["y"], w["x"])

def tokens_from_layout_words(payload: List[Dict[str, Any]], y_tol: float = 0.005) -> List[Token]:
    """PDF-path layout analysis: bbox word grouping into reading-order
    lines (the engine's stand-in for the reference OCR's line detection).

    ``payload`` items: {"t": text, "p": page, "x": x0, "y": y0,
    "w": width, "h": height, "c": confidence}. Words are sorted by
    (page, y, x) and greedily grouped into a line while their top-y stays
    within ``y_tol`` of the line anchor; line bbox is the envelope of its
    word boxes.
    """
    ordered = sorted(payload, key=_LAYOUT_SORT_KEY)

    words: List[Token] = []
    cents: List[Tuple[float, float]] = []
    for w in ordered:
        x0, y0 = w["x"], w["y"]
        x1, y1 = x0 + w["w"], y0 + w["h"]
        c = w.get("c")
        words.append({
            "type": "word",
            "text": w["t"],
            "page": w["p"],
            "bounding_box": [
                {"x": x0, "y": y0}, {"x": x1, "y": y0},
                {"x": x1, "y": y1}, {"x": x0, "y": y1},
            ],
            "confidence": round(c, 2) if c is not None else None,
        })
        # same left-to-right corner order as _assemble_tokens'
        # recomputation — bit-identical centroids
        cents.append(((y0 + y0 + y1 + y1) / 4, (x0 + x1 + x1 + x0) / 4))

    lines: List[Tuple[str, int, List[Dict[str, float]]]] = []
    group: List[Dict[str, Any]] = []

    def flush() -> None:
        if not group:
            return
        # One fused pass replaces four genexpr min/max sweeps. The
        # replace-on-strictly-smaller/greater updates are exactly
        # builtins min()/max() over the same iteration order (first
        # element seeds; NaN never replaces — identical semantics).
        g0 = group[0]
        texts = [g0["t"]]
        min_x = g0["x"]
        max_x = min_x + g0["w"]
        min_y = g0["y"]
        max_y = min_y + g0["h"]
        for g in group[1:]:
            texts.append(g["t"])
            x = g["x"]
            if x < min_x:
                min_x = x
            x += g["w"]
            if x > max_x:
                max_x = x
            y = g["y"]
            if y < min_y:
                min_y = y
            y += g["h"]
            if y > max_y:
                max_y = y
        box = [
            {"x": min_x, "y": min_y}, {"x": max_x, "y": min_y},
            {"x": max_x, "y": max_y}, {"x": min_x, "y": max_y},
        ]
        lines.append((" ".join(texts), g0["p"], box))

    for w in ordered:
        if group and (w["p"] != group[0]["p"] or abs(w["y"] - group[0]["y"]) > y_tol):
            flush()
            group = []
        group.append(w)
    flush()

    return _assemble_tokens(lines, words, word_centroids=cents)


def parse_page(
    html: bytes | str, include_words: bool = True
) -> Tuple[List[Token], str]:
    """Parse one page payload → (token stream, extracted main text).

    The extracted text is the newline-join of the content lines in
    reading order — the byte-compared per-url invariant.

    ``include_words=False`` elides the word tokens from the HTML
    layout path's stream (a pure materialization saving for consumers
    that only read line tokens). SOUND only because every HTML-path
    line carries a non-None confidence (computed from the identical
    word-confidence draws), so the downstream None-confidence fallback
    that scans word tokens (normalize_items → _first_token_with_text)
    can never fire, and every other consumer (pair_lines, extract's
    line_scan, extracted_text) filters to type == "line". The
    layout-words/PDF path ignores the flag — its payloads may carry
    None confidences, so its word tokens stay load-bearing."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")

    parser = _PageTokenizer()
    try:
        if not _fast_feed(parser, html):
            # outside the fast scanner's proven subset → authoritative
            # stdlib parse of the WHOLE document on a fresh handler
            parser = _PageTokenizer()
            parser.feed(html)
            parser.close()
    except Exception:
        return [], ""

    if parser.layout_words_json:
        try:
            payload = json.loads("".join(parser.layout_words_json))
        except json.JSONDecodeError:
            payload = []
        tokens = tokens_from_layout_words(payload)
        extracted_text = "\n".join(
            t["text"] for t in tokens if t["type"] == "line"
        )
    else:
        tokens = _layout_html_blocks(parser.blocks, include_words)
        if include_words:
            extracted_text = "\n".join(
                t["text"] for t in tokens if t["type"] == "line"
            )
        else:
            # words elided — every token is a line by construction
            extracted_text = "\n".join([t["text"] for t in tokens])
    return tokens, extracted_text
