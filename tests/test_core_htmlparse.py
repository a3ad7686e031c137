"""Tests for the HTML/layout tokenizer (the synthetic-OCR front-end).

Covers: token schema invariants (reference
tests/test_azure_ocr_client.py:32-45), boilerplate stripping, layout
geometry contract (labels < x_split, value row offset), the PDF-like
layout-word grouping path, and determinism.
"""

from __future__ import annotations

import json

from credit_ocr_backend_spark.core import (
    default_config,
    extract_fields,
    normalize_items,
    parse_page,
    tokens_from_layout_words,
)
from credit_ocr_backend_spark.sources.pages import build_page


def _schema_check(tokens: list[dict]) -> None:
    # The reference's OCR-output invariants (test_azure_ocr_client.py:32-45).
    assert isinstance(tokens, list) and tokens
    for tok in tokens:
        assert tok["type"] in {"line", "word"}
        assert isinstance(tok["text"], str)
        assert isinstance(tok["page"], int) and tok["page"] >= 1
        box = tok["bounding_box"]
        assert box is None or (
            len(box) == 4 and all(set(p) == {"x", "y"} for p in box)
        )
        conf = tok["confidence"]
        assert conf is None or (0.0 <= conf <= 1.0 and round(conf, 2) == conf)


def test_html_page_tokens_schema_and_text() -> None:
    tokens, text = parse_page(build_page(0)["html"])
    _schema_check(tokens)
    lines = [t for t in tokens if t["type"] == "line"]
    assert text == "\n".join(t["text"] for t in lines)
    assert "Firmenname" in text and "Kreditantrag Nr. 0" in text


def test_boilerplate_is_stripped() -> None:
    _, text = parse_page(build_page(1)["html"])
    # chrome + link-dense blocks never reach the extracted text
    assert "Impressum" not in text
    assert "Kategorie" not in text
    assert "Verwandter Link" not in text
    assert "Login" not in text


def test_link_density_filter() -> None:
    html = (
        "<body><div><a href='/a'>all of this text is one link</a></div>"
        "<p>real content stays in the stream</p></body>"
    )
    _, text = parse_page(html)
    assert text == "real content stays in the stream"


def test_form_rows_become_label_value_geometry() -> None:
    tokens, _ = parse_page(build_page(0)["html"])
    lines = [t for t in tokens if t["type"] == "line"]
    labels = {t["text"]: t for t in lines}
    lab = labels["Firmenname"]
    val = labels["DemoTech 0 GmbH"]
    # label starts at the left margin; value in the second column
    assert lab["bounding_box"][0]["x"] == 0.5
    assert val["bounding_box"][0]["x"] == 3.0
    # value row sits +0.01 under the label row (the fixture offset)
    assert abs(val["bounding_box"][0]["y"] - lab["bounding_box"][0]["y"] - 0.01) < 1e-9


def test_line_confidence_is_containment_average() -> None:
    tokens, _ = parse_page(build_page(0)["html"])
    lines = [t for t in tokens if t["type"] == "line"]
    words = [t for t in tokens if t["type"] == "word"]
    for line in lines[:5]:
        xs = [p["x"] for p in line["bounding_box"]]
        ys = [p["y"] for p in line["bounding_box"]]
        contained = [
            w["confidence"]
            for w in words
            if w["page"] == line["page"]
            and min(xs) <= sum(p["x"] for p in w["bounding_box"]) / 4 <= max(xs)
            and min(ys) <= sum(p["y"] for p in w["bounding_box"]) / 4 <= max(ys)
        ]
        assert contained, "every synthetic line must contain its words"
        assert line["confidence"] == round(sum(contained) / len(contained), 2)


def test_layout_words_grouping() -> None:
    payload = [
        {"t": "Firmenname", "p": 1, "x": 0.5, "y": 1.0, "w": 0.5, "h": 0.015, "c": 0.95},
        {"t": "DemoTech", "p": 1, "x": 3.0, "y": 1.01, "w": 0.4, "h": 0.015, "c": 0.97},
        {"t": "GmbH", "p": 1, "x": 3.45, "y": 1.01, "w": 0.2, "h": 0.015, "c": 0.93},
    ]
    tokens = tokens_from_layout_words(payload)
    lines = [t for t in tokens if t["type"] == "line"]
    assert [t["text"] for t in lines] == ["Firmenname", "DemoTech GmbH"]
    # merged line envelope spans both words
    box = lines[1]["bounding_box"]
    assert box[0]["x"] == 3.0 and abs(box[1]["x"] - 3.65) < 1e-9
    # line confidence = round(avg of contained words, 2)
    assert lines[1]["confidence"] == round((0.97 + 0.93) / 2, 2)
    # per page: lines before words (reference emission order)
    assert [t["type"] for t in tokens] == ["line", "line", "word", "word", "word"]


def test_layout_page_extracts_full_form() -> None:
    page = build_page(3)  # k % 7 == 3 → layout payload
    assert b"application/x-layout-words" in page["html"]
    tokens, text = parse_page(page["html"])
    _schema_check(tokens)
    items = normalize_items(tokens)
    result = extract_fields(items, default_config(), original_ocr_lines=tokens)
    assert len(result["extracted_fields"]) >= 15
    assert "Kreditantrag Nr. 3" in text


def test_parse_is_deterministic() -> None:
    html = build_page(42)["html"]
    t1, x1 = parse_page(html)
    t2, x2 = parse_page(html)
    assert x1 == x2
    assert json.dumps(t1, sort_keys=True) == json.dumps(t2, sort_keys=True)


def test_malformed_html_yields_empty() -> None:
    tokens, text = parse_page(b"\x00\xff not html at all")
    assert text == "" or isinstance(text, str)  # never raises
    tokens2, text2 = parse_page("")
    assert tokens2 == [] and text2 == ""


def test_giant_page_is_giant_and_html() -> None:
    giant = build_page(17)  # k % 997 == 17 → skew tail
    normal = build_page(18)
    assert len(giant["html"]) > 20 * len(normal["html"])
    assert b"application/x-layout-words" not in giant["html"]
    tokens, _ = parse_page(giant["html"])
    assert max(t["page"] for t in tokens) > 1  # spills over pages


# ---------------------------------------------------------------------------
# Fast-scan path ≡ stdlib html.parser (whole-document fallback otherwise)
# ---------------------------------------------------------------------------

from credit_ocr_backend_spark.core import htmlparse as H  # noqa: E402


def _both(s: str):
    fast = H._PageTokenizer()
    ok = H._fast_feed(fast, s)
    std = H._PageTokenizer()
    std.feed(s)
    std.close()
    return ok, fast, std


def _sig(p: H._PageTokenizer):
    return (
        [
            (b.is_chrome, b.is_row, b.text_chars, b.link_chars,
             ["".join(parts) for parts in b.cells])
            for b in p.blocks
        ],
        "".join(p.layout_words_json),
    )


_LAYOUT_PAYLOAD = '[{"t":"A","p":1,"x":0.5,"y":1.0,"w":0.2,"h":0.01,"c":0.97}]'
_HEADER = "<header><a href='/'>L1</a> <a href='/x'>L2</a></header>"
_NAV_TD = "<nav>x<td>y</td></nav>"
_ROW = "<tr><td>Label A</td><td>Value B</td></tr>"

# Chrome subtrees (nav/header/footer/aside) in the contexts whose
# tokenizer state they read or leave behind. Part of ADVERSARIAL.
CHROME_CASES = {
    # the same subtree entered with current = content block, None and
    # a row block, and twice in one document
    "entry_kinds": [
        "<p>pre</p>text " + _HEADER + "tail",
        _HEADER + "tail",
        "<table><tr><td>c</td>" + _HEADER + "after",
        "own text " + _HEADER + _HEADER + "end",
    ],
    # chrome closes while an inner block is still open: the following
    # text lands in that chrome block and is dropped
    "exit_current": [
        "<aside><ul><li>a</aside> swallowed text",
        "<p>x</p><aside><ul><li>a</aside> swallowed again",
    ],
    # a <td> inside chrome reads the enclosing row's cell state
    "td_inside": [
        "<table><tr><td>a</td>" + _NAV_TD + "z",
        "<table><tr>" + _NAV_TD + "z",
        "<p>b" + _NAV_TD + "z",
        _NAV_TD + "z",
    ],
    # <br> inside chrome, and script cdata holding a chrome close tag
    "br_and_opaque": [
        "<p>t<nav><br></nav>u",
        "<p>t<nav><ul><li><br></li></ul></nav>u",
        "<p>t<footer><script>var x = '</nav>';</script></footer>u",
    ],
    "layout_script": [
        "<body><nav><script type=\"application/x-layout-words\">"
        + _LAYOUT_PAYLOAD
        + "</script></nav><p>x</p>",
    ],
    # a link opened inside chrome and never closed leaks into the text
    # after the chrome subtree
    "unbalanced_link": [
        "<p>t<nav><a href='/q'>l</nav>leaked link text</a>done",
        "<p>s<nav><a href='/q'>l</nav>leaked again</a>done",
    ],
    "empty_in_contexts": [
        "<p>a<nav></nav>first tail here with enough bytes",
        "<p>a<nav></nav>second completely different tail text",
        "<nav></nav>",
    ],
    "nested_and_sibling": [
        "<p>t<header><nav><ul><li>x</li></ul></nav></header>after",
        "<p>t<nav>a</nav><aside>b</aside>after",
        "<p>t<nav><nav>inner</nav>outer</nav>after",
    ],
}

# Table rows in the contexts that end, nest in or leak out of them.
# Part of ADVERSARIAL.
ROW_CASES = {
    "basic_and_contexts": [
        "<table>" + _ROW + _ROW + "</table>tail",
        "<p>pre</p><table>" + _ROW + "</table>",
        _ROW,
        _ROW + "different tail context with plenty of bytes",
        "<tr/>self closing row",
    ],
    # an unclosed <tr> runs into the next row; a block nested in a cell
    # closes before its row does
    "implicit_close_and_nested": [
        "<table><tr><td>a<tr><td>b</tr></table>",
        "<tr><td><div>x</div>y</td></tr>after",
        "<tr><td><div>x</div>z</td></tr>after",
    ],
    # balanced and unbalanced links, chrome inside a row, a row inside
    # an open link
    "link_and_chrome": [
        "<tr><td><a href='/x'>k</a>v</td></tr>t",
        "<tr><td><a href='/x'>k</tr>leaked</a>t",
        "<tr><td><nav><ul><li>c</li></ul></nav>v</td></tr>t",
        "<a href='/y'><tr><td>k</td><td>v</td></tr></a>t",
    ],
    "layout_script": [
        "<tr><td><script type=\"application/x-layout-words\">"
        + _LAYOUT_PAYLOAD
        + "</script></td></tr><p>x</p>",
    ],
    "br": ["<tr><td>a<br>b</td></tr>t", "<tr><td>a<br>b</td></tr>u"],
}

ADVERSARIAL = [
    "<!DOCTYPE html><p>a</p>",
    '<a href="x>y">link</a> tail',
    "<a href=http://x/>not self closing</a>",
    "<div/>self<td>cell",
    "plain < text > with & amps &amp; entities &#65;",
    "<ScRiPt>var a = '<div>not a tag</div>';</sCrIpT ><p>after</p>",
    "<script type=\"application/x-layout-words\">[{\"t\":\"A\",\"p\":1,"
    "\"x\":0.5,\"y\":1.0,\"w\":0.2,\"h\":0.01,\"c\":0.97}]</script>",
    "<style>p > a { color: red }</style><p>styled</p>",
    "<!-- comment with <div> inside --><p>b</p>",
    "</p foo='bar'><p>tolerant endtag</p>",
    "</><p>empty endtag</p>",
    "<3><p>bare bracket</p>",
    "<br/><br /><p>breaks</p>",
    "<P CLASS=UPPER>case</P>",
    "<p class='sq'>sq</p>",
    "<nav><a href=x>chrome link</a></nav><main><p>body</p></main>",
    "<table><tr><td>k</td><td>v</td></tr></table>",
    "text &lt;escaped&gt; more",
    "trailing text then <",
    "<p>unclosed paragraph",
    "<em>inline</em> <strong>runs</strong>",
    "<div data-x='a\"b'>mixed quotes in value</div>",
    *(s for docs in CHROME_CASES.values() for s in docs),
    *(s for docs in ROW_CASES.values() for s in docs),
]

FALLBACK_CASES = [
    "<!-- unterminated comment <p>x</p>",
    "<![CDATA[raw]]><p>marked section</p>",
    "<?php unterminated",
    "<p attr=='double equals'>x</p>",
    "<div =weird>y</div>",
    "<script>never closed",
    "<p foo=\"unterminated",
    "<!ENTITY x 'y'><p>decl</p>",
]


def test_fast_scan_matches_stdlib_on_adversarial_cases() -> None:
    for s in ADVERSARIAL:
        ok, fast, std = _both(s)
        assert ok, f"fast path unexpectedly refused: {s!r}"
        assert _sig(fast) == _sig(std), s


def test_fast_scan_falls_back_outside_subset() -> None:
    # refusal (not divergence) is the contract for unproven constructs —
    # parse_page then re-parses the whole document with the stdlib parser
    for s in FALLBACK_CASES:
        ok, _, _ = _both(s)
        assert not ok, f"expected fallback for: {s!r}"
        toks, text = H.parse_page(s)  # end-to-end path must still work
        assert isinstance(toks, list) and isinstance(text, str)


def test_fast_scan_matches_stdlib_on_generated_corpus() -> None:
    for k in range(200):
        html = build_page(k)["html"].decode("utf-8")
        ok, fast, std = _both(html)
        assert ok, f"corpus page {k} should take the fast path"
        assert _sig(fast) == _sig(std), f"page {k}"


def test_fast_scan_fuzz_equivalence() -> None:
    from hypothesis import given, settings, strategies as st

    frag = st.sampled_from(
        ADVERSARIAL
        + FALLBACK_CASES
        + ["<div>", "</div>", "<a href='q'>", "</a>", "text ", "&amp;", "&",
           "<", ">", '"', "'", " ", "\n", "=", "/", "<script>", "</script>",
           "<td>", "<tr>", "x", "-->", "<!--", "<p>", "&#x41;", "&notanentity;",
           "<nav>", "</nav>", "<header>", "</header>", "</tr>", "<br>"]
    )
    @settings(max_examples=300, deadline=None)
    @given(st.lists(frag, max_size=8).map("".join))
    def check(s: str) -> None:
        # parsed twice on purpose: the second parse takes the tag
        # action caches the first one filled (they persist across calls)
        for _ in (1, 2):
            ok, fast, std = _both(s)
            if ok:
                assert _sig(fast) == _sig(std), s

    check()


def test_fast_scan_fuzz_raw_character_soup() -> None:
    """Harshest input class: raw character soup over HTML
    metacharacters (not fragment concatenation). 8000-example one-off
    run passed; 200 kept in CI."""
    from hypothesis import given, settings, strategies as st

    raw = st.text(
        alphabet='<>/!?-="\'` \n\tabcdiv&;#xspcrt0123456789%.[]', max_size=160
    )

    @settings(max_examples=200, deadline=None)
    @given(raw)
    def check(s: str) -> None:
        # twice: second parse hits the warm tag caches (see above)
        for _ in (1, 2):
            ok, fast, std = _both(s)
            if ok:
                assert _sig(fast) == _sig(std), repr(s)

    check()


def _check_docs(docs: list[str]) -> None:
    for s in docs:
        ok, fast, std = _both(s)
        assert ok, f"fast path unexpectedly refused: {s!r}"
        assert _sig(fast) == _sig(std), s


def test_chrome_frag_replay_across_entry_kinds() -> None:
    _check_docs(CHROME_CASES["entry_kinds"])


def test_chrome_frag_exit_current_is_fresh_block() -> None:
    _check_docs(CHROME_CASES["exit_current"])


def test_chrome_frag_td_inside_chrome_entry_cell_state() -> None:
    _check_docs(CHROME_CASES["td_inside"])


def test_chrome_frag_br_and_opaque_not_cached_wrong() -> None:
    _check_docs(CHROME_CASES["br_and_opaque"])


def test_chrome_frag_layout_script_inside_chrome() -> None:
    # a layout-words script inside chrome is still captured
    (doc,) = CHROME_CASES["layout_script"]
    _check_docs([doc])
    _, fast, _ = _both(doc)
    assert "".join(fast.layout_words_json) == _LAYOUT_PAYLOAD


def test_chrome_frag_unbalanced_link_depth() -> None:
    _check_docs(CHROME_CASES["unbalanced_link"])


def test_chrome_frag_short_fragment_in_different_contexts() -> None:
    _check_docs(CHROME_CASES["empty_in_contexts"])


def test_chrome_frag_nested_and_sibling_chrome() -> None:
    _check_docs(CHROME_CASES["nested_and_sibling"])


def test_row_frag_replay_basic_and_contexts() -> None:
    _check_docs(ROW_CASES["basic_and_contexts"])


def test_row_frag_implicit_close_and_nested_blocks() -> None:
    _check_docs(ROW_CASES["implicit_close_and_nested"])


def test_row_frag_link_and_chrome_inside() -> None:
    _check_docs(ROW_CASES["link_and_chrome"])


def test_row_frag_layout_script_and_br() -> None:
    (doc,) = ROW_CASES["layout_script"]
    _check_docs([doc] + ROW_CASES["br"])
    _, fast, _ = _both(doc)
    assert "".join(fast.layout_words_json) == _LAYOUT_PAYLOAD


def test_parse_page_cold_and_warm_caches_byte_identical() -> None:
    # the tag, word and line memos persist across documents: each page
    # parsed from cleared caches and again with every other page's
    # entries warm must give byte-identical token streams and text, in
    # both include_words modes — including pages whose form rows sit at
    # shifted (page, row, line_idx) geometry (different paragraph counts)
    from credit_ocr_backend_spark.core.document import dumps_compact

    def cold_parse(html, include_words):
        for cache in (
            H._TAG_ACTION_CACHE, H._ENDTAG_CACHE, H._COLLAPSE_CACHE,
            H._WORD_TOKEN_CACHE, H._LINE_TOKEN_CACHE,
        ):
            cache.clear()
        H._lower_tag.cache_clear()
        H._word_confidence.cache_clear()
        return H.parse_page(html, include_words=include_words)

    docs = [build_page(k)["html"] for k in (0, 1, 2, 5, 9, 17, 24, 38)]
    for include_words in (False, True):
        cold = [cold_parse(h, include_words) for h in docs]
        warm = [H.parse_page(h, include_words=include_words) for h in docs]
        for (t1, x1), (t2, x2) in zip(cold, warm):
            assert dumps_compact(t1) == dumps_compact(t2)
            assert x1 == x2
