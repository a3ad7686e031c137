"""Focused tests for the round-6 optimization internals.

Each optimization that changed an operator's internals gets a direct
equivalence/behavior test here, independent of the broader golden and
oracle suites:

* parse_page(include_words=False) — the fused path's word-dict elision
  is value-identical for everything downstream consumes;
* validate_extracted_fields memo — the cache distinguishes 1 / 1.0 /
  True (Python hashes them equal; validation must not);
* the _fast_feed tag-action caches — replay across documents with
  colliding prefixes stays equivalent to the stdlib parser.
"""

from __future__ import annotations

import json

import pytest

from credit_ocr_backend_spark.core import htmlparse as H
from credit_ocr_backend_spark.core.config import default_config
from credit_ocr_backend_spark.core.fields import (
    extract_fields,
    validate_extracted_fields,
)
from credit_ocr_backend_spark.core.postprocess import normalize_items
from credit_ocr_backend_spark.sources.pages import build_page


# ---------------------------------------------------------------------------
# include_words=False parse path
# ---------------------------------------------------------------------------

# html-layout pages, a layout-words (PDF-like) page, and the giant page
_KEYS = [0, 3, 10, 17, 21, 38]


@pytest.mark.parametrize("k", _KEYS)
def test_include_words_false_is_value_identical_downstream(k):
    cfg = default_config()
    html = build_page(k)["html"]
    t_full, text_full = H.parse_page(html, include_words=True)
    t_slim, text_slim = H.parse_page(html, include_words=False)

    assert text_slim == text_full
    # line tokens identical (order and content)
    lines_full = [t for t in t_full if t["type"] == "line"]
    lines_slim = [t for t in t_slim if t["type"] == "line"]
    assert json.dumps(lines_slim, default=str) == json.dumps(
        lines_full, default=str
    )
    # every downstream consumer of the fused path sees identical values
    items_full = normalize_items(t_full)
    items_slim = normalize_items(t_slim)
    assert json.dumps(items_slim, default=str) == json.dumps(
        items_full, default=str
    )
    ext_full = extract_fields(items_full, cfg, original_ocr_lines=t_full)
    ext_slim = extract_fields(items_slim, cfg, original_ocr_lines=t_slim)
    assert json.dumps(ext_slim, default=str, sort_keys=True) == json.dumps(
        ext_full, default=str, sort_keys=True
    )


def test_include_words_false_html_lines_never_none_confidence():
    """The soundness precondition of the elision: every HTML-path line
    carries a numeric confidence, so the None-confidence fallback that
    reads word tokens can never fire."""
    for k in _KEYS:
        tokens, _ = H.parse_page(build_page(k)["html"], include_words=False)
        if any(t["type"] == "word" for t in tokens):
            continue  # layout-words page: flag ignored by design
        assert all(
            t["confidence"] is not None for t in tokens if t["type"] == "line"
        )


def test_layout_words_path_ignores_include_words():
    """PDF-like payloads may carry None confidences — their word tokens
    stay load-bearing regardless of the flag."""
    html = build_page(3)["html"]  # k % 7 == 3 → layout-words page
    tokens, _ = H.parse_page(html, include_words=False)
    assert any(t["type"] == "word" for t in tokens)


# ---------------------------------------------------------------------------
# validation memo
# ---------------------------------------------------------------------------


def test_validation_memo_distinguishes_equal_hashing_types():
    cfg = default_config()
    name = next(iter(cfg.validation_rules))
    # 1 == 1.0 == True hash identically; validation results must come
    # from the value's own type, repeatedly, in either order
    for _ in range(2):
        r_int = validate_extracted_fields({name: {"value": 1}}, cfg)[name]
        r_float = validate_extracted_fields({name: {"value": 1.0}}, cfg)[name]
        r_bool = validate_extracted_fields({name: {"value": True}}, cfg)[name]
        from credit_ocr_backend_spark.core.fields import validate_field

        assert r_int == validate_field({"value": 1}, cfg.validation_rules[name])
        assert r_float == validate_field(
            {"value": 1.0}, cfg.validation_rules[name]
        )
        assert r_bool == validate_field(
            {"value": True}, cfg.validation_rules[name]
        )


def test_validation_memo_unhashable_value_falls_through():
    cfg = default_config()
    name = next(iter(cfg.validation_rules))
    from credit_ocr_backend_spark.core.fields import validate_field

    data = {name: {"value": ["not", "hashable"]}}
    assert validate_extracted_fields(data, cfg)[name] == validate_field(
        {"value": ["not", "hashable"]}, cfg.validation_rules[name]
    )


# ---------------------------------------------------------------------------
# tag-action cache soundness across documents
# ---------------------------------------------------------------------------


def _events(html: str):
    parser = H._PageTokenizer()
    if not H._fast_feed(parser, html):
        parser = H._PageTokenizer()
        parser.feed(html)
        parser.close()
    return [
        (b.cells, b.text_chars, b.link_chars, b.is_chrome, b.is_row)
        for b in parser.blocks
    ]


def test_tag_cache_replay_matches_stdlib_across_documents():
    """Two documents sharing tag spellings — including a tag slice whose
    quoted attribute contains '>' (never cacheable) right after the
    same prefix WAS cached from a simpler document."""
    doc_a = "<p><a href='/x' title='plain'>t</a></p><td>cell</td>"
    doc_b = "<p><a href='/x' title='a>b'>t</a></p><td>cell</td>"
    for html in (doc_a, doc_b, doc_a, doc_b):
        fast = H._PageTokenizer()
        ok = H._fast_feed(fast, html)
        ref = H._PageTokenizer()
        ref.feed(html)
        ref.close()
        if ok:
            got = [
                (b.cells, b.text_chars, b.link_chars, b.is_chrome, b.is_row)
                for b in fast.blocks
            ]
            want = [
                (b.cells, b.text_chars, b.link_chars, b.is_chrome, b.is_row)
                for b in ref.blocks
            ]
            assert got == want


# ---------------------------------------------------------------------------
# line-token memo (include_words=False fast path)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("k", _KEYS)
def test_line_token_memo_replay_is_value_identical(k):
    """A second parse of the same page replays line tokens from
    _LINE_TOKEN_CACHE; the replayed stream must be value-identical to
    the cold stream (and to the include_words=True line stream)."""
    html = build_page(k)["html"]
    H._LINE_TOKEN_CACHE.clear()
    cold, text_cold = H.parse_page(html, include_words=False)
    warm, text_warm = H.parse_page(html, include_words=False)
    assert text_warm == text_cold
    assert json.dumps(warm, default=str) == json.dumps(cold, default=str)


def test_line_token_memo_keys_disambiguate_position():
    """The same text at a different line index / row draws different
    word confidences — the memo key must not collapse them."""
    H._LINE_TOKEN_CACHE.clear()
    # two pages where the SAME cell text appears at different rows
    doc_a = "<table><tr><td>Feld</td><td>Wert</td></tr></table>"
    doc_b = (
        "<p>Kopfzeile davor</p>"
        "<table><tr><td>Feld</td><td>Wert</td></tr></table>"
    )
    tok_a, _ = H.parse_page(doc_a, include_words=False)
    tok_b, _ = H.parse_page(doc_b, include_words=False)
    # independent reference: words materialized, no line memo used
    ref_a, _ = H.parse_page(doc_a, include_words=True)
    ref_b, _ = H.parse_page(doc_b, include_words=True)
    lines = lambda ts: [t for t in ts if t["type"] == "line"]
    assert json.dumps(lines(tok_a), default=str) == json.dumps(
        lines(ref_a), default=str
    )
    assert json.dumps(lines(tok_b), default=str) == json.dumps(
        lines(ref_b), default=str
    )


def test_inlined_scanner_state_machine_matches_stdlib():
    """_fast_feed inlines the _PageTokenizer handlers with local state;
    a deterministic randomized composition sweep checks the end-state
    blocks/layout capture against the stdlib-driven handler across the
    constructs the inline dispatch branches on (chrome/link depth,
    cells, cdata, self-closing tags, bare '<', </body>)."""
    import random

    def state(handler):
        return (
            [
                (b.cells, b.text_chars, b.link_chars, b.is_chrome, b.is_row)
                for b in handler.blocks
            ],
            handler.layout_words_json,
        )

    frags = [
        "<p>", "</p>", "<div>", "</div>", "<tr>", "</tr>", "<td>", "</td>",
        "<table>", "</table>", "<nav>", "</nav>", "<a href='/x'>", "</a>",
        "<br>", "<br/>", "text", "wörter & mehr", "a&amp;b", " ", "\n",
        "<script>var x=1;</script>", "<style>p{}</style>",
        "<script type='application/x-layout-words'>[]</script>",
        "<!-- c -->", "<!doctype html>", "<?pi?>", "</>", "<",
        "<img src='x'/>", "<input value='a>b'>", "<body>", "</body>",
        "<aside>", "</aside>", "<DIV>", "</DIV>", "<td  >", "</div extra>",
        "&#65;", "text<with<angle",
    ]
    rng = random.Random(1234)
    checked = 0
    for _ in range(3000):
        doc = "".join(rng.choice(frags) for _ in range(rng.randint(1, 20)))
        fast = H._PageTokenizer()
        if not H._fast_feed(fast, doc):
            continue  # fallback path: stdlib reparse, not under test
        ref = H._PageTokenizer()
        ref.feed(doc)
        ref.close()
        assert state(fast) == state(ref), repr(doc)
        checked += 1
    assert checked > 2000  # the sweep must mostly stay on the fast path


def test_alias_match_memo_equivalence():
    """map_items_to_fields' per-label memo must replay exactly the
    first-containment scan: first alias in declaration order wins, a
    non-expected alias still consumes the break, unseen labels map to
    None."""
    from credit_ocr_backend_spark.core.fields import (
        _config_tables,
        map_items_to_fields,
        normalize_label,
    )

    cfg = default_config()
    tables = _config_tables(cfg)
    items = [
        {"type": "label_value", "label": lab, "value": f"v{i}"}
        for i, (lab, _) in enumerate(
            [("Firmenname", None), ("Kaufpreis / Baukosten", None),
             ("Völlig Unbekannt", None), ("Laufzeit", None)]
        )
    ]
    out_cold = map_items_to_fields(items, cfg)
    # memo is now populated — a second pass must be identical
    out_warm = map_items_to_fields(items, cfg)
    assert out_cold == out_warm
    # cross-check each cached verdict against a direct scan
    for item in items:
        norm = normalize_label(item["label"])
        direct = None
        for norm_alias, eng in tables["norm_aliases"]:
            if norm_alias in norm:
                direct = eng
                break
        assert tables["alias_match_cache"].get(norm) == direct


def test_label_fields_memo_matches_alias_rx():
    """extract_fields' label_fields_cache entries must agree with the
    alias regexes field-by-field for every label it has seen."""
    from credit_ocr_backend_spark.core.fields import (
        _config_tables,
        extract_fields,
    )

    cfg = default_config()
    items = [
        {"type": "label_value", "label": "Firmenname", "value": "X GmbH",
         "page": 1, "confidence": 0.9, "bounding_box": None},
        {"type": "label_value", "label": "Nicht Vorhanden", "value": "y",
         "page": 1, "confidence": 0.9, "bounding_box": None},
    ]
    extract_fields(items, cfg)
    tables = _config_tables(cfg)
    for label_lc, mset in tables["label_fields_cache"].items():
        direct = {
            eng
            for eng, rx in tables["alias_rx_by_field"].items()
            if rx.search(label_lc)
        }
        assert set(mset) == direct, label_lc


def test_fields_json_fragment_composer_byte_equal():
    """_fields_json must emit exactly dumps_compact(_field_rows(...)) —
    including the aliasing hazards the fragment memos are guarded
    against: int vs float (1 vs 1.0), -0.0 vs 0.0, NaN, bool values,
    non-token box shapes, falsy validation dicts, >96-char strings."""
    from credit_ocr_backend_spark.core.document import dumps_compact
    from credit_ocr_backend_spark.operators.stages import (
        _field_rows,
        _fields_json,
    )

    payloads = [
        None,
        {},
        {"extracted_fields": {}, "validation_results": {}},
        {
            "extracted_fields": {
                "a": {"value": "x", "confidence": 1, "page": 1,
                      "bounding_box": [{"x": 1, "y": 2}]},
                "b": {"value": "x", "confidence": 1.0, "page": 1.0,
                      "bounding_box": [{"x": 1.0, "y": 2.0}]},
                "c": {"value": "x", "confidence": 0.0, "page": 0,
                      "bounding_box": [{"x": -0.0, "y": 0.0}]},
                "d": {"value": 123.75, "confidence": float("nan"),
                      "bounding_box": [{"y": 1.0, "x": 2.0}]},  # y-first
                "e": {"value": True, "confidence": None,
                      "bounding_box": [{"x": 1.0, "y": 2.0, "z": 3.0}]},
                "f": {"value": "q\"uo\\te ü" + "L" * 200,
                      "bounding_box": []},
                "g": {"value": None},
                "h": {},
            },
            "validation_results": {
                "a": {"is_valid": True, "errors": []},
                "b": {"is_valid": False, "errors": ["e1", 'ü"2']},
                "c": {},  # falsy dict → null/null tail
                "d": {"is_valid": None, "errors": None},
            },
        },
    ]
    for p in payloads:
        assert _fields_json(p) == dumps_compact(_field_rows(p))
    # one field whose value is 1, then True, then 1.0: equal-hashing
    # values must not share a memoized row prefix
    for value in (1, True, 1.0):
        p = {"extracted_fields": {"n": {"value": value, "confidence": 0.9,
                                        "page": 1, "bounding_box": None}}}
        assert _fields_json(p) == dumps_compact(_field_rows(p))
    # and across real documents twice (cold + memo-replayed fragments)
    cfg = default_config()
    from credit_ocr_backend_spark.core.document import process_document

    for k in _KEYS:
        ext = process_document(
            f"u{k}", build_page(k)["html"], cfg
        )["extraction"]
        for _ in range(2):
            assert _fields_json(ext) == dumps_compact(_field_rows(ext))


def test_worker_heap_freeze_is_one_shot_and_inert():
    """The per-worker gc.freeze runs once (flag-guarded), moves the
    warm caches out of cycle-GC's reach, and never changes stage
    output — the fused stage emits identical rows before and after."""
    import gc

    from credit_ocr_backend_spark.operators import stages as S

    pdf = __import__("pandas").DataFrame(
        {
            "url": [f"u{i}" for i in range(4)],
            "bucket": [1, 2, 3, 4],
            "html": [build_page(k)["html"] for k in (0, 1, 2, 4)],
        }
    )
    fused = S.make_fused_stage(default_config())
    first = list(fused(iter([pdf])))[0]
    assert S._GC_FROZEN is True
    frozen_after_first = gc.get_freeze_count()
    assert frozen_after_first > 0
    second = list(fused(iter([pdf])))[0]
    # one-shot: a second batch must not re-freeze the newer heap
    assert gc.get_freeze_count() <= frozen_after_first
    drop_clock = lambda df: df.drop(columns=["proc_ms"]).to_dict("records")
    assert drop_clock(first) == drop_clock(second)


def test_assemble_tokens_centroid_shortcut_is_identical():
    """tokens_from_layout_words passes precomputed word centroids to
    _assemble_tokens; the result must be identical to the recomputing
    path (same expressions, same floats), including None-confidence
    words."""
    import json as _json

    payload = [
        {"t": "a", "p": 1, "x": 0.5, "y": 1.0, "w": 0.1, "h": 0.015, "c": 0.93},
        {"t": "b", "p": 1, "x": 0.7, "y": 1.001, "w": 0.2, "h": 0.015, "c": None},
        {"t": "c", "p": 2, "x": 3.0, "y": 2.0, "w": 0.15, "h": 0.02, "c": 0.97},
    ]
    html = (
        "<main><script type='application/x-layout-words'>"
        + _json.dumps(payload)
        + "</script></main>"
    ).encode()
    toks, text = H.parse_page(html)
    # independent reference: rebuild lines/words and assemble WITHOUT
    # the centroid shortcut
    ref = H.tokens_from_layout_words(payload)
    lines_ref = [t for t in ref if t["type"] == "line"]
    words_ref = [t for t in ref if t["type"] == "word"]
    ref2 = H._assemble_tokens(
        [(t["text"], t["page"], t["bounding_box"]) for t in lines_ref],
        words_ref,
    )
    assert json.dumps(toks, default=str) == json.dumps(ref, default=str)
    # line tokens of the no-shortcut assembly agree (words identical too)
    assert [t for t in ref2 if t["type"] == "line"] == lines_ref


def test_lazy_line_scan_still_serves_raw_line_evidence():
    """line_scan builds lazily on the first (a)-miss; a field whose
    label_value evidence misses must still find its raw-line evidence
    exactly as before."""
    cfg = default_config()
    # an item that MAPS the field (normalized alias containment) but
    # whose raw-lowercase label/value match neither the alias regexes
    # nor the value string — forcing the (b) raw-line branch
    items = [
        {"type": "label_value", "label": "FIRMENNAME", "value": "zzz",
         "page": 1, "confidence": 0.9, "bounding_box": None},
    ]
    lines = [
        {"type": "line", "text": "Der Firmenname: zzz GmbH", "page": 1,
         "confidence": 0.88, "bounding_box": [{"x": 0.5, "y": 1.0}]},
    ]
    out = extract_fields(items, cfg, original_ocr_lines=lines)
    vals = out["extracted_fields"]
    # whichever canonical name it maps to, the evidence must be the
    # raw line (its full text and its confidence), not the bare value
    row = next(iter(vals.values()))
    assert row["value"] in ("zzz", "Der Firmenname: zzz GmbH")
    # and with NO matching line the bare-value fallback still applies
    out2 = extract_fields(items, cfg, original_ocr_lines=[])
    row2 = next(iter(out2["extracted_fields"].values()))
    assert row2["confidence"] in (0.5, 0.9)
