"""Per-document end-to-end processing (the unit the Spark stages batch).

Mirrors the reference's direct library pipeline
(/root/reference/tests/test_extraction.py:513-575 order:
perform_ocr → postprocess_ocr → run_llm_extraction) as one pure
function, with the same stage envelopes and the same
``json.dumps(..., ensure_ascii=False)`` serialization the reference
uses at its byte-compared boundaries
(/root/reference/src/ocr/extraction.py:201, :297).
"""

from __future__ import annotations

import json
from typing import Any, Dict

from credit_ocr_backend_spark.core.config import DocumentTypeConfig
from credit_ocr_backend_spark.core.fields import extract_fields
from credit_ocr_backend_spark.core.htmlparse import parse_page
from credit_ocr_backend_spark.core.postprocess import normalize_items

#: The reference's job state machine, translated
#: (src/ocr/extraction.py:88,147,206,302 — "Extraktion ausstehend" /
#: "OCR abgeschlossen" / "Extraktion abgeschlossen" / "Fertig" /
#: "Fehlerhaft").
STATUS_PENDING = "pending"
STATUS_PARSED = "parsed"
STATUS_NORMALIZED = "normalized"
STATUS_DONE = "done"
STATUS_FAILED = "failed"


def dumps_envelope(payload: Any) -> str:
    """Byte-stable JSON with the reference's exact kwargs
    (ensure_ascii=False, indent=2) — ``F.to_json`` would NOT match.
    Export-boundary format (mirrors /root/reference/src/ocr/extraction.py:201)."""
    return json.dumps(payload, ensure_ascii=False, indent=2)


# json.dumps with any non-default kwarg constructs a fresh JSONEncoder
# per call (~1-2 µs before a byte is emitted — measurable when every
# document serializes dozens of fragments). One module-level encoder's
# bound .encode is byte-identical (dumps builds exactly this encoder)
# and stateless, hence safe to share.
_COMPACT_ENCODE = json.JSONEncoder(
    ensure_ascii=False, separators=(",", ":")
).encode


def dumps_compact(payload: Any) -> str:
    """Byte-stable compact JSON for the hot pipeline path: same key
    order and unicode handling as dumps_envelope, no whitespace — this
    keeps serialization on CPython's C encoder (indent forces the
    pure-Python encoder on 3.11, ~10× slower per document). The
    per-url byte invariant (extracted text) is unaffected; envelope
    formatting is an engine-internal contract pinned by the goldens."""
    return _COMPACT_ENCODE(payload)


def process_document(
    url: str,
    html: bytes | str,
    doc_config: DocumentTypeConfig,
) -> Dict[str, Any]:
    """Run parse → normalize → extract for one page.

    Returns a dict with every stage's output plus a status/error pair;
    a failing document never raises (the Spark shell appends it to the
    lineage table as failed, like the reference's
    ``handle_extraction_error``, src/tasks/pipeline_tasks.py:19-64).
    """
    result: Dict[str, Any] = {
        "url": url,
        "status": STATUS_PENDING,
        "error": None,
        "tokens": [],
        "items": [],
        "extracted_text": "",
        "extraction": None,
    }
    try:
        # include_words=False: every consumer below only reads line
        # tokens (see parse_page's soundness note); callers that want
        # the full OCR-shaped stream call parse_page with the default.
        tokens, extracted_text = parse_page(html, include_words=False)
        result["tokens"] = tokens
        result["extracted_text"] = extracted_text
        result["status"] = STATUS_PARSED

        items = normalize_items(tokens)
        result["items"] = items
        result["status"] = STATUS_NORMALIZED

        extraction = extract_fields(items, doc_config, original_ocr_lines=tokens)
        result["extraction"] = extraction
        result["status"] = STATUS_DONE
    except Exception as exc:  # per-document failure isolation
        result["status"] = STATUS_FAILED
        result["error"] = f"{type(exc).__name__}: {exc}"
    return result

