"""The four Arrow-batched pipeline stages (zero per-row Python on the
hot path — every stage is ``mapInPandas`` over Arrow record batches).

Stage semantics are the pure core's (credit_ocr_backend_spark.core);
these wrappers only do batching, schema projection, per-document
failure isolation and wall-clock metering. Mapping to the reference:

* parse     ≙ perform_ocr        (/root/reference/src/ocr/extraction.py:99-154)
* normalize ≙ postprocess_ocr    (:157-209)
* extract   ≙ run_llm_extraction (:212-305, LLM replaced by the
  deterministic alias mapper)
* fused     ≙ the direct library pipeline
  (/root/reference/tests/test_extraction.py:513-575) in one pass —
  the scale-preferred mode: it never materializes the ~10× token
  amplification between stages; resumability is kept at bucket
  granularity instead of stage granularity.

Config distribution: ``DocumentTypeConfig`` is a small plain dataclass
captured in the UDF closure — Spark ships it once per task via the
serialized closure (the broadcast-variable pattern of SURVEY.md §1.4;
an explicit ``sc.broadcast`` adds nothing for a <50 KB object).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import zipimport
from typing import Any, Dict, Iterator, List, Optional

import pandas as pd

from credit_ocr_backend_spark.core.config import DocumentTypeConfig
from credit_ocr_backend_spark.core.document import (
    STATUS_FAILED,
    dumps_compact,
    process_document,
)
from credit_ocr_backend_spark.core.fields import extract_fields
from credit_ocr_backend_spark.core.htmlparse import parse_page
from credit_ocr_backend_spark.core.postprocess import normalize_items

# ---------------------------------------------------------------------------
# Schemas (DDL strings keep them greppable and driver-independent)
# ---------------------------------------------------------------------------

BBOX_T = "array<struct<x:double,y:double>>"
TOKENS_T = (
    f"array<struct<type:string,text:string,page:int,"
    f"bounding_box:{BBOX_T},confidence:double>>"
)
ITEMS_T = (
    f"array<struct<type:string,label:string,value:string,text:string,"
    f"page:int,confidence:double,bounding_box:{BBOX_T}>>"
)
FIELDS_T = (
    f"array<struct<field_name:string,value:string,confidence:double,"
    f"page:int,bounding_box:{BBOX_T},is_valid:boolean,errors:array<string>>>"
)

# Nested payloads (tokens / items / fields) travel as compact-JSON
# STRING columns between stages, not as list<struct>:
#  * transferring nested list<struct> through a pandas UDF costs ~5 ms/doc
#    in per-element Python conversion (measured — as much as the whole
#    extraction core); a string column is a straight Arrow buffer;
#  * json round-trips the core's plain dicts EXACTLY (missing keys stay
#    missing, None stays None — no NaN/numpy-scalar sanitization layer),
#    which is what makes staged mode byte-identical to fused by
#    construction;
#  * a relational view is recovered JVM-side at codegen speed with
#    from_json(TOKENS_T / ITEMS_T / FIELDS_T) when a query needs it.
PARSED_SCHEMA = (
    f"url string, bucket int, status string, error string, "
    f"extracted_text string, tokens_json string, proc_ms double"
)
NORMALIZED_SCHEMA = (
    f"url string, bucket int, status string, error string, "
    f"extracted_text string, tokens_json string, items_json string, proc_ms double"
)
EXTRACTED_SCHEMA = (
    f"url string, bucket int, status string, error string, "
    f"extracted_text string, missing_fields array<string>, "
    f"fields_json string, proc_ms double"
)


# ---------------------------------------------------------------------------
# Per-document assembly helpers (shared by fused and staged paths)
# ---------------------------------------------------------------------------


def _field_rows(extraction: Optional[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """Flatten the extraction envelope to long-format field structs
    (mirrors ExtrahierteDaten, /root/reference/schema.sql:35-43)."""
    if not extraction:
        return []
    rows = []
    validations = extraction.get("validation_results", {})
    for name, data in extraction.get("extracted_fields", {}).items():
        validation = validations.get(name)
        value = data.get("value")
        rows.append(
            {
                "field_name": name,
                "value": value if isinstance(value, str) or value is None else str(value),
                "confidence": data.get("confidence"),
                "page": data.get("page"),
                "bounding_box": data.get("bounding_box"),
                "is_valid": validation["is_valid"] if validation else None,
                "errors": validation["errors"] if validation else None,
            }
        )
    return rows


# ---------------------------------------------------------------------------
# fields_json fast path — byte-equal composer for
# dumps_compact(_field_rows(extraction)).
#
# Serializing the field rows was the single most expensive piece of the
# per-document tail (~110 µs/doc): each row nests a 4-point bounding box
# (8 float reprs) and a validation tail, and CPython's C encoder pays
# the float-repr cost every document even though the box lists and
# validation dicts are SHARED objects (the parser's token caches and
# the per-config validation memo hand the same objects to every
# document that repeats a form row). Concatenating per-value
# ``dumps_compact`` fragments with the same separators is byte-equal to
# one ``dumps_compact`` of the whole structure (the C encoder emits a
# value identically at any nesting depth, and the row keys are fixed
# ASCII literals in construction order), so the shared sub-objects'
# fragments replay from identity-keyed memos — each cache value holds
# (obj, fragment) and hits only when the stored obj IS the argument, so
# a recycled id can never alias, and the held reference pins the id.
# Byte-equality is enforced by tests/test_spark_pipeline.py (the
# pipeline row must equal dumps_compact(_field_rows(...)) recomputed
# driver-side) and a dedicated corpus/adversarial test.
# ---------------------------------------------------------------------------

_BOX_FRAG_CACHE: Dict[int, tuple] = {}
_VAL_FRAG_CACHE: Dict[int, tuple] = {}
_STR_FRAG_CACHE: Dict[str, str] = {}
_FRAG_CACHE_MAX = 32768
_NO_VALIDATION_TAIL = '"is_valid":null,"errors":null}'


def _str_frag(s: str) -> str:
    if len(s) <= 96:
        v = _STR_FRAG_CACHE.get(s)
        if v is None:
            v = dumps_compact(s)
            if len(_STR_FRAG_CACHE) < _FRAG_CACHE_MAX:
                _STR_FRAG_CACHE[s] = v
        return v
    return dumps_compact(s)


# Numeric fragment memo: the synthetic geometry draws its coordinates
# from a few hundred distinct values, but each unshared box pays 8
# float reprs (the C encoder's dominant cost). Keyed by (class, value)
# — Python hashes 1 == 1.0 together but "1" != "1.0" as JSON — and
# zero is excluded because -0.0 == 0.0 would alias their distinct
# reprs. NaN never caches (NaN != NaN misses the lookup) and falls
# through to dumps. bool is excluded by the exact-class check.
_NUM_FRAG_CACHE: Dict[tuple, str] = {}

# Whole-prefix memo: the row fragment up through ',"bounding_box":' is a
# pure function of (name, value, confidence, page) — all hashables —
# and the corpus draws them from a small hot set (fixed field names,
# mostly-fixed values, ~10 confidence draws, few pages). One dict get
# replaces two string-fragment gets, two numeric-fragment gets and an
# 8-part concat. The value CLASSES ride in the key because Python
# hashes True == 1 == 1.0 together while json renders them differently
# (same guard as _num_frag's exact-class check).
_ROW_PREFIX_CACHE: Dict[tuple, str] = {}


def _row_prefix(name: str, value, conf, pg) -> str:
    return (
        '{"field_name":'
        + _str_frag(name)
        + ',"value":'
        + ("null" if value is None else _str_frag(value))
        + ',"confidence":'
        + ("null" if conf is None else _num_frag(conf))
        + ',"page":'
        + ("null" if pg is None else _num_frag(pg))
        + ',"bounding_box":'
    )


def _num_frag(v) -> str:
    cls = v.__class__
    if (cls is float or cls is int) and v != 0:
        key = (cls, v)
        f = _NUM_FRAG_CACHE.get(key)
        if f is None:
            f = dumps_compact(v)
            if len(_NUM_FRAG_CACHE) < _FRAG_CACHE_MAX:
                _NUM_FRAG_CACHE[key] = f
        return f
    return dumps_compact(v)


def _box_frag_build(box) -> str:
    """Compose a bounding-box fragment from numeric memos — byte-equal
    to dumps_compact(box) for the token shape ([{"x":…,"y":…}]*N with
    the keys in that insertion order); any other shape falls back."""
    parts = []
    for p in box:
        if p.__class__ is dict and len(p) == 2:
            it = iter(p.items())
            k1, v1 = next(it)
            k2, v2 = next(it)
            if k1 == "x" and k2 == "y":
                parts.append(
                    '{"x":' + _num_frag(v1) + ',"y":' + _num_frag(v2) + "}"
                )
                continue
        return dumps_compact(box)
    return "[" + ",".join(parts) + "]"


def _fields_json(extraction: Optional[Dict[str, Any]]) -> str:
    """Exactly dumps_compact(_field_rows(extraction)), composed from
    memoized fragments (see the block comment above)."""
    if not extraction:
        return "[]"
    parts = []
    validations = extraction.get("validation_results", {})
    for name, data in extraction.get("extracted_fields", {}).items():
        value = data.get("value")
        if not (isinstance(value, str) or value is None):
            value = str(value)
        box = data.get("bounding_box")
        if box is None:
            box_frag = "null"
        else:
            ent = _BOX_FRAG_CACHE.get(id(box))
            if ent is not None and ent[0] is box:
                box_frag = ent[1]
            else:
                box_frag = _box_frag_build(box)
                if len(_BOX_FRAG_CACHE) < _FRAG_CACHE_MAX:
                    _BOX_FRAG_CACHE[id(box)] = (box, box_frag)
        validation = validations.get(name)
        if not validation:  # falsy ≡ _field_rows' `if validation else None`
            tail = _NO_VALIDATION_TAIL
        else:
            ent = _VAL_FRAG_CACHE.get(id(validation))
            if ent is not None and ent[0] is validation:
                tail = ent[1]
            else:
                tail = (
                    '"is_valid":'
                    + dumps_compact(validation["is_valid"])
                    + ',"errors":'
                    + dumps_compact(validation["errors"])
                    + "}"
                )
                if len(_VAL_FRAG_CACHE) < _FRAG_CACHE_MAX:
                    _VAL_FRAG_CACHE[id(validation)] = (validation, tail)
        conf = data.get("confidence")
        pg = data.get("page")
        pkey = (
            name, value,
            conf.__class__, conf,
            pg.__class__, pg,
        )
        try:
            prefix = _ROW_PREFIX_CACHE.get(pkey)
        except TypeError:  # unhashable (never for well-formed rows)
            prefix = None
            pkey = None
        if prefix is None:
            prefix = _row_prefix(name, value, conf, pg)
            if pkey is not None and len(_ROW_PREFIX_CACHE) < _FRAG_CACHE_MAX:
                _ROW_PREFIX_CACHE[pkey] = prefix
        parts.append(prefix + box_frag + "," + tail)
    return "[" + ",".join(parts) + "]"


def _extracted_row(
    url: str, bucket: int, status: str, error: Optional[str],
    extracted_text: str, extraction: Optional[Dict[str, Any]], proc_ms: float,
) -> Dict[str, Any]:
    return {
        "url": url,
        "bucket": bucket,
        "status": status,
        "error": error,
        "extracted_text": extracted_text,
        "missing_fields": (extraction or {}).get("missing_fields"),
        "fields_json": _fields_json(extraction),
        "proc_ms": proc_ms,
    }


# ---------------------------------------------------------------------------
# Stage factories — each returns a mapInPandas-compatible generator fn
# ---------------------------------------------------------------------------

# One-shot per-worker heap freeze. After the first Arrow batch the
# long-lived worker holds a few hundred thousand gc-tracked cache
# objects (token/fragment/validation memos) that are reachable forever;
# every gen-2 cycle collection re-scans them for nothing, and at 32-way
# width that overhead is measurable (~3-4% of per-document cost,
# multiprocessing probe). gc.freeze() moves the current heap to the
# permanent generation — excluded from cycle GC but still refcounted,
# so nothing leaks unless it was already immortal. It runs AFTER a full
# collect (so no pre-existing cyclic garbage gets frozen) and BEFORE
# the first yielded DataFrame is constructed (so no pandas internals —
# which do contain reference cycles — land in the frozen set); objects
# created later (cache tail fills, per-batch transients) stay in the
# normal generations and are collected as usual.
_GC_FROZEN = False


def _freeze_worker_heap() -> None:
    global _GC_FROZEN
    if not _GC_FROZEN:
        _GC_FROZEN = True
        gc.collect()
        gc.freeze()


# Per-task zip-directory pin. At the start of every task PySpark's
# worker calls importlib.invalidate_caches() (pyspark/worker_util.py,
# setup_spark_files). On CPython 3.11/3.12 every zipimporter in
# sys.path_importer_cache then re-reads its archive's whole central
# directory: pyspark.zip and one importer per imported subpackage, the
# py4j zip and the spark-core jar — 16 importers, 150-430 ms of CPU per
# task on a 4-core x86 host, against 5-20 ms of real work in a small
# task. Spark's own archives do not change while an application runs,
# so their importers get a no-op invalidate_caches. Archives under the
# SparkFiles root (--py-files, addPyFile) keep the re-read. The step
# runs in every task so importers created by a later import get pinned
# too; only a worker's first task still pays for the re-read.
def _keep_zip_directory() -> None:
    pass


def _pin_spark_archives() -> None:
    from pyspark import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return  # driver-side calls (tests, in-process checks)
    root = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")
    for importer in list(sys.path_importer_cache.values()):
        if (
            isinstance(importer, zipimport.zipimporter)
            and "invalidate_caches" not in vars(importer)
            and not os.path.realpath(importer.archive).startswith(root)
        ):
            importer.invalidate_caches = _keep_zip_directory


def make_fused_stage(doc_config: DocumentTypeConfig):
    """html → extraction results in one Arrow-batched pass."""

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _pin_spark_archives()
        for pdf in batches:
            rows = []
            for url, bucket, html in zip(pdf["url"], pdf["bucket"], pdf["html"]):
                t0 = time.perf_counter()
                if html is None:
                    # NULL html reaches the stage (routed to bulk by
                    # _defuse_skew) and is RECORDED as failed — never
                    # silently dropped from the per-bucket accounting.
                    rows.append(
                        _extracted_row(
                            url, int(bucket), STATUS_FAILED,
                            "ValueError: null html payload", "", None,
                            (time.perf_counter() - t0) * 1000.0,
                        )
                    )
                    continue
                r = process_document(url, bytes(html), doc_config)
                ms = (time.perf_counter() - t0) * 1000.0
                rows.append(
                    _extracted_row(
                        url, int(bucket), r["status"], r["error"],
                        r["extracted_text"], r["extraction"], ms,
                    )
                )
            _freeze_worker_heap()
            yield pd.DataFrame(rows)

    return fused


def make_parse_stage():
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _pin_spark_archives()
        for pdf in batches:
            rows = []
            for url, bucket, html in zip(pdf["url"], pdf["bucket"], pdf["html"]):
                t0 = time.perf_counter()
                status, error, tokens, text = "parsed", None, [], ""
                try:
                    if html is None:
                        raise ValueError("null html payload")
                    tokens, text = parse_page(bytes(html))
                except Exception as exc:
                    status, error = STATUS_FAILED, f"{type(exc).__name__}: {exc}"
                rows.append(
                    {
                        "url": url, "bucket": int(bucket), "status": status,
                        "error": error, "extracted_text": text,
                        "tokens_json": dumps_compact(tokens),
                        "proc_ms": (time.perf_counter() - t0) * 1000.0,
                    }
                )
            _freeze_worker_heap()
            yield pd.DataFrame(rows)

    return parse


def make_normalize_stage():
    def normalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _pin_spark_archives()
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                t0 = time.perf_counter()
                status, error, items = "normalized", rec["error"], []
                if rec["status"] == STATUS_FAILED:
                    status = STATUS_FAILED
                else:
                    try:
                        items = normalize_items(json.loads(rec["tokens_json"]))
                    except Exception as exc:
                        status, error = STATUS_FAILED, f"{type(exc).__name__}: {exc}"
                rows.append(
                    {
                        "url": rec["url"], "bucket": int(rec["bucket"]),
                        "status": status, "error": error,
                        "extracted_text": rec["extracted_text"],
                        "tokens_json": rec["tokens_json"],
                        "items_json": dumps_compact(items),
                        "proc_ms": (time.perf_counter() - t0) * 1000.0,
                    }
                )
            _freeze_worker_heap()
            yield pd.DataFrame(rows)

    return normalize


def make_extract_stage(doc_config: DocumentTypeConfig):
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _pin_spark_archives()
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                t0 = time.perf_counter()
                status, error, extraction = "done", rec["error"], None
                if rec["status"] == STATUS_FAILED:
                    status = STATUS_FAILED
                else:
                    try:
                        extraction = extract_fields(
                            json.loads(rec["items_json"]),
                            doc_config,
                            original_ocr_lines=json.loads(rec["tokens_json"]),
                        )
                    except Exception as exc:
                        status, error = STATUS_FAILED, f"{type(exc).__name__}: {exc}"
                rows.append(
                    _extracted_row(
                        rec["url"], int(rec["bucket"]), status, error,
                        rec["extracted_text"], extraction,
                        (time.perf_counter() - t0) * 1000.0,
                    )
                )
            _freeze_worker_heap()
            yield pd.DataFrame(rows)

    return extract
