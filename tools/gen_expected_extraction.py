"""Generate the expected-output parquet tables that the extraction
engine's output is checked against.

tests/test_spark_pipeline.py runs `run_pipeline` over a generated
corpus whose pages 0..63 are the 64 pages below, and asserts that the
committed docs and results of those pages equal these tables row for
row. It also builds the normalized items of the same pages in-process
(`parse_page` with word tokens, then `normalize_items`) and asserts
that `functions/viz.py::draw_plan` over them equals the draw-plan
table.
They are produced by the REFERENCE implementation's own pure functions
(via the same import-shim harness as tools/gen_reference_goldens.py),
so a match is reference parity, not self-agreement:

  tokens (engine htmlparse) -> reference normalize_ocr_lines
  -> reference extract_fields_with_llm (deterministic alias mapper
     injected as the LLM client) -> long-format field rows.

Outputs (committed):
  tests/goldens/expected_extraction_results.parquet
      (url, field_name, value, confidence, is_valid)
  tests/goldens/expected_extraction_docs.parquet
      (url, status, n_missing, text_len)
  tests/goldens/expected_draw_plan.parquet
      (url, page, field_name, value, conf_pct, color_rgb, anchor_x,
       anchor_y) — the annotation draw plan per the reference
      visualizer's pure logic (pdf_visualizer.py:133-166: n-stripper
      label mapping in field_mappings declaration order, the PNG
      palette green/orange/red, int(p*150) pixel truncation).  One
      deliberate deviation, mirrored by functions/viz.py: a None
      confidence coalesces to the reference's own 0.5 default (:153)
      instead of reproducing the TypeError a None would raise at :160.

Usage: python tools/gen_expected_extraction.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from gen_reference_goldens import reference_document  # noqa: E402  (installs shims)

from credit_ocr_backend_spark.core import default_config  # noqa: E402

GOLDEN_DIR = REPO / "tests" / "goldens"
N_DOCS = 64  # must match N_GOLDEN in tests/test_spark_pipeline.py (and extractbench)


def _normalize_label(label: str) -> str:
    # pdf_visualizer.py:143-144 (same n-stripper as tests/mock corpus)
    return label.lower().replace("?", "").replace("n", "").strip()


def draw_plan_rows(url: str, items, field_mappings) -> list:
    """Reference visualizer pure logic, pdf_visualizer.py:133-166."""
    out = []
    for item in items:
        bbox = item.get("bounding_box")
        if not bbox:
            continue
        label_text = item.get("label", item.get("text", ""))
        norm = _normalize_label(label_text)
        field_name = None
        for german_label, eng_name in field_mappings.items():
            if _normalize_label(german_label) in norm:
                field_name = eng_name
                break
        if not field_name:
            continue
        conf = item.get("confidence", 0.5)
        if conf is None:  # documented deviation: :160 would TypeError
            conf = 0.5
        if conf >= 0.8:
            color = [0, 255, 0]
        elif conf >= 0.6:
            color = [255, 165, 0]
        else:
            color = [255, 0, 0]
        points = [(int(p["x"] * 150), int(p["y"] * 150)) for p in bbox]
        value = item.get("value", item.get("text", ""))
        out.append(
            {
                "url": url,
                "page": item["page"],
                "field_name": field_name,
                "value": value,
                "conf_pct": int(conf * 100 + 0.5),
                # scalar 'r,g,b' — the driver's pandas canonicalizer
                # cannot hash list cells (round-3 fix)
                "color_rgb": ",".join(str(c) for c in color),
                "anchor_x": points[0][0],
                "anchor_y": points[0][1],
            }
        )
    return out


def main() -> None:
    cfg = default_config()
    res_rows = {"url": [], "field_name": [], "value": [], "confidence": [],
                "is_valid": []}
    doc_rows = {"url": [], "status": [], "n_missing": [], "text_len": []}
    plan_rows = []

    for k in range(N_DOCS):
        payload = reference_document(k, cfg)
        extraction = payload["extraction"]
        url = payload["url"]
        plan_rows.extend(
            draw_plan_rows(url, payload["items"], cfg.field_mappings)
        )

        validations = extraction.get("validation_results", {})
        for name, data in extraction.get("extracted_fields", {}).items():
            v = data.get("value")
            validation = validations.get(name)
            res_rows["url"].append(url)
            res_rows["field_name"].append(name)
            res_rows["value"].append(
                v if isinstance(v, str) or v is None else str(v)
            )
            res_rows["confidence"].append(data.get("confidence"))
            res_rows["is_valid"].append(
                validation["is_valid"] if validation else None
            )

        doc_rows["url"].append(url)
        doc_rows["status"].append(payload["status"])
        doc_rows["n_missing"].append(len(extraction.get("missing_fields", [])))
        doc_rows["text_len"].append(len(payload["extracted_text"]))

    res_schema = pa.schema(
        [
            ("url", pa.string()),
            ("field_name", pa.string()),
            ("value", pa.string()),
            ("confidence", pa.float64()),
            ("is_valid", pa.bool_()),
        ]
    )
    doc_schema = pa.schema(
        [
            ("url", pa.string()),
            ("status", pa.string()),
            ("n_missing", pa.int32()),
            ("text_len", pa.int32()),
        ]
    )
    pq.write_table(
        pa.table(res_rows, schema=res_schema),
        GOLDEN_DIR / "expected_extraction_results.parquet",
    )
    pq.write_table(
        pa.table(doc_rows, schema=doc_schema),
        GOLDEN_DIR / "expected_extraction_docs.parquet",
    )
    plan_schema = pa.schema(
        [
            ("url", pa.string()),
            ("page", pa.int32()),
            ("field_name", pa.string()),
            ("value", pa.string()),
            ("conf_pct", pa.int32()),
            ("color_rgb", pa.string()),
            ("anchor_x", pa.int32()),
            ("anchor_y", pa.int32()),
        ]
    )
    plan_cols = {
        k: [r[k] for r in plan_rows]
        for k in ["url", "page", "field_name", "value", "conf_pct",
                  "color_rgb", "anchor_x", "anchor_y"]
    }
    pq.write_table(
        pa.table(plan_cols, schema=plan_schema),
        GOLDEN_DIR / "expected_draw_plan.parquet",
    )
    print(
        f"wrote {len(res_rows['url'])} field rows / {len(doc_rows['url'])} doc rows"
        f" / {len(plan_rows)} draw-plan rows to {GOLDEN_DIR}"
    )


if __name__ == "__main__":
    main()
