"""Generate the expected-output parquet tables that the extraction
engine's output is checked against.

tests/test_spark_pipeline.py runs `run_pipeline` over a generated
corpus whose pages 0..63 are the 64 pages below, and asserts that the
committed docs of those pages, and the results rows derived from them,
equal these tables row for row. They are produced by the REFERENCE implementation's own pure
functions (via the same import-shim harness as
tools/gen_reference_goldens.py), so a match is reference parity, not
self-agreement:

  tokens (engine htmlparse) -> reference normalize_ocr_lines
  -> reference extract_fields_with_llm (deterministic alias mapper
     injected as the LLM client) -> long-format field rows.

Outputs (committed):
  tests/goldens/expected_extraction_results.parquet
      (url, field_name, value, confidence, is_valid)
  tests/goldens/expected_extraction_docs.parquet
      (url, status, n_missing, text_len)

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


def main() -> None:
    cfg = default_config()
    res_rows = {"url": [], "field_name": [], "value": [], "confidence": [],
                "is_valid": []}
    doc_rows = {"url": [], "status": [], "n_missing": [], "text_len": []}

    for k in range(N_DOCS):
        payload = reference_document(k, cfg)
        extraction = payload["extraction"]
        url = payload["url"]

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
    print(
        f"wrote {len(res_rows['url'])} field rows / {len(doc_rows['url'])} doc rows"
        f" to {GOLDEN_DIR}"
    )


if __name__ == "__main__":
    main()
