"""S11 side outputs (xlsx/PNG, import-gated encoders)."""

from __future__ import annotations

import json

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from credit_ocr_backend_spark.plans.session import get_spark  # noqa: E402
from credit_ocr_backend_spark.sinks import (  # noqa: E402
    export_results_xlsx,
    render_annotated_png,
)


@pytest.fixture(scope="module")
def spark():
    return get_spark("sink-tests", parallelism=4)


def test_export_results_xlsx_or_csv_fallback(spark, tmp_path):
    df = spark.createDataFrame(
        [("u1", "company_name", "DemoTech", 0.97),
         ("u1", "loan_amount", "50000", 0.88)],
        "url string, field_name string, value string, confidence double",
    )
    out = export_results_xlsx(df, tmp_path / "results.xlsx")
    assert out.exists()
    if out.suffix == ".xlsx":
        import openpyxl

        wb = openpyxl.load_workbook(out)
        assert "Extrahierte Daten" in wb.sheetnames
    else:  # deterministic CSV fallback (no openpyxl in this container)
        assert out.suffix == ".csv"
        lines = out.read_text().strip().splitlines()
        assert lines[0] == "url,field_name,value,confidence"
        assert len(lines) == 3


def test_render_annotated_png_or_drawplan_fallback(spark, tmp_path):
    plan = spark.createDataFrame(
        [("u1", 1, "company_name", "DemoTech", 97, [0, 255, 0], 75, 150),
         ("u1", 1, "loan_amount", "50000", 55, [255, 0, 0], 75, 300),
         ("u1", 2, "other", "x", 70, [255, 165, 0], 10, 10)],
        "url string, page int, field_name string, value string, "
        "conf_pct int, color_rgb array<int>, anchor_x int, anchor_y int",
    )
    out = render_annotated_png(plan, "u1", 1, tmp_path / "page1.png")
    assert out.exists()
    if out.suffix == ".png":
        assert out.read_bytes()[:8] == b"\x89PNG\r\n\x1a\n"
    else:
        payload = json.loads(out.read_text())
        assert payload["page"] == 1
        assert [i["field_name"] for i in payload["items"]] == [
            "company_name", "loan_amount",  # page-2 item excluded
        ]
        assert payload["items"][0]["color_rgb"] == [0, 255, 0]

