"""Demo-scale side outputs (SURVEY §2 S11): the xlsx results sheet and
the annotated-page PNG the reference ends every demo with.

Reference semantics:
* xlsx — the notebook's ExcelWriter cell
  (/root/reference/notebooks/credit_ocr_pipeline.ipynb: one sheet named
  "Extrahierte Daten", index=False) over the long-format field rows;
* PNG — /root/reference/src/visualization/pdf_visualizer.py:83-189:
  per-page polygon + label annotation colored by confidence.

Scale split: everything distributed happens in functions.viz.draw_plan
(field mapping, colors, pixel coords — JVM codegen). These sinks are
driver-side, demo-scale by design — a human looks at ONE page / ONE
sheet; collecting a filtered draw plan of one url is O(items-per-doc),
never O(corpus). Rasterization requires PIL and xlsx requires openpyxl,
neither of which exists in this container, so both are gated behind
import-try: the deterministic fallback (csv / draw-plan JSON) keeps the
byte-checkable artifact testable, and the real encoders activate when
the libraries are installed — the documented escape hatch."""

from __future__ import annotations

import json
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame

XLSX_SHEET = "Extrahierte Daten"  # the notebook's sheet name, verbatim


def export_results_xlsx(results: DataFrame, path: str | Path) -> Path:
    """Write the long-format field rows as the reference's results
    workbook. With openpyxl installed → real .xlsx (one sheet,
    index=False, exactly the ExcelWriter cell); without it → the same
    table as deterministic CSV next to the requested path (suffix
    .csv), returned so callers/tests see which artifact materialized."""
    path = Path(path)
    pdf = results.toPandas()
    try:
        import openpyxl  # noqa: F401

        with __import__("pandas").ExcelWriter(path) as writer:
            pdf.to_excel(writer, sheet_name=XLSX_SHEET, index=False)
        return path
    except ImportError:
        fallback = path.with_suffix(".csv")
        pdf.to_csv(fallback, index=False)
        return fallback


def render_annotated_png(
    plan: DataFrame,
    url: str,
    page: int,
    out_path: str | Path,
    page_size_px: tuple[int, int] = (1275, 1650),  # 8.5x11in @150dpi
) -> Path:
    """Rasterize one page's annotations from the draw plan
    (pdf_visualizer.py:120-189). The plan rows are computed distributed
    (functions.viz.draw_plan); only the chosen page is collected.

    With PIL installed → a real PNG (polygon outlines + labels in the
    reference's colors). Without it → the page's draw plan as
    deterministic JSON (suffix .drawplan.json): same information, byte
    stable, testable — swap in PIL and the JSON path disappears."""
    out_path = Path(out_path)
    rows = (
        plan.where((plan["url"] == url) & (plan["page"] == page))
        .orderBy("anchor_y", "anchor_x", "field_name")
        .collect()
    )
    items = [
        {
            "field_name": r["field_name"],
            "value": r["value"],
            "conf_pct": r["conf_pct"],
            "color_rgb": list(r["color_rgb"]),
            "anchor": [r["anchor_x"], r["anchor_y"]],
        }
        for r in rows
    ]
    try:
        from PIL import Image, ImageDraw  # noqa: F401
    except ImportError:
        fallback = out_path.with_suffix(".drawplan.json")
        fallback.write_text(
            json.dumps(
                {"url": url, "page": page, "items": items},
                ensure_ascii=False,
                indent=2,
            ),
            encoding="utf-8",
        )
        return fallback

    img = Image.new("RGB", page_size_px, "white")
    draw = ImageDraw.Draw(img)
    for it in items:
        x, y = it["anchor"]
        color = tuple(it["color_rgb"])
        # the reference draws the polygon; the plan carries the anchor +
        # label — draw a marker box and the label text above it
        draw.rectangle([(x, y), (x + 8, y + 8)], outline=color, width=3)
        draw.text(
            (x, max(y - 12, 0)),
            f"{it['field_name']}: {it['value']} ({it['conf_pct'] / 100:.2f})",
            fill=color,
        )
    img.save(out_path, "PNG")
    return out_path
