"""Visualization scalars and the annotation draw-plan (SURVEY §2 rows
F17-F19 + the deterministic half of S11).

The reference renders annotated PNGs / xlsx straight from Python
(/root/reference/src/visualization/pdf_visualizer.py). On Spark the
right split is: compute the DRAW PLAN — field mapping, colors, scaled
pixel coordinates, label text — distributed and JVM-side (everything
below is built-in when/transform chains, whole-stage codegen), and
leave only the final rasterization to a PIL-gated renderer
(sinks.export). The draw plan is a plain DataFrame: testable against
the reference-generated golden, and the only thing a 10^12-row job
would ever materialize (you rasterize the handful of pages a human
looks at).

Reference parity, cited per function:
* confidence_color      — pdf_visualizer.py:20-28 (hex palette)
* confidence_color_rgb  — pdf_visualizer.py:160-166 (PNG palette —
  NOTE the reference uses a DIFFERENT mid tier here: orange, not
  yellow; both are preserved)
* hex_to_rgb            — pdf_visualizer.py:15-18
* scale_points          — pdf_visualizer.py:156-158 (inch → pixel at
  a given DPI)
* field_name_for_label  — pdf_visualizer.py:139-146 (n-stripper label
  normalization + first-containment-match over field_mappings in
  declaration order)
"""

from __future__ import annotations

from typing import Iterable, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def confidence_color(conf: Column | str) -> Column:
    """Hex color by confidence (F17): NULL→gray, ≥0.8 green, ≥0.6
    yellow, else red (pdf_visualizer.py:20-28)."""
    c = F.col(conf) if isinstance(conf, str) else conf
    return (
        F.when(c.isNull(), F.lit("#808080"))
        .when(c >= 0.8, F.lit("#00FF00"))
        .when(c >= 0.6, F.lit("#FFFF00"))
        .otherwise(F.lit("#FF0000"))
    )


def confidence_color_rgb(conf: Column | str) -> Column:
    """RGB triple by confidence — the PNG path's palette
    (pdf_visualizer.py:160-166): ≥0.8 green, ≥0.6 ORANGE, else red.
    Missing confidence defaults to 0.5 upstream (:153), i.e. red."""
    c = F.col(conf) if isinstance(conf, str) else conf
    c = F.coalesce(c, F.lit(0.5))
    return (
        F.when(c >= 0.8, F.array(F.lit(0), F.lit(255), F.lit(0)))
        .when(c >= 0.6, F.array(F.lit(255), F.lit(165), F.lit(0)))
        .otherwise(F.array(F.lit(255), F.lit(0), F.lit(0)))
    )


def hex_to_rgb(hex_col: Column | str) -> Column:
    """'#RRGGBB' → [r, g, b] ints (F18; pdf_visualizer.py:15-18)."""
    h = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    h = F.regexp_replace(h, "^#", "")
    return F.array(
        *[
            F.conv(F.substring(h, 1 + 2 * i, 2), 16, 10).cast("int")
            for i in range(3)
        ]
    )


def rgb_csv(arr: Column | str) -> Column:
    """Scalar 'r,g,b' rendering of an RGB triple — the form the
    draw-plan golden (tests/goldens/expected_draw_plan.parquet) stores,
    while the library API keeps the true array (the renderer in
    sinks.export consumes arrays)."""
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.array_join(F.transform(a, lambda x: x.cast("string")), ",")


def scale_points(bbox: Column | str, dpi: int = 150) -> Column:
    """Inch-based 4-point box → pixel coordinates at ``dpi`` (F19;
    pdf_visualizer.py:156-158: ``int(p * 150)`` truncation)."""
    b = F.col(bbox) if isinstance(bbox, str) else bbox
    return F.transform(
        b,
        lambda p: F.struct(
            (p["x"] * dpi).cast("int").alias("x"),
            (p["y"] * dpi).cast("int").alias("y"),
        ),
    )


def _norm_label_col(label: Column) -> Column:
    """JVM-side n-stripper normalizer — identical semantics to
    core.fields.normalize_label (lower → drop '?' → drop 'n' → trim)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(label), r"\?", ""), "n", ""
        )
    )


def field_name_for_label(
    label: Column | str, field_mappings: Iterable[Tuple[str, str]]
) -> Column:
    """Canonical field name for a free-text label: first alias (in
    field_mappings DECLARATION order) whose normalized form is contained
    in the normalized label, else NULL (pdf_visualizer.py:139-146).

    Compiles to ONE flat CaseWhen (when().when()... — first match wins
    = declaration order), not a nested when/otherwise tower: a 37-alias
    nested chain inlines the 4-function normalizer into every branch
    and blows janino's 64 KB method limit, silently dropping the whole
    stage to interpreted eval. The flat form lets codegen split
    branches into sub-methods and CSE the normalizer."""
    from credit_ocr_backend_spark.core.fields import normalize_label

    norm = _norm_label_col(F.col(label) if isinstance(label, str) else label)
    chain = None
    for alias, eng in field_mappings:
        cond = norm.contains(F.lit(normalize_label(alias)))
        chain = F.when(cond, F.lit(eng)) if chain is None else chain.when(cond, F.lit(eng))
    if chain is None:
        return F.lit(None).cast("string")
    return chain.otherwise(F.lit(None).cast("string"))


def draw_plan(
    items: DataFrame,
    field_mappings: Iterable[Tuple[str, str]],
    dpi: int = 150,
) -> DataFrame:
    """The per-item annotation plan (pdf_visualizer.py:133-186, pure
    part): field mapping, color, scaled anchor point, integer-percent
    confidence. One row per drawable item that maps to a known field.

    Expects exploded items with (url, page, label, value, confidence,
    bounding_box). ``conf_pct`` is floor(conf·100+0.5) — integer
    half-up, deterministic across engines (the renderer formats it)."""
    mapped = items.where(F.col("bounding_box").isNotNull()).select(
        "url",
        "page",
        field_name_for_label(F.coalesce(F.col("label"), F.col("text")), field_mappings).alias(
            "field_name"
        ),
        F.coalesce(F.col("value"), F.col("text")).alias("value"),
        F.coalesce(F.col("confidence"), F.lit(0.5)).alias("_conf"),
        "bounding_box",
    )
    pts = scale_points("bounding_box", dpi)
    return mapped.where(F.col("field_name").isNotNull()).select(
        "url",
        "page",
        "field_name",
        "value",
        F.floor(F.col("_conf") * 100 + 0.5).cast("int").alias("conf_pct"),
        confidence_color_rgb("_conf").alias("color_rgb"),
        F.element_at(pts, 1)["x"].alias("anchor_x"),
        F.element_at(pts, 1)["y"].alias("anchor_y"),
    )
