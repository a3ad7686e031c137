"""Deterministic synthetic Common-Crawl-style page corpus.

The engine's input table has exactly the shape mandated by
BASELINE.json ``input_hint``:

    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
          lang STRING)

partitioned by day(warc_ts) (the parquet stand-in for Iceberg hidden
``days(warc_ts)`` partitioning — directory-level pruning behaves the
same for this engine's scan path).

Every page is a pure function of its integer index ``k`` (no RNG
state), so any scale regenerates identically and the Spark generator is
embarrassingly parallel. Each page embeds a credit-request-style
label/value form (the reference's canonical 46-line fixture layout,
/root/reference/tests/test_field_extraction.py:153-201) inside
boilerplate chrome (nav/header/footer/aside link lists that exercise
the link-density heuristics); a seeded fraction instead carries a
PDF-like layout-word payload to exercise the OCR-block path, and a
sparse tail of pages is ~40× sized (giant-document skew).
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta
from typing import Any, Dict, Iterator, List, Tuple

from credit_ocr_backend_spark.core.htmlparse import (
    CHAR_W,
    CELL_X_STEP,
    CELL_Y_STEP,
    LAYOUT_WORDS_MIME,
    LEFT_MARGIN,
    ROW_STEP,
    TOP_MARGIN,
)

N_SITES = 97
N_DAYS = 30
EPOCH = datetime(2025, 1, 1)
LAYOUT_FRACTION_MOD = 7  # k % 7 == 3 → PDF-like layout payload page
GIANT_MOD = 997          # k % 997 == 17 → giant page (skew tail)
GIANT_REPEAT = 100

# The canonical form fixture (FIXTURES.md §3 / reference
# tests/test_field_extraction.py:156-201), verbatim — including the
# OCR-typo "Innovationsntraße" the reference asserts on.
FORM_ROWS: List[Tuple[str, str]] = [
    ("Firmenname", "DemoTech GmbH"),
    ("Rechtsform", "Gesellschaft mit beschränkter Haftung (GmbH)"),
    ("Gründungsdatum", "15.03.2018"),
    ("Geschäftsanschrift", "Hauptstraße 123, 70173 Stuttgart"),
    ("Handelsregisternummer / Gericht", "HRB 123456 / Amtsgericht Stuttgart"),
    ("USt-ID / Steuernummer", "DE123456789"),
    ("Website (optional)", "www.demotech.de"),
    ("Art der Immobilie", "Gewerbeimmobilie - Bürogebäude"),
    ("Objektbezeichnung", "InnovationsCampus Stuttgart"),
    ("Adresse", "Innovationsntraße 1, 70469 Stuttgart"),
    ("Kaufpreis / Baukosten", "4.200.000€"),
    ("Gewünschte Finanzierungssumme", "3.500.000€"),
    ("Verwendungszweck", "Kauf und Renovierung"),
    ("Eigenkapitalanteil", "700.000€"),
    ("Baujahr", "1995"),
    ("Fläche gesamt", "2.800 m²"),
    ("Gewünschte Darlehenssumme", "3.500.000€"),
    ("Laufzeit", "20 Jahre"),
    ("Ratenwunsch", "Ca. 18.000 € (monatlich)"),
    ("Zinssatz", "Festzins, 3.2% p.a."),
    ("Sondertilgungen gewünscht", "[x] ja [ ] nein"),
    ("Öffentliche Fördermittel beantragt?", "[ ] ja [x] nein"),
]

_FILLER_WORDS = (
    "Finanzierung Antrag Unterlagen Objekt Prüfung Bank Kredit Immobilie "
    "Vertrag Laufzeit Zins Tilgung Sicherheit Grundbuch Notar Kaufvertrag "
    "Gutachten Bewertung Eigenkapital Darlehen Rate Bonität Einkommen "
    "Bilanz Umsatz Gewinn Steuer Register Handel Gericht Stuttgart"
).split()


def _unit(key: str) -> float:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16) / 0x100000000


def page_url(k: int) -> str:
    return f"https://site{k % N_SITES}.example/doc/{k}"


def page_warc_ts(k: int) -> datetime:
    day = k % N_DAYS
    seconds = int(_unit(f"ts|{k}") * 86400)
    return EPOCH + timedelta(days=day, seconds=seconds)


def _form_rows_for(k: int) -> List[Tuple[str, str]]:
    """Per-document form variation: deterministic value tweaks plus a
    deterministic subset of omitted rows (exercises missing_fields)."""
    rows: List[Tuple[str, str]] = []
    drop = int(_unit(f"drop|{k}") * 6)  # 0..5 rows omitted
    for idx, (label, value) in enumerate(FORM_ROWS):
        if drop and int(_unit(f"dropidx|{k}|{idx}") * len(FORM_ROWS)) < drop:
            continue
        if label == "Kaufpreis / Baukosten":
            value = f"{4_200_000 + (k % 100) * 1000:,}€".replace(",", ".")
        elif label == "Baujahr":
            value = str(1950 + k % 70)
        elif label == "Firmenname":
            value = f"DemoTech {k % 1000} GmbH"
        rows.append((label, value))
    return rows


def _paragraphs_for(k: int, n: int) -> List[str]:
    out = []
    for p in range(n):
        n_words = 20 + int(_unit(f"plen|{k}|{p}") * 30)
        words = [
            _FILLER_WORDS[int(_unit(f"w|{k}|{p}|{i}") * len(_FILLER_WORDS))]
            for i in range(n_words)
        ]
        out.append(" ".join(words))
    return out


def _chrome(k: int) -> Tuple[str, str]:
    nav_links = "".join(
        f'<li><a href="/cat/{i}">Kategorie {i}</a></li>' for i in range(12)
    )
    head = (
        f"<header><a href='/'>site{k % N_SITES}</a> <a href='/login'>Login</a>"
        f" <a href='/register'>Registrieren</a></header>"
        f"<nav><ul>{nav_links}</ul></nav>"
    )
    foot = (
        "<aside><ul>"
        + "".join(f'<li><a href="/rel/{i}">Verwandter Link {i}</a></li>' for i in range(8))
        + "</ul></aside>"
        "<footer><a href='/impressum'>Impressum</a> <a href='/datenschutz'>"
        "Datenschutz</a> © 2025 Beispiel AG</footer>"
    )
    return head, foot


def _layout_payload(k: int) -> str:
    """PDF-like layout-word stream for the same form content: label words
    from x=0.5, value words from x=3.0, one row per y unit, value row
    offset +0.01 — the geometry contract of the reference fixture."""
    words: List[Dict[str, Any]] = []
    page, row = 1, 0

    def add_line(text: str, cell: int) -> None:
        y = TOP_MARGIN + row * ROW_STEP + cell * CELL_Y_STEP
        x = LEFT_MARGIN + cell * CELL_X_STEP
        for i, w in enumerate(text.split(" ")):
            words.append(
                {
                    "t": w,
                    "p": page,
                    "x": round(x, 4),
                    "y": round(y, 4),
                    "w": round(CHAR_W * len(w), 4),
                    "h": 0.015,
                    "c": 0.90 + int(_unit(f"lw|{k}|{row}|{cell}|{i}") * 10) / 100.0,
                }
            )
            x += CHAR_W * (len(w) + 1)

    add_line(f"Kreditantrag Nr. {k}", 0)
    row += 1
    for label, value in _form_rows_for(k):
        add_line(label, 0)
        add_line(value, 1)
        row += 1
    return json.dumps(words, ensure_ascii=False)


def build_page(k: int) -> Dict[str, Any]:
    """Pure page builder: index → one input-table row. Every
    ``GIANT_MOD``-th page (``k % GIANT_MOD == 17``) is a giant, its
    paragraphs repeated ``GIANT_REPEAT`` times (the skew tail)."""
    head, foot = _chrome(k)
    is_giant = k % GIANT_MOD == 17
    is_layout = k % LAYOUT_FRACTION_MOD == 3 and not is_giant
    n_paras = (2 + k % 3) * (GIANT_REPEAT if is_giant else 1)

    if is_layout:
        body = (
            f'<main><script type="{LAYOUT_WORDS_MIME}">'
            f"{_layout_payload(k)}</script></main>"
        )
    else:
        paras = "".join(f"<p>{p}</p>" for p in _paragraphs_for(k, n_paras))
        form = "".join(
            f"<tr><td>{label}</td><td>{value}</td></tr>"
            for label, value in _form_rows_for(k)
        )
        body = (
            f"<main><h1>Kreditantrag Nr. {k}</h1>{paras}"
            f'<table class="form">{form}</table></main>'
        )

    html = (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>Kreditantrag {k}</title><style>body{{margin:0}}</style></head>"
        f"<body>{head}{body}{foot}</body></html>"
    )
    return {
        "url": page_url(k),
        "warc_ts": page_warc_ts(k),
        "html": html.encode("utf-8"),
        "text": "",
        "lang": "en" if k % 11 == 0 else "de",
    }


# ---------------------------------------------------------------------------
# Spark-side distributed generation (import-guarded so the pure core
# stays Spark-free).
# ---------------------------------------------------------------------------

def generate_pages_df(spark, n_docs: int, partitions: int = 32):
    """Distributed corpus: spark.range → Arrow-batched page builder.

    Generation happens on executors (no driver-side loop), one batch at
    a time, so arbitrary ``n_docs`` scales horizontally."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([build_page(int(k)) for k in pdf["id"]])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(build, schema=schema)
        .withColumn("warc_date", F.to_date("warc_ts"))
    )


def write_pages(spark, path: str, n_docs: int, partitions: int = 32) -> None:
    """Materialize the corpus partitioned by warc_date (day-granular
    pruning, the Iceberg days(warc_ts) analogue)."""
    df = generate_pages_df(spark, n_docs, partitions)
    df.write.mode("overwrite").partitionBy("warc_date").parquet(path)
