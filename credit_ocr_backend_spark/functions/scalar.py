"""Spark-native scalar analogues of the reference's cleaning functions.

These are *corpus-level, JVM-side* versions of some of SURVEY.md §2.7's
cleaners (F3, F5, F6, F10) — whole-stage-codegen'd column expressions
for bulk queries.
They intentionally live NEXT TO (not instead of) the pure-Python
``core.fields.clean_value``: per-document byte-parity extraction uses
the core inside Arrow UDFs; relational analytics over billions of rows
uses these built-ins so nothing drops out of codegen.

Reference: src/llm/field_extractor.py:42-76 (clean_value),
tests/test_mock_ocr_results.py:12-14 (normalize_label).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_currency(col: Column | str) -> Column:
    """F3: strip €/space, ','→'.', keep digits+dot, cast double.

    NOTE the reference semantics: multiple dots ('4.200.000') make
    ``float()`` raise; the relational analogue yields NULL instead of
    failing the row — the one deliberate divergence (documented), since
    a 10^12-row query cannot abort on one malformed cell. The byte-parity
    path (core.clean_value) keeps the raising behavior.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(
        F.translate(c, "€ ", ""), ",", "."
    )
    digits = F.regexp_replace(cleaned, r"[^0-9.]", "")
    return digits.try_cast("double")


def clean_number(col: Column | str) -> Column:
    """F5: digits only → long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_replace(c, r"[^0-9]", ""), F.lit("")).cast("long")


def clean_boolean(col: Column | str) -> Column:
    """F6: '[x]' containment on the lowercased value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c).contains("[x]")


def normalize_label_col(col: Column | str) -> Column:
    """F10: the n-stripping label normalizer (quirk preserved):
    lower → drop '?' and every 'n' → trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.translate(F.lower(c), "?n", ""))


# Tracking parameters stripped by canonical_url — the standard crawl
# noise set (UTM campaign tags + ad-click ids + social share ids).
TRACKING_PARAM_RE = (
    "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|ref|ref_src)="
)

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a crawl URL — the first line of URL-level
    dedup in a web pipeline (two re-crawls of the same resource under
    cosmetically different URLs must collide BEFORE any content
    hashing). Pure built-ins (parse_url + array functions — zero
    Python on the hot path), applying the standard rules:

    * scheme and host lowercase; userinfo stripped;
    * default port dropped (``:80`` for http, ``:443`` for https),
      non-default ports kept;
    * empty path → ``/``; trailing slashes trimmed (except root);
    * fragment dropped;
    * tracking query parameters removed (``utm_*``, ``gclid``,
      ``fbclid``, ``msclkid``, ``mc_cid``/``mc_eid``, ``igshid``,
      ``ref``/``ref_src``), the survivors SORTED so parameter order
      cannot split a duplicate group, empty query dropped;
    * NULL (un-canonicalizable) for NULL input or anything without a
      parseable scheme + host.

    Differentially tested against an independent urllib.parse
    reference implementation (tests/test_operators.py)."""
    u = F.col(col) if isinstance(col, str) else col
    proto = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    auth = F.parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)

    default_port = F.coalesce(
        *[
            F.when(proto == scheme, F.lit(p))
            for scheme, p in _DEFAULT_PORTS.items()
        ],
        F.lit(""),
    )
    port_part = F.when(
        (port != "") & (port != default_port), F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))

    raw_path = F.parse_url(u, F.lit("PATH"))
    trimmed = F.regexp_replace(F.coalesce(raw_path, F.lit("")), "/+$", "")
    path = F.when(trimmed == "", F.lit("/")).otherwise(trimmed)

    q = F.parse_url(u, F.lit("QUERY"))
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(q, F.lit("")), "&"),
            lambda p: (p != "") & ~F.lower(p).rlike(TRACKING_PARAM_RE),
        )
    )
    q_part = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))

    return F.when(
        proto.isNotNull() & host.isNotNull() & (host != ""),
        F.concat(proto, F.lit("://"), host, port_part, path, q_part),
    )
