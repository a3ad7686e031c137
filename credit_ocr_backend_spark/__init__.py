"""credit_ocr_backend_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the semantics of
markuskuehnle/credit-ocr-backend (reference at /root/reference) as a
web-scale extraction pipeline over Common-Crawl-style page tables:

    pages(url, warc_ts, html, text, lang)
      -> parse    (HTML/layout bytes -> OCR-style token stream + main text)
      -> normalize(tokens -> label/value items + text lines)
      -> extract  (items + document-type config -> typed, validated fields)
      -> results  (long-format field rows + per-document text/lineage)

Two strictly separated layers:

* ``credit_ocr_backend_spark.core`` — pure Python, zero Spark imports.
  Byte-exact reimplementation of the reference's deterministic
  per-document semantics. This is what the pytest parity suite runs.
* the Spark packages — the distribution shell, which is the
  extraction path alone: ``operators.stages`` (the fused Arrow-batched
  stage), ``plans`` (session and the chunked, resumable pipeline) and
  ``sources`` (the page corpus, checkpoint + lineage + resume).
"""

__version__ = "0.1.0"
