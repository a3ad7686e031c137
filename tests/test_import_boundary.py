"""The extraction path stands alone: importing the pipeline and what
jobs/extract_job.py imports loads no module of the packages outside it
(functions, sinks, the corpus-level operator families)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytest.importorskip("pyspark")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OUTSIDE = (
    "functions",
    "sinks",
    "operators.dedup",
    "operators.spread",
)

_PROBE = """
import json, sys
import jobs.extract_job
from pyspark.sql import SparkSession
from credit_ocr_backend_spark.plans.pipeline import run_pipeline
from credit_ocr_backend_spark.sources.pages import write_pages
print(json.dumps(sorted(sys.modules)))
"""


def test_extraction_path_imports_nothing_outside_it():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, capture_output=True, text=True, check=True
    )
    loaded = json.loads(proc.stdout.splitlines()[-1])
    assert "credit_ocr_backend_spark.plans.pipeline" in loaded
    outside = [
        m
        for m in loaded
        for p in OUTSIDE
        if m == f"credit_ocr_backend_spark.{p}" or m.startswith(f"credit_ocr_backend_spark.{p}.")
    ]
    assert outside == []
