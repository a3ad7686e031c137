"""Spark-shell tests: distribution must not change a single byte.

* Spark fused output ≡ pure-core output per url (SURVEY.md §5.2.3)
* staged mode (per-stage checkpoints) ≡ fused mode
* resume: a failed chunk re-runs without recomputing committed
  buckets, and the final output equals a clean run (north rule)
* giant-document skew routing leaves results identical
"""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from credit_ocr_backend_spark.core import default_config, process_document  # noqa: E402
from credit_ocr_backend_spark.core.document import dumps_compact  # noqa: E402
from credit_ocr_backend_spark.operators.stages import _field_rows  # noqa: E402
from credit_ocr_backend_spark.plans.pipeline import run_pipeline  # noqa: E402
from credit_ocr_backend_spark.plans.session import get_spark  # noqa: E402
from credit_ocr_backend_spark.sources.pages import build_page, write_pages  # noqa: E402

N_DOCS = 120


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pipeline-tests", parallelism=4)
    yield s


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "pages")
    write_pages(spark, path, n_docs=N_DOCS, partitions=4)
    return path


def _docs_map(spark, out_root):
    rows = (
        spark.read.parquet(f"{out_root}/docs")
        .select("url", "status", "extracted_text", "fields_json")
        .collect()
    )
    return {r["url"]: r for r in rows}


def test_fused_matches_pure_core_bytes(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=2)
    assert res.n_docs == N_DOCS
    assert res.n_failed == 0

    got = _docs_map(spark, out)
    assert len(got) == N_DOCS

    cfg = default_config()
    for k in range(0, N_DOCS, 13):  # sample across html/layout/giant paths
        page = build_page(k)
        local = process_document(page["url"], page["html"], cfg)
        expected_json = dumps_compact(_field_rows(local["extraction"]))
        row = got[page["url"]]
        assert row["status"] == local["status"]
        assert row["extracted_text"] == local["extracted_text"]  # byte-identical
        assert row["fields_json"] == expected_json  # byte-identical


def test_staged_equals_fused(spark, pages_path, tmp_path):
    fused_out = str(tmp_path / "fused")
    staged_out = str(tmp_path / "staged")
    run_pipeline(spark, pages_path, fused_out, n_buckets=8, n_chunks=1)
    run_pipeline(spark, pages_path, staged_out, n_buckets=8, n_chunks=1, mode="staged")

    fused = _docs_map(spark, fused_out)
    staged = _docs_map(spark, staged_out)
    assert set(fused) == set(staged)
    for url, frow in fused.items():
        srow = staged[url]
        assert frow["extracted_text"] == srow["extracted_text"]
        assert frow["fields_json"] == srow["fields_json"], url

    # stage checkpoint tables exist and carry every url
    parsed = spark.read.parquet(f"{staged_out}/parsed")
    normalized = spark.read.parquet(f"{staged_out}/normalized")
    assert parsed.count() == N_DOCS
    assert normalized.count() == N_DOCS


def test_resume_skips_committed_chunks(spark, pages_path, tmp_path):
    clean_out = str(tmp_path / "clean")
    run_pipeline(spark, pages_path, clean_out, n_buckets=8, n_chunks=4)

    resumed_out = str(tmp_path / "resumed")
    # First run dies on chunk 3 (buckets 4-5) after committing chunks 1-2.
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, pages_path, resumed_out,
            n_buckets=8, n_chunks=4, fail_buckets={4},
        )
    partial = spark.read.parquet(f"{resumed_out}/lineage")
    committed = {r["bucket"] for r in partial.select("bucket").collect()}
    assert committed == {0, 1, 2, 3}  # chunks 1+2 committed, rest not

    res = run_pipeline(
        spark, pages_path, resumed_out, n_buckets=8, n_chunks=4, resume=True
    )
    assert res.chunks_skipped == 2
    assert res.chunks_run == 2
    # Only the un-committed buckets were recomputed.
    assert set(res.buckets_done) == {4, 5, 6, 7}

    clean = _docs_map(spark, clean_out)
    resumed = _docs_map(spark, resumed_out)
    assert set(clean) == set(resumed)
    for url in clean:
        assert clean[url]["fields_json"] == resumed[url]["fields_json"]


def test_results_long_format(spark, pages_path, tmp_path):
    out = str(tmp_path / "long")
    run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=1)
    results = spark.read.parquet(f"{out}/results")
    assert results.where(F.col("field_name").isNull()).count() == 0
    assert results.select("url").distinct().count() > 0
    # every confidence within [0,1]
    bad = results.where((F.col("confidence") < 0) | (F.col("confidence") > 1)).count()
    assert bad == 0
    # vat_id rows validate true for the canonical value
    vat = results.where(
        (F.col("field_name") == "vat_id") & (F.col("value") == "DE123456789")
    )
    assert vat.where(~F.col("is_valid")).count() == 0


def test_warc_ts_pruning(spark, pages_path, tmp_path):
    out = str(tmp_path / "pruned")
    res = run_pipeline(
        spark, pages_path, out,
        n_buckets=8, n_chunks=1, ts_min="2025-01-01", ts_max="2025-01-03",
    )
    docs = spark.read.parquet(f"{out}/docs")
    n = docs.count()
    assert 0 < n < N_DOCS
    assert res.n_docs == n
    # exactly the pages whose warc_ts falls in the first two days
    pages = spark.read.parquet(pages_path)
    expected = pages.where(F.col("warc_date") < "2025-01-03").count()
    assert n == expected


def test_concurrent_chunks_equal_serial(spark, pages_path, tmp_path):
    """max_concurrent_chunks overlaps chunk jobs from driver threads;
    the committed output must be row-identical to the serial path and
    lineage must cover every chunk."""
    o1, o2 = str(tmp_path / "serial"), str(tmp_path / "conc")
    r1 = run_pipeline(spark, pages_path, o1, n_buckets=8, n_chunks=4)
    r2 = run_pipeline(
        spark, pages_path, o2, n_buckets=8, n_chunks=4, max_concurrent_chunks=3
    )
    assert r1.n_docs == r2.n_docs and r2.chunks_run == 4
    d1 = spark.read.parquet(f"{o1}/docs").select(
        "url", "status", "extracted_text", "fields_json"
    )
    d2 = spark.read.parquet(f"{o2}/docs").select(
        "url", "status", "extracted_text", "fields_json"
    )
    assert d1.exceptAll(d2).count() == 0 and d2.exceptAll(d1).count() == 0
    lineage = spark.read.parquet(f"{o2}/lineage")
    assert lineage.select("chunk").distinct().count() == 4
    # a concurrent run is resumable exactly like a serial one
    r3 = run_pipeline(
        spark, pages_path, o2, n_buckets=8, n_chunks=4, resume=True,
        max_concurrent_chunks=3,
    )
    assert r3.chunks_skipped == 4 and r3.chunks_run == 0


def test_concurrent_chunk_failure_drains_and_raises(spark, pages_path, tmp_path):
    out = str(tmp_path / "conc_fail")
    # All chunk failures surface together (ExceptionGroup), none swallowed
    with pytest.raises(ExceptionGroup, match="chunk") as ei:
        run_pipeline(
            spark, pages_path, out, n_buckets=8, n_chunks=4,
            max_concurrent_chunks=2, fail_buckets={3},
        )
    assert all(isinstance(e, RuntimeError) for e in ei.value.exceptions)
    assert any("injected failure" in str(e) for e in ei.value.exceptions)
    # chunks that completed before the failure are committed + resumable
    done = spark.read.parquet(f"{out}/lineage").select("chunk").distinct().count()
    assert done >= 1


def test_input_slice_prunes_partitions_and_columns(spark, tmp_path):
    """P7 evidence as a plan assert, not just a PLANS.md note: the
    day-granular bound must reach the scan as PartitionFilters (whole
    day-directories pruned at plan time) and the scan must read ONLY
    url/warc_ts/html — never text/lang."""
    import re

    from credit_ocr_backend_spark.plans.pipeline import _input_slice
    from credit_ocr_backend_spark.sources.pages import write_pages

    pages_dir = str(tmp_path / "pages")
    write_pages(spark, pages_dir, n_docs=100, partitions=4)
    pages = spark.read.parquet(pages_dir)
    df = _input_slice(pages, 16, 0, 16, "2024-06-01", "2024-07-01")
    plan = df._jdf.queryExecution().executedPlan().toString()

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "warc_date" in pf.group(1), plan[:2000]
    assert ">= 2024-06-01" in pf.group(1) and "<= 2024-07-01" in pf.group(1)

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs is not None
    cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert cols == {"url", "warc_ts", "html"}, cols


def test_doc_status_point_lookup(spark, tmp_path):
    """The GET /extraction-status analogue: status for one url read
    from ONLY its owning chunk directory, None for unknown urls."""
    from credit_ocr_backend_spark.plans.pipeline import doc_status
    from credit_ocr_backend_spark.sources.pages import build_page, write_pages

    pages = str(tmp_path / "pages")
    write_pages(spark, pages, n_docs=40, partitions=4)
    out = str(tmp_path / "status_out")
    run_pipeline(spark, pages, out, n_chunks=4, parallelism=4)

    url = build_page(7)["url"]
    st = doc_status(spark, out, url)
    assert st is not None and st["url"] == url
    assert st["status"] == "done" and st["error"] is None
    assert st["chunk"] == st["bucket"] // 16  # 64 buckets / 4 chunks
    assert "finished_at" in st

    assert doc_status(spark, out, "https://never.crawled/x") is None


def test_doc_status_bulk(spark, tmp_path):
    """Bulk status lookup: present urls resolve with the right chunk,
    absent/uncrawled urls are simply missing from the result, and only
    the affected chunk directories are read."""
    from credit_ocr_backend_spark.plans.pipeline import doc_status, doc_status_bulk, run_pipeline
    from credit_ocr_backend_spark.sources.pages import build_page, write_pages

    d = str(tmp_path / "bulk")
    write_pages(spark, f"{d}/pages", n_docs=120, partitions=8)
    run_pipeline(spark, f"{d}/pages", f"{d}/out", n_buckets=16, n_chunks=4)

    urls = [build_page(i)["url"] for i in (0, 7, 33)] + ["u://never-crawled"]
    rows = {r["url"]: r for r in doc_status_bulk(spark, f"{d}/out", urls).collect()}
    assert set(rows) == {build_page(i)["url"] for i in (0, 7, 33)}
    for i in (0, 7, 33):
        u = build_page(i)["url"]
        point = doc_status(spark, f"{d}/out", u)
        assert rows[u]["status"] == point["status"]
        assert rows[u]["bucket"] == point["bucket"]
        assert rows[u]["chunk"] == point["chunk"]


def test_more_chunks_than_buckets(spark, pages_path, tmp_path):
    """n_chunks > n_buckets gives some chunks an EMPTY bucket range
    (lo == hi): those must commit a sentinel lineage row instead of
    crashing the observe() metric build (ADVICE round 4), and the
    docs output must still be complete."""
    out = str(tmp_path / "out")
    res = run_pipeline(
        spark, pages_path, out, n_buckets=2, n_chunks=4, parallelism=4
    )
    assert res.chunks_run == 4
    assert res.n_docs == N_DOCS
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == N_DOCS
    # resume over the finished run skips everything, including the
    # empty-range chunks (their sentinel lineage rows mark them done)
    res2 = run_pipeline(
        spark, pages_path, out, n_buckets=2, n_chunks=4, parallelism=4,
        resume=True,
    )
    assert res2.chunks_run == 0 and res2.chunks_skipped == 4


def test_lookups_ignore_chunk_without_lineage(spark, tmp_path):
    """A chunk directory whose lineage fragment is gone (a crash between
    the writes and the lineage append) is not committed: the point
    lookup returns None for its urls and the bulk lookup returns none
    of its rows."""
    import pyarrow.parquet as pq

    from credit_ocr_backend_spark.plans.pipeline import doc_status, doc_status_bulk

    pages = str(tmp_path / "pages")
    write_pages(spark, pages, n_docs=40, partitions=4)
    out = str(tmp_path / "out")
    run_pipeline(spark, pages, out, n_chunks=4, parallelism=4)

    urls = [build_page(i)["url"] for i in range(40)]
    before = {r["url"]: r["chunk"] for r in doc_status_bulk(spark, out, urls).collect()}
    assert set(before) == set(urls)
    chunk = before[urls[7]]

    lineage_dir = tmp_path / "out" / "lineage"
    fragments = [
        f for f in lineage_dir.glob("*.parquet")
        if chunk in pq.read_table(f, columns=["chunk"]).column("chunk").to_pylist()
    ]
    assert len(fragments) == 1
    fragments[0].unlink()
    assert (tmp_path / "out" / "docs" / f"chunk={chunk:04d}").is_dir()

    assert doc_status(spark, out, urls[7]) is None
    after = {r["url"]: r["chunk"] for r in doc_status_bulk(spark, out, urls).collect()}
    assert chunk not in set(after.values())
    assert after == {u: c for u, c in before.items() if c != chunk}
    other = next(u for u, c in before.items() if c != chunk)
    assert doc_status(spark, out, other)["status"] == "done"


def test_worker_pins_spark_archives_after_engine_stage(spark):
    """Once a task has run an engine stage, its worker re-reads no zip
    directory of an archive outside the SparkFiles root: every such
    zipimporter is pinned, and a task-start invalidate_caches() reads
    none of them."""
    from credit_ocr_backend_spark.operators.stages import make_fused_stage

    fused = make_fused_stage(default_config())

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd
        from pyspark import SparkFiles

        for _ in fused(batches):
            pass
        root = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")

        def outside(archive):
            return not os.path.realpath(archive).startswith(root)

        zips = [
            imp for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter) and outside(imp.archive)
        ]
        unpinned = [imp.archive for imp in zips if "invalidate_caches" not in vars(imp)]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({
            "n_zip": [len(zips)],
            "unpinned": [unpinned],
            "reread": [[a for a in reads if outside(a)]],
        })

    page = build_page(3)
    df = spark.createDataFrame(
        [(page["url"], 0, bytearray(page["html"]))],
        "url string, bucket int, html binary",
    )
    rows = df.mapInPandas(
        probe, "n_zip int, unpinned array<string>, reread array<string>"
    ).collect()
    if sum(r["n_zip"] for r in rows) == 0:
        pytest.skip("Spark's Python workers import from no zip archive here")
    for r in rows:
        assert r["unpinned"] == [] and r["reread"] == []
