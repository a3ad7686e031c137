"""Spark-shell tests: distribution must not change a single byte.

* Spark fused output ≡ pure-core output per url (SURVEY.md §5.2.3)
* the committed docs, and the results rows derived from them, of the
  64 golden pages equal the reference-generated goldens
  (tools/gen_expected_extraction.py)
* resume: a failed chunk re-runs without recomputing committed
  buckets, and the final output equals a clean run (north rule)
* the chunk exchange hashes every page, giants too, on url, and the
  Arrow byte cap bounds the batches the stage receives
"""

from __future__ import annotations

import uuid
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from credit_ocr_backend_spark.core import default_config, process_document  # noqa: E402
from credit_ocr_backend_spark.core.document import dumps_compact  # noqa: E402
from credit_ocr_backend_spark.operators.stages import _field_rows  # noqa: E402
from credit_ocr_backend_spark.plans.pipeline import run_pipeline  # noqa: E402
from credit_ocr_backend_spark.plans.session import get_spark  # noqa: E402
from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager  # noqa: E402
from credit_ocr_backend_spark.sources.pages import build_page, page_url, write_pages  # noqa: E402

N_DOCS = 120
N_GOLDEN = 64  # pages 0..63 are the pages of tests/goldens/expected_*.parquet
GOLDENS = Path(__file__).resolve().parent / "goldens"


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


def _assert_matches_golden(df, name):
    """The golden pages' rows of ``df`` equal the golden table's rows as
    a multiset; a mismatch lists the differing rows, url first."""
    want = pq.read_table(GOLDENS / f"{name}.parquet")
    golden_urls = [page_url(k) for k in range(N_GOLDEN)]
    got = df.where(F.col("url").isin(golden_urls)).select(*want.column_names).collect()
    assert Counter(tuple(r) for r in got) == Counter(
        tuple(r.values()) for r in want.to_pylist()
    )


@pytest.fixture(scope="module")
def fused_out(spark, pages_path, tmp_path_factory):
    """One fused two-chunk run over the 120-page fixture, shared by the
    pure-core and the reference-golden comparisons."""
    out = str(tmp_path_factory.mktemp("fused") / "out")
    res = run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=2)
    assert res.n_docs == N_DOCS
    assert res.n_failed == 0
    return out


def test_fused_matches_pure_core_bytes(spark, fused_out):
    got = _docs_map(spark, fused_out)
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


def test_fused_matches_reference_goldens(spark, fused_out):
    docs = spark.read.parquet(f"{fused_out}/docs").select(
        "url",
        "status",
        F.size("missing_fields").alias("n_missing"),
        F.length("extracted_text").alias("text_len"),
    )
    _assert_matches_golden(docs, "expected_extraction_docs")
    results = CheckpointManager(spark, fused_out).read("results")
    _assert_matches_golden(results, "expected_extraction_results")


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


def test_fresh_run_does_not_inherit_earlier_lineage(spark, pages_path, tmp_path):
    """A fresh run (resume=False) into an out_root that holds a finished
    run of another corpus must not count that run's chunks as committed:
    crash it, resume it, and the output equals a clean run of it."""
    corpus_b = str(tmp_path / "pages_b")
    write_pages(spark, corpus_b, n_docs=N_DOCS // 2, partitions=4)
    out = str(tmp_path / "out")
    keep = tmp_path / "out" / "notes.txt"  # not engine state

    run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=4)  # corpus A
    keep.write_text("kept")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, corpus_b, out, n_buckets=8, n_chunks=4, fail_buckets={4},
        )
    res = run_pipeline(spark, corpus_b, out, n_buckets=8, n_chunks=4, resume=True)
    assert (res.chunks_skipped, res.chunks_run) == (2, 2)
    assert keep.read_text() == "kept"

    clean_out = str(tmp_path / "clean_b")
    run_pipeline(spark, corpus_b, clean_out, n_buckets=8, n_chunks=4)
    clean = _docs_map(spark, clean_out)
    got = _docs_map(spark, out)
    assert set(got) == set(clean)
    for url, row in clean.items():
        assert got[url] == row


def test_results_long_format(spark, pages_path, tmp_path):
    out = str(tmp_path / "long")
    run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=1)
    results = CheckpointManager(spark, out).read("results")
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


def test_input_slice_prunes_partitions_and_columns(spark, tmp_path):
    """P7 evidence as a plan assert, not just a PLANS.md note: the
    day-granular bound must reach the scan as PartitionFilters (whole
    day-directories pruned at plan time) and the scan must read ONLY
    url/warc_ts/html — never text/lang."""
    import re

    from credit_ocr_backend_spark.plans.pipeline import PAGES_SCHEMA, _input_slice
    from credit_ocr_backend_spark.sources.pages import write_pages

    pages_dir = str(tmp_path / "pages")
    write_pages(spark, pages_dir, n_docs=100, partitions=4)
    pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)  # run_pipeline's read
    df = _input_slice(pages, 16, "2024-06-01", "2024-07-01")
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


def _spark_jobs(spark, fn):
    """(fn's result, Spark jobs it submitted), counted from the status
    tracker: jobs of the call's own job group plus ungrouped jobs that
    are new since the call began."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"job-count-{uuid.uuid4().hex[:8]}"  # a group of its own per call
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(group))
    jobs |= set(tracker.getJobIdsForGroup(None)) - before
    return result, len(jobs)


def test_url_bucket_equals_spark_pmod_xxhash64(spark):
    """The driver-side bucket is Spark's pmod(xxhash64(url), B) for
    every B the lookups may meet: corpus urls, the empty string,
    non-ASCII urls and every XXH64 tail length."""
    import random

    from credit_ocr_backend_spark.sources.checkpoint import url_bucket

    rng = random.Random(7)
    alphabet = "az09/:.-_" + "éßø" + "中文字" + "😀🚀"
    urls = [build_page(k)["url"] for k in range(500)]
    urls += ["", "https://bücher.example/straße", "https://例子.测试/路径?q=值"]
    urls += ["x" * n for n in range(41)]  # 0-40 bytes
    urls += ["é" * n for n in range(21)]  # 0-40 bytes, two per char
    urls += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(80))) for _ in range(300)]
    buckets = (1, 4, 16, 64)
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(
            "url",
            *[F.pmod(F.xxhash64("url"), F.lit(b)).cast("int").alias(f"b{b}") for b in buckets],
        )
        .collect()
    )
    assert len(rows) == len(urls)
    for r in rows:
        for b in buckets:
            assert url_bucket(r["url"], b) == r[f"b{b}"], (r["url"], b)


def test_lookups_and_resume_bookkeeping_run_no_spark_job(spark, pages_path, tmp_path):
    from credit_ocr_backend_spark.plans.pipeline import doc_status, doc_status_bulk

    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=4)
    urls = [build_page(k)["url"] for k in range(N_DOCS)]

    ans, jobs = _spark_jobs(spark, lambda: doc_status(spark, out, urls[3]))
    assert ans["status"] == "done" and jobs == 0
    ans, jobs = _spark_jobs(spark, lambda: doc_status(spark, out, "https://never.crawled/x"))
    assert ans is None and jobs == 0
    rows, jobs = _spark_jobs(spark, lambda: doc_status_bulk(spark, out, urls).collect())
    assert len(rows) == N_DOCS and jobs == 0
    rows, jobs = _spark_jobs(spark, lambda: doc_status_bulk(spark, out, ["u://none"]).collect())
    assert rows == [] and jobs == 0
    done, jobs = _spark_jobs(spark, lambda: CheckpointManager(spark, out).done_chunks("extracted"))
    assert done == {0, 1, 2, 3} and jobs == 0


def test_doc_status_bulk_repeated_calls_lose_no_rows(spark, pages_path, tmp_path):
    """Every bulk answer over a chunk of several part files equals a
    Spark read of the docs table, call after call."""
    import random

    from credit_ocr_backend_spark.plans.pipeline import doc_status_bulk

    out = tmp_path / "out"
    run_pipeline(spark, pages_path, str(out), n_buckets=8, n_chunks=1, parallelism=8)
    assert len(list((out / "docs" / "chunk=0000").glob("*.parquet"))) >= 4
    want = {
        r["url"]: (r["bucket"], r["chunk"], r["status"], r["error"], r["proc_ms"])
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    rng = random.Random(11)
    for i in range(24):
        asked = rng.sample(sorted(want), rng.randrange(1, N_DOCS + 1)) + [f"u://missing/{i}"]
        rows = doc_status_bulk(spark, str(out), asked).collect()
        got = {r["url"]: (r["bucket"], r["chunk"], r["status"], r["error"], r["proc_ms"]) for r in rows}
        assert len(rows) == len(got)
        assert got == {u: want[u] for u in asked if u in want}, i


CRASH_CHUNK = 3  # the last of 4 chunks over 8 buckets: buckets 6 and 7


@pytest.fixture(scope="module")
def clean_four_chunks(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean4") / "out")
    run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=4)
    return _docs_map(spark, out)


@pytest.mark.parametrize("window", ["after_docs", "before_lineage"])
def test_crash_window_leaves_chunk_uncommitted(
    spark, pages_path, clean_four_chunks, tmp_path, monkeypatch, window
):
    """A crash in run_chunk between the docs write and the lineage
    append commits nothing: resume bookkeeping, both lookups and the
    results rows ignore the chunk, and a resume recomputes exactly that
    chunk."""
    from credit_ocr_backend_spark.plans.pipeline import doc_status, doc_status_bulk
    from credit_ocr_backend_spark.sources.checkpoint import url_bucket

    real_write, real_append = CheckpointManager.write_chunk, CheckpointManager.append_lineage

    def write_chunk(self, df, name, chunk):
        real_write(self, df, name, chunk)
        if chunk == CRASH_CHUNK and window == "after_docs":
            raise RuntimeError("crash after the docs write")

    def append_lineage(self, stage, chunk, *args):
        if chunk == CRASH_CHUNK and window == "before_lineage":
            raise RuntimeError("crash before the lineage append")
        real_append(self, stage, chunk, *args)

    monkeypatch.setattr(CheckpointManager, "write_chunk", write_chunk)
    monkeypatch.setattr(CheckpointManager, "append_lineage", append_lineage)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="crash"):
        run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=4)
    monkeypatch.undo()

    assert list((tmp_path / "out" / "docs" / f"chunk={CRASH_CHUNK:04d}").glob("*.parquet"))
    assert not (tmp_path / "out" / "results").exists()
    urls = [build_page(k)["url"] for k in range(N_DOCS)]
    crashed = [u for u in urls if url_bucket(u, 8) >= 6]
    assert crashed

    ckpt = CheckpointManager(spark, out)
    assert ckpt.done_chunks("extracted") == {0, 1, 2}
    assert {r["url"] for r in ckpt.read("docs").select("url").collect()} == set(urls) - set(crashed)
    assert all(doc_status(spark, out, u) is None for u in crashed)
    got = {r["url"] for r in doc_status_bulk(spark, out, urls).collect()}
    assert got == set(urls) - set(crashed)
    with_fields = {r["url"] for r in ckpt.read("results").select("url").collect()}
    assert with_fields and not with_fields & set(crashed)

    res = run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=4, resume=True)
    assert (res.chunks_skipped, res.chunks_run) == (3, 1)
    assert set(res.buckets_done) == {6, 7}
    assert _docs_map(spark, out) == clean_four_chunks
    resumed = {r["url"] for r in ckpt.read("results").select("url").collect()}
    assert resumed & set(crashed)
    assert with_fields == resumed - set(crashed)


def _result_rows(spark, out_root):
    """The results rows of a run, chunk left out, as sorted reprs."""
    results = CheckpointManager(spark, out_root).read("results").drop("chunk")
    return sorted(repr(r) for r in results.collect())


def test_results_left_by_older_engine_are_never_read(spark, pages_path, fused_out, tmp_path):
    """Engines before the derived results read wrote a results/chunk=NNNN
    table. A fresh run's reset removes one; a resume never reads a file
    of one, even an unreadable one, and returns the results rows of a
    clean run."""
    out = tmp_path / "out"

    def plant_stale_results():
        for chunk in (0, 3):  # a chunk the resume skips, one it computes
            stale = out / "results" / f"chunk={chunk:04d}"
            stale.mkdir(parents=True)
            (stale / "part-00000-stale.parquet").write_bytes(b"not a parquet file")

    plant_stale_results()
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, pages_path, str(out), n_buckets=8, n_chunks=4, fail_buckets={4})
    assert not (out / "results").exists()

    plant_stale_results()
    res = run_pipeline(spark, pages_path, str(out), n_buckets=8, n_chunks=4, resume=True)
    assert (res.chunks_skipped, res.chunks_run) == (2, 2)
    assert _result_rows(spark, str(out)) == _result_rows(spark, fused_out)


def _skew_rows(n_bulk_urls=200, n_giants=5, giant_bytes=None):
    """Rows (url, html, bucket) for the exchange tests: bulk urls that
    all share bucket 5 of 64, ``n_giants`` giant pages, and one NULL
    html row."""
    from credit_ocr_backend_spark.plans.pipeline import GIANT_HTML_BYTES
    from credit_ocr_backend_spark.sources.checkpoint import url_bucket

    giant = b"g" * (giant_bytes or GIANT_HTML_BYTES + 1)
    bulk = [u for u in (f"https://skew.example/{i}" for i in range(20000))
            if url_bucket(u, 64) == 5][:n_bulk_urls]
    rows = [(u, bytearray(b"<p>x</p>"), 5) for u in bulk]
    rows += [(f"https://giant.example/{i}", bytearray(giant), 1) for i in range(n_giants)]
    rows.append(("https://null.example/doc", None, 2))
    return bulk, rows


@pytest.mark.parametrize("est_rows", [100, None])  # waves 1, waves 4 at par 4
def test_defuse_skew_hashes_every_row_on_url(spark, est_rows):
    """After AQE, the exchange has exactly par·waves partitions and each
    row, giant or not, lands in partition pmod(hash(url), par·waves);
    urls that all share one bucket still reach every partition (the url
    hash is not the bucket's); and a NULL html row reaches the stage,
    which records it as failed."""
    from pyspark import TaskContext

    from credit_ocr_backend_spark.operators.stages import EXTRACTED_SCHEMA, make_fused_stage
    from credit_ocr_backend_spark.plans.pipeline import _defuse_skew, _effective_waves

    par = 4
    n = par * _effective_waves(par, est_rows)
    assert (n > par) == (est_rows is None)
    bulk, rows = _skew_rows()
    df = spark.createDataFrame(rows, "url string, html binary, bucket int").repartition(3)

    def probe(batches):
        import pandas as pd

        pid = TaskContext.get().partitionId()
        urls = [u for pdf in batches for u in pdf["url"]]
        yield pd.DataFrame({"pid": [pid] * (len(urls) + 1), "url": [None] + urls})

    got = _defuse_skew(df, par, est_rows).mapInPandas(probe, "pid int, url string").collect()
    assert sorted({r["pid"] for r in got}) == list(range(n))
    placed = {r["url"]: r["pid"] for r in got if r["url"] is not None}
    want = {
        r["url"]: r["pid"]
        for r in df.select("url", F.pmod(F.hash("url"), F.lit(n)).alias("pid")).collect()
    }
    assert placed == want and len(placed) == len(rows)
    assert {placed[u] for u in bulk} == set(range(n))

    stage = make_fused_stage(default_config())
    out = _defuse_skew(df, par, est_rows).mapInPandas(stage, schema=EXTRACTED_SCHEMA)
    null_row = out.where(F.col("url") == "https://null.example/doc").collect()
    assert len(null_row) == 1 and null_row[0]["status"] == "failed", null_row


def test_sessions_cap_arrow_batch_bytes(spark):
    """A get_spark session caps Arrow batches at ARROW_BATCH_ROWS pages
    of GIANT_HTML_BYTES (jobs/extract_job.py's session: see
    tests/test_submit_packaging.py)."""
    from credit_ocr_backend_spark.plans.session import ARROW_BATCH_ROWS, GIANT_HTML_BYTES

    cap = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    assert cap == str(ARROW_BATCH_ROWS * GIANT_HTML_BYTES) == str(128 << 20)


def test_arrow_byte_cap_bounds_batches_of_giants(spark):
    """Giants hashed through the real exchange into mapInPandas arrive in
    batches of at most the byte cap plus one document of html, although
    a partition holds several times the cap. Fails if Spark ignores the
    cap key."""
    from pyspark import TaskContext

    from credit_ocr_backend_spark.plans.pipeline import _defuse_skew

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    doc, cap = 40_000, 100_000
    _, rows = _skew_rows(n_bulk_urls=40, n_giants=48, giant_bytes=doc)
    df = spark.createDataFrame(rows, "url string, html binary, bucket int").repartition(3)

    def probe(batches):
        import pandas as pd

        pid = TaskContext.get().partitionId()
        sizes = [sum(len(h) for h in pdf["html"] if h is not None) for pdf in batches]
        yield pd.DataFrame({"pid": [pid] * len(sizes), "html_bytes": sizes})

    saved = spark.conf.get(key)
    spark.conf.set(key, str(cap))
    try:
        got = _defuse_skew(df, 4, 100).mapInPandas(probe, "pid int, html_bytes long").collect()
    finally:
        spark.conf.set(key, saved)
    per_partition = Counter()
    for r in got:
        per_partition[r["pid"]] += r["html_bytes"]
        assert r["html_bytes"] <= cap + doc, r
    assert sum(per_partition.values()) == 48 * doc + 40 * len(b"<p>x</p>")
    assert max(per_partition.values()) > 3 * (cap + doc), per_partition


def test_lineage_counts_equal_committed_docs(spark, pages_path, tmp_path):
    """Every chunk's per-bucket lineage n_docs, n_failed and cpu_ms
    equal an aggregate of its committed docs, exactly: the sums are
    taken over the part files in path order, row after row."""
    out = tmp_path / "out"
    res = run_pipeline(spark, pages_path, str(out), n_buckets=8, n_chunks=4)
    assert res.chunks_run == 4 and res.n_docs == N_DOCS
    ckpt = CheckpointManager(spark, str(out))
    for chunk in range(4):
        want = {}
        for part in sorted((out / "docs" / f"chunk={chunk:04d}").glob("*.parquet")):
            for d in pq.read_table(part, columns=["bucket", "status", "proc_ms"]).to_pylist():
                n, f, c = want.get(d["bucket"], (0, 0, 0.0))
                want[d["bucket"]] = (n + 1, f + (d["status"] == "failed"), c + d["proc_ms"])
        lineage = ckpt.read_lineage("extracted", chunk).to_pylist()
        got = {r["bucket"]: (r["n_docs"], r["n_failed"], r["cpu_ms"]) for r in lineage}
        assert got == want and want, chunk


def _job_descriptions(sc) -> dict:
    """Job id → job description of every job Spark's status store holds."""
    jobs = sc._jsc.sc().statusStore().jobsList(None).iterator()
    out = {}
    while jobs.hasNext():
        job = jobs.next()
        description = job.description()
        out[job.jobId()] = description.get() if description.isDefined() else None
    return out


def test_chunk_runs_two_named_jobs(spark, pages_path, tmp_path):
    """A computed chunk submits 2 Spark jobs, the exchange and the heavy
    stage feeding the docs write, both under the one name of the
    chunk's write; a resume with nothing left submits none. The
    caller's job description is restored afterwards."""
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    before = set(_job_descriptions(sc))
    sc.setLocalProperty("spark.job.description", "caller's description")
    try:
        run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=2)
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    names = {d for job, d in _job_descriptions(sc).items() if job not in before}
    assert sorted(names) == [
        "chunk 0 · heavy stage + docs write", "chunk 1 · heavy stage + docs write",
    ]

    _, jobs = _spark_jobs(
        spark, lambda: run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=2)
    )
    assert jobs == 4
    _, jobs = _spark_jobs(
        spark, lambda: run_pipeline(spark, pages_path, out, n_buckets=8, n_chunks=2, resume=True)
    )
    assert jobs == 0


def test_docs_files_one_per_exchange_partition(spark, tmp_path):
    """The docs write runs at the exchange's width: with 6 giant pages
    among 80 bulk ones at parallelism 4 a chunk holds at most par·waves
    part files, and every page is committed exactly once."""
    from credit_ocr_backend_spark.plans.pipeline import GIANT_HTML_BYTES, _effective_waves
    from credit_ocr_backend_spark.sources.pages import GIANT_MOD

    keys = list(range(80)) + [17 + GIANT_MOD * i for i in range(1, 6)]
    pages = [build_page(k) for k in keys]
    assert sum(len(p["html"]) > GIANT_HTML_BYTES for p in pages) == 6
    path = str(tmp_path / "pages")
    spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"]) for p in pages],
        "url string, warc_ts timestamp, html binary",
    ).withColumn("warc_date", F.to_date("warc_ts")).write.partitionBy("warc_date").parquet(path)

    par, n_buckets, n_chunks = 4, 8, 2
    out = tmp_path / "out"
    run_pipeline(spark, path, str(out), n_buckets=n_buckets, n_chunks=n_chunks, parallelism=par)
    est_rows = len(keys) * (n_buckets // n_chunks) // n_buckets  # run_pipeline's estimate
    max_files = par * _effective_waves(par, est_rows)
    committed = Counter()
    for chunk in range(n_chunks):
        files = sorted((out / "docs" / f"chunk={chunk:04d}").glob("*.parquet"))
        assert 0 < len(files) <= max_files, chunk
        for part in files:
            committed.update(pq.read_table(part, columns=["url"]).column("url").to_pylist())
    assert committed == Counter(p["url"] for p in pages)
