"""End-to-end failure semantics: per-document failure isolation (the
reference's handle_extraction_error analogue) and empty-chunk resume."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from credit_ocr_backend_spark.plans.pipeline import run_pipeline  # noqa: E402
from credit_ocr_backend_spark.plans.session import get_spark  # noqa: E402
from credit_ocr_backend_spark.sources.pages import build_page  # noqa: E402

# A layout-words payload with explicit-null confidences: line confidence
# becomes None, and the geometric pairing pass hits the reference's
# min(None, ...) TypeError (preserved quirk) → the document must fail in
# isolation, not the job.
_POISON_HTML = (
    '<html><body><main><script type="application/x-layout-words">'
    '[{"t": "Firmenname", "p": 1, "x": 0.5, "y": 1.0, "w": 0.5, "h": 0.01, "c": null},'
    ' {"t": "DemoTech", "p": 1, "x": 3.0, "y": 1.01, "w": 0.4, "h": 0.01, "c": null}]'
    "</script></main></body></html>"
).encode("utf-8")


@pytest.fixture(scope="module")
def spark():
    return get_spark("failure-tests", parallelism=4)


def _write_mixed_corpus(spark, path: str) -> None:
    rows = []
    for k in range(20):
        p = build_page(k)
        rows.append((p["url"], p["warc_ts"], p["html"], "", p["lang"]))
    rows.append(("https://poison.example/doc/x", build_page(0)["warc_ts"], _POISON_HTML, "", "de"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("warc_date", F.to_date("warc_ts"))
    df.write.mode("overwrite").partitionBy("warc_date").parquet(path)


def test_poison_document_fails_in_isolation(spark, tmp_path):
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    pages = str(tmp_path / "pages")
    _write_mixed_corpus(spark, pages)
    out = str(tmp_path / "out")
    res = run_pipeline(spark, pages, out, n_buckets=4, n_chunks=1)
    assert res.n_docs == 21
    assert res.n_failed == 1

    docs = spark.read.parquet(f"{out}/docs")
    poison = docs.where(F.col("url") == "https://poison.example/doc/x").collect()[0]
    assert poison["status"] == "failed"
    assert "TypeError" in poison["error"]
    # healthy docs unaffected
    assert docs.where(F.col("status") == "done").count() == 20
    # lineage accounts for the failure
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("n_failed")).collect()[0][0] == 1
    # failed docs contribute no field rows
    results = CheckpointManager(spark, out).read("results")
    assert results.where(F.col("url") == "https://poison.example/doc/x").count() == 0


def test_empty_chunk_is_resumable(spark, tmp_path):
    pages = str(tmp_path / "pages2")
    _write_mixed_corpus(spark, pages)
    out = str(tmp_path / "out2")
    # Prune everything out: empty chunks must still commit lineage...
    res1 = run_pipeline(
        spark, pages, out, n_buckets=4, n_chunks=2,
        ts_min="2030-01-01", ts_max="2030-01-02",
    )
    assert res1.n_docs == 0 and res1.chunks_run == 2
    # ...so a resume run skips them instead of re-running no-ops forever.
    res2 = run_pipeline(
        spark, pages, out, n_buckets=4, n_chunks=2, resume=True,
        ts_min="2030-01-01", ts_max="2030-01-02",
    )
    assert res2.chunks_skipped == 2 and res2.chunks_run == 0


def test_resume_refuses_mismatched_parameters(spark, tmp_path):
    """Chunk identity = (n_buckets, n_chunks, ts window); resuming under
    different values must fail fast, not silently skip chunk ids whose
    bucket ranges changed (ADVICE round 1). A manifest that still holds
    the ``mode`` key, as versions with a staged mode wrote it, is a
    mismatch too: there is no migration."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    pages = str(tmp_path / "pages3")
    _write_mixed_corpus(spark, pages)
    out = str(tmp_path / "out3")
    run_pipeline(spark, pages, out, n_buckets=4, n_chunks=2)
    with pytest.raises(ValueError, match="resume parameter mismatch"):
        run_pipeline(spark, pages, out, n_buckets=8, n_chunks=2, resume=True)
    # matching parameters resume fine
    res = run_pipeline(spark, pages, out, n_buckets=4, n_chunks=2, resume=True)
    assert res.chunks_skipped == 2 and res.chunks_run == 0

    mgr = CheckpointManager(spark, out)
    manifest = mgr.read_manifest()
    assert "mode" not in manifest
    mgr.write_manifest({**manifest, "mode": "fused"})
    with pytest.raises(ValueError, match="resume parameter mismatch") as ei:
        run_pipeline(spark, pages, out, n_buckets=4, n_chunks=2, resume=True)
    assert "'mode'" in str(ei.value)


def test_object_store_out_root_fail_fast_without_connector(spark, tmp_path):
    """Metadata I/O is scheme-generic (Hadoop FileSystem), but a scheme
    with no loadable implementation on the classpath must still fail
    fast at construction — never silently split resume state from
    data. This sandbox has no s3 connector jars, so s3:// exercises
    exactly that path."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    with pytest.raises(ValueError, match="no usable Hadoop FileSystem"):
        CheckpointManager(spark, "s3://bucket/extract")


def test_arrow_reader_opens_local_roots_and_names_unknown_schemes(monkeypatch):
    """The pyarrow side of the checkpoint reads: plain paths and every
    file: spelling are local, s3a:// is opened as pyarrow's s3://, and
    a scheme pyarrow cannot open is a ValueError naming the scheme."""
    import os

    from pyarrow import fs as pafs

    from credit_ocr_backend_spark.sources.checkpoint import _arrow_fs

    for root in ("/tmp/ckpt", "file:/tmp/ckpt", "file:///tmp/ckpt"):
        fs, path = _arrow_fs(root)
        assert isinstance(fs, pafs.LocalFileSystem) and path == "/tmp/ckpt", root
    assert _arrow_fs("rel/ckpt")[1] == os.path.abspath("rel/ckpt")

    with pytest.raises(ValueError, match="'nosuch://' scheme"):
        _arrow_fs("nosuch://bucket/extract")

    opened = []

    class Opener:
        @staticmethod
        def from_uri(uri):
            opened.append(uri)
            return None, ""

    monkeypatch.setattr(pafs, "FileSystem", Opener)  # no store is contacted
    _arrow_fs("s3a://bucket/extract")
    assert opened == ["s3://bucket/extract"]


def test_checkpoint_file_scheme_roundtrip(spark, tmp_path):
    """One CheckpointManager on an explicit file:// scheme URI (the
    route an hdfs:// or s3a:// out_root takes): manifest
    write/read/check, lineage append + done_chunks, Spark's and
    pyarrow's lineage readers agreeing on the fragments pyarrow wrote,
    and a chunk write/read round trip."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, f"file://{tmp_path}/ckpt")
    assert mgr.root == f"file://{tmp_path}/ckpt"

    params = {"n_buckets": 4, "n_chunks": 2, "mode": "test"}
    mgr.write_manifest(params)
    assert mgr.read_manifest() == params
    mgr.check_manifest(params)  # same params: ok
    with pytest.raises(ValueError, match="parameter mismatch"):
        mgr.check_manifest({**params, "n_buckets": 8})

    mgr.append_lineage("extracted", 0, [{"bucket": 0, "n_docs": 3, "n_failed": 0, "cpu_ms": 1.0}], 10, "runA")
    mgr.append_lineage("extracted", 1, [], 5, "runA")  # empty-chunk sentinel
    assert mgr.done_chunks("extracted") == {0, 1}
    assert -1 in mgr.read_lineage("extracted", columns=["bucket"]).column("bucket").to_pylist()

    def key(row):
        return (row["chunk"], row["bucket"], row["n_docs"], row["run_id"])

    via_spark = sorted(key(r.asDict()) for r in mgr.lineage().collect())
    via_arrow = sorted(key(r) for r in mgr.read_lineage().to_pylist())
    assert via_spark == via_arrow == [(0, 0, 3, "runA"), (1, -1, 0, "runA")]

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    mgr.write_chunk(base, "docs", 0)
    got = {r["k"]: r["v"] for r in mgr.read_chunk_arrow("docs", 0, ["k", "v"]).to_pylist()}
    assert got == {1: "a", 2: "b"}


def test_unopenable_arrow_root_fails_at_construction(spark, tmp_path, monkeypatch):
    """A root Hadoop opens but pyarrow cannot (e.g. hdfs:// without
    libhdfs) is refused when the manager is built, before anything is
    written — not at the first resume or lookup."""
    from credit_ocr_backend_spark.sources import checkpoint

    def no_arrow_fs(root):
        raise ValueError(f"out_root '{root}': pyarrow cannot open it")

    monkeypatch.setattr(checkpoint, "_arrow_fs", no_arrow_fs)  # no store is contacted
    root = tmp_path / "unopenable"
    with pytest.raises(ValueError, match="pyarrow cannot open"):
        checkpoint.CheckpointManager(spark, str(root))
    assert not root.exists()


def test_null_html_recorded_as_failed(spark, tmp_path):
    """A NULL html row must reach the stage and land as status=failed in
    docs + lineage — not vanish from the accounting (ADVICE round 1:
    any length(html) predicate is NULL for it)."""
    pages = str(tmp_path / "pages4")
    rows = []
    for k in range(4):
        p = build_page(k)
        rows.append((p["url"], p["warc_ts"], p["html"], "", p["lang"]))
    rows.append(("https://null.example/doc", build_page(0)["warc_ts"], None, "", "de"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("warc_date", F.to_date("warc_ts"))
    df.write.mode("overwrite").partitionBy("warc_date").parquet(pages)

    out = str(tmp_path / "out4")
    res = run_pipeline(spark, pages, out, n_buckets=2, n_chunks=1)
    assert res.n_docs == 5 and res.n_failed == 1
    docs = spark.read.parquet(f"{out}/docs")
    row = docs.where(F.col("url") == "https://null.example/doc").collect()[0]
    assert row["status"] == "failed" and "null html" in row["error"]


def test_ts_bounds_are_timestamp_precise(spark, tmp_path):
    """A mid-day ts_max must include that day's partition but cut rows
    at the exact timestamp (round-1 behavior excluded the whole day)."""
    pages = str(tmp_path / "pages5")
    base = build_page(0)["warc_ts"]
    day = base.strftime("%Y-%m-%d")
    rows = []
    for k, hour in enumerate([3, 9, 15, 21]):
        p = build_page(k)
        ts = base.replace(hour=hour, minute=0, second=0)
        rows.append((p["url"], ts, p["html"], "", p["lang"]))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("warc_date", F.to_date("warc_ts"))
    df.write.mode("overwrite").partitionBy("warc_date").parquet(pages)

    out = str(tmp_path / "out5")
    res = run_pipeline(
        spark, pages, out, n_buckets=2, n_chunks=1,
        ts_min=f"{day}T06:00:00", ts_max=f"{day}T18:00:00",
    )
    docs = spark.read.parquet(f"{out}/docs")
    assert res.n_docs == 2 == docs.count()  # 09:00 and 15:00 only


def test_malformed_ts_bound_fails_fast(spark, tmp_path):
    """ADVICE round 2: a bound to_timestamp can't parse must raise at
    submit time — never NULL out the predicate and commit empty chunks
    as done. Coarse bounds (YYYY-MM / YYYY) are padded, not rejected."""
    pages = str(tmp_path / "pages_ts")
    p = build_page(0)
    spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], "", p["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("warc_date", F.date_format("warc_ts", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("warc_date").parquet(pages)

    with pytest.raises(ValueError, match="does not parse as a timestamp"):
        run_pipeline(
            spark, pages, str(tmp_path / "o_bad"), n_buckets=2, n_chunks=1,
            ts_min="not-a-date",
        )

    # coarse month bound: padded to the month's first instant, still runs
    res = run_pipeline(
        spark, pages, str(tmp_path / "o_coarse"), n_buckets=2, n_chunks=1,
        ts_min="2020-01", ts_max="2030-01",
    )
    assert res.n_docs == 1


def test_manifest_crash_window_recovery(spark, tmp_path):
    """A crash between write_manifest's delete and rename strands a
    complete .tmp while the manifest is gone; read_manifest must finish
    the swap instead of mistaking the committed run for a fresh one
    (which would silently re-enable parameter drift)."""
    import json
    import os

    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    root = str(tmp_path / "mrec")
    mgr = CheckpointManager(spark, root)
    params = {"n_buckets": 4, "n_chunks": 2, "mode": "test"}
    mgr.write_manifest(params)

    # simulate the window: tmp fully written, manifest deleted
    local = os.path.join(root, "run_manifest.json")
    with open(local + ".tmp", "w") as f:
        json.dump(params, f)
    os.remove(local)
    assert mgr.read_manifest() == params  # recovered from .tmp
    assert os.path.exists(local) and not os.path.exists(local + ".tmp")

    # a corrupt .tmp (crash DURING the tmp write, nothing committed)
    # is dropped, not adopted
    os.remove(local)
    with open(local + ".tmp", "w") as f:
        f.write("{truncated")
    assert mgr.read_manifest() is None
    assert not os.path.exists(local + ".tmp")


def test_lineage_without_manifest_refuses_resume(spark, tmp_path):
    """Committed lineage with no manifest means the committed chunk
    identity is unknowable — check_manifest must refuse instead of
    adopting the caller's current parameters."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "orphan"))
    mgr.append_lineage(
        "extracted", 0, [{"bucket": 0, "n_docs": 1, "n_failed": 0, "cpu_ms": 1.0}], 10, "runX"
    )
    with pytest.raises(ValueError, match="no run manifest"):
        mgr.check_manifest({"n_buckets": 4})


def test_lineage_fragment_upload_is_atomic(spark, tmp_path):
    """Fragments are uploaded under a .tmp name and renamed into place:
    no final-named partial file can exist, and stranded .tmp debris from
    a crashed upload is invisible to lineage readers."""
    import os

    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    root = str(tmp_path / "atomic")
    mgr = CheckpointManager(spark, root)
    mgr.append_lineage(
        "extracted", 0, [{"bucket": 0, "n_docs": 1, "n_failed": 0, "cpu_ms": 1.0}], 10, "runY"
    )
    names = os.listdir(os.path.join(root, "lineage"))
    assert all(n.endswith(".parquet") for n in names if not n.startswith(".")), names

    # a truncated upload (crash mid-copy) only ever exists under .tmp —
    # readers must keep working with the debris present
    with open(os.path.join(root, "lineage", "part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"PAR1garbage")
    assert mgr.done_chunks("extracted") == {0}


def test_resume_refuses_raw_ts_spelling_in_manifest(spark, tmp_path):
    """The manifest pins the canonical ts bound; a manifest holding a
    raw spelling of the same instant is a parameter mismatch, not
    rewritten in place."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager
    from credit_ocr_backend_spark.sources.pages import write_pages

    pages = str(tmp_path / "pages")
    write_pages(spark, pages, n_docs=20, partitions=2)
    out = str(tmp_path / "raw")
    run_pipeline(spark, pages, out, n_chunks=1, parallelism=2, ts_min="2024-01-01")

    mgr = CheckpointManager(spark, out)
    m = mgr.read_manifest()
    assert m["ts_min"] == "2024-01-01 00:00:00"
    m["ts_min"] = "2024-01-01"
    mgr.write_manifest(m)

    with pytest.raises(ValueError, match="parameter mismatch"):
        run_pipeline(
            spark, pages, out, n_chunks=1, parallelism=2,
            ts_min="2024-01-01", resume=True,
        )
    assert mgr.read_manifest()["ts_min"] == "2024-01-01"


@pytest.mark.parametrize("case", ["no_html", "no_warc_date_partition", "html_as_string"])
def test_pages_table_off_the_declared_schema_fails_fast(spark, tmp_path, case):
    """The engine reads the pages with a declared schema, which would
    turn a missing column into NULLs: a table without html would commit
    every document as failed, one without a warc_date partition would
    commit nothing under a ts window. The run raises before anything is
    written instead, naming the column."""
    import os

    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    rows = []
    for k in range(2):
        p = build_page(k)
        rows.append((p["url"], p["warc_ts"], p["html"], p["html"].decode("utf-8")))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string"
    ).withColumn("warc_date", F.to_date("warc_ts"))
    pages = str(tmp_path / "pages")
    if case == "no_html":
        df.drop("html").write.partitionBy("warc_date").parquet(pages)
        column = "html"
    elif case == "no_warc_date_partition":
        df.drop("warc_date").write.parquet(pages)
        column = "warc_date"
    else:
        df.drop("html").withColumnRenamed("text", "html").write.partitionBy(
            "warc_date"
        ).parquet(pages)
        column = "html"

    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match=f"pages column '{column}'"):
        run_pipeline(
            spark, pages, out, n_buckets=2, n_chunks=1,
            ts_min="2020-01-01" if case == "no_warc_date_partition" else None,
        )
    assert not os.path.exists(out)
    assert CheckpointManager(spark, out).done_chunks("extracted") == set()


_RETRY_SCRIPT = r"""
import json, sys

from pyspark import TaskContext

import credit_ocr_backend_spark.plans.pipeline as pipeline
from credit_ocr_backend_spark.plans.session import get_spark
from credit_ocr_backend_spark.sources.pages import write_pages

pages, out = sys.argv[1], sys.argv[2]
spark = get_spark("task-retry", parallelism=4, extra_conf={"spark.master": "local[4,2]"})
write_pages(spark, pages, n_docs=60, partitions=4)
real_stage = pipeline.make_fused_stage


def failing_first_attempt(cfg):
    fused = real_stage(cfg)

    def stage(batches):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure")
        yield from fused(batches)

    return stage


pipeline.make_fused_stage = failing_first_attempt
res = pipeline.run_pipeline(spark, pages, out, n_buckets=8, n_chunks=1)
sc = spark.sparkContext
sc._jsc.sc().listenerBus().waitUntilEmpty()
failed, tracker, jobs = {}, sc.statusTracker(), sc._jsc.sc().statusStore().jobsList(None).iterator()
while jobs.hasNext():
    job = jobs.next()
    for sid in tracker.getJobInfo(job.jobId()).stageIds:
        if tracker.getStageInfo(sid).numFailedTasks:
            failed[sid] = [job.description().get(), tracker.getStageInfo(sid).numFailedTasks]
failed = list(failed.values())
print(json.dumps({"n_docs": res.n_docs, "n_failed": res.n_failed, "failed_stages": failed}))
spark.stop()
"""


def test_task_retry_commits_each_document_once(spark, tmp_path):
    """The fused stage's first attempt of one task fails on local[4,2],
    which allows one retry. The run, in a fresh process since
    getOrCreate would reuse this module's session and master, must
    still commit every document once: the docs and the results rows
    derived from them hold each url once, the lineage counts equal the
    committed docs, and both lookups agree."""
    import json
    import os
    import subprocess
    import sys
    from collections import Counter

    import pyarrow.parquet as pq

    from credit_ocr_backend_spark.plans.pipeline import doc_status, doc_status_bulk
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    env = {**os.environ, "PYTHONPATH": repo}
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, pages, out],
        capture_output=True, text=True, cwd=repo, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    got = json.loads([line for line in r.stdout.splitlines() if line.startswith("{")][-1])
    assert (got["n_docs"], got["n_failed"]) == (60, 0)
    assert got["failed_stages"] == [["chunk 0 · heavy stage + docs write", 1]]

    docs = pq.read_table(f"{out}/docs").to_pylist()
    urls = Counter(d["url"] for d in docs)
    assert len(urls) == 60 and set(urls.values()) == {1}
    want = Counter()
    for d in docs:
        want[d["url"]] += len(json.loads(d["fields_json"]))
    ckpt = CheckpointManager(spark, out)
    results = Counter(row["url"] for row in ckpt.read("results").select("url").collect())
    assert results == +want

    lineage = ckpt.read_lineage("extracted").to_pylist()
    per_bucket = Counter(d["bucket"] for d in docs)
    assert {r["bucket"]: r["n_docs"] for r in lineage} == dict(per_bucket)

    bulk = {r["url"]: r.asDict() for r in doc_status_bulk(spark, out, list(urls)).collect()}
    assert set(bulk) == set(urls)
    for url in list(urls)[::7]:
        point = doc_status(spark, out, url)
        assert {k: point[k] for k in bulk[url]} == bulk[url]
