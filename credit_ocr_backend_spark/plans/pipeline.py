"""The end-to-end extraction pipeline (the engine's flagship job).

Logical plan, all declarative until the Arrow-batched stage. The
first three steps are planned once per run, the rest once per chunk:

    pages (parquet/Iceberg, read with the declared PAGES_SCHEMA)
      → filter warc_date / warc_ts range        # partition pruning
      → bucket = pmod(xxhash64(url), B)         # stable chunk/lineage key
      → keep buckets of this chunk (resume skips committed chunks)
      → one exchange: pmod(hash(url), par·waves) # skew defuse
      → fused Arrow UDF stage, batches ≤ 4096   # core semantics
        rows and ≤ 128 MiB
      → docs → chunk=NNNN, at the exchange's    # idempotent per-chunk
        width                                   # overwrite
      → lineage counted from the committed docs, appended (commit point)

The docs are the only table written. The long-format results rows
(``ExtrahierteDaten``) are ``explode_outer(from_json(fields_json))`` of
the committed docs, so ``CheckpointManager.read("results")`` derives
them on read instead of a second write storing them.

A computed chunk runs 2 Spark jobs: the exchange and the fused stage
feeding the docs write. The schema is declared, and on a local pages
directory the input check, the row estimate, the lineage counts and
resume bookkeeping read parquet with pyarrow. Two paths still submit a
job outside the chunks: ``_checked_ts`` runs one
``SELECT try_to_timestamp(?)`` per time bound given, and
``_check_pages`` on a non-local pages path (hdfs://, s3a://) reads it
with an inferred schema and counts it.

Commit design: the unit of recovery is a **chunk** = contiguous range
of url-hash buckets, written as one ``chunk=NNNN`` partition directory
with plain overwrite — re-running a chunk is idempotent, committed
chunks are never recomputed (the reference's ``overwrite=True`` blob
semantics, /root/reference/src/creditsystem/storage.py:152, coarsened
to a unit that makes sense at 10^12 rows). The bucket column stays on
every row for lineage metrics and finer-grained reprocessing.

Two partitioning decisions worth reading twice (measured, not guessed):

* processing parallelism uses a **row-level** url hash, NOT the bucket
  id — partitioning 64 buckets into 64 hash partitions is balls-in-bins
  (some tasks get 3-4 buckets → 4× stragglers, ~50% idle cores at
  32-way);
* outputs are directory-partitioned by **chunk**, not bucket —
  per-bucket partitionBy writes either tasks×buckets sliver files or
  an extra full shuffle; per-chunk directories give one file per task
  and per-chunk atomic overwrite.

The docs write is not coalesced, so a chunk holds at most one part
file per exchange partition, ``par·waves`` at parallelism ``par``.
``_effective_waves`` keeps ``waves ≤ 16``, and above 1 only while each
task keeps at least ``_MIN_DOCS_PER_TASK`` docs: at corpus scale
(``par`` 256, 16 waves) a chunk holds at most 4 096 docs files.

Scale notes (100 TB / 10^12 rows):
* the html column is only read by the fused stage, whose output
  carries no html (column pruning keeps the heavy bytes out of later
  scans);
* a failed chunk re-runs alone; on Iceberg the pages table would be
  bucket(url, B)-partitioned so each chunk's input scan prunes at the
  file level instead of re-filtering the full table;
* giant documents (heavy right tail of html size) are hashed on url
  like every page, so a skewed corpus's giants spread over all
  ``par·waves`` tasks of the one wave instead of queueing behind it
  (``_defuse_skew``); the Arrow byte cap in ``ENGINE_CONF`` bounds the
  memory of a batch that holds several of them.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from credit_ocr_backend_spark.core.config import DocumentTypeConfig, default_config
from credit_ocr_backend_spark.operators.stages import EXTRACTED_SCHEMA, make_fused_stage
from credit_ocr_backend_spark.plans.session import GIANT_HTML_BYTES  # noqa: F401 (extractbench)
from credit_ocr_backend_spark.sources.checkpoint import (
    CheckpointManager,
    new_run_id,
    url_bucket,
    with_bucket,
)

# The columns the engine reads from the pages table. Declaring them
# spares every run Spark's schema-inference job; a declared read turns
# a missing column into NULLs, so _check_pages verifies them first.
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, warc_date string"
_PAGES_KINDS = {"url": "string", "warc_ts": "timestamp", "html": "binary"}


@dataclass
class PipelineResult:
    out_root: str
    n_docs: int = 0
    n_failed: int = 0
    chunks_run: int = 0
    chunks_skipped: int = 0
    wall_sec: float = 0.0
    buckets_done: List[int] = field(default_factory=list)

    @property
    def docs_per_sec(self) -> float:
        return self.n_docs / self.wall_sec if self.wall_sec else 0.0


def _checked_ts(spark: SparkSession, bound: str, name: str) -> str:
    """Normalize/validate a time bound before it reaches to_timestamp.

    Coarse bounds are padded to full timestamps with the semantics a
    string-prefix compare used to give: '2025-01' → '2025-01-01
    00:00:00'. Anything to_timestamp still can't parse fails FAST
    instead of NULLing every predicate and committing empty chunks.

    Returns the CANONICAL form (the parsed timestamp rendered back as
    'YYYY-MM-DD HH:MM:SS[.ffffff]'), so every spelling of the same
    instant — '2024', '2024-01-01', '2024-01-01T00:00:00' — pins the
    identical value into the run manifest and resumes cleanly."""
    b = bound.strip()
    if len(b) == 7 and b[4] == "-":  # YYYY-MM
        b = b + "-01"
    if len(b) == 4 and b.isdigit():  # YYYY
        b = b + "-01-01"
    # try_to_timestamp: NULL on malformed input even under ANSI mode
    # (plain to_timestamp would throw mid-job instead, losing the
    # actionable message; non-ANSI sessions would silently NULL).
    parsed = spark.sql(
        "SELECT try_to_timestamp(?) AS t", args=[b]
    ).first()["t"]
    if parsed is None:
        raise ValueError(
            f"{name}={bound!r} does not parse as a timestamp — the "
            f"predicate would evaluate NULL for every row and the run "
            f"would commit empty chunks as done. Use YYYY[-MM[-DD"
            f"[ HH:MM[:SS]]]]."
        )
    canon = parsed.strftime("%Y-%m-%d %H:%M:%S")
    if parsed.microsecond:
        canon += f".{parsed.microsecond:06d}"
    return canon


def _input_slice(
    pages: DataFrame,
    n_buckets: int,
    ts_min: Optional[str],
    ts_max: Optional[str],
) -> DataFrame:
    """Projection + pruning + bucketing, planned once per run; each
    chunk keeps its buckets of it. Only url/html/bucket survive —
    everything else is pruned before the heavy stage."""
    df = pages
    # Two-level time filter: a day-granular predicate on the physical
    # partition column warc_date (prunes whole day-directories at plan
    # time) PLUS the exact timestamp predicate on warc_ts — so bounds
    # like '2025-01-10T12:00' keep Jan 10's partition but cut rows at
    # the exact timestamp instead of silently coarsening to whole days.
    # Bounds arrive pre-validated/normalized (run_pipeline runs
    # _checked_ts ONCE at submit time): a malformed bound would make
    # to_timestamp NULL, every predicate NULL, and the chunk would
    # commit as done with ZERO docs (ADVICE round 2).
    if ts_min is not None:
        df = df.where(F.col("warc_date") >= F.lit(ts_min[:10]))
        df = df.where(F.col("warc_ts") >= F.to_timestamp(F.lit(ts_min)))
    if ts_max is not None:
        df = df.where(F.col("warc_date") <= F.lit(ts_max[:10]))
        df = df.where(F.col("warc_ts") < F.to_timestamp(F.lit(ts_max)))
    return with_bucket(df.select("url", "html"), n_buckets)


def _bulk_waves(parallelism: int) -> int:
    """Task waves of the chunk exchange, scaled with slot count: the
    straggler tail is the MAX of N concurrent task durations, which
    grows with N — more slots need finer waves to smooth it, while at
    low parallelism extra waves are pure scheduling overhead. Measured
    (160k docs, BENCH/PLANS.md round 3): 8 waves beat 4 by ~10% at
    local[32] but LOSE ~10% at local[8]; 4 waves is the local[8]
    optimum. Capped at 16 so a 1000-executor job doesn't explode into
    sliver tasks."""
    return max(4, min(parallelism // 4, 16))


# Each mapInPandas task pays a fixed start-up cost outside the UDF
# body. It is not the Python/Arrow handshake: most of it was PySpark's
# per-task importlib.invalidate_caches() making every zipimporter
# re-read Spark's archives, which the stages now pin
# (operators/stages.py, _pin_spark_archives). `BENCH/core_probe.py
# --tasks` reads ~23 ms per task left at local[4] on a 4-core x86
# host, against ~360 ms unpinned. Keep at least this many rows per
# task so the fixed cost stays <~10% of task compute. The value was set
# before the pin (BENCH/PLANS.md round 3) and has not been re-tuned.
_MIN_DOCS_PER_TASK = 400


def _effective_waves(parallelism: int, est_rows: Optional[int]) -> int:
    """Wave count bounded BOTH by slot count (straggler smoothing) and
    by per-task work volume (amortizing the fixed per-task start-up
    cost, see ``_MIN_DOCS_PER_TASK``). ``est_rows`` may
    be an upper-bound estimate; ``None`` keeps the slot-based value."""
    waves = _bulk_waves(parallelism)
    if est_rows is not None:
        waves = max(1, min(waves, est_rows // (parallelism * _MIN_DOCS_PER_TASK)))
    return waves


def _defuse_skew(
    df: DataFrame, parallelism: int, est_rows: Optional[int] = None
) -> DataFrame:
    """One exchange that balances the chunk's rows over
    ``parallelism × waves`` partitions, each row to
    ``pmod(hash(url), n)`` (SURVEY.md §7.3 giant-doc skew): one wave of
    tasks, a retried task gets the same rows, and a NULL html row
    reaches the stage, which records it as failed. Giants are hashed
    like every page, so a skewed corpus's giants spread over all ``n``
    tasks; the Arrow byte cap (``plans/session.py``) bounds a batch
    that holds several of them.

    The url hash is Murmur3 (``hash``), not the bucket's ``xxhash64``:
    with that, a partition would follow from the bucket whenever ``n``
    divides the bucket count, and a chunk of fewer buckets than ``n``
    would leave tasks empty."""
    return df.repartition(parallelism * _effective_waves(parallelism, est_rows), "url")


def _check_columns(where: str, types: Dict[str, str], partitioned: bool) -> None:
    """``types``: pyarrow or Spark type name by column."""
    for name, kind in _PAGES_KINDS.items():
        if name not in types:
            raise ValueError(f"pages column '{name}' is missing in {where}")
        # large_binary → binary, timestamp[us, tz=UTC] / timestamp_ntz → timestamp
        if types[name].removeprefix("large_").split("[")[0].removesuffix("_ntz") != kind:
            raise ValueError(
                f"pages column '{name}' is {types[name]} in {where}; "
                f"the engine reads it as {kind}"
            )
    if not partitioned:
        raise ValueError(
            f"pages column 'warc_date' is not a hive partition directory "
            f"(warc_date=YYYY-MM-DD) above {where}"
        )


def _check_pages(spark: SparkSession, pages_path: str) -> int:
    """Check the pages table against ``PAGES_SCHEMA`` (``ValueError``
    naming the column) and return its row count, which sizes task
    waves. A local parquet directory needs no Spark job: each part
    file's footer gives its columns, types and exact row count (~0.1
    ms per file, 0.08 s for a 960-file corpus), and its path the
    ``warc_date=`` directory. Non-local paths (hdfs://, s3a://) fall
    back to Spark's inferred schema and a metadata-only count — on a
    real cluster a negligible fraction of a chunk's work."""
    p = pages_path
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")  # file:///x and file:/x both → /x
    if "://" in p or not os.path.isdir(p):
        inferred = spark.read.parquet(pages_path)
        types = {f.name: f.dataType.simpleString() for f in inferred.schema}
        _check_columns(pages_path, types, "warc_date" in types)
        return inferred.count()

    import pyarrow.parquet as pq

    total, n_files = 0, 0
    for root, dirs, files in os.walk(p):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        partitioned = any(
            part.startswith("warc_date=") for part in os.path.relpath(root, p).split(os.sep)
        )
        for name in files:
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            meta = pq.read_metadata(path)
            schema = meta.schema.to_arrow_schema()
            _check_columns(path, {f.name: str(f.type) for f in schema}, partitioned)
            total += meta.num_rows
            n_files += 1
    if not n_files:
        raise ValueError(f"pages table {pages_path} holds no parquet file")
    return total


def _bucket_counts(ckpt: CheckpointManager, chunk_id: int, lo: int, hi: int) -> List[dict]:
    """Per-bucket lineage rows (``n_docs``, ``n_failed``, ``cpu_ms`` =
    sum of ``proc_ms``) of the buckets that hold a document, counted
    from the chunk's committed docs — so the lineage equals the
    committed bytes even when Spark re-ran a task and re-measured its
    ``proc_ms``.

    No Spark job: pyarrow reads three narrow columns one record batch
    at a time, so driver memory stays O(batch). The cost is O(chunk
    rows) at ~4 ns a row, about 10^-5 of the heavy stage's ~1 ms per
    doc, so it holds at corpus scale. ``np.add.at`` adds row after
    row: ``cpu_ms`` is the running sum over the part files in path
    order."""
    import numpy as np
    import pyarrow.compute as pc

    n = np.zeros(hi - lo, np.int64)
    failed = np.zeros(hi - lo, np.int64)
    cpu = np.zeros(hi - lo, np.float64)
    for batch in ckpt.iter_chunk_batches("docs", chunk_id, ["bucket", "status", "proc_ms"]):
        idx = batch.column("bucket").to_numpy() - lo
        is_failed = pc.fill_null(pc.equal(batch.column("status"), "failed"), False)
        np.add.at(n, idx, 1)
        np.add.at(failed, idx, is_failed.to_numpy(zero_copy_only=False))
        np.add.at(cpu, idx, pc.fill_null(batch.column("proc_ms"), 0.0).to_numpy())
    return [
        {"bucket": lo + int(i), "n_docs": int(n[i]), "n_failed": int(failed[i]),
         "cpu_ms": float(cpu[i])}
        for i in np.flatnonzero(n)
    ]


@contextmanager
def _job_description(spark: SparkSession, description: str):
    """Name the Spark jobs submitted inside the block, then restore the
    caller's description (or its absence); the job group is untouched."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    *,
    doc_config: Optional[DocumentTypeConfig] = None,
    n_buckets: int = 64,
    n_chunks: int = 4,
    parallelism: Optional[int] = None,
    resume: bool = False,
    ts_min: Optional[str] = None,
    ts_max: Optional[str] = None,
    fail_buckets: Optional[set] = None,  # test hook: inject a chunk failure
) -> PipelineResult:
    """Run the extraction pipeline, one chunk after the other, each
    through the fused stage, committing docs + lineage per chunk (the
    results rows are derived from the docs on read).
    ``resume=True`` skips chunks whose lineage says done and recomputes
    only the rest; output is unchanged vs a clean run (tested).
    ``resume=False`` first removes the engine-owned state an earlier
    run left under ``out_root`` (``CheckpointManager.reset``). The first
    failing chunk raises; the chunks committed before it stay committed
    for a later resume. A pages table that does not match
    ``PAGES_SCHEMA`` raises ``ValueError`` before anything is written."""
    cfg = doc_config or default_config()
    par = parallelism or spark.sparkContext.defaultParallelism
    ckpt = CheckpointManager(spark, out_root)
    run_id = new_run_id()

    # Validate/normalize the time bounds ONCE at submit time — before
    # the manifest is pinned and before any chunk is scheduled — so a
    # malformed bound is one immediate error, not a failure inside the
    # first chunk (and the manifest pins the normalized form, so
    # '2025-01' and '2025-01-01 00:00:00' resume as the same committed
    # window).
    if ts_min is not None:
        ts_min = _checked_ts(spark, ts_min, "ts_min")
    if ts_max is not None:
        ts_max = _checked_ts(spark, ts_max, "ts_max")

    # The unfiltered row count bounds the per-chunk row estimate that
    # sizes task waves. A ts window makes this an OVER-estimate, which
    # at most keeps the slot-based wave count — it never
    # under-provisions tasks.
    est_total_rows = _check_pages(spark, pages_path)

    # Chunk identity = these parameters. The manifest pins them so a
    # resume under different values fails fast instead of silently
    # skipping chunk ids whose bucket ranges / input window changed.
    manifest = {
        "n_buckets": n_buckets,
        "n_chunks": n_chunks,
        "ts_min": ts_min,
        "ts_max": ts_max,
    }
    if resume:
        ckpt.check_manifest(manifest)
    else:
        # A fresh run starts from nothing: an earlier run's lineage
        # would otherwise mark its chunks done for a later resume.
        # "results" is the table engines before the derived read wrote;
        # nothing reads it now, and a fresh run removes it.
        ckpt.reset(("docs", "results"))
        ckpt.write_manifest(manifest)

    done_chunks = ckpt.done_chunks("extracted") if resume else set()
    result = PipelineResult(out_root=out_root)
    t_start = time.perf_counter()

    bounds = [
        (c, c * n_buckets // n_chunks, (c + 1) * n_buckets // n_chunks)
        for c in range(n_chunks)
    ]
    todo = [(c, lo, hi) for c, lo, hi in bounds if c not in done_chunks]
    result.chunks_skipped = len(bounds) - len(todo)
    # The chunks share one plan of the projected, filtered and bucketed
    # pages; each adds its bucket range, the exchange and the stage.
    pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_path) if todo else None
    sliced = _input_slice(pages, n_buckets, ts_min, ts_max) if todo else None

    def run_chunk(chunk_id: int, lo: int, hi: int) -> List[dict]:
        """Process + commit one chunk; returns its per-bucket lineage
        rows. The write is chunk-private and the lineage fragment is
        uuid-named, so a re-run of the chunk overwrites only its own
        output."""
        if fail_buckets and (set(range(lo, hi)) & set(fail_buckets)):
            raise RuntimeError(
                f"injected failure for chunk {chunk_id} (buckets {lo}..{hi - 1})"
            )
        chunk_df = _defuse_skew(
            sliced.where((F.col("bucket") >= lo) & (F.col("bucket") < hi)),
            par,
            est_rows=est_total_rows * (hi - lo) // n_buckets,
        )

        t0 = time.perf_counter()
        # The docs are the only write: the results rows are derived from
        # them on read (CheckpointManager.read). No coalesce: it is a
        # narrow dependency, so it would merge the heavy stage's own
        # tasks into fewer, longer ones. The write runs at the
        # exchange's width, one file per non-empty partition.
        with _job_description(spark, f"chunk {chunk_id} · heavy stage + docs write"):
            ckpt.write_chunk(
                chunk_df.mapInPandas(make_fused_stage(cfg), schema=EXTRACTED_SCHEMA),
                "docs",
                chunk_id,
            )

        # The commit point is the lineage append, after the write: a
        # crash anywhere before it leaves the chunk to a resume.
        per_bucket = _bucket_counts(ckpt, chunk_id, lo, hi)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        ckpt.append_lineage("extracted", chunk_id, per_bucket, wall_ms, run_id)
        return per_bucket

    for chunk_id, lo, hi in todo:
        per_bucket = run_chunk(chunk_id, lo, hi)
        result.chunks_run += 1
        result.n_docs += sum(b["n_docs"] for b in per_bucket)
        result.n_failed += sum(b["n_failed"] for b in per_bucket)
        result.buckets_done.extend(b["bucket"] for b in per_bucket)

    result.wall_sec = time.perf_counter() - t_start
    return result


_BULK_COLUMNS = ["url", "bucket", "chunk", "status", "error", "proc_ms"]
_BULK_SCHEMA = (
    "url string, bucket int, chunk int, status string, error string, proc_ms double"
)


def _owning_chunk(bucket: int, n_buckets: int, n_chunks: int) -> int:
    return next(
        c for c in range(n_chunks)
        if c * n_buckets // n_chunks <= bucket < (c + 1) * n_buckets // n_chunks
    )


def _lookup_manager(spark: SparkSession, out_root: str):
    ckpt = CheckpointManager(spark, out_root)
    manifest = ckpt.read_manifest()
    if manifest is None:
        raise ValueError(f"{out_root} has no run manifest — not a pipeline output")
    return ckpt, manifest["n_buckets"], manifest["n_chunks"]


def doc_status(spark: SparkSession, out_root: str, url: str) -> Optional[dict]:
    """Point lookup of one document's extraction status — the
    reference's GET /extraction-status/{id} endpoint
    (/root/reference/src/api/main.py:319-379) re-expressed against the
    committed tables: status/error/proc_ms from the docs table, plus
    the owning chunk's lineage row.

    At 10^12 docs this must NOT scan the corpus: the url's bucket is
    recomputed on the driver by ``url_bucket`` (a Python port of the
    Spark ``xxhash64`` that wrote it, tested equal to Spark), the run
    manifest maps bucket → chunk, and ONLY that chunk=NNNN directory is
    read, with pyarrow and the bucket+url predicates pushed into its
    parquet scan. The lineage is read with pyarrow too, so a lookup
    submits no Spark job. Returns None when the url is absent (not
    crawled, or its chunk not yet committed). A chunk is committed only
    when its lineage says done: the lineage append is the commit point,
    so a chunk directory without lineage rows (a crash between the
    write and the append) is not read."""
    import pyarrow.dataset as ds

    ckpt, n_buckets, n_chunks = _lookup_manager(spark, out_root)
    bucket = url_bucket(url, n_buckets)
    chunk = _owning_chunk(bucket, n_buckets, n_chunks)
    # The chunk's lineage rows are read BEFORE its docs: no done row
    # means "not committed yet". Once the lineage says done, corrupt
    # parquet / permission / transient FS errors on the docs read must
    # propagate, not report the document as absent (ADVICE round 3).
    lrows = ckpt.read_lineage(
        "extracted", chunk, columns=["bucket", "run_id", "finished_at"]
    ).to_pylist()
    if not lrows:
        return None
    rows = ckpt.read_chunk_arrow(
        "docs", chunk, ["status", "error", "proc_ms"],
        filter=(ds.field("bucket") == bucket) & (ds.field("url") == url),
    ).slice(0, 1).to_pylist()
    if not rows:
        return None
    out = {"url": url, "bucket": bucket, "chunk": chunk, **rows[0]}
    lrow = next((r for r in lrows if r["bucket"] == bucket), None)
    if lrow is not None:
        out.update(run_id=lrow["run_id"], finished_at=lrow["finished_at"])
    return out


def doc_status_bulk(
    spark: SparkSession, out_root: str, urls: List[str]
) -> DataFrame:
    """Batch companion to :func:`doc_status` — extraction status for a
    LIST of urls (the ops surface for monitoring a crawl batch), with
    cost O(affected chunks), never a corpus scan: buckets are
    recomputed on the driver by the same tested ``url_bucket`` port,
    urls are grouped by owning chunk via the run manifest, and only
    those chunk directories are read, with pyarrow and the bucket+url
    predicates pushed into each parquet scan. Urls that were never
    crawled, or whose chunk is not yet committed (no done lineage row),
    are simply absent from the result (same contract as the point
    lookup's ``None``).

    Returns a DataFrame (url, bucket, chunk, status, error, proc_ms),
    built from one Arrow table: building it and collecting it submit
    no Spark job.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds

    ckpt, n_buckets, n_chunks = _lookup_manager(spark, out_root)
    by_chunk: dict = {}
    for u in urls:
        b = url_bucket(u, n_buckets)
        urls_of, buckets_of = by_chunk.setdefault(
            _owning_chunk(b, n_buckets, n_chunks), (set(), set())
        )
        urls_of.add(u)
        buckets_of.add(b)

    done = ckpt.done_chunks("extracted")
    parts = []
    for chunk in sorted(by_chunk):
        if chunk not in done:
            continue  # not committed yet — absent, like the point lookup
        urls_of, buckets_of = by_chunk[chunk]
        docs = ckpt.read_chunk_arrow(
            "docs", chunk, ["url", "bucket", "status", "error", "proc_ms"],
            filter=ds.field("bucket").isin(sorted(buckets_of))
            & ds.field("url").isin(sorted(urls_of)),
        )
        parts.append(docs.add_column(
            2, "chunk", pa.array([chunk] * docs.num_rows, pa.int32())
        ))
    if not parts:
        parts = [pa.table({c: pa.nulls(0) for c in _BULK_COLUMNS})]
    # One contiguous table: with several Arrow chunks per column (one
    # per part file) createDataFrame lost rows in some of the first
    # calls of a process; after combine_chunks() it has lost none.
    # From an Arrow table (not a Python list) it runs no Spark job.
    return spark.createDataFrame(pa.concat_tables(parts).combine_chunks(), _BULK_SCHEMA)
