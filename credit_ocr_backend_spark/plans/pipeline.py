"""The end-to-end extraction pipeline (the engine's flagship job).

Logical plan, all declarative until the Arrow-batched stages:

    pages (parquet/Iceberg, pruned by warc_date)
      → filter warc_ts range                      # partition pruning
      → bucket = pmod(xxhash64(url), B)           # stable chunk/lineage key
      → keep buckets of this chunk (resume skips committed chunks)
      → giant/normal split on length(html)        # size-skew defuse
      → repartition(row-level url-hash)           # uniform task balance
      → fused|staged Arrow UDF stages             # core semantics
      → docs + exploded field rows → chunk=NNNN directory, atomic
        overwrite per chunk                        # idempotent commit
      → lineage append per chunk (per-bucket doc/failure/cpu metrics)

Commit design: the unit of recovery is a **chunk** = contiguous range
of url-hash buckets, written as one ``chunk=NNNN`` partition directory
with plain overwrite — re-running a chunk is idempotent, committed
chunks are never recomputed (the reference's ``overwrite=True`` blob
semantics, /root/reference/src/creditsystem/storage.py:152, coarsened
to a unit that makes sense at 10^12 rows). The bucket column stays on
every row for lineage metrics and finer-grained reprocessing.

Two partitioning decisions worth reading twice (measured, not guessed):

* processing parallelism uses **row-level** xxhash64(url) repartition,
  NOT the bucket id — partitioning 64 buckets into 64 hash partitions
  is balls-in-bins (some tasks get 3-4 buckets → 4× stragglers, ~50%
  idle cores at 32-way);
* outputs are directory-partitioned by **chunk**, not bucket —
  per-bucket partitionBy writes either tasks×buckets sliver files or
  an extra full shuffle; per-chunk directories give one file per task
  and per-chunk atomic overwrite.

Scale notes (100 TB / 10^12 rows):
* the html column is only read by the parse stage; every downstream
  projection drops it immediately (column pruning keeps the heavy
  bytes out of later scans);
* a failed chunk re-runs alone; on Iceberg the pages table would be
  bucket(url, B)-partitioned so each chunk's input scan prunes at the
  file level instead of re-filtering the full table;
* giant documents (heavy right tail of html size) route to a
  round-robin repartition so no task queues two of them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from credit_ocr_backend_spark.core.config import DocumentTypeConfig, default_config
from credit_ocr_backend_spark.operators.stages import (
    EXTRACTED_SCHEMA,
    FIELDS_T,
    NORMALIZED_SCHEMA,
    PARSED_SCHEMA,
    make_extract_stage,
    make_fused_stage,
    make_normalize_stage,
    make_parse_stage,
)
from credit_ocr_backend_spark.sources.checkpoint import (
    CheckpointManager,
    new_run_id,
    with_bucket,
)

GIANT_HTML_BYTES = 32 * 1024  # size-skew routing threshold

RESULT_COLUMNS = [
    "field_name", "value", "confidence", "page", "bounding_box",
    "is_valid", "errors",
]


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
    bucket_lo: int,
    bucket_hi: int,
    ts_min: Optional[str],
    ts_max: Optional[str],
) -> DataFrame:
    """Projection + pruning + bucketing for one chunk. Only url/html
    survive — everything else is pruned before the heavy stage."""
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
    df = with_bucket(df.select("url", "html"), n_buckets)
    return df.where(
        (F.col("bucket") >= bucket_lo) & (F.col("bucket") < bucket_hi)
    ).select("url", "html", "bucket")


def _bulk_waves(parallelism: int) -> int:
    """Task waves for the bulk branch, scaled with slot count: the
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
    """Uniform row-level repartition on url-hash for the bulk (bucket
    ids clump under hash-partitioning; raw rows don't). Giant documents
    (heavy html right tail) go round-robin so one task never queues two
    of them (SURVEY.md §7.3 giant-doc skew)."""
    # coalesce(length, 0): a NULL html row must land in the bulk branch
    # (both raw length predicates evaluate to NULL → the row would land
    # in NEITHER branch and vanish without a status=failed record).
    size = F.coalesce(F.length("html"), F.lit(0))
    bulk = (
        df.where(size <= GIANT_HTML_BYTES)
        .repartition(
            parallelism * _effective_waves(parallelism, est_rows),
            F.xxhash64("url"),
        )
    )
    giants = (
        df.where(size > GIANT_HTML_BYTES)
        .repartition(max(parallelism // 2, 1))  # round-robin: no key
    )
    return bulk.unionByName(giants)


def _estimate_rows(pages: DataFrame, pages_path: str) -> int:
    """Input row count for task-wave sizing, WITHOUT a Spark job when
    the input is a local parquet directory: parquet footers carry exact
    row counts, and reading them driver-side with pyarrow costs ~0.1 ms
    per file (measured 0.08 s for a 960-file corpus) where the
    ``count()`` job measured 0.6-1.5 s of parallelism-independent tail
    per run. Non-local paths (hdfs://, s3a://) and any read failure
    fall back to the metadata-only Spark count — on a real cluster that
    job is a negligible fraction of a chunk's work. The estimate only
    SIZES WAVES; it can never affect results (and both paths return the
    same exact footer total)."""
    import os

    p = pages_path
    if p.startswith("file:"):
        p = p.split(":", 1)[1].lstrip("/")
        p = "/" + p  # file:///x and file:/x both → /x
    if "://" not in p and os.path.isdir(p):
        try:
            import pyarrow.parquet as pq

            total = 0
            for root, _, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
            if total > 0:
                return total
        except Exception:
            pass
    return pages.count()


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    *,
    doc_config: Optional[DocumentTypeConfig] = None,
    mode: str = "fused",  # "fused" (scale mode) | "staged" (stage checkpoints)
    n_buckets: int = 64,
    n_chunks: int = 4,
    parallelism: Optional[int] = None,
    resume: bool = False,
    ts_min: Optional[str] = None,
    ts_max: Optional[str] = None,
    fail_buckets: Optional[set] = None,  # test hook: inject a chunk failure
    max_concurrent_chunks: int = 1,
) -> PipelineResult:
    """Run the extraction pipeline, chunk by chunk, committing results +
    lineage per chunk. ``resume=True`` skips chunks whose lineage says
    done and recomputes only the rest; output is unchanged vs a clean
    run (tested).

    ``max_concurrent_chunks > 1`` submits that many chunk jobs from
    concurrent driver threads: each chunk's tail wave and driver-side
    commit gaps overlap with the next chunk's compute instead of leaving
    executors idle. Chunk commits stay independent (each writes its own
    chunk=NNNN dir and lineage fragment, both uuid-named), so failure
    isolation and resume semantics are identical to the serial path —
    the first failing chunk raises after in-flight chunks drain."""
    cfg = doc_config or default_config()
    par = parallelism or spark.sparkContext.defaultParallelism
    ckpt = CheckpointManager(spark, out_root)
    run_id = new_run_id()
    pages = spark.read.parquet(pages_path)

    # Validate/normalize the time bounds ONCE at submit time — before
    # the manifest is pinned and before any chunk is scheduled — so a
    # malformed bound is one immediate error, not N identical failures
    # out of concurrent chunk threads (and the manifest pins the
    # normalized form, so '2025-01' and '2025-01-01 00:00:00' resume
    # as the same committed window).
    if ts_min is not None:
        ts_min = _checked_ts(spark, ts_min, "ts_min")
    if ts_max is not None:
        ts_max = _checked_ts(spark, ts_max, "ts_max")

    # Chunk identity = these parameters. The manifest pins them so a
    # resume under different values fails fast instead of silently
    # skipping chunk ids whose bucket ranges / input window changed.
    manifest = {
        "n_buckets": n_buckets,
        "n_chunks": n_chunks,
        "ts_min": ts_min,
        "ts_max": ts_max,
        "mode": mode,
    }
    if resume:
        # Migration shim: manifests committed before bounds were
        # canonicalized pinned the RAW spelling ('2025-01-01'); if the
        # committed value canonicalizes to the same instant as ours,
        # rewrite it in place instead of refusing an identical window.
        committed = ckpt.read_manifest()
        if committed is not None:
            migrated = False
            for k in ("ts_min", "ts_max"):
                v = committed.get(k)
                if v is not None and v != manifest[k]:
                    try:
                        same = _checked_ts(spark, v, k) == manifest[k]
                    except ValueError:
                        same = False
                    if same:
                        committed[k] = manifest[k]
                        migrated = True
            if migrated:
                ckpt.write_manifest(committed)
        ckpt.check_manifest(manifest)
    else:
        ckpt.write_manifest(manifest)

    # One unfiltered count of the input (parquet footer statistics — no
    # data scan) bounds the per-chunk row estimate that sizes task
    # waves. A ts window makes this an OVER-estimate, which at most
    # keeps the slot-based wave count — it never under-provisions tasks.
    est_total_rows = _estimate_rows(pages, pages_path)

    done_chunks = ckpt.done_chunks("extracted") if resume else set()
    result = PipelineResult(out_root=out_root)
    t_start = time.perf_counter()

    bounds = [
        (c, c * n_buckets // n_chunks, (c + 1) * n_buckets // n_chunks)
        for c in range(n_chunks)
    ]

    def run_chunk(chunk_id: int, lo: int, hi: int) -> List[dict]:
        """Process + commit one chunk; returns its per-bucket lineage
        rows. Self-contained so chunks can run from concurrent driver
        threads (every write is chunk-private, lineage fragments are
        uuid-named)."""
        chunk_df = _defuse_skew(
            _input_slice(pages, n_buckets, lo, hi, ts_min, ts_max),
            par,
            est_rows=est_total_rows * (hi - lo) // n_buckets,
        )

        if fail_buckets and (set(range(lo, hi)) & set(fail_buckets)):
            raise RuntimeError(
                f"injected failure for chunk {chunk_id} (buckets {lo}..{hi - 1})"
            )

        t0 = time.perf_counter()
        if mode == "fused":
            extracted = chunk_df.mapInPandas(
                make_fused_stage(cfg), schema=EXTRACTED_SCHEMA
            )
        elif mode == "staged":
            parsed = chunk_df.mapInPandas(make_parse_stage(), schema=PARSED_SCHEMA)
            ckpt.write_chunk(parsed, "parsed", chunk_id)
            normalized = ckpt.read_chunk("parsed", chunk_id).mapInPandas(
                make_normalize_stage(), schema=NORMALIZED_SCHEMA
            )
            ckpt.write_chunk(normalized, "normalized", chunk_id)
            extracted = ckpt.read_chunk("normalized", chunk_id).mapInPandas(
                make_extract_stage(cfg), schema=EXTRACTED_SCHEMA
            )
        else:
            raise ValueError(f"unknown mode: {mode}")

        # Round-5 tail fix (north-rule scaling lever): the results rows
        # derive from the SAME in-memory frame the docs commit wrote,
        # not from a re-read of the committed table. The old shape —
        # write docs, re-open chunk=NNNN, from_json the field payload,
        # write results — cost a parallelism-INDEPENDENT ~1.3 s per
        # run at bench scale: the freshly committed chunk is small
        # enough that the re-scan planned 1-3 input tasks regardless
        # of core count, so the JSON re-parse ran effectively serial.
        # Deriving from the persisted frame keeps from_json at the
        # full task width of the heavy stage and skips the file
        # listing/footer round-trip entirely. Semantics are unchanged:
        # the stages are deterministic and the cached rows ARE the
        # bytes the docs commit wrote, so results ≡
        # explode(from_json(committed docs)) — asserted by
        # tests/test_spark_pipeline.py's fused-vs-staged and resume
        # row-level comparisons. Crash windows are also unchanged: the
        # chunk's commit point stays the lineage append AFTER both
        # writes, so a crash between them re-runs the whole chunk on
        # resume. MEMORY_AND_DISK (the DataFrame default) spills
        # rather than evicts, so a corpus-scale chunk never silently
        # recomputes the heavy stage. Residual exposure if a cached
        # partition IS lost (executor death between the two writes):
        # Spark recomputes it through the deterministic stages, so the
        # results/field values still match the committed docs exactly;
        # only the wall-clock ``proc_ms`` metering re-measures, so the
        # lineage cpu_ms for that partition's buckets can drift a few
        # ms from the committed docs' proc_ms sum — metrics, never
        # data. (The old derive-from-committed shape had the inverse
        # cost on EVERY run; this one pays a metric wobble only on
        # executor loss.)
        # The typed field structs are parsed ONCE, inside the heavy
        # parallel job (from_json rides job A at the full task width of
        # the mapInPandas stage and is cached alongside the raw JSON),
        # so the results job is a pure cache-scan + explode + write —
        # measured 2.6 s → ~1.3 s at 32 cores for the 160k corpus. The
        # committed docs schema is unchanged: the byte-exact
        # ``fields_json`` envelope is what lands on disk; the typed
        # column is cache-only.
        cached = extracted.withColumn(
            "_fields", F.from_json("fields_json", FIELDS_T)
        ).persist()
        try:
            # Lineage metrics (A8: per-bucket doc counts, failures,
            # cpu-ms) aggregate over the CACHE — a 64-row partial-agg
            # job on narrow cached columns, ~0.1 s warm. History of
            # this shape: round 3 scanned the committed table (0.86 s
            # re-read); round 4 moved it into the results job as an
            # observe() CollectMetrics node (zero extra passes) — but
            # per-bucket breakdowns need 3 aggregate expressions per
            # bucket, and a 192-expression observe node measured
            # ~0.45 s of DRIVER-side plan/codegen per job (vs 0.02 s
            # for 3 metrics; packing the sums into array metrics was
            # worse still) plus 192 per-row when-sums inside the heavy
            # job. The cache-side groupBy is cheaper than both and
            # handles an empty bucket range (lo == hi, n_chunks >
            # n_buckets) without a special case — it simply returns no
            # rows and the empty-chunk sentinel is recorded.
            #
            # Round 6 ordering: this aggregation runs FIRST so it is
            # the action that MATERIALIZES the cache — the heavy
            # mapInPandas stage then executes at its full wave-sized
            # task width, and the docs write below becomes a pure
            # warm-cache scan that can be coalesced to one file per
            # core (guide §6 output sizing: the old shape wrote one
            # sliver file per wave-partition — waves×cores files —
            # inside the same job that built the cache, paying file
            # open/commit overhead and build/encode memory contention;
            # measured ~2 s/chunk at 100k docs). Commit semantics are
            # unchanged: the chunk's commit point stays the lineage
            # APPEND after both writes.
            per_bucket = [
                {
                    "bucket": r["bucket"],
                    "n_docs": r["n"],
                    "n_failed": r["f"],
                    # sum() returns NULL for an all-NULL group (the old
                    # observe shape filled 0.0 row-wise) — keep the
                    # lineage schema's float contract
                    "cpu_ms": r["c"] if r["c"] is not None else 0.0,
                }
                for r in cached.groupBy("bucket")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(
                        F.when(F.col("status") == "failed", 1).otherwise(0)
                    ).alias("f"),
                    F.sum("proc_ms").alias("c"),
                )
                .collect()
            ]
            per_bucket.sort(key=lambda r: r["bucket"])

            # Long-format results: explode AFTER the heavy stage (html
            # long gone); the JSON field payload is parsed JVM-side at
            # codegen speed, one task per core (coalesce merges the
            # heavy stage's wave-sized cache partitions without a
            # shuffle — also keeps the results table at one file per
            # core instead of waves× sliver files).
            results = cached.select(
                "url",
                "bucket",
                F.explode_outer("_fields").alias("f"),
            ).select(
                "url",
                "bucket",
                *[F.col(f"f.{c}").alias(c) for c in RESULT_COLUMNS],
            ).where(F.col("field_name").isNotNull()).coalesce(par)

            # The two warm-cache writes are independent (separate
            # output directories, shared read-only cache) — submit them
            # from two driver threads so each job's task tail backfills
            # the other's idle slots (guide §2.6). The commit point is
            # unchanged: the lineage append below happens only after
            # BOTH futures complete (a failure in either raises here,
            # before anything is recorded as done).
            from concurrent.futures import ThreadPoolExecutor as _TPE

            with _TPE(max_workers=2) as _pool:
                f_docs = _pool.submit(
                    ckpt.write_chunk,
                    cached.drop("_fields").coalesce(par), "docs", chunk_id,
                )
                f_results = _pool.submit(
                    ckpt.write_chunk, results, "results", chunk_id
                )
                f_docs.result()
                f_results.result()
        finally:
            cached.unpersist()

        wall_ms = int((time.perf_counter() - t0) * 1000)
        ckpt.append_lineage("extracted", chunk_id, per_bucket, wall_ms, run_id)
        return per_bucket

    todo = [(c, lo, hi) for c, lo, hi in bounds if c not in done_chunks]
    result.chunks_skipped = len(bounds) - len(todo)

    def record(per_bucket: List[dict]) -> None:
        result.chunks_run += 1
        result.n_docs += sum(b["n_docs"] for b in per_bucket)
        result.n_failed += sum(b["n_failed"] for b in per_bucket)
        result.buckets_done.extend(b["bucket"] for b in per_bucket)

    if max_concurrent_chunks <= 1 or len(todo) <= 1:
        for chunk_id, lo, hi in todo:
            record(run_chunk(chunk_id, lo, hi))
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_concurrent_chunks) as pool:
            futures = {
                pool.submit(run_chunk, c, lo, hi): c for c, lo, hi in todo
            }
            errors: List[tuple] = []
            for fut, chunk_id in futures.items():
                try:
                    record(fut.result())
                except Exception as exc:  # drain all, then raise together
                    errors.append((chunk_id, exc))
            if errors:
                # Surface EVERY failed chunk, not just the first (ADVICE
                # round 2: suppressed tracebacks). ExceptionGroup keeps
                # all tracebacks; the message lists the failed chunks.
                raise ExceptionGroup(
                    f"{len(errors)} chunk(s) failed: "
                    f"{sorted(c for c, _ in errors)}",
                    [e for _, e in errors],
                )

    result.wall_sec = time.perf_counter() - t_start
    return result


def doc_status(spark: SparkSession, out_root: str, url: str) -> Optional[dict]:
    """Point lookup of one document's extraction status — the
    reference's GET /extraction-status/{id} endpoint
    (/root/reference/src/api/main.py:319-379) re-expressed against the
    committed tables: status/error/proc_ms from the docs table, plus
    the owning chunk's lineage row.

    At 10^12 docs this must NOT scan the corpus: the url's bucket is
    recomputed (same xxhash64 expression that wrote it), the run
    manifest maps bucket → chunk, and ONLY that chunk=NNNN directory is
    read, with the bucket+url predicates pushed into its parquet scan.
    Returns None when the url is absent (not crawled, or its chunk not
    yet committed). A chunk is committed only when its lineage says
    done: the lineage append is the commit point, so a chunk directory
    without lineage rows (a crash between the writes and the append)
    is not read."""
    ckpt = CheckpointManager(spark, out_root)
    manifest = ckpt.read_manifest()
    if manifest is None:
        raise ValueError(f"{out_root} has no run manifest — not a pipeline output")
    n_buckets, n_chunks = manifest["n_buckets"], manifest["n_chunks"]
    bucket = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(url)), F.lit(n_buckets)).cast("int").alias("b"))
        .first()["b"]
    )
    chunk = next(
        c for c in range(n_chunks)
        if c * n_buckets // n_chunks <= bucket < (c + 1) * n_buckets // n_chunks
    )
    # The chunk's lineage rows are read BEFORE its docs: no done row
    # means "not committed yet". Once the lineage says done, corrupt
    # parquet / permission / transient FS errors on the docs read must
    # propagate, not report the document as absent (ADVICE round 3).
    lineage = ckpt.lineage()
    if lineage is None:
        return None
    lrows = (
        lineage.where(
            (F.col("chunk") == chunk)
            & (F.col("stage") == "extracted")
            & (F.col("status") == "done")
        )
        .select("bucket", "run_id", "finished_at")
        .collect()
    )
    if not lrows:
        return None
    docs = ckpt.read_chunk("docs", chunk)
    row = (
        docs.where((F.col("bucket") == bucket) & (F.col("url") == url))
        .select("status", "error", "proc_ms")
        .first()
    )
    if row is None:
        return None
    out = {"url": url, "bucket": bucket, "chunk": chunk, **row.asDict()}
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
    recomputed with the same xxhash64 expression that wrote them, urls
    are grouped by owning chunk via the run manifest, and only those
    chunk directories are read, each with bucket+url predicates pushed
    into its parquet scan.  Urls that were never crawled, or whose
    chunk is not yet committed (no done lineage row), are simply absent
    from the result (same contract as the point lookup's ``None``).

    Returns a DataFrame (url, bucket, chunk, status, error, proc_ms).
    """
    from functools import reduce as _reduce

    ckpt = CheckpointManager(spark, out_root)
    manifest = ckpt.read_manifest()
    if manifest is None:
        raise ValueError(f"{out_root} has no run manifest — not a pipeline output")
    n_buckets, n_chunks = manifest["n_buckets"], manifest["n_chunks"]

    url_rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(
            "url",
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int").alias("b"),
        )
        .collect()
    )
    by_chunk: dict = {}
    for r in url_rows:
        chunk = next(
            c for c in range(n_chunks)
            if c * n_buckets // n_chunks <= r["b"] < (c + 1) * n_buckets // n_chunks
        )
        by_chunk.setdefault(chunk, []).append(r["url"])

    empty_schema = (
        "url string, bucket int, chunk int, status string, "
        "error string, proc_ms double"
    )
    done = ckpt.done_chunks("extracted")
    parts = []
    for chunk in sorted(by_chunk):
        if chunk not in done:
            continue  # not committed yet — absent, like the point lookup
        docs = ckpt.read_chunk("docs", chunk)
        parts.append(
            docs.where(F.col("url").isin(by_chunk[chunk])).select(
                "url",
                F.col("bucket").cast("int").alias("bucket"),
                F.lit(chunk).cast("int").alias("chunk"),
                "status",
                "error",
                F.col("proc_ms").cast("double").alias("proc_ms"),
            )
        )
    if not parts:
        return spark.createDataFrame([], empty_schema)
    return _reduce(DataFrame.unionByName, parts)
