"""Measured process of the extraction benchmark (started by ``run.py``).

One run = set-up, a measured window of ``--seconds``, then the
correctness gate. With ``--trace 1`` the window alternates untraced and
traced cycles and rounds (at least one of each), spans are recorded
around every call into the engine, and the per-layer passes run after
the window. The engine is driven through its public functions only.

Every workload writes, resumes and reads (README.md says why each
workload exists). The first WRITE_SHARE of the window repeats a cycle:

1. write — bulk_extract: one ``run_pipeline`` call, one chunk;
   chunked_resume: pass A, with a failure injected at the middle chunk
   through ``fail_buckets``;
2. resume — ``run_pipeline(resume=True)`` over that output: on
   bulk_extract it must skip the one committed chunk and recompute
   nothing, on chunked_resume (pass B) skip the chunks before the
   failure and recompute the rest.

The rest of the window repeats a lookup round against the last cycle's
output, a closed loop of one client: ``POINT_LOOKUPS`` ``doc_status``
calls (90 % committed urls, 10 % never crawled) and one
``doc_status_bulk`` call of ``BULK_URLS`` urls over all chunks.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import uuid
from contextlib import nullcontext
from typing import Callable, Dict, List, Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import spec
from tracing import Tracer

from credit_ocr_backend_spark.core import (
    default_config,
    extract_fields,
    normalize_items,
    parse_page,
)
from credit_ocr_backend_spark.operators.stages import make_fused_stage
from credit_ocr_backend_spark.plans.pipeline import (
    GIANT_HTML_BYTES,
    doc_status,
    doc_status_bulk,
    run_pipeline,
)
from credit_ocr_backend_spark.plans.session import ARROW_BATCH_ROWS, get_spark
from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager
from credit_ocr_backend_spark.sources.pages import GIANT_MOD, build_page, page_url

N_BUCKETS = 64
N_GOLDEN = 64  # pages 0..63: the reference-generated goldens
GOLDEN_RESULTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "goldens", "expected_extraction_results.parquet",
)
# Pages 0..63 plus a contiguous run of a whole number of GIANT_MOD
# pages, so every seed's corpus holds the same number of giant pages.
SIZES = {"bulk_extract": N_GOLDEN + GIANT_MOD, "chunked_resume": N_GOLDEN + GIANT_MOD}
N_CHUNKS = {"bulk_extract": 1, "chunked_resume": 4}  # ~265 docs per chunk
POINT_LOOKUPS = 3     # per lookup round
MISS_SHARE = 0.1
BULK_URLS = 1000
SAMPLE_DOCS = 64      # byte-identity sample against in-process make_fused_stage
CORE_SAMPLE = 256     # in-process core / stage pass
INJECTED = "injected failure"
WRITE_SHARE = 0.5     # of the window; lookups take the rest


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def corpus_indices(seed: int, n: int) -> List[int]:
    """Pages 0..63 always, then a contiguous run of page indices offset
    by the seed. build_page is a pure function of the index, so one
    seed always yields one corpus."""
    base = N_GOLDEN + (seed % 1_000_003) * 9_973
    return list(range(N_GOLDEN)) + list(range(base, base + n - N_GOLDEN))


def missing_url(seed: int, i: int) -> str:
    return f"https://never-crawled.example/doc/{seed}-{i}"


def quantile(values: List[float], q: float) -> float:
    """Inclusive linear-interpolation quantile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class JobCounter:
    """Jobs, stages and tasks one call submitted, from Spark's status
    tracker. The call runs under a job group of its own; jobs the engine
    submits from its own threads carry no group, so those are found as
    ungrouped job ids that are new since the call began."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def measure(self, fn: Callable):
        group = f"bench-{uuid.uuid4().hex[:8]}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(self.tracker.getJobIdsForGroup(group))
        jobs |= set(self.tracker.getJobIdsForGroup(None)) - before
        stages, tasks, failed = set(), 0, 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages.add(sid)
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return result, {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                        "failed_tasks": failed}


class Bench:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = args.work
        self.trace_dir = args.traces
        self.data = os.path.join(args.work, "data")
        self.corpus = os.path.join(self.data, "pages")
        self.rng = random.Random(f"loop-{args.seed}")
        self.verify_rng = random.Random(f"verify-{args.seed}")
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:6]}", self.traced)
        self.cfg = default_config()
        self.indices = corpus_indices(args.seed, SIZES[args.workload])
        self.n_docs = len(self.indices)
        self.n_chunks = N_CHUNKS[args.workload]
        self.spark = None
        self.par = 0
        self.jobs: Optional[JobCounter] = None
        self.layer: Dict[str, float] = {}
        self.report: Dict[str, tuple] = {}  # human-readable extras: name -> (value, unit)
        self.attempted = 0
        self.failed = 0
        self.mismatch = 0
        self.out: Optional[str] = None      # output of the latest cycle
        self.committed: Dict[str, tuple] = {}
        self.last_wall = 0.0
        self.pipe_counts: Dict[str, int] = {}
        self.chunks_skipped = 0
        self.lookup_calls: List[dict] = []
        self.point_hits = [0, 0]            # answered, asked
        self.n_miss = 0
        self._out_seq = 0

    # -- helpers ------------------------------------------------------------

    def span(self, name: str, traced: bool = True):
        return self.tracer.span(name) if traced else nullcontext()

    def counted(self, fn: Callable, traced: bool):
        """Run fn; in a traced cycle also count the Spark jobs it ran."""
        if traced and self.jobs is not None:
            return self.jobs.measure(fn)
        return fn(), None

    def next_out(self, tag: str) -> str:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self._out_seq += 1
        self.out = os.path.join(self.data, f"{tag}-{self._out_seq}")
        return self.out

    def pipeline(self, out: str, traced: bool, **kw):
        with self.span("plans.pipeline.run_pipeline", traced):
            return run_pipeline(
                self.spark, self.corpus, out, n_buckets=N_BUCKETS,
                parallelism=self.par, **kw,
            )

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        t0 = time.perf_counter()
        with self.span("plans.session.get_spark"):
            tmp = os.environ.get("TMPDIR", self.work)
            self.spark = get_spark(
                "extractbench",
                extra_conf={
                    # no hsperfdata file in the system temp dir
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.par = self.spark.sparkContext.defaultParallelism
        self.jobs = JobCounter(self.spark) if self.traced else None
        with self.span("sources.pages.build_page"):
            t1 = time.perf_counter()
            self.write_corpus()
            self.layer["pages.gen_s"] = time.perf_counter() - t1
        with self.span("warmup"):
            out = os.path.join(self.data, "warm")
            self.write_and_resume(out, False, 1)
            doc_status(self.spark, out, page_url(0))
            doc_status_bulk(self.spark, out, [page_url(k) for k in range(N_GOLDEN)]).collect()
            shutil.rmtree(out, ignore_errors=True)
        return time.perf_counter() - t0

    def write_corpus(self) -> None:
        """The seeded corpus, built by sources.pages.build_page in this
        process and laid out like write_pages: day partitions
        (warc_date=YYYY-MM-DD), warc_ts a UTC timestamp."""
        pages = pd.DataFrame([build_page(k) for k in self.indices])
        pages["warc_date"] = pages["warc_ts"].dt.strftime("%Y-%m-%d")
        schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string()), ("warc_date", pa.string())])
        pq.write_to_dataset(pa.Table.from_pandas(pages, schema=schema, preserve_index=False),
                            self.corpus, partition_cols=["warc_date"])

    # -- measured window ----------------------------------------------------

    def repeat(self, one: Callable[[bool], None], seconds: float) -> Dict[bool, List[float]]:
        """Call one(traced) until ``seconds`` are spent; returns the wall
        of each call, by traced flag. A call is not started when less
        than half of the previous one would still fit. In a traced run,
        calls alternate untraced/traced, at least one of each."""
        lat: Dict[bool, List[float]] = {False: [], True: []}
        t_end = time.perf_counter() + seconds
        i = 0
        while True:
            traced = self.traced and i % 2 == 1
            t0 = time.perf_counter()
            one(traced)
            now = time.perf_counter()
            lat[traced].append(now - t0)
            i += 1
            if t_end - now < (now - t0) / 2 and (not self.traced or i >= 2):
                return lat

    def measure(self) -> Dict[str, float]:
        """Write phase: write + resume cycles for WRITE_SHARE of the
        window; read phase: lookup rounds against the last cycle's
        output for the rest of it."""
        rates: List[float] = []
        resume_s: List[float] = []
        walls: List[float] = []
        point_ms: List[float] = []
        bulk_s: List[float] = []

        def cycle(traced: bool) -> None:
            out = self.next_out(self.workload)
            (write_s, res_s), counts = self.counted(
                lambda: self.write_and_resume(out, traced, self.n_chunks), traced
            )
            self.pipe_counts = counts or self.pipe_counts
            self.last_wall = write_s + res_s
            self.committed = self.committed_docs(out)
            self.attempted += self.n_docs
            self.failed += sum(1 for st, _, _ in self.committed.values() if st == "failed")
            # chunked_resume's pass A alone is no complete result
            done_s = write_s if self.workload == "bulk_extract" else write_s + res_s
            rates.append(self.n_docs / done_s)
            walls.append(done_s)
            resume_s.append(res_s)

        t0 = time.perf_counter()
        lat = self.repeat(cycle, self.seconds * WRITE_SHARE)
        if self.traced:
            self.layer["trace.overhead_ratio"] = (
                statistics.median(lat[True]) / statistics.median(lat[False])
            )
        self.repeat(lambda traced: self.lookup_round(traced, point_ms, bulk_s),
                    self.seconds - (time.perf_counter() - t0))
        self.report["wall_s (docs / docs_per_s)"] = (statistics.median(walls), "s")
        self.report["cycle walls"] = ([round(w, 3) for w in walls], "s")
        self.report["bulk lookup walls"] = ([round(w, 3) for w in bulk_s], "s")
        self.report["point lookup walls"] = ([round(w) for w in point_ms], "ms")
        # Per-layer, not end-to-end: across seeds their spread exceeded
        # every bound the benchmark may set (see STEADINESS.json).
        for name, value, unit in (
            ("pipeline.resume_s", statistics.median(resume_s), "s"),
            ("lookup.point_p50_ms", statistics.median(point_ms), "ms"),
            ("lookup.bulk_s", statistics.median(bulk_s), "s"),
        ):
            self.layer[name] = value
            self.report[name] = (value, unit)
        return {"docs_per_s": statistics.median(rates)}

    def write_and_resume(self, out: str, traced: bool, n_chunks: int):
        """The write pass, then a resume=True pass over its output;
        returns their walls in seconds. With one chunk the write pass
        commits it, so the resume must skip it; with more, the write
        pass fails at the middle chunk, so the resume must skip the
        chunks before it and recompute the rest."""
        t0 = time.perf_counter()
        if n_chunks == 1:
            self.pipeline(out, traced, n_chunks=1)
            fail_chunk = 1
        else:
            fail_chunk = n_chunks // 2
            try:
                self.pipeline(out, traced, n_chunks=n_chunks,
                              fail_buckets={fail_chunk * N_BUCKETS // n_chunks})
            except RuntimeError as exc:
                if INJECTED not in str(exc):
                    raise
            else:
                raise RuntimeError("pass A completed despite the injected failure")
        t1 = time.perf_counter()
        res = self.pipeline(out, traced, n_chunks=n_chunks, resume=True)
        t2 = time.perf_counter()
        self.chunks_skipped = res.chunks_skipped
        if res.chunks_skipped != fail_chunk or res.chunks_run != n_chunks - fail_chunk:
            log(f"resume skipped {res.chunks_skipped} / ran {res.chunks_run} chunks, "
                f"expected {fail_chunk} / {n_chunks - fail_chunk}")
            self.mismatch += 1
        return t1 - t0, t2 - t1

    # -- lookups ------------------------------------------------------------

    def lookup_round(self, traced: bool, point_ms: List[float], bulk_s: List[float]) -> None:
        """One round of a closed loop with one client against the last
        cycle's output: POINT_LOOKUPS doc_status calls, then one
        doc_status_bulk call. Every answer is checked."""
        hit_urls = sorted(self.committed)
        for _ in range(POINT_LOOKUPS):
            if self.rng.random() < MISS_SHARE:
                url = missing_url(self.seed, self.n_miss)
                self.n_miss += 1
            else:
                url = self.rng.choice(hit_urls)
            t0 = time.perf_counter()
            self.point_lookup(self.out, url, traced)
            point_ms.append((time.perf_counter() - t0) * 1000.0)
        urls = self.rng.sample(hit_urls, min(BULK_URLS, len(hit_urls)))
        t0 = time.perf_counter()
        self.bulk_lookup(self.out, urls, traced)
        bulk_s.append(time.perf_counter() - t0)

    def point_lookup(self, out: str, url: str, traced: bool) -> None:
        with self.span("plans.pipeline.doc_status", traced):
            ans, counts = self.counted(lambda: doc_status(self.spark, out, url), traced)
        self.attempted += 1
        self.point_hits[0] += ans is not None
        self.point_hits[1] += 1
        if counts:
            self.lookup_calls.append(counts)
        want = self.committed.get(url)
        if want is None:
            ok = ans is None
        else:
            ok = ans is not None and ans["url"] == url and (
                ans["status"], ans["bucket"], ans["chunk"]) == want
        if not ok:
            log(f"wrong doc_status answer for {url}: {ans!r}, expected {want!r}")
            self.mismatch += 1

    def bulk_lookup(self, out: str, urls: List[str], traced: bool) -> None:
        with self.span("plans.pipeline.doc_status_bulk", traced):
            rows, counts = self.counted(
                lambda: doc_status_bulk(self.spark, out, urls).collect(), traced
            )
        self.attempted += len(urls)
        if counts:
            self.lookup_calls.append(counts)
        got = {r["url"]: (r["status"], r["bucket"], r["chunk"]) for r in rows}
        want = {u: self.committed[u] for u in urls if u in self.committed}
        bad = sum(1 for u in set(got) | set(want) if got.get(u) != want.get(u))
        bad += len(rows) - len(got)  # duplicate rows
        if bad:
            log(f"doc_status_bulk: {bad} wrong answers")
        self.mismatch += bad

    # -- correctness gate ---------------------------------------------------

    def committed_docs(self, out: str) -> Dict[str, tuple]:
        docs = CheckpointManager(self.spark, out).read("docs")
        return {
            r["url"]: (r["status"], r["bucket"], r["chunk"])
            for r in docs.select("url", "status", "bucket", "chunk").collect()
        }

    def verify(self) -> None:
        """mismatch_docs: corpus docs missing from the output, golden urls
        that differ from the reference parquet, sampled docs that are not
        byte-identical to in-process make_fused_stage, wrong lookups."""
        from pyspark.sql import functions as F

        ckpt = CheckpointManager(self.spark, self.out)
        missing = len({page_url(k) for k in self.indices} - set(self.committed))
        if missing or len(self.committed) != self.n_docs:
            log(f"{missing} corpus docs missing from the committed output")
            self.mismatch += missing or 1

        # 1. reference parity on pages 0..63
        golden = pq.read_table(GOLDEN_RESULTS).to_pandas()
        cols = ["url", "field_name", "value", "confidence", "is_valid"]
        got = [tuple(r) for r in ckpt.read("results")
               .where(F.col("url").isin(sorted(set(golden["url"]))))
               .select(*cols).collect()]
        want = set(golden[cols].itertuples(index=False, name=None))
        bad_urls = {row[0] for row in set(got) ^ want}
        if len(got) != len(set(got)):
            bad_urls.add("<duplicate result rows>")
        if bad_urls:
            log(f"golden mismatch on {len(bad_urls)} urls, e.g. {sorted(bad_urls)[:3]}")
        self.mismatch += len(bad_urls)

        # 2. byte identity of a seeded sample against in-process make_fused_stage
        pages = [build_page(k)
                 for k in self.verify_rng.sample(self.indices[N_GOLDEN:], SAMPLE_DOCS)]
        rows = {
            r["url"]: r
            for r in ckpt.read("docs")
            .where(F.col("url").isin([p["url"] for p in pages]))
            .select("url", "bucket", "status", "extracted_text", "missing_fields", "fields_json")
            .collect()
        }
        pdf = pd.DataFrame({
            "url": [p["url"] for p in pages],
            "bucket": [rows[p["url"]]["bucket"] if p["url"] in rows else -1 for p in pages],
            "html": [p["html"] for p in pages],
        })
        n_bad = 0
        for ref in pd.concat(make_fused_stage(self.cfg)(iter([pdf]))).to_dict("records"):
            r = rows.get(ref["url"])
            mf = ref["missing_fields"]
            want_doc = (ref["status"], ref["extracted_text"],
                        None if mf is None else list(mf), ref["fields_json"])
            if r is None or (r["status"], r["extracted_text"], r["missing_fields"],
                             r["fields_json"]) != want_doc:
                n_bad += 1
        if n_bad:
            log(f"{n_bad}/{len(pages)} sampled docs differ from in-process make_fused_stage")
        self.mismatch += n_bad

    # -- per-layer passes (traced run only) ---------------------------------

    def core_pass(self) -> None:
        """core and operators.stages: one thread, in process, over a
        seeded sample of the corpus, after a warm-up pass over it."""
        pages = [build_page(k) for k in self.verify_rng.sample(self.indices, CORE_SAMPLE)]
        normal = [p for p in pages if len(p["html"]) <= GIANT_HTML_BYTES]
        giants = [p for p in (build_page(k) for k in self.indices if k % GIANT_MOD == 17)
                  if len(p["html"]) > GIANT_HTML_BYTES][:4]
        n = len(normal)
        for rep in range(2):  # rep 0 warms the parser's caches
            t = dict.fromkeys(("parse", "normalize", "extract"), 0.0)
            c = dict.fromkeys(("tokens", "items", "fields"), 0)
            with self.span("core", traced=rep == 1):
                for p in normal:
                    t0 = time.perf_counter()
                    tokens, _ = parse_page(p["html"], include_words=False)
                    t1 = time.perf_counter()
                    items = normalize_items(tokens)
                    t2 = time.perf_counter()
                    ext = extract_fields(items, self.cfg, original_ocr_lines=tokens)
                    t3 = time.perf_counter()
                    t["parse"] += t1 - t0
                    t["normalize"] += t2 - t1
                    t["extract"] += t3 - t2
                    c["tokens"] += len(tokens)
                    c["items"] += len(items)
                    c["fields"] += len(ext["extracted_fields"])
        for k, v in t.items():
            self.layer[f"core.{k}_us"] = v / n * 1e6
        for k, v in c.items():
            self.layer[f"core.{k}_per_doc"] = v / n
        with self.span("core.giant"):
            t0 = time.perf_counter()
            for p in giants:
                parse_page(p["html"], include_words=False)
            self.layer["core.giant_parse_us"] = (time.perf_counter() - t0) / len(giants) * 1e6
        pdf = pd.DataFrame({"url": [p["url"] for p in normal], "bucket": [0] * n,
                            "html": [p["html"] for p in normal]})
        batches = [pdf.iloc[i:i + ARROW_BATCH_ROWS] for i in range(0, n, ARROW_BATCH_ROWS)]
        with self.span("operators.stages.make_fused_stage"):
            t0 = time.perf_counter()
            for _ in make_fused_stage(self.cfg)(iter(batches)):
                pass
            fused_us = (time.perf_counter() - t0) / n * 1e6
        self.layer["stages.fused_us_per_doc"] = fused_us
        self.layer["stages.overhead_us_per_doc"] = fused_us - sum(
            self.layer[f"core.{k}_us"] for k in ("parse", "normalize", "extract"))

    def pipeline_pass(self) -> None:
        """plans.pipeline, sources.checkpoint, lookups and sources.pages,
        read from the latest cycle's committed output."""
        from pyspark.sql import functions as F

        ckpt = CheckpointManager(self.spark, self.out)
        for key in ("jobs", "failed_tasks", "tasks"):
            self.layer[f"pipeline.{key}"] = self.pipe_counts[key]
        self.layer["pipeline.spark_stages"] = self.pipe_counts["stages"]
        with self.span("sources.checkpoint.lineage"):
            t0 = time.perf_counter()
            lineage = ckpt.lineage().select("chunk", "wall_ms").distinct().collect()
            self.layer["checkpoint.lineage_read_ms"] = (time.perf_counter() - t0) * 1000.0
        walls = [float(r["wall_ms"]) for r in lineage]
        self.layer["pipeline.chunk_wall_p50_ms"] = quantile(walls, 0.5)
        self.layer["pipeline.chunk_wall_max_ms"] = max(walls)
        proc = [r[0] for r in ckpt.read("docs").select("proc_ms").collect()]
        self.layer["pipeline.doc_proc_p50_ms"] = quantile(proc, 0.5)
        self.layer["pipeline.doc_proc_p99_ms"] = quantile(proc, 0.99)
        self.layer["pipeline.core_busy_ratio"] = sum(proc) / 1000.0 / (self.last_wall * self.par)
        with self.span("sources.checkpoint.done_chunks"):
            t0 = time.perf_counter()
            done = ckpt.done_chunks("extracted")
            self.layer["checkpoint.done_chunks_ms"] = (time.perf_counter() - t0) * 1000.0
        n_bytes, n_files = 0, 0
        for table in ("docs", "results"):
            for root, _, files in os.walk(ckpt.path(table)):
                for f in files:
                    if f.endswith(".parquet"):
                        n_bytes += os.path.getsize(os.path.join(root, f))
                        n_files += 1
        self.layer["checkpoint.bytes_per_doc"] = n_bytes / self.n_docs
        self.layer["checkpoint.files_per_chunk"] = n_files / len(done)
        self.layer["checkpoint.chunks_skipped"] = self.chunks_skipped
        self.layer["lookup.jobs_per_call"] = statistics.mean(c["jobs"] for c in self.lookup_calls)
        self.layer["lookup.tasks_per_call"] = statistics.mean(c["tasks"] for c in self.lookup_calls)
        self.layer["lookup.hit_ratio"] = self.point_hits[0] / self.point_hits[1]
        with self.span("sources.pages.stats"):
            size = F.length("html")
            stats = self.spark.read.parquet(self.corpus).select(
                F.avg(size).alias("avg"),
                F.sum((size > GIANT_HTML_BYTES).cast("int")).alias("giants"),
            ).first()
        self.layer["pages.html_bytes_per_doc"] = float(stats["avg"])
        self.layer["pages.giant_docs"] = int(stats["giants"])

    # -- run ----------------------------------------------------------------

    def run(self) -> dict:
        with self.span("run"):
            setup_s = self.setup()
            with self.span("measure"):
                e2e = self.measure()
            with self.span("verify"):
                self.verify()
            if self.traced:
                with self.span("per_layer"):
                    self.core_pass()
                    self.pipeline_pass()
        self.spark.stop()
        e2e["setup_s"] = setup_s
        self.report["failed_ratio"] = (self.failed / self.attempted, "ratio")
        self.report["mismatch_docs"] = (self.mismatch, "count")
        if self.traced:
            path = os.path.join(self.trace_dir, f"{self.tracer.run_id}.json")
            self.tracer.write(path)
            log(f"trace written: {path}")
            for name, agg in sorted(self.tracer.summary().items()):
                log(f"  span {name:36s} n={agg['count']:3d} total={agg['total_s']:8.3f} s "
                    f"self={agg['self_s']:8.3f} s")
        metrics = self.layer if self.traced else e2e
        for name, (value, unit) in self.report.items():
            log(f"  {self.workload:15s} {name:22s} {value} {unit}")
        return {
            "correct": self.mismatch == 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": v, "unit": spec.UNITS[n]} for n, v in metrics.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--traces", required=True)
    print(json.dumps(Bench(ap.parse_args()).run()), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
