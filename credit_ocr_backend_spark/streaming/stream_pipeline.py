"""Streaming extraction: the batch stages under Structured Streaming.

Two entry points:

* ``stream_extract`` — file-source stream over a pages directory →
  the fused extraction stage (stateless mapInPandas works identically
  on micro-batches) → parquet sink with checkpointing. Exactly-once
  per micro-batch via the streaming commit log, the streaming analogue
  of the batch pipeline's bucket-chunk commits.
* ``windowed_field_counts`` — watermarked sliding-window aggregation
  over the extraction results stream (late data beyond the watermark
  dropped) — the canonical stateful-streaming operator the engine
  exposes for monitoring extraction throughput/quality over event time.
* ``sessionize_stream`` — CUSTOM stateful operator via
  ``applyInPandasWithState``: per-user gap sessionization (gap > 30
  min ⇒ new session), Arrow-batched, state = one open session per
  key, event-time timeout closes idle sessions when the watermark
  passes last_ts + gap.

Run with ``trigger(availableNow=True)`` for catch-up batch semantics or
a processing-time trigger for continuous ingest.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from credit_ocr_backend_spark.core.config import DocumentTypeConfig, default_config
from credit_ocr_backend_spark.operators.stages import EXTRACTED_SCHEMA, make_fused_stage
from credit_ocr_backend_spark.sources.checkpoint import with_bucket

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "warc_date date"
)


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    doc_config: Optional[DocumentTypeConfig] = None,
    n_buckets: int = 64,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """pages stream → fused extraction → parquet docs sink.

    Returns the started StreamingQuery (caller awaits/stops)."""
    cfg = doc_config or default_config()
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    extracted = with_bucket(stream.select("url", "html"), n_buckets).mapInPandas(
        make_fused_stage(cfg), schema=EXTRACTED_SCHEMA
    )
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long, closed boolean"
)
SESSION_STATE_SCHEMA = "start_ms long, last_ms long, n_events long"

SESSION_GAP_S = 1800  # 30 min


def _sessionize_fn(key, pdf_iter, state):
    """applyInPandasWithState body: fold this trigger's events for one
    user into the open-session state; emit a row per CLOSED session
    (gap exceeded or event-time timeout). Runs Arrow-batched per key —
    no per-row Python outside this generator.

    Ordering contract (ADVICE round 2): a key's trigger data may arrive
    split across Arrow batches, and the watermark only bounds how OLD an
    event can be — it does not order events relative to the open-session
    state. So all batches are concatenated and sorted globally, then
    merged with the state explicitly:

    * ts within [start, last] of the open session → densifies it (n+1);
    * ts before the open session within the gap → extends session_start
      backward;
    * ts before the open session beyond the gap → folds into its own
      earlier session(s), emitted closed (chronologically they precede
      the open session and are gap-separated from it);
    * ts after last → the usual forward fold.

    Known approximation (inherent to O(1) per-user state): an earlier
    session emitted closed this trigger cannot merge with even-later
    stragglers in a FUTURE trigger; such stragglers fragment into their
    own session. The window for this is bounded by the watermark.
    """
    import pandas as pd

    (user_id,) = key
    gap_ms = SESSION_GAP_S * 1000

    def row(start_ms, end_ms, n, closed):
        return {
            "user_id": user_id,
            "session_start": pd.Timestamp(start_ms, unit="ms"),
            "session_end": pd.Timestamp(end_ms, unit="ms"),
            "n_events": n,
            "closed": closed,
        }

    if state.hasTimedOut:
        start_ms, last_ms, n = state.get
        state.remove()
        yield pd.DataFrame([row(start_ms, last_ms, n, True)])
        return

    start_ms = last_ms = None
    n = 0
    if state.exists:
        start_ms, last_ms, n = state.get

    # one global sort across ALL batches for this key
    all_ts = []
    for pdf in pdf_iter:
        all_ts.extend(int(ts.value // 1_000_000) for ts in pdf["ts"])
    all_ts.sort()

    out = []
    if start_ms is not None and all_ts:
        pre = [t for t in all_ts if t < start_ms]
        n += sum(1 for t in all_ts if start_ms <= t <= last_ms)
        rest = [t for t in all_ts if t > last_ms]
        if pre:
            p_start = p_last = pre[0]
            p_n = 1
            for t in pre[1:]:
                if t - p_last > gap_ms:
                    out.append(row(p_start, p_last, p_n, True))
                    p_start, p_n = t, 0
                p_last = t
                p_n += 1
            if start_ms - p_last <= gap_ms:
                start_ms, n = p_start, n + p_n  # extend backward
            else:
                out.append(row(p_start, p_last, p_n, True))
    else:
        rest = all_ts

    for ts_ms in rest:
        if last_ms is not None and ts_ms - last_ms > gap_ms:
            out.append(row(start_ms, last_ms, n, True))
            start_ms, n = ts_ms, 0
        if start_ms is None:
            start_ms = ts_ms
        last_ms = ts_ms
        n += 1

    if last_ms is not None:
        state.update((start_ms, last_ms, n))
        # close the session once the watermark passes last_ts + gap
        state.setTimeoutTimestamp(last_ms + SESSION_GAP_S * 1000)
    if out:
        yield pd.DataFrame(out)


def sessionize_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (SURVEY §2.8 forward surface):
    per-user session windows with the batch ``sessionize`` semantics.
    Open sessions live in the state store (one tuple per user) and are
    emitted with ``closed=true`` either when a later event exceeds the
    gap or when the event-time timeout fires; the state store size is
    O(active users), never O(events)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select(F.col(user_col).alias("user_id"), F.col(ts_col).alias("ts"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_field_counts(
    results_stream: DataFrame,
    *,
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per field over a stream of
    extraction result rows — late rows beyond the watermark are dropped
    (the streaming-only operator surface: event-time window + state)."""
    return (
        results_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col("field_name"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("n_valid"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "field_name",
            "n",
            "n_valid",
        )
    )


def dedup_stream(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    content_col: str = "html",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-crawled identical payloads as
    they arrive. State is one row per (sha256(content), event-time
    window key); the watermark bounds it — a duplicate arriving later
    than ``watermark`` after the first copy is NOT caught (it will be
    caught by the batch dedup pass; the stream guards the ingest path).
    ``dropDuplicatesWithinWatermark`` keys the state store on the hash
    only and ages entries out with the watermark, so state size is
    O(distinct payloads per watermark horizon), never O(stream).

    NULL payloads never dedup against each other: sha2(NULL) is NULL
    and the operator treats NULL keys as equal, which would silently
    drop every NULL-html document after the first — the batch path
    records those as failed, so the stream must pass them through
    (keyed by url instead; a NULL-html + NULL-url row falls through to
    a per-row uuid so it can never collide with anything — without
    that final fallback the url fallback itself re-creates the NULL-key
    collapse it exists to avoid, ADVICE round 3)."""
    content_sha = F.coalesce(
        F.sha2(F.col(content_col), 256),
        F.concat(F.lit("null:"), F.col("url")),
        F.concat(F.lit("anon:"), F.expr("uuid()")),
    )
    hashed = pages.withColumn("content_sha", content_sha)
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_sha"]
    )


# --------------------------------------------------------------------------
# Streaming SimHash near-dup guard (round-5: the near-dup analogue of
# dedup_stream — catch near-identical re-crawls on ingest).
# --------------------------------------------------------------------------

SIMHASH_PAIRS_SCHEMA = "doc_a string, doc_b string, hamming int, band_id int"
# one state row per (band_id, band_val) bucket: the docs currently
# inside the watermark horizon that hashed into it
SIMHASH_STATE_SCHEMA = (
    "urls array<string>, fps array<long>, tss array<long>, last_ms long"
)


def _make_simhash_band_fn(max_hamming: int, horizon_ms: int, max_bucket: int):
    """Factory for the per-(band_id, band_val) stateful comparator.

    Semantics mirror the batch :func:`~credit_ocr_backend_spark.
    operators.dedup.simhash_near_dupes` join: a pair is emitted iff the
    two docs share this band value AND their full fingerprints are
    within ``max_hamming`` — the exact-Hamming verify runs here, so no
    pair beyond the radius is ever emitted. Rows are processed in
    (ts, url) order and each row is compared against every doc already
    in the bucket (state from earlier triggers + earlier rows of this
    trigger), so on a single availableNow pass the emitted pair set is
    EXACTLY the batch operator's below-cap pair set restricted to
    pairs within ``horizon_ms`` of each other (per-band; a pair
    sharing two bands is emitted once per band — distinct() is a batch
    concern; parity-tested in tests/test_streaming.py).

    State per bucket is the (url, fingerprint, ts) triples inside the
    watermark horizon, pruned two ways: entries older than
    ``horizon_ms`` before the bucket's newest row drop at every
    trigger, and the whole bucket drops via event-time timeout once
    the watermark passes its last activity + horizon. A bucket is
    additionally CAPPED at the ``max_bucket`` most recent entries —
    the stream analogue of the batch star guard (a mega-cluster of
    re-crawls would otherwise grow one state row without bound);
    beyond the cap the oldest entries stop being matchable, which only
    loses pairs the batch pass will still find."""
    import pandas as pd

    mask64 = (1 << 64) - 1

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return

        band_id = int(key[0])
        urls, fps, tss = [], [], []
        if state.exists:
            u, f, t, _ = state.get
            urls, fps, tss = list(u), list(f), list(t)

        rows = []
        for pdf in pdf_iter:
            for url, fp, ts in zip(pdf["url"], pdf["simhash"], pdf["ts"]):
                rows.append((int(ts.value // 1_000_000), str(url), int(fp)))
        rows.sort()

        out = []
        for ts_ms, url, fp in rows:
            for prev_url, prev_fp, prev_ms in zip(urls, fps, tss):
                # per-pair horizon: an entry older than horizon_ms
                # before THIS row is expired for this row (a strictly
                # bounded "within watermark_s" guarantee — state not
                # yet physically pruned must not widen the window).
                # Same-url re-crawls never self-pair: the batch
                # operator's doc_a < doc_b join cannot emit (x, x),
                # and a same-url near-identical re-crawl is the exact
                # dedup_stream's territory anyway.
                if prev_ms < ts_ms - horizon_ms or prev_url == url:
                    continue
                ham = bin((fp ^ prev_fp) & mask64).count("1")
                if ham <= max_hamming:
                    a, b = sorted((url, prev_url))
                    out.append(
                        {"doc_a": a, "doc_b": b, "hamming": ham, "band_id": band_id}
                    )
            urls.append(url)
            fps.append(fp)
            tss.append(ts_ms)

        if rows:
            newest = max(tss)
            # prune by horizon, then cap at the max_bucket entries with
            # the LARGEST event times (append order is trigger-arrival
            # order — a late row appended last must not displace a
            # newer-by-event-time entry)
            keep = [i for i, t in enumerate(tss) if t >= newest - horizon_ms]
            keep.sort(key=lambda i: (tss[i], urls[i]))
            keep = keep[-max_bucket:]
            keep.sort()  # preserve arrival order within the survivors
            urls = [urls[i] for i in keep]
            fps = [fps[i] for i in keep]
            tss = [tss[i] for i in keep]
            state.update((urls, fps, tss, newest))
            state.setTimeoutTimestamp(newest + horizon_ms)

        if out:
            yield pd.DataFrame(out)

    return fn


def simhash_dedup_pairs_stream(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    url_col: str = "url",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    watermark_s: int = 3600,
    max_bucket: int = 64,
) -> DataFrame:
    """Streaming SimHash near-duplicate detection: emit (doc_a, doc_b,
    hamming, band_id) pairs for near-identical re-crawls arriving
    within ``watermark_s`` of each other — the near-dup companion to
    :func:`dedup_stream`'s exact guard, with the batch
    ``simhash_near_dupes`` semantics (band the fingerprint, candidate
    on band equality, verify exact Hamming ≤ ``max_hamming``; banding
    lossless for ``max_hamming <= bands - 1`` by pigeonhole).

    Shape, stage by stage:

    * the per-row fingerprint is a pure column expression
      (``simhash_token_votes`` + ``simhash_from_votes`` — one array
      fold per md5 word, NO explode/groupBy), because a streaming
      aggregation before the stateful join would be a second stateful
      operator in the same query;
    * the fingerprint explodes into ``bands`` (band_id, band_val) rows
      — same band extraction expression as the batch operator;
    * ``applyInPandasWithState`` keyed by (band_id, band_val) holds the
      docs of the last ``watermark_s`` per bucket and runs the exact
      Hamming verify against them (Arrow-batched; state is
      watermark-bounded and capped at ``max_bucket`` entries per
      bucket — the stream analogue of the batch star guard).

    NULL text rows are passed over silently (the batch operator drops
    them too — exploding a NULL token array emits no rows); the batch
    extraction path records them as failed documents. A pair whose
    fingerprints share several bands repeats once per band;
    ``distinct()`` over (doc_a, doc_b) is left to the consumer because
    a streaming distinct would be yet another stateful operator."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from credit_ocr_backend_spark.operators.dedup import (
        simhash_from_votes,
        simhash_token_votes,
    )

    n_words = (bits + 15) // 16
    width = bits // bands
    voted = pages.where(F.col(text_col).isNotNull()).select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        *[
            simhash_token_votes(text_col, w).alias(f"_v{w}")
            for w in range(n_words)
        ],
    )
    fp = voted.select(
        "url",
        "ts",
        simhash_from_votes([f"_v{w}" for w in range(n_words)], bits).alias(
            "simhash"
        ),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_val"),
            )
            for i in range(bands)
        ]
    )
    banded = fp.select(
        "url", "ts", "simhash", F.explode(band_structs).alias("b")
    ).select("url", "ts", "simhash", "b.band_id", "b.band_val")

    return (
        banded.withWatermark("ts", f"{watermark_s} seconds")
        .groupBy("band_id", "band_val")
        .applyInPandasWithState(
            _make_simhash_band_fn(max_hamming, watermark_s * 1000, max_bucket),
            outputStructType=SIMHASH_PAIRS_SCHEMA,
            stateStructType=SIMHASH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
