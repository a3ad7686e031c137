#!/usr/bin/env python
"""spark-submit entrypoint for corpus deduplication: the full
MinHash → LSH banding → exact-Jaccard verify → connected components →
keep-list chain, checkpointed per stage and resumable.

Cluster usage (same packaging as extract_job):

    cd /root/repo && zip -r /tmp/engine.zip credit_ocr_backend_spark config
    spark-submit --py-files /tmp/engine.zip jobs/dedup_job.py \
        --docs hdfs://corpus/documents --out hdfs://corpus/dedup \
        --id-col doc_id --text-col text --jaccard 0.5 [--resume]

Local smoke:

    python jobs/dedup_job.py --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/dedup_out

Unlike the extraction pipeline (embarrassingly parallel per bucket,
chunked by bucket range), dedup stages are GLOBAL joins — so the unit
of recovery here is the STAGE, not a bucket chunk: each stage commits
its full output as one parquet table plus a lineage row, and --resume
re-reads committed stages instead of recomputing them. At 10^12 docs
every stage is shuffle-bound and restart-from-last-stage is exactly
the recovery granularity you want (re-running "verify" must not redo
"signatures").

Stages (each a committed table under --out):

    signatures      (doc, mh0..mh7)          one explode + 8 min-aggs
    candidate_pairs (doc_a, doc_b)           banding equi-join, star guard
    verified_pairs  (doc_a, doc_b, jaccard)  exact n-gram Jaccard >= tau
    clusters        (doc, cluster_rep)       connected components
    keep_list       (<id-col>)               one survivor per cluster
    curated         (<id-col>)               optional: --quality-min floor
                                             + --sample-rate content-keyed sample

The job prints ONE JSON line: per-stage rows, dropped-doc count, wall.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


STAGES = ["signatures", "candidate_pairs", "verified_pairs", "clusters", "keep_list",
          "curated"]


def run_dedup(
    spark,
    docs_path: str,
    out_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard: float = 0.5,
    resume: bool = False,
    quality_min: float | None = None,
    sample_rate: float | None = None,
    cc_algorithm: str | None = None,
    reliable_checkpoints: bool = False,
) -> dict:
    from pyspark.sql import functions as F

    from credit_ocr_backend_spark.operators import dedup as D
    from credit_ocr_backend_spark.sources.checkpoint import (
        CheckpointManager,
        new_run_id,
    )

    ckpt = CheckpointManager(spark, out_root)
    # cc_algorithm=None means "no explicit choice": a fresh run takes
    # the project default (see below); a RESUME follows whatever the
    # committed manifest pinned — otherwise a project-default change
    # would strand every in-flight run started under the old one
    # (round-5 review finding: a migration shim alone can't prevent
    # that; the default must follow the manifest).
    if cc_algorithm is None:
        committed = ckpt.read_manifest() if resume else None
        if committed is not None:
            # a manifest from before cc_algorithm existed ran 'label'
            # (the only algorithm then) — same rule the shim below
            # writes into the manifest
            cc_algorithm = committed.get("cc_algorithm", "label")
        else:
            # 'label' won the round-5 three-corpus A/B (BENCH/PLANS.md):
            # dedup pair graphs arriving through lsh_candidate_pairs are
            # star-guarded into small-diameter components, where
            # label-prop's cheap rounds beat Kiveris star 2× at job
            # level (9.9 vs 20.0 s on a 50k-doc clone corpus); star's
            # round-count advantage only pays on giant UN-guarded
            # sprawling components (15.1 vs 18.5 s on a random graph
            # with a giant component) — pass --cc star for those.
            cc_algorithm = "label"
    # Curation params are deliberately NOT part of the stage-identity
    # manifest: they only define the cheap curated tail, and pinning
    # them would force recomputing every expensive global-join stage
    # just to change a scan predicate. The curated stage carries its
    # own sidecar marker instead (below).
    manifest = {
        "job": "dedup",
        "docs_path": docs_path,
        "id_col": id_col,
        "text_col": text_col,
        "jaccard": jaccard,
        # cc_algorithm IS stage identity: label-prop and star produce the
        # same clustering, but resuming a half-finished run under a
        # different algorithm should be an explicit choice, not silent.
        "cc_algorithm": cc_algorithm,
    }
    if cc_algorithm not in ("label", "star"):
        raise ValueError(f"cc_algorithm must be 'label' or 'star', got {cc_algorithm!r}")
    if reliable_checkpoints and spark.sparkContext.getCheckpointDir() is None:
        # fault-tolerant lineage truncation needs a real checkpoint dir;
        # default it under the job's own output root
        spark.sparkContext.setCheckpointDir(f"{out_root}/_cc_checkpoints")
    if resume:
        # Migration shim (ADVICE round 4): manifests committed before
        # cc_algorithm became stage identity lack the key; treat the
        # absence as the then-only algorithm ('label') and rewrite the
        # manifest in place, so in-flight dedup runs stay resumable
        # instead of failing the comparison with (None, 'label').
        committed = ckpt.read_manifest()
        if committed is not None and "cc_algorithm" not in committed:
            committed["cc_algorithm"] = "label"
            ckpt.write_manifest(committed)
        ckpt.check_manifest(manifest)
    else:
        # A fresh run starts from nothing: an earlier run's lineage
        # would otherwise mark its stages done for a later resume.
        ckpt.reset([*STAGES, "curated_params.json"])
        ckpt.write_manifest(manifest)
    run_id = new_run_id()
    done = ckpt.done_chunks("dedup") if resume else set()
    t_start = time.perf_counter()
    counts: dict = {}

    def commit(stage: str, df) -> None:
        t0 = time.perf_counter()
        ckpt.write_chunk(df, stage, 0)
        n = ckpt.read_chunk(stage, 0).count()
        counts[stage] = n
        ckpt.append_lineage(
            "dedup",
            STAGES.index(stage),
            [{"bucket": STAGES.index(stage), "n_docs": n, "n_failed": 0,
              "cpu_ms": 0.0}],
            int((time.perf_counter() - t0) * 1000),
            run_id,
        )

    def have(stage: str) -> bool:
        if STAGES.index(stage) in done:
            counts[stage] = ckpt.read_chunk(stage, 0).count()
            return True
        return False

    docs = spark.read.parquet(docs_path)

    if not have("signatures"):
        commit("signatures", D.minhash_signatures(docs, id_col, text_col))
    sigs = ckpt.read_chunk("signatures", 0)

    if not have("candidate_pairs"):
        commit("candidate_pairs", D.lsh_candidate_pairs(sigs))
    pairs = ckpt.read_chunk("candidate_pairs", 0)

    if not have("verified_pairs"):
        verified = D.ngram_jaccard(docs, pairs, id_col, text_col).where(
            F.col("jaccard") >= jaccard
        )
        commit("verified_pairs", verified)
    verified = ckpt.read_chunk("verified_pairs", 0)

    if not have("clusters"):
        cc = D.duplicate_clusters_star if cc_algorithm == "star" else D.duplicate_clusters
        commit(
            "clusters",
            cc(
                verified.select("doc_a", "doc_b"),
                reliable_checkpoint=reliable_checkpoints,
            ),
        )
    clusters = ckpt.read_chunk("clusters", 0)

    if not have("keep_list"):
        keep = D.canonical_keep_list(docs.select(id_col), clusters, id_col)
        commit("keep_list", keep)

    # Optional curation tail (a committed stage): quality floor +
    # deterministic content-keyed sample over the keep-list survivors.
    # Both are scan predicates / a semi-join against the keep-list — no
    # extra corpus shuffle.
    # Identity = a sidecar marker, not the run manifest: resuming with
    # DIFFERENT curation params recomputes only this cheap stage (never
    # the upstream global joins), while a stale curated table can never
    # be served under new params.
    if quality_min is not None or sample_rate is not None:
        cur_params = json.dumps(
            {"quality_min": quality_min, "sample_rate": sample_rate}, sort_keys=True
        ).encode("utf-8")
        if ckpt.read_bytes("curated_params.json") != cur_params or not have("curated"):
            from credit_ocr_backend_spark.operators import sampling as SP
            from credit_ocr_backend_spark.operators import textstats as T

            keep = ckpt.read_chunk("keep_list", 0)
            kept_docs = docs.join(keep, id_col, "left_semi")
            if quality_min is not None:
                kept_docs = kept_docs.where(T.quality_score(text_col) >= quality_min)
            out_df = kept_docs.select(id_col)
            if sample_rate is not None:
                out_df = SP.deterministic_sample(out_df, sample_rate, id_col, seed="cur")
            commit("curated", out_df)
            ckpt.write_bytes("curated_params.json", cur_params)

    n_docs = docs.count()
    return {
        "metric": "dedup_pipeline",
        "n_docs": n_docs,
        "stages": counts,
        "n_dropped": n_docs - counts["keep_list"],
        "resumed_stages": sorted(done),
        "wall_sec": round(time.perf_counter() - t_start, 3),
    }


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--docs", required=True, help="documents table (parquet)")
    parser.add_argument("--out", required=True, help="output root")
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--jaccard", type=float, default=0.5)
    parser.add_argument("--quality-min", type=float, default=None,
                        help="curation: drop keep-list docs below this quality score")
    parser.add_argument("--sample-rate", type=float, default=None,
                        help="curation: deterministic content-keyed sample rate")
    parser.add_argument("--cc", choices=["label", "star"], default=None,
                        help="connected-components algorithm. Default: follow the "
                             "committed manifest on --resume, else 'label' "
                             "(min-label propagation with pointer jumping) — the "
                             "round-5 job-level A/B winner on the clone-cluster "
                             "shape star-guarded dedup pairs actually have (9.9 vs "
                             "20.0 s on a 50k-doc corpus, identical keep-lists). "
                             "Use --cc star (Kiveris large/small-star) when the "
                             "pair source is NOT star-guarded and giant sprawling "
                             "components are expected: its bounded round count "
                             "wins there (6 vs 17 rounds, 15.1 vs 18.5 s on a "
                             "random graph with a giant component).")
    parser.add_argument("--reliable-checkpoints", action="store_true",
                        help="use fault-tolerant checkpoint() for CC lineage "
                             "truncation (long-running cluster jobs); defaults the "
                             "checkpoint dir under --out")
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--cpus", type=int,
                        default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    args = parser.parse_args()

    from credit_ocr_backend_spark.plans.session import get_spark

    spark = get_spark("dedup-job", parallelism=args.cpus)
    summary = run_dedup(
        spark, args.docs, args.out,
        id_col=args.id_col, text_col=args.text_col,
        jaccard=args.jaccard, resume=args.resume,
        quality_min=args.quality_min, sample_rate=args.sample_rate,
        cc_algorithm=args.cc, reliable_checkpoints=args.reliable_checkpoints,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
