"""End-to-end corpus dedup job: full chain to the keep-list, stage
checkpointing, and resume (jobs/dedup_job.py)."""

from __future__ import annotations

import os
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.dedup_job import run_dedup  # noqa: E402

from credit_ocr_backend_spark.plans.session import get_spark  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return get_spark("dedup-job-tests", parallelism=4)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """9 docs: a 3-clone cluster, a 2-clone cluster (one clone lightly
    edited but Jaccard >= 0.5), and 4 unique docs."""
    base_a = "the quick brown fox jumps over the lazy dog again and again every day"
    base_b = "completely different text about corpus deduplication at petabyte scale works"
    rows = [
        (0, base_a),
        (1, base_a),
        (2, base_a),
        (3, base_b),
        (4, base_b + " now"),
        (5, "unique five " + "alpha beta gamma delta epsilon zeta"),
        (6, "unique six " + "one two three four five six seven"),
        (7, "unique seven " + "red orange yellow green blue indigo"),
        (8, "unique eight " + "north south east west up down"),
    ]
    path = str(tmp_path_factory.mktemp("corpus") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_dedup_job_end_to_end(spark, corpus, tmp_path):
    out = str(tmp_path / "dedup_out")
    summary = run_dedup(spark, corpus, out)
    assert summary["n_docs"] == 9
    # clusters: {0,1,2} -> rep 0 and {3,4} -> rep 3
    clusters = {
        r["doc"]: r["cluster_rep"]
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    assert clusters == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/keep_list").collect()}
    assert kept == {0, 3, 5, 6, 7, 8}
    assert summary["n_dropped"] == 3
    assert summary["stages"]["keep_list"] == 6


def test_dedup_job_resume_skips_committed_stages(spark, corpus, tmp_path):
    out = str(tmp_path / "dedup_resume")
    first = run_dedup(spark, corpus, out)
    assert first["resumed_stages"] == []
    again = run_dedup(spark, corpus, out, resume=True)
    # every stage was committed -> all five resumed, same final answer
    assert again["resumed_stages"] == [0, 1, 2, 3, 4]
    assert again["stages"] == first["stages"]
    # mismatched parameters refuse to resume (manifest check)
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_dedup(spark, corpus, out, resume=True, jaccard=0.9)


def test_dedup_job_curated_stage(spark, corpus, tmp_path):
    """--quality-min/--sample-rate append a committed 'curated' stage:
    a subset of the keep-list, reproducible across reruns."""
    docs_path = corpus
    out = str(tmp_path / "cur")
    res = run_dedup(spark, docs_path, out, sample_rate=0.6, quality_min=0.0)
    assert "curated" in res["stages"]
    assert 0 < res["stages"]["curated"] <= res["stages"]["keep_list"]

    curated = {r["doc_id"] for r in spark.read.parquet(f"{out}/curated/chunk=0000").collect()}
    keep = {r["doc_id"] for r in spark.read.parquet(f"{out}/keep_list/chunk=0000").collect()}
    assert curated <= keep

    # reproducible: a fresh run over the same corpus picks the same set
    res2 = run_dedup(spark, docs_path, str(tmp_path / "cur2"), sample_rate=0.6, quality_min=0.0)
    curated2 = {r["doc_id"] for r in spark.read.parquet(f"{tmp_path}/cur2/curated/chunk=0000").collect()}
    assert curated2 == curated


def test_dedup_job_curation_added_on_resume(spark, corpus, tmp_path):
    """Adding (or changing) curation params on a resumed run must NOT
    refuse, and must recompute only the curated tail - upstream stages
    stay committed."""
    out = str(tmp_path / "later")
    run_dedup(spark, corpus, out)  # no curation
    res = run_dedup(spark, corpus, out, resume=True, sample_rate=1.0)
    assert res["resumed_stages"] == [0, 1, 2, 3, 4]  # all upstream skipped
    assert res["stages"]["curated"] == res["stages"]["keep_list"]  # rate 1.0

    # tighter params on a further resume -> curated recomputed, smaller
    res2 = run_dedup(spark, corpus, out, resume=True, sample_rate=0.4)
    assert res2["stages"]["curated"] < res["stages"]["curated"]


def test_dedup_job_star_cc_and_reliable_checkpoints(spark, corpus, tmp_path):
    """--cc star + --reliable-checkpoints must produce the identical
    clustering/keep-list (CC algorithms are interchangeable; manifest
    records the choice so resume can't silently switch)."""
    out = str(tmp_path / "dedup_star_out")
    summary = run_dedup(
        spark, corpus, out, cc_algorithm="star", reliable_checkpoints=True
    )
    clusters = {
        r["doc"]: r["cluster_rep"]
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    assert clusters == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/keep_list").collect()}
    assert kept == {0, 3, 5, 6, 7, 8}
    assert summary["n_dropped"] == 3
    # resuming under a DIFFERENT cc algorithm must be refused
    with pytest.raises(ValueError):
        run_dedup(spark, corpus, out, cc_algorithm="label", resume=True)


def test_resume_migrates_pre_cc_algorithm_manifest(spark, corpus, tmp_path):
    """A dedup run committed before cc_algorithm became stage identity
    (manifest lacks the key) must still resume under the historical
    default ('label') instead of failing the manifest comparison with
    (None, 'label') — ADVICE round 4."""
    import json

    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    out = str(tmp_path / "mig_out")
    run_dedup(spark, corpus, out, jaccard=0.5, cc_algorithm="label")

    # simulate the pre-change manifest by deleting the key in place
    ckpt = CheckpointManager(spark, out)
    manifest = ckpt.read_manifest()
    del manifest["cc_algorithm"]
    ckpt.write_manifest(manifest)

    # the realistic CLI path: no explicit --cc on resume → follow the
    # committed manifest (historical default 'label', which here equals
    # the fresh-run default — the star-pinned test below is the one
    # that distinguishes follow-the-manifest from use-the-default)
    res = run_dedup(spark, corpus, out, jaccard=0.5, resume=True)
    assert sorted(res["resumed_stages"]) == [0, 1, 2, 3, 4]
    assert ckpt.read_manifest()["cc_algorithm"] == "label"

    # resuming under an EXPLICITLY different algorithm is still an error
    with pytest.raises(ValueError):
        run_dedup(spark, corpus, out, jaccard=0.5, cc_algorithm="star", resume=True)


def test_resume_follows_manifest_not_fresh_default(spark, corpus, tmp_path):
    """ADVICE r5 (low): the manifest-following branch must be exercised
    with a pinned value that DIFFERS from the fresh-run default
    ('label') — commit a star run, resume with no explicit choice, and
    the resume must adopt star rather than the default."""
    from credit_ocr_backend_spark.sources.checkpoint import CheckpointManager

    out = str(tmp_path / "star_out")
    run_dedup(spark, corpus, out, jaccard=0.5, cc_algorithm="star")
    ckpt = CheckpointManager(spark, out)
    assert ckpt.read_manifest()["cc_algorithm"] == "star"

    res = run_dedup(spark, corpus, out, jaccard=0.5, resume=True)
    assert sorted(res["resumed_stages"]) == [0, 1, 2, 3, 4]
    # an adopted fresh default would have raised a manifest mismatch or
    # rewritten the pin; the committed star choice must survive intact
    assert ckpt.read_manifest()["cc_algorithm"] == "star"


def test_fresh_run_does_not_inherit_earlier_lineage(spark, corpus, tmp_path, monkeypatch):
    """A fresh dedup run into a root that holds a finished run of
    another corpus must not count that run's stages as committed:
    crash it before its clusters stage, resume it, and the resume
    recomputes every stage it did not commit itself."""
    from credit_ocr_backend_spark.operators import dedup as D

    text = "another corpus with its own clone pair and nothing else in common here"
    rows = [(10, text), (11, text), (12, "a lone document about tax forms"),
            (13, "one more lone document on invoices")]
    corpus_b = str(tmp_path / "docs_b")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(corpus_b)
    out = str(tmp_path / "shared")

    run_dedup(spark, corpus, out)  # corpus A, every stage committed

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the clusters stage commits")

    monkeypatch.setattr(D, "duplicate_clusters", crash)
    with pytest.raises(RuntimeError, match="crash"):
        run_dedup(spark, corpus_b, out)
    monkeypatch.undo()

    res = run_dedup(spark, corpus_b, out, resume=True)
    assert res["resumed_stages"] == [0, 1, 2]
    clean = run_dedup(spark, corpus_b, str(tmp_path / "clean_b"))
    assert res["stages"] == clean["stages"]
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/keep_list").collect()}
    assert kept == {10, 12, 13}
