"""SparkSession factory with scale-appropriate defaults.

``ENGINE_CONF`` is the single place where the engine's parallelism-
independent knobs live; ``get_spark`` (tests, bench) and the
spark-submit entrypoint (``jobs/extract_job.py``) both apply it on the
session builder, before the session starts, so a submitted run plans,
writes and commits exactly as a local one:

* AQE on (runtime partition coalescing),
* Arrow max batch 4096 rows — re-measured in round 6 after the
  per-document core cost halved (the per-batch worker flush overhead
  became relatively bigger): 200k-doc pipeline 23.8 s at 1024 → 20.3 s
  at 4096 — and at most ``ARROW_BATCH_ROWS × GIANT_HTML_BYTES`` = 128
  MiB, the worst case of 4096 pages of at most 32 KB. A batch of
  ~3 KB-average pages (~12 MB) is bounded by rows; Spark closes a batch
  of giant pages once its bytes pass the cap, so no batch the fused
  stage receives exceeds the cap by more than one page, however many
  giants a url-hash partition holds (SURVEY.md §7.3),
* zstd parquet for the pages and the docs,
* Hadoop's v2 file committer. A ``spark.hadoop.*`` key reaches the
  Hadoop conf that writes use only when it is set before the
  SparkContext starts; a runtime ``spark.conf.set`` of it is ignored.

``get_spark`` adds what a local session needs on top: the master,
shuffle partitions and scan floor sized to the local core count (on a
real cluster these come from the submit conf; AQE coalesces down as
needed), driver memory and scratch dir.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 4096
GIANT_HTML_BYTES = 32 * 1024  # pages above this are the skew tail's giants

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_BATCH_ROWS * GIANT_HTML_BYTES),
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "UTC",
    # v2 file committer: tasks move their output into place at task
    # commit instead of the driver serially renaming every file at
    # job commit — the standard choice for many-file batch writes.
    # The pipeline's correctness never leans on v1's job-level
    # atomicity: chunk completion is decided by the lineage append,
    # never by directory existence alone.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def get_spark(
    app_name: str = "credit-ocr-backend-spark",
    parallelism: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    # Shuffle/spill scratch on tmpfs when available — the sandbox's /tmp
    # is a spinning-ish block device whose serialized I/O otherwise caps
    # the 32-way runs (on a real cluster this is the executors' local
    # NVMe). Falls back to the default temp dir silently.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.default.parallelism", str(parallelism))
        # Floor on scan parallelism (guide §6): few-row-group local
        # parquet otherwise plans 1-2 scan tasks regardless of core
        # count. Parameterised by the session's parallelism; at corpus
        # scale inputs already split far beyond the floor, so this is a
        # no-op there (it can only SHRINK split size, never inflate
        # task counts past the natural file/row-group layout).
        .config("spark.sql.files.minPartitionNum", str(parallelism))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    builder = builder.config(map={**ENGINE_CONF, **(extra_conf or {})})

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
