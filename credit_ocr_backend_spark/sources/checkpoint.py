"""Per-chunk checkpoint, per-bucket lineage, and resume.

The reference checkpoints every stage as a blob per document and keeps
a job-status row per document (``Stage`` buckets,
/root/reference/src/creditsystem/storage.py:25-31; ``Extraktionsauftrag``
/root/reference/schema.sql:26-33). At 10^12 documents a per-document
status row is itself a big-data problem, so this engine coarsens the
unit of recovery:

* **bucket** — stable ``pmod(xxhash64(url), B)``: the lineage/metrics
  grain (doc counts, failures, cpu-ms per bucket);
* **chunk** — contiguous bucket range processed as one Spark job and
  committed as one ``chunk=NNNN`` partition directory with plain
  overwrite. Re-running a chunk is idempotent (the ``overwrite=True``
  blob semantics of storage.py:152); a crashed chunk leaves committed
  chunks untouched.

The pipeline stores one stage table, ``docs``. The long-format results
rows (``ExtrahierteDaten`` in the reference's schema.sql) are a pure
function of a document's ``fields_json``, so they are derived on read
(:func:`results_of`, through ``read("results")``), not written.

After each chunk commits, one lineage parquet fragment is appended
(pyarrow, driver-side — one row per bucket; no Spark job for metadata).
Resume = skip chunks whose lineage rows exist with status done. Resume
and the status lookups READ the lineage with pyarrow too
(:meth:`CheckpointManager.read_lineage`), and the lookups read the
owning chunk's docs files with ``pyarrow.dataset``: no Spark job, and a
url's bucket comes from :func:`url_bucket`, a Python port of Spark's
``xxhash64`` tested against Spark.

Two clients touch ``out_root``, each for its own part:

* Spark writes the chunk data through Hadoop's FileSystem, the client
  its writers use. The manager only checks at construction that the
  root's scheme has a loadable Hadoop implementation, so a missing
  connector fails there, not at the first chunk write.
* Every metadata operation — manifest, lineage fragments, resets, the
  lineage and lookup reads — goes through one ``pyarrow.fs``
  filesystem, opened at construction (:func:`_arrow_fs`): a plain path
  or ``file:`` URI is local, ``s3a://`` is opened as pyarrow's
  ``s3://``, any other scheme goes through
  ``pyarrow.fs.FileSystem.from_uri``. A root pyarrow cannot open raises
  ``ValueError`` there too, so resume state never lands anywhere but on
  the store that holds the data.

On Iceberg the same layout is ``bucket(url, N)`` hidden partitioning +
``overwritePartitions()``; plain parquet directories reproduce the
mechanics faithfully for this sandbox.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from typing import Iterable, List, Optional, Set
from urllib.parse import urlparse

from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from credit_ocr_backend_spark.operators.stages import FIELDS_T

_MANIFEST = "run_manifest.json"
_MANIFEST_TMP = _MANIFEST + ".tmp"

LINEAGE_SCHEMA = (
    "chunk int, bucket int, stage string, status string, n_docs long, "
    "n_failed long, cpu_ms double, wall_ms long, run_id string, "
    "finished_at string"
)

RESULT_COLUMNS = [
    "field_name", "value", "confidence", "page", "bounding_box",
    "is_valid", "errors",
]


def _lineage_arrow_schema():
    import pyarrow as pa

    return pa.schema([
        ("chunk", pa.int32()), ("bucket", pa.int32()), ("stage", pa.string()),
        ("status", pa.string()), ("n_docs", pa.int64()), ("n_failed", pa.int64()),
        ("cpu_ms", pa.float64()), ("wall_ms", pa.int64()), ("run_id", pa.string()),
        ("finished_at", pa.string()),
    ])


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable url-hash bucket — identical across runs, the lineage key."""
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: Spark's ``xxhash64``
    of a string column is this over its UTF-8 bytes with seed 42."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed & _M64, (seed - _P1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def url_bucket(url: str, n_buckets: int) -> int:
    """:func:`with_bucket` on the driver, without a Spark job: Spark's
    ``pmod(xxhash64(url), n_buckets)`` (Python's ``%`` is already
    non-negative for a positive modulus)."""
    return xxhash64(url.encode("utf-8")) % n_buckets


def _arrow_fs(root: str):
    """(pyarrow filesystem, path) for ``root``: a plain path or a
    ``file:`` URI is local; ``s3a://`` is opened as pyarrow's ``s3://``
    (credentials then come from pyarrow's AWS chain, not the Hadoop
    conf); any other scheme goes through ``FileSystem.from_uri``."""
    scheme = urlparse(root).scheme
    if scheme in ("", "file"):
        return pafs.LocalFileSystem(), os.path.abspath(urlparse(root).path if scheme else root)
    uri = "s3" + root[len("s3a"):] if scheme == "s3a" else root
    try:
        return pafs.FileSystem.from_uri(uri)
    except Exception as exc:  # unknown scheme, no libhdfs, no S3 support
        raise ValueError(
            f"out_root '{root}': pyarrow cannot open the '{scheme}://' scheme "
            f"({exc}); checkpoint metadata needs a filesystem pyarrow can open."
        ) from exc




class CheckpointManager:
    """Filesystem layout:
    ``{root}/{table}/chunk=NNNN/part-*.parquet`` for stage tables,
    ``{root}/lineage/part-*.parquet`` (append-only fragments) and
    ``{root}/run_manifest.json``. Spark writes the stage tables through
    Hadoop; the manager reads and writes everything else through the one
    pyarrow filesystem of ``root`` (:func:`_arrow_fs`). ``root`` needs a
    scheme both can open; either missing raises ``ValueError`` here."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        try:
            spark._jvm.org.apache.hadoop.fs.Path(self.root).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
        except Exception as exc:  # unknown scheme / missing connector jar
            raise ValueError(
                f"out_root '{root}' has no usable Hadoop FileSystem "
                f"implementation ({exc}); provide the connector jars, "
                f"mount the store, or use a file:// / local out_root."
            ) from exc
        self._filesystem, self._base = _arrow_fs(self.root)
        self.lineage_dir = self.path("lineage")
        self.manifest_path = self.path(_MANIFEST)

    def reset(self, tables: Iterable[str]) -> None:
        """Remove the engine-owned state under root: the lineage, the
        run manifest with its swap file, and ``tables`` — the stage
        tables (or other root entries) the caller owns. A fresh run
        calls this before it pins its manifest, so no chunk of an
        earlier run can count as committed for it. Other files under
        root are left alone."""
        for name in ("lineage", _MANIFEST, _MANIFEST_TMP, *tables):
            self._delete(name)

    # -- small files under root ----------------------------------------------

    def read_bytes(self, name: str) -> Optional[bytes]:
        """The contents of the file ``{root}/{name}``; None if it does
        not exist."""
        path = self._apath(name)
        if self._filesystem.get_file_info(path).type != pafs.FileType.File:
            return None
        with self._filesystem.open_input_stream(path) as f:
            return f.read()

    def write_bytes(self, name: str, data: bytes) -> None:
        """Create or overwrite the file ``{root}/{name}``."""
        self._filesystem.create_dir(self._base, recursive=True)
        with self._filesystem.open_output_stream(self._apath(name)) as f:
            f.write(data)

    def _apath(self, name: str) -> str:
        """The pyarrow path of ``{root}/{name}``."""
        return f"{self._base}/{name}"

    def _delete(self, name: str) -> None:
        info = self._filesystem.get_file_info(self._apath(name))
        if info.type == pafs.FileType.Directory:
            self._filesystem.delete_dir(info.path)
        elif info.type == pafs.FileType.File:
            self._filesystem.delete_file(info.path)

    # -- run manifest -------------------------------------------------------

    def write_manifest(self, params: dict) -> None:
        """Persist the run parameters that define chunk identity
        (n_buckets, n_chunks, ts window). Resuming under different
        parameters would silently skip chunk ids whose bucket ranges or
        input window differ from the committed run."""
        self.write_bytes(_MANIFEST_TMP, json.dumps(params, sort_keys=True, indent=2).encode())
        self._delete(_MANIFEST)
        self._filesystem.move(self._apath(_MANIFEST_TMP), self._apath(_MANIFEST))

    def read_manifest(self) -> Optional[dict]:
        data = self.read_bytes(_MANIFEST)
        if data is not None:
            return json.loads(data)
        # A crash between write_manifest's delete and rename leaves the
        # (fully written) .tmp stranded while the manifest is gone —
        # finish the swap instead of mistaking a committed run for a
        # fresh one. A .tmp that doesn't parse is a crash DURING the tmp
        # write; the real manifest was still present then, so reaching
        # here means nothing was committed: drop it.
        data = self.read_bytes(_MANIFEST_TMP)
        if data is None:
            return None
        try:
            params = json.loads(data)
        except ValueError:
            self._delete(_MANIFEST_TMP)
            return None
        self._filesystem.move(self._apath(_MANIFEST_TMP), self._apath(_MANIFEST))
        return params

    def check_manifest(self, params: dict) -> None:
        """Refuse a resume whose parameters differ from the committed
        run (ADVICE round 1: silent chunk-identity drift)."""
        committed = self.read_manifest()
        if committed is None:
            if self.read_lineage(columns=["chunk"]).num_rows:
                # Committed chunks with no manifest: the chunk-identity
                # parameters of the committed work are unknowable, so
                # adopting the CURRENT params would re-enable the silent
                # drift this check exists to prevent.
                raise ValueError(
                    f"{self.root} has committed lineage but no run "
                    f"manifest ({self.manifest_path}); cannot verify the "
                    f"resume parameters match the committed run. Rerun "
                    f"fresh (resume=False) or restore the manifest."
                )
            self.write_manifest(params)
            return
        diffs = {
            k: (committed.get(k), params.get(k))
            for k in set(committed) | set(params)
            if committed.get(k) != params.get(k)
        }
        if diffs:
            raise ValueError(
                f"resume parameter mismatch vs committed run manifest "
                f"{self.manifest_path}: {diffs} — committed chunks were "
                f"built under different chunk-identity parameters; rerun "
                f"fresh (resume=False) or restore the original parameters."
            )

    # -- lineage ----------------------------------------------------------

    def lineage(self) -> Optional[DataFrame]:
        if not self._parquet_files("lineage"):
            return None
        try:
            return (
                self.spark.read.schema(LINEAGE_SCHEMA)
                .option("pathGlobFilter", "*.parquet")  # skip crashed .tmp files
                .parquet(self.lineage_dir)
            )
        except Exception:
            return None

    def read_lineage(
        self,
        stage: Optional[str] = None,
        chunk: Optional[int] = None,
        columns: Optional[List[str]] = None,
    ):
        """The lineage rows with status done (optionally of one stage
        and one chunk) as a pyarrow Table, read on the driver from the
        ``*.parquet`` fragments: no Spark job, and a crashed ``.tmp``
        upload is never listed."""
        import pyarrow.dataset as ds

        schema = _lineage_arrow_schema()
        files = self._parquet_files("lineage")
        if not files:
            table = schema.empty_table()
            return table.select(columns) if columns is not None else table
        pred = ds.field("status") == "done"
        if stage is not None:
            pred &= ds.field("stage") == stage
        if chunk is not None:
            pred &= ds.field("chunk") == chunk
        dataset = ds.dataset(files, schema=schema, format="parquet", filesystem=self._filesystem)
        return dataset.to_table(columns=columns, filter=pred)

    def done_chunks(self, stage: str) -> Set[int]:
        return set(self.read_lineage(stage, columns=["chunk"]).column("chunk").to_pylist())

    def append_lineage(
        self,
        stage: str,
        chunk: int,
        per_bucket: List[dict],
        wall_ms: int,
        run_id: str,
    ) -> None:
        """One fragment per commit — append-only, crash-safe (written
        under a ``.tmp`` name, then moved into place; readers glob
        ``*.parquet`` so a crashed write is invisible). Lineage is
        driver-side metadata (one row per bucket) — no Spark job per
        commit.

        An empty chunk (e.g. everything pruned by the warc_ts filter)
        still records one sentinel row (bucket = -1) so resume can skip
        it instead of re-running a no-op forever."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not per_bucket:
            per_bucket = [{"bucket": -1, "n_docs": 0, "n_failed": 0, "cpu_ms": 0.0}]
        finished_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        n = len(per_bucket)
        table = pa.table(
            {
                "chunk": [int(chunk)] * n,
                "bucket": [int(b["bucket"]) for b in per_bucket],
                "stage": [stage] * n,
                "status": ["done"] * n,
                "n_docs": [int(b["n_docs"]) for b in per_bucket],
                "n_failed": [int(b["n_failed"]) for b in per_bucket],
                "cpu_ms": [float(b["cpu_ms"]) for b in per_bucket],
                "wall_ms": [int(wall_ms)] * n,
                "run_id": [run_id] * n,
                "finished_at": [finished_at] * n,
            },
            schema=_lineage_arrow_schema(),
        )
        self._filesystem.create_dir(self._apath("lineage"), recursive=True)
        fragment = self._apath(f"lineage/part-{run_id}-{uuid.uuid4().hex[:8]}.parquet")
        # Write under a non-.parquet name, then move into place: a crash
        # mid-write must not leave a truncated *.parquet that the lineage
        # glob would pick up and choke on at every later resume.
        pq.write_table(table, fragment + ".tmp", filesystem=self._filesystem)
        self._filesystem.move(fragment + ".tmp", fragment)

    # -- stage tables -------------------------------------------------------

    def write_chunk(self, df: DataFrame, name: str, chunk: int) -> None:
        """Atomic idempotent chunk commit: plain overwrite of the
        chunk's own partition directory (one file per task, no extra
        shuffle, no per-bucket sliver files)."""
        df.write.mode("overwrite").parquet(self.path(_chunk(name, chunk)))

    def read_chunk_arrow(self, name: str, chunk: int, columns: List[str], filter=None):
        """One chunk of a stage table, read on the driver with
        ``pyarrow.dataset``: the chunk's top-level part files only,
        ``filter`` (a ``pyarrow.dataset`` expression) pushed into the
        scan. A chunk with no part file raises ``FileNotFoundError``."""
        import pyarrow.dataset as ds

        files = self._parquet_files(_chunk(name, chunk))
        if not files:
            raise FileNotFoundError(
                f"{self.path(_chunk(name, chunk))} holds no parquet part file"
            )
        dataset = ds.dataset(files, format="parquet", filesystem=self._filesystem)
        return dataset.to_table(columns=columns, filter=filter)

    def iter_chunk_batches(self, name: str, chunk: int, columns: List[str]):
        """The record batches of one chunk of a stage table, read on the
        driver one part file after the other in path order, so memory
        stays O(batch). A chunk with no part file yields nothing."""
        import pyarrow.parquet as pq

        for path in self._parquet_files(_chunk(name, chunk)):
            with self._filesystem.open_input_file(path) as f:
                yield from pq.ParquetFile(f).iter_batches(columns=columns)

    def _parquet_files(self, name: str) -> List[str]:
        """pyarrow paths of the ``*.parquet`` files directly under
        ``{root}/{name}``: no ``_SUCCESS``, ``.crc``, ``.tmp``, hidden
        file or ``_temporary/`` entry."""
        selector = pafs.FileSelector(self._apath(name), allow_not_found=True)
        return sorted(
            info.path for info in self._filesystem.get_file_info(selector)
            if info.type == pafs.FileType.File
            and info.base_name.endswith(".parquet")
            and not info.base_name.startswith((".", "_"))
        )

    def read(self, name: str) -> DataFrame:
        """The committed part of a whole stage table: the ``chunk=NNNN``
        directories of the chunks the lineage says done, with ``chunk``
        kept as a partition column usable for pruning. A chunk directory
        without a done lineage row (a crashed chunk's partial write) is
        never read. No committed chunk raises ``FileNotFoundError``.

        ``results`` is not stored: it is :func:`results_of` the
        committed docs, so it holds the same chunks as ``read("docs")``
        and never reads a ``results/`` directory an older engine left."""
        if name == "results":
            return results_of(self.read("docs"))
        chunks = sorted(set(self.read_lineage(columns=["chunk"]).column("chunk").to_pylist()))
        if not chunks:
            raise FileNotFoundError(f"{self.path(name)} has no committed chunk")
        return self.spark.read.option("basePath", self.path(name)).parquet(
            *(self.path(_chunk(name, c)) for c in chunks)
        )

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"


def results_of(docs: DataFrame) -> DataFrame:
    """The long-format results rows of docs, one per extracted field
    (``ExtrahierteDaten``): url, bucket, the ``RESULT_COLUMNS`` of
    ``from_json(fields_json)``, chunk. The where() drops the
    placeholder row explode_outer gives a document without fields."""
    return (
        docs.select(
            "url", "bucket",
            F.explode_outer(F.from_json("fields_json", FIELDS_T)).alias("f"),
            "chunk",
        )
        .select("url", "bucket", *[F.col(f"f.{c}").alias(c) for c in RESULT_COLUMNS], "chunk")
        .where(F.col("field_name").isNotNull())
    )


def _chunk(name: str, chunk: int) -> str:
    return f"{name}/chunk={chunk:04d}"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
