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

After each chunk commits, one lineage parquet fragment is appended
(pyarrow, driver-side — one row per bucket; no Spark job for metadata).
Resume = skip chunks whose lineage rows exist with status done. Resume
and the status lookups READ the lineage with pyarrow too
(:meth:`CheckpointManager.read_lineage`), and the lookups read the
owning chunk's docs files with ``pyarrow.dataset``: no Spark job, and a
url's bucket comes from :func:`url_bucket`, a Python port of Spark's
``xxhash64`` tested against Spark.

All metadata writes (manifest, lineage fragments, chunk swaps) go
through the Hadoop FileSystem API — the same client Spark's own
writers use — so an ``out_root`` on any Hadoop-supported scheme
(``file://``, ``hdfs://``, ``s3a://`` with the aws jars, ...) keeps
resume state on the SAME store as the data. A scheme with no loadable
FileSystem implementation still fails fast at construction (the
round-1 silent-divorce bug stays an explicit error). The pyarrow
reader opens its filesystem lazily on the first read: a plain path or
``file:`` URI is local, ``s3a://`` is read as pyarrow's ``s3://``, any
other scheme goes through ``pyarrow.fs.FileSystem.from_uri``; a root
pyarrow cannot open raises ``ValueError`` there.

On Iceberg the same layout is ``bucket(url, N)`` hidden partitioning +
``overwritePartitions()``; plain parquet directories reproduce the
mechanics faithfully for this sandbox.
"""

from __future__ import annotations

import os
import struct
import tempfile
import time
import uuid
from typing import Iterable, List, Optional, Set
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "chunk int, bucket int, stage string, status string, n_docs long, "
    "n_failed long, cpu_ms double, wall_ms long, run_id string, "
    "finished_at string"
)


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
    from pyarrow import fs as pafs

    scheme = urlparse(root).scheme
    if scheme in ("", "file"):
        return pafs.LocalFileSystem(), os.path.abspath(urlparse(root).path if scheme else root)
    uri = "s3" + root[len("s3a"):] if scheme == "s3a" else root
    try:
        return pafs.FileSystem.from_uri(uri)
    except Exception as exc:  # unknown scheme, no libhdfs, no S3 support
        raise ValueError(
            f"out_root '{root}': pyarrow cannot open the '{scheme}://' scheme "
            f"({exc}); lineage and status reads need a filesystem pyarrow can open."
        ) from exc


class _Fs:
    """Scheme-generic filesystem ops via ``org.apache.hadoop.fs`` (the
    JVM client Spark itself writes through, reached over py4j). Local
    paths resolve to LocalFileSystem; object stores resolve to whatever
    implementation the classpath provides. One deliberate non-goal:
    atomic rename on stores that lack it (S3) — the chunk-swap protocol
    below recovers from any interrupted window instead of assuming
    rename atomicity."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        try:
            self.fs = self._Path(root).getFileSystem(self._conf)
        except Exception as exc:  # unknown scheme / missing connector jar
            raise ValueError(
                f"out_root '{root}' has no usable Hadoop FileSystem "
                f"implementation ({exc}); provide the connector jars, "
                f"mount the store, or use a file:// / local out_root."
            ) from exc

    def exists(self, p: str) -> bool:
        return self.fs.exists(self._Path(p))

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self._Path(p))

    def delete(self, p: str) -> None:
        self.fs.delete(self._Path(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self.fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def list_names(self, p: str) -> List[str]:
        if not self.exists(p):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(self._Path(p))]

    def write_bytes(self, p: str, data: bytes) -> None:
        out = self.fs.create(self._Path(p), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def read_bytes(self, p: str) -> bytes:
        stream = self.fs.open(self._Path(p))
        try:
            bos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
            return bytes(bos.toByteArray())
        finally:
            stream.close()

    def put_local(self, local_src: str, dst: str) -> None:
        """Upload a driver-local file (deletes the local source)."""
        self.fs.copyFromLocalFile(True, True, self._Path(local_src), self._Path(dst))


class CheckpointManager:
    """Filesystem layout:
    ``{root}/{table}/chunk=NNNN/part-*.parquet`` for stage tables and
    ``{root}/lineage/part-*.parquet`` (append-only fragments). ``root``
    may carry any scheme the Hadoop classpath supports; the pyarrow
    reads additionally need one pyarrow can open (:func:`_arrow_fs`)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self._fs = _Fs(spark, self.root)
        self._afs = None  # (pyarrow filesystem, root path), opened on first read
        self.lineage_dir = f"{self.root}/lineage"
        self.manifest_path = f"{self.root}/run_manifest.json"

    def reset(self, tables: Iterable[str]) -> None:
        """Remove the engine-owned state under root: the lineage, the
        run manifest with its swap file, and ``tables`` — the stage
        tables (or other root entries) the caller owns. A fresh run
        calls this before it pins its manifest, so no chunk of an
        earlier run can count as committed for it. Other files under
        root are left alone."""
        for p in (
            self.lineage_dir,
            self.manifest_path,
            self.manifest_path + ".tmp",
            *(self.path(t) for t in tables),
        ):
            self._fs.delete(p)

    # -- run manifest -------------------------------------------------------

    def write_manifest(self, params: dict) -> None:
        """Persist the run parameters that define chunk identity
        (n_buckets, n_chunks, ts window, mode). Resuming under different
        parameters would silently skip chunk ids whose bucket ranges or
        input window differ from the committed run."""
        import json

        self._fs.mkdirs(self.root)
        tmp = self.manifest_path + ".tmp"
        self._fs.write_bytes(tmp, json.dumps(params, sort_keys=True, indent=2).encode())
        if self._fs.exists(self.manifest_path):
            self._fs.delete(self.manifest_path)
        self._fs.rename(tmp, self.manifest_path)

    def read_manifest(self) -> Optional[dict]:
        import json

        if not self._fs.exists(self.manifest_path):
            # A crash between write_manifest's delete and rename leaves
            # the (fully written) .tmp stranded while the manifest is
            # gone — finish the swap instead of mistaking a committed
            # run for a fresh one. A .tmp that doesn't parse is a crash
            # DURING the tmp write; the real manifest was still present
            # then, so reaching here means nothing was committed: drop it.
            tmp = self.manifest_path + ".tmp"
            if self._fs.exists(tmp):
                try:
                    params = json.loads(self._fs.read_bytes(tmp).decode("utf-8"))
                except ValueError:
                    self._fs.delete(tmp)
                    return None
                self._fs.rename(tmp, self.manifest_path)
                return params
            return None
        return json.loads(self._fs.read_bytes(self.manifest_path).decode("utf-8"))

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
        if not any(
            name.endswith(".parquet") for name in self._fs.list_names(self.lineage_dir)
        ):
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
        files = self._parquet_files(self.lineage_dir)
        if not files:
            table = schema.empty_table()
            return table.select(columns) if columns is not None else table
        pred = ds.field("status") == "done"
        if stage is not None:
            pred &= ds.field("stage") == stage
        if chunk is not None:
            pred &= ds.field("chunk") == chunk
        dataset = ds.dataset(files, schema=schema, format="parquet", filesystem=self._arrow()[0])
        return dataset.to_table(columns=columns, filter=pred)

    def done_chunks(self, stage: str) -> Set[int]:
        return set(self.read_lineage(stage, columns=["chunk"]).column("chunk").to_pylist())

    def done_buckets(self, stage: str) -> Set[int]:
        return set(self.read_lineage(stage, columns=["bucket"]).column("bucket").to_pylist())

    def append_lineage(
        self,
        stage: str,
        chunk: int,
        per_bucket: List[dict],
        wall_ms: int,
        run_id: str,
    ) -> None:
        """One fragment per commit — append-only, crash-safe (staged as
        a driver-local temp file, then uploaded through the Hadoop
        FileSystem; readers glob ``*.parquet`` so a crashed upload is
        invisible). Lineage is driver-side metadata (one row per
        bucket) — no Spark job per commit.

        An empty chunk (e.g. everything pruned by the warc_ts filter)
        still records one sentinel row (bucket = -1) so resume can skip
        it instead of re-running a no-op forever."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not per_bucket:
            per_bucket = [{"bucket": -1, "n_docs": 0, "n_failed": 0, "cpu_ms": 0.0}]
        self._fs.mkdirs(self.lineage_dir)
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
        fragment = f"{self.lineage_dir}/part-{run_id}-{uuid.uuid4().hex[:8]}.parquet"
        fd, local_tmp = tempfile.mkstemp(suffix=".parquet")
        os.close(fd)
        pq.write_table(table, local_tmp)
        # Upload under a non-.parquet name, then rename into place: a
        # crash mid-upload must not leave a truncated *.parquet that the
        # lineage glob would pick up and choke on at every later resume.
        self._fs.put_local(local_tmp, fragment + ".tmp")
        self._fs.rename(fragment + ".tmp", fragment)

    # -- stage tables -------------------------------------------------------

    def write_chunk(self, df: DataFrame, name: str, chunk: int) -> None:
        """Atomic idempotent chunk commit: plain overwrite of the
        chunk's own partition directory (one file per task, no extra
        shuffle, no per-bucket sliver files)."""
        df.write.mode("overwrite").parquet(self._chunk_path(name, chunk))

    def read_chunk(self, name: str, chunk: int) -> DataFrame:
        self._recover_chunk(name, chunk)
        return self.spark.read.parquet(self._chunk_path(name, chunk))

    def read_chunk_arrow(self, name: str, chunk: int, columns: List[str], filter=None):
        """:meth:`read_chunk` on the driver with ``pyarrow.dataset``: the
        chunk's top-level part files only, ``filter`` (a
        ``pyarrow.dataset`` expression) pushed into the scan. A chunk
        with no part file raises ``FileNotFoundError``."""
        import pyarrow.dataset as ds

        self._recover_chunk(name, chunk)
        path = self._chunk_path(name, chunk)
        files = self._parquet_files(path)
        if not files:
            raise FileNotFoundError(f"{path} holds no parquet part file")
        dataset = ds.dataset(files, format="parquet", filesystem=self._arrow()[0])
        return dataset.to_table(columns=columns, filter=filter)

    def _arrow(self):
        if self._afs is None:
            self._afs = _arrow_fs(self.root)
        return self._afs

    def _parquet_files(self, path: str) -> List[str]:
        """pyarrow paths of the ``*.parquet`` files directly under
        ``path`` (a ``root``-prefixed path): no ``_SUCCESS``, ``.crc``,
        ``.tmp``, hidden file or ``_temporary/`` entry."""
        from pyarrow import fs as pafs

        fs, base = self._arrow()
        selector = pafs.FileSelector(base + path[len(self.root):], allow_not_found=True)
        return sorted(
            info.path for info in fs.get_file_info(selector)
            if info.type == pafs.FileType.File
            and info.base_name.endswith(".parquet")
            and not info.base_name.startswith((".", "_"))
        )

    def _recover_chunk(self, name: str, chunk: int) -> None:
        """Repair any window an interrupted :meth:`upsert_chunk` swap can
        leave behind (ADVICE round 2: between the two renames the chunk
        directory does not exist). The swap protocol is
        merged→staging, live→retired, staging→live, drop retired;
        every crash point is distinguishable from the three markers:

        * live exists  → any leftover staging is a pre-swap attempt
          (discard; the upsert was never acknowledged) and any leftover
          retired is post-swap debris (discard);
        * live missing + staging complete (``_SUCCESS``) → crash between
          the renames: finish the swap;
        * live missing + staging incomplete → crash mid-write after the
          retire (shouldn't occur under the current ordering, kept as a
          catch-all): restore the retired original.
        """
        path = self._chunk_path(name, chunk)
        staging, retired = path + ".staging", path + ".old"
        if self._fs.exists(path):
            if self._fs.exists(staging):
                self._fs.delete(staging)
            if self._fs.exists(retired):
                self._fs.delete(retired)
            return
        if self._fs.exists(staging) and self._fs.exists(f"{staging}/_SUCCESS"):
            self._fs.rename(staging, path)
            if self._fs.exists(retired):
                self._fs.delete(retired)
        elif self._fs.exists(retired):
            if self._fs.exists(staging):
                self._fs.delete(staging)
            self._fs.rename(retired, path)

    def upsert_chunk(
        self, df: DataFrame, name: str, chunk: int, keys: List[str]
    ) -> None:
        """MERGE-INTO-shaped upsert into one chunk directory (S10, the
        reference's ON CONFLICT DO UPDATE,
        /root/reference/src/ocr/extraction.py:524-548): matched keys are
        replaced by the update rows, unmatched existing rows survive,
        new keys insert. On Iceberg this is exactly

            MERGE INTO t USING u ON <keys>
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *

        ; on plain parquet the merged relation is recomputed and swapped
        in via staging + two renames. The window between the renames is
        NOT atomic — a crash there leaves the chunk directory absent —
        but every window is repaired by :meth:`_recover_chunk`, which
        runs before each read and each upsert, so no committed data is
        ever stranded."""
        self._recover_chunk(name, chunk)
        path = self._chunk_path(name, chunk)
        if not self._fs.exists(path):
            df.write.mode("overwrite").parquet(path)
            return
        merged = merge_upsert(self.spark.read.parquet(path), df, keys)
        staging = path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        retired = path + ".old"
        self._fs.rename(path, retired)
        self._fs.rename(staging, path)
        self._fs.delete(retired)

    def read(self, name: str) -> DataFrame:
        """Whole stage table across chunks; ``chunk`` becomes a
        discovered partition column usable for pruning. Any
        ``chunk=NNNN.old`` / ``.staging`` debris from an interrupted
        upsert swap is repaired first — partition discovery would
        otherwise list the debris as its own partition value and
        double-count the chunk."""
        for entry in self._fs.list_names(f"{self.root}/{name}"):
            base, dot, suffix = entry.rpartition(".")
            if dot and suffix in ("old", "staging") and base.startswith("chunk="):
                self._recover_chunk(name, int(base.split("=", 1)[1]))
        return self.spark.read.option("basePath", f"{self.root}/{name}").parquet(
            f"{self.root}/{name}"
        )

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _chunk_path(self, name: str, chunk: int) -> str:
        return f"{self.root}/{name}/chunk={chunk:04d}"


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: List[str]) -> DataFrame:
    """The MERGE relation: updates win on key match, unmatched existing
    rows survive, new keys insert. One anti-join (shuffle on the key) +
    a union — at scale the anti-join's update side is usually tiny and
    broadcasts; never a full rewrite of unmatched data beyond the
    touched partitions when paired with partition-scoped upsert_chunk."""
    survivors = existing.join(updates.select(*keys).distinct(), keys, "left_anti")
    return updates.unionByName(survivors)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
