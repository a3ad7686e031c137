"""North-rule packaging: the engine must run via ``spark-submit
--py-files engine.zip`` with NO repo checkout on the driver — imports
and the bundled document config both resolve through the zip."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import zipfile

import pytest

pyspark = pytest.importorskip("pyspark")

import pyarrow.parquet as pq  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_engine_zip(dest: str) -> str:
    """Exactly the docstring recipe: zip credit_ocr_backend_spark + config."""
    zpath = os.path.join(dest, "engine.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "credit_ocr_backend_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith((".py", ".conf")):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
        z.write(
            os.path.join(REPO, "config", "document_types.conf"),
            "config/document_types.conf",
        )
    return zpath


def _submit(tmp: str, script: str, *args: str) -> dict:
    """spark-submit ``script`` from a neutral cwd holding ONLY the
    entrypoint (and the script): the package cannot be cwd-imported, so
    every import must come through --py-files. Returns the last JSON
    line the script prints."""
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    zpath = _build_engine_zip(tmp)
    shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"), tmp)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", zpath, script, *args],
        capture_output=True, text=True, cwd=tmp, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_spark_submit_py_files_no_checkout(tmp_path):
    tmp = str(tmp_path)
    res = _submit(
        tmp, os.path.join(tmp, "extract_job.py"),
        "--generate", "120", "--out", os.path.join(tmp, "out"),
    )
    assert res["n_docs"] == 120 and res["n_failed"] == 0
    # the job applies the engine's conf: its docs are zstd, as a
    # get_spark run writes them
    parts = glob.glob(os.path.join(tmp, "out", "docs", "chunk=*", "*.parquet"))
    assert parts
    for part in parts:
        assert pq.read_metadata(part).row_group(0).column(0).compression == "ZSTD"


_SESSION_PROBE = """
import json
from extract_job import build_session
spark = build_session()
key = "mapreduce.fileoutputcommitter.algorithm.version"
print(json.dumps({
    "context": spark._jsc.hadoopConfiguration().get(key),
    "session": spark._jsparkSession.sessionState().newHadoopConf().get(key),
    "arrow_max_bytes": spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def job_session(tmp_path_factory):
    """The conf a spark-submitted ``build_session`` session reads."""
    tmp = str(tmp_path_factory.mktemp("session_probe"))
    probe = os.path.join(tmp, "session_probe.py")
    with open(probe, "w") as f:
        f.write(_SESSION_PROBE)
    return _submit(tmp, probe)


def test_spark_submit_session_uses_v2_file_committer(job_session):
    """The job's session carries the engine's ``spark.hadoop.*`` conf
    into the Hadoop conf its writes use: Hadoop's v2 file committer, as
    a get_spark session has. A key set with ``spark.conf.set`` after the
    session started would read Hadoop's default, 1."""
    assert (job_session["context"], job_session["session"]) == ("2", "2")


def test_spark_submit_session_caps_arrow_batch_bytes(job_session):
    """The job's session caps Arrow batches at ARROW_BATCH_ROWS pages of
    GIANT_HTML_BYTES, as a get_spark session does."""
    from credit_ocr_backend_spark.plans.session import ARROW_BATCH_ROWS, GIANT_HTML_BYTES

    assert job_session["arrow_max_bytes"] == str(ARROW_BATCH_ROWS * GIANT_HTML_BYTES)
