"""The stages' per-task archive pin, without Spark.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and each ``zipimporter`` then re-reads its archive's whole
directory. ``operators.stages._pin_spark_archives`` turns that re-read
off for archives outside the SparkFiles root; archives under it
(``--py-files``) and directory finders keep their behaviour.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

pytest.importorskip("pyspark")

from pyspark import SparkFiles  # noqa: E402

from credit_ocr_backend_spark.operators.stages import _pin_spark_archives  # noqa: E402


def _zip_with_module(path, module: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 42\n")
    return str(path)


@pytest.fixture
def importers(tmp_path, monkeypatch):
    """One archive outside a fake SparkFiles root, one under it, and a
    plain directory, each on sys.path with a module imported from it.
    The process's real importers stay out of reach: the test runs on an
    empty ``sys.path_importer_cache`` that is restored afterwards."""
    root = tmp_path / "spark-files"
    lib = tmp_path / "lib"
    plain = tmp_path / "plain"
    for d in (root, lib, plain):
        d.mkdir()
    (plain / "pin_probe_dir.py").write_text("VALUE = 42\n")
    outside = _zip_with_module(lib / "spark-owned.zip", "pin_probe_outside")
    user = _zip_with_module(root / "user.zip", "pin_probe_user")

    monkeypatch.setattr(sys, "path_importer_cache", {})
    for entry in (outside, user, str(plain)):
        monkeypatch.syspath_prepend(entry)
    for module in ("pin_probe_outside", "pin_probe_user", "pin_probe_dir"):
        monkeypatch.delitem(sys.modules, module, raising=False)
        assert importlib.import_module(module).VALUE == 42
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    return {
        "outside": sys.path_importer_cache[outside],
        "user": sys.path_importer_cache[user],
        "dir": sys.path_importer_cache[str(plain)],
    }


@pytest.fixture
def directory_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _overrides():
    return {
        path: vars(finder).get("invalidate_caches")
        for path, finder in sys.path_importer_cache.items()
        if finder is not None
    }


def test_pin_skips_reread_outside_spark_files_root(
    importers, directory_reads, monkeypatch
):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _pin_spark_archives()

    importlib.invalidate_caches()
    assert importers["outside"].archive not in directory_reads
    assert importers["user"].archive in directory_reads  # --py-files: re-read

    # the pinned importer still serves its archive
    monkeypatch.delitem(sys.modules, "pin_probe_outside")
    assert importlib.import_module("pin_probe_outside").VALUE == 42
    assert importers["outside"].archive not in directory_reads

    assert "invalidate_caches" not in vars(importers["user"])
    assert "invalidate_caches" not in vars(importers["dir"])


def test_second_pin_changes_nothing(importers, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _pin_spark_archives()
    first = _overrides()
    _pin_spark_archives()
    assert _overrides() == first
    assert sum(v is not None for v in first.values()) == 1


def test_pin_off_worker_does_nothing(importers, directory_reads):
    assert not SparkFiles._is_running_on_worker
    _pin_spark_archives()
    assert all(v is None for v in _overrides().values())
    importlib.invalidate_caches()
    assert importers["outside"].archive in directory_reads
