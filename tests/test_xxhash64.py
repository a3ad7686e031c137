"""The driver-side port of Spark's xxhash64 (sources/checkpoint.py),
checked without Spark against the published XXH64 vectors. Its
equality with Spark's own ``pmod(xxhash64(url), B)`` is checked in
tests/test_spark_pipeline.py."""

from __future__ import annotations

import pytest

from credit_ocr_backend_spark.sources.checkpoint import url_bucket, xxhash64


def _unsigned(h: int) -> int:
    return h & (1 << 64) - 1


@pytest.mark.parametrize(
    "data, want",
    [
        (b"", 0xEF46DB3751D8E999),
        (b"a", 0xD24EC4F1A98C6E5B),
        (b"abc", 0x44BC2CF5AD770999),
    ],
)
def test_xxhash64_published_seed0_vectors(data, want):
    assert _unsigned(xxhash64(data, seed=0)) == want


def test_xxhash64_is_signed_64_bit():
    for n in range(0, 70):
        h = xxhash64(bytes(range(n)))
        assert -(1 << 63) <= h < (1 << 63)


def test_url_bucket_is_in_range():
    for n_buckets in (1, 3, 64):
        for k in range(200):
            assert 0 <= url_bucket(f"https://site{k}.example/doc/{k}", n_buckets) < n_buckets
