"""SimHash near-duplicate operators over a document table.

Pure DataFrame compositions of built-ins (whole-stage codegen, no
Python on the hot path). Token hashes are md5-hex based, so the same
values follow in any engine that has md5 (DuckDB:
``CAST('0x'||substr(md5(tok),1,4) AS BIGINT)`` ≡
``conv(substr(md5(tok),1,4),16,10)``).

``simhash`` is one explode + one groupBy with one conditional sum per
fingerprint bit; ``simhash_near_dupes`` bands the fingerprint and
turns the O(n²) Hamming comparison into an equi-join on
(band_id, band_val), with a star guard against oversized buckets.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from credit_ocr_backend_spark.operators.spread import spread_scan

SIMHASH_BITS = 16
# Band buckets larger than this emit star pairs (representative ↔ member)
# instead of all-pairs: a Common-Crawl-scale mega-duplicate cluster of c
# docs sharing a band value would otherwise fan out O(c²) rows (c=10⁶ →
# 5·10¹¹ pairs from ONE bucket). The star keeps the cluster connected
# at O(c) cost.
LSH_MAX_BUCKET = 64


def words_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def simhash_bit_term(b: int) -> int:
    """Additive long term for fingerprint bit ``b``.  Bit 63 is the sign
    bit of a 64-bit two's-complement long, so its term is −2^63 (adding
    it to the low 63 bits yields the correct signed representation
    without ever overflowing: partial sums stay within [−2^63, 2^63−1],
    which also keeps DuckDB's checked BIGINT arithmetic happy — its
    ``<<`` raises on shifts into the sign bit, so shift-assembly is not
    an option there)."""
    return (1 << b) if b < 63 else -(1 << 63)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash fingerprint over word tokens.

    bit b of the fingerprint is 1 iff the signed vote
    Σ_tokens (±1 by token-hash bit b) is ≥ 0. Returns (doc, simhash).

    Token-hash entropy follows ``bits``: the md5 digest is consumed in
    16-bit words (4 hex chars each), and fingerprint bit b tests bit
    b%16 of word b//16 — so a 64-bit fingerprint draws on 64 genuinely
    independent digest bits (a single ``conv`` word cannot carry 64
    bits: ``conv(…,16,10).cast("long")`` caps at 15 hex chars / 60
    bits, and wider prefixes overflow to NULL).  For ``bits<=16`` this
    reduces exactly to the original first-4-hex-chars hash, keeping
    historical fingerprints stable.  Cross-engine determinism:
    ``CAST('0x'||substr(md5(tok),1+4w,4) AS BIGINT)`` in DuckDB."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    n_words = (bits + 15) // 16
    # spread_scan: a single-row-group input would otherwise run the
    # token explode + vote sums on the scan's (possibly single) task; the
    # id-hash repartition also pre-clusters the groupBy so the vote
    # aggregation needs no further exchange.
    toks = spread_scan(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(words_col(text_col)).alias("tok")
    )
    # words inline over md5("tok"): for n_words == 1 this is byte-for-byte
    # the pre-r4 expression (conv(substring(md5(tok),1,4))); for the
    # multi-word 64-bit path whole-stage codegen's subexpression
    # elimination computes the md5 once per row
    hashed = toks.select(
        "doc",
        *[
            F.conv(F.substring(F.md5("tok"), 1 + 4 * w, 4), 16, 10)
            .cast("long")
            .alias(f"h{w}")
            for w in range(n_words)
        ],
    )

    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"h{b // 16}"), b % 16).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = hashed.groupBy("doc").agg(*votes)
    fingerprint = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"v{b}") >= 0, F.lit(simhash_bit_term(b))).otherwise(F.lit(0)),
        range(bits),
        F.lit(0).cast("long"),
    )
    return voted.select("doc", fingerprint.alias("simhash"))


def simhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the fingerprint, equi-join on
    (band_id, band_value), verify exact Hamming distance ≤
    ``max_hamming``. By pigeonhole, any pair within Hamming ``bands-1``
    shares at least one identical band, so the banding is LOSSLESS for
    ``max_hamming <= bands - 1`` (the default 3 with 4 bands). A
    mega-bucket star guard bounds the fan-out: a band value shared by
    more than ``max_bucket`` docs contributes star pairs (O(c)) instead of
    all-pairs (O(c²)) — essential here because a 4-bit band has only 16
    values, so EVERY bucket clumps at corpus scale (use 64-bit
    fingerprints with 16-bit bands there — ``bits=64, bands=4`` — plus
    this guard). The star is VALUE-GROUPED: members sharing the exact
    fingerprint star to their value representative (Hamming 0, so these
    pairs always survive the verify), and value representatives star to
    the bucket representative. Star pairs still pass the exact Hamming
    verify, so no pair beyond the radius is ever emitted. Connectivity
    caveat: two members whose fingerprints differ are connected through
    the bucket representative ONLY if each is within ``max_hamming`` of
    it — a member > ``max_hamming`` from both its bucket
    representative and every same-value twin loses that bucket's
    connectivity (the accepted, documented approximation of the guard);
    identical-fingerprint members are always connected regardless of
    the representative. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b."""
    from pyspark.sql.window import Window

    width = bits // bands
    fp = simhash(df, id_col, text_col, bits)
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
        "doc", "simhash", F.explode(band_structs).alias("b")
    ).select("doc", "simhash", "b.band_id", "b.band_val")

    # bucket size + representative (doc AND its simhash, for the star
    # pairs' hamming) over the join's own shuffle — struct-min orders by
    # doc first, so the representative is the min doc id. The value-group
    # representative window partitions by a superset of the bucket keys,
    # so all three share one exchange (plus a sort).
    w = Window.partitionBy("band_id", "band_val")
    wv = Window.partitionBy("band_id", "band_val", "simhash")
    counted = (
        banded.withColumn("_c", F.count("*").over(w))
        .withColumn("_rep", F.min(F.struct(F.col("doc"), F.col("simhash"))).over(w))
        .withColumn("_vrep", F.min("doc").over(wv))
    )

    small = counted.where(F.col("_c") <= max_bucket).hint("merge")
    a, b = small.alias("a"), small.alias("b")
    all_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    big = counted.where(F.col("_c") > max_bucket)
    # member ↔ identical-fingerprint representative: Hamming 0 by
    # construction, verify-proof connectivity for exact twins
    value_star = big.where(F.col("doc") != F.col("_vrep")).select(
        F.col("_vrep").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        F.lit(0).alias("hamming"),
    )
    # fingerprint-value representative ↔ bucket representative
    rep_star = big.where(
        (F.col("doc") == F.col("_vrep")) & (F.col("doc") != F.col("_rep.doc"))
    ).select(
        F.col("_rep.doc").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        F.bit_count(
            F.col("_rep.simhash").bitwiseXOR(F.col("simhash"))
        ).alias("hamming"),
    )
    # distinct: a close pair can match in several bands
    pairs = all_pairs.unionByName(value_star).unionByName(rep_star).distinct()
    return pairs.where(F.col("hamming") <= max_hamming)
