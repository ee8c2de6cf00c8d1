"""Portable deterministic hashing shared by the dedup/similarity stack.

Every hash here is reproducible OUTSIDE Spark (same value computable in
ANSI-ish SQL), so the correctness gate can replay MinHash/SimHash/LSH
end-to-end in DuckDB: H(s) = first 7 hex chars of md5(s) parsed as an
integer — 28 bits, safely inside int64 products with the 31-bit MinHash
multipliers below.

Spark:  CAST(conv(substr(md5(s), 1, 7), 16, 10) AS BIGINT)
DuckDB: CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)

Per-row hashing is all JVM-side column expressions (no Python); MinHash
permutations are (a*H + b) mod P with fixed odd multipliers — the
standard universal-hash family, constants pinned for reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: prime just above 2^28 — modulus of the MinHash permutation family
MINHASH_P = 268_435_459

#: (a, b) pairs for the k=16 permutations; fixed arbitrary odd constants
#: < 2^31 (a) so a*H < 2^59 stays in int64.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1_203_793_621, 771_706_281),
    (1_527_026_309, 260_614_441),
    (690_143_807, 1_392_461_243),
    (1_913_715_289, 830_646_619),
    (997_918_013, 1_651_229_867),
    (1_444_221_011, 518_470_523),
    (876_430_357, 1_220_813_089),
    (1_757_320_099, 95_421_043),
    (563_867_743, 1_833_722_227),
    (1_094_551_187, 672_910_421),
    (1_619_247_733, 1_510_137_319),
    (741_386_389, 402_952_817),
    (1_336_529_981, 1_722_395_111),
    (954_722_441, 137_688_509),
    (1_841_259_217, 1_101_744_743),
    (618_011_903, 960_318_677),
]

#: LSH banding: 4 bands x 4 rows over the 16-signature — s-curve midpoint
#: around Jaccard ~0.5
MINHASH_BANDS = 4
MINHASH_ROWS = 4

SIMHASH_BITS = 28  # one md5-derived 28-bit hash per token


def portable_hash(col: Column | str) -> Column:
    """28-bit deterministic string hash, replayable in DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")


def portable_hash_sql(expr: str) -> str:
    """DuckDB expression computing the same value as :func:`portable_hash`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 7) AS BIGINT)"


def minhash_value(hash_col: Column, i: int) -> Column:
    """i-th permuted hash: (a_i * H + b_i) mod P."""
    a, b = MINHASH_COEFFS[i]
    return (hash_col * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)
