"""Hash-based column expressions shared by the dedup/similarity
operators: shingling, minhash permutations, block fingerprints.

Everything is ANSI-safe (Spark 4 default): intermediates are bounded
below 2^63 by reducing hashes to 31 bits before multiplication.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1; see operators.dedup.MOD for the overflow story.
MOD31 = (1 << 31) - 1

#: polynomial rolling-hash modulus
MOD_ROLL = 1_000_000_007


def word_shingles(col: str = "text", k: int = 3) -> Column:
    """k-word shingles as an array column (short-text safe)."""
    return F.expr(
        f"CASE WHEN size(split({col}, ' ')) < {k} THEN array({col}) "
        f"ELSE transform(sequence(1, size(split({col}, ' ')) - {k - 1}), "
        f"i -> array_join(slice(split({col}, ' '), i, {k}), ' ')) END"
    )


def char_shingles(col: str = "text", k: int = 5) -> Column:
    """k-char shingles — robust to word-boundary edits (the variant
    used for code/CJK dedup where whitespace tokenization fails)."""
    return F.expr(
        f"CASE WHEN length({col}) < {k} THEN array({col}) "
        f"ELSE transform(sequence(1, length({col}) - {k - 1}), "
        f"i -> substring({col}, i, {k})) END"
    )


def hashed(arr_col: str) -> Column:
    """31-bit hash of every array element (hash strings ONCE, then do
    integer-only permutation arithmetic)."""
    return F.expr(f"transform({arr_col}, s -> pmod(xxhash64(s), {MOD31}))")


def minhash_perm(hash_expr: str, j: int) -> str:
    """The j-th minhash permutation as a SQL fragment over a 31-bit
    hash value: (a_j * h + b_j) mod M with fixed odd multipliers."""
    return f"pmod({2 * j + 1} * {hash_expr} + {j * 40_503 + 17}, {MOD31})"


#: block width for block_fingerprint: 32 chars per md5'd block keeps
#: the interpreted fold at ~len/32 steps while md5 itself runs codegen'd
BLOCK_FP_WIDTH = 32


def block_fingerprint(col: str = "text", width: int = BLOCK_FP_WIDTH) -> Column:
    """Order-sensitive content fingerprint via hash-of-substrings: the
    text is cut into fixed `width`-char blocks, each block md5'd (JVM
    codegen, not interpreted) and reduced to 31 bits, then the block
    hashes fold through a polynomial combine mod MOD_ROLL. Portable
    (all intermediates < 2^63, md5 and hex-parse identical in DuckDB)
    at ~width× fewer interpreted lambda steps than a per-character
    fold — measured 0.35 s → 0.21 s for the fingerprint column alone
    at sf0.1. Still rolling ACROSS blocks:
    appending a block updates the fingerprint incrementally."""
    blocks = (
        f"transform(sequence(0, CAST(greatest(ceil(length({col})/{width}.0), 1) AS INT) - 1), "
        f"i -> pmod(CAST(conv(substring(md5(substring({col}, i*{width}+1, {width})), 1, 8), 16, 10) AS BIGINT), {MOD31}))"
    )
    return F.expr(
        f"aggregate({blocks}, CAST(0 AS BIGINT), (acc, b) -> (acc * 31 + b) % {MOD_ROLL})"
    )
