"""Perceptual-hash column expressions.

The engine's analog of the reference's spatial candidate generation:
UIC blocking + 50 m KDTree radius (reference
matching_process/spatial_index.py:6-42, distance_matching.py:459-514)
becomes phash-prefix blocking + Hamming-radius filtering. Everything
here is a pure Catalyst expression — the bucket key is an equi-join
key, so Catalyst plans a plain shuffled/broadcast hash join and AQE can
split skewed buckets (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default blocking width: 16 low bits -> 65k buckets. At 10^12 rows that
# is ~15M rows/bucket worst-case uniform; real skew is handled by
# per-bucket salting in operators/neardup.py.
DEFAULT_BUCKET_BITS = 16
DEFAULT_HAMMING_RADIUS = 3


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 hashes (JVM bit_count, codegen)."""
    return F.bit_count(a.bitwiseXOR(b))


def phash_bucket(phash: Column, bits: int = DEFAULT_BUCKET_BITS) -> Column:
    """Low-`bits` bucket key.

    Low bits (``& mask``) rather than a shift: identical semantics for
    signed int64 in Spark, DuckDB and numpy (two's complement), so the
    oracle can reproduce it exactly.

    NOTE (recall contract): two hashes within Hamming radius r can still
    differ inside the bucket bits. Production recall uses the multi-probe
    union in ``phash_bucket_probes``; the single-bucket key is the cheap
    first stage, exactly like the reference's UIC blocking which also
    only compares within a block (reference exact_matching.py:25-57).
    """
    mask = (1 << bits) - 1
    return phash.bitwiseAND(F.lit(mask)).cast("int")


def phash_bucket_probes(phash: Column, bits: int = DEFAULT_BUCKET_BITS) -> Column:
    """Array of bucket keys: the exact bucket + each 1-bit flip of it.

    Banding/multi-probe: guarantees that pairs with ≤1 differing bit
    inside the bucket window collide in at least one probe. Explode on
    the build side only (r× row amplification on one side, not both).
    """
    base = phash_bucket(phash, bits)
    return F.array(base, *[base.bitwiseXOR(F.lit(1 << i)) for i in range(bits)])
