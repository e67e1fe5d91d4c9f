"""Text expression builders: normalization, tokens, Hamming distance and
the bag-of-words fingerprint. Everything is a Column expression over
built-in functions — whole-stage-codegen eligible, no Python in the
executor hot path. The hash kernels (MinHash bands, SimHash, shingle
sets, winnowing) live once, as Arrow-batched numpy, in
functions/fast_text.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, trim, collapse
    internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a XOR b)
    via bit_count (built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def bow_fingerprint(col: Column) -> Column:
    """Order-insensitive bag-of-words document fingerprint:
    md5 of the sorted distinct token list. Cross-engine stable (md5 of the
    same utf-8 string)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))).cast("binary"))
