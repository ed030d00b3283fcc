"""The tests' string-shingle reference: distinct word n-grams of a token
array as space-joined strings, the readable form the hashed shingle
kernels of ``operators/dedup.py`` are checked against."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (space-joined).

    A chain of n−1 ``zip_with`` concats over n array slices. NULL token
    elements are filtered out before windowing (``concat`` would null
    the whole shingle); short docs (< n tokens) and NULL token arrays
    yield []."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    t = F.filter(t, lambda x: x.isNotNull())
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    z = F.slice(t, 1, m)
    for i in range(1, n):
        z = F.zip_with(
            z, F.slice(t, i + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    # coalesce: a NULL input (size = -1 → NULL slice) yields []
    return F.array_distinct(F.coalesce(z, F.array().cast("array<string>")))
