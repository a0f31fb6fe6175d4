"""Embedding quantization: symmetric per-vector int8/int4 compression
of float embedding columns — the storage/serving format real vector
pipelines use (i.i.d. float32 mantissas are incompressible; see
BENCH/BASELINE.md's bss analysis — quantization is how embeddings
actually shrink).

Pure Catalyst (transform/array_max/round): a narrow projection with no
shuffle and no Python, so it scales linearly with executors. The
quantized ``array<int>`` frames then route through the engine's list
framing, where FOR+bitpack stores b-bit codes in ~b bits each —
a real ~4x on-disk win over raw float32 (pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    q_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector quantization to ``bits``-bit signed codes:
    scale = amax / qmax (qmax = 2^(bits-1) - 1), code = round(x/scale).
    An all-zero vector gets scale 1.0 (codes all 0). Codes lie in
    [-qmax, qmax] — the asymmetric minimum is unused, keeping 0.0
    exactly representable (the property ANN dot products care about).

    -> input columns + ``q_col`` array<int> + ``scale_col`` double.
    """
    if not 2 <= bits <= 16:
        raise ValueError("bits must be in [2, 16]")
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / qmax).otherwise(F.lit(1.0)).cast("double")
    # materialize scale as a column FIRST: Catalyst does not hoist
    # loop-invariant subexpressions out of higher-order-function
    # lambdas, so referencing the scale EXPRESSION inside the
    # per-element transform would re-evaluate array_max per element —
    # O(dim^2) per row
    out = df.withColumn(scale_col, scale)
    codes = F.transform(v, lambda x: F.round(x / F.col(scale_col)).cast("int"))
    return out.withColumn(q_col, codes)

