"""Int8 scalar quantization of embedding columns.

At 100 TB an ANN index over float32 embeddings is usually stored quantized
— per-dimension min/max scalar quantization to uint8 codes cuts the vector
bytes 4× (and 8× vs float64) while keeping recall high enough for the
candidate-generation stage (the exact-rescore stage reads the float column
for the few survivors). This is the storage-side counterpart of the ANN
operators in operators/ann.py.

Shape: ONE global aggregate computes the 2·dim per-dimension bounds (a
single reduce — no shuffle of the data itself), broadcast back as a 1-row
cross join; codes, reconstruction and error are then row-local JVM column
math (whole-stage codegen, no Python, no second pass). Everything is
deterministic: ties in ``floor(x + 0.5)`` round half-up identically across
engines, unlike banker's-rounding ``round()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# uint8 code range: codes run 0.._LEVELS
_LEVELS = 255


def quantization_bounds(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """1-row frame of per-dimension ``mn{i}`` / ``mx{i}`` (floats cast to
    double AFTER the min/max, so the bounds are exact float values)."""
    aggs = []
    for i in range(dim):
        v = F.col(vec_col).getItem(i)
        aggs.append(F.min(v).cast("double").alias(f"mn{i}"))
        aggs.append(F.max(v).cast("double").alias(f"mx{i}"))
    return df.agg(*aggs)


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Per-row uint8 codes + reconstruction error for an embedding column.

    Returns ``(id, code_sum, mse)``: ``code_sum`` is the exact integer sum
    of the row's ``dim`` codes (a portable checksum of the full code array),
    ``mse`` the mean squared reconstruction error. A constant dimension
    (``mx == mn``) quantizes to code 0 and reconstructs exactly.

    The error sum is an explicit left-associated ``e0 + e1 + ... + e{dim-1}``
    chain (not a higher-order fold), so the double-addition order is pinned
    and cross-engine reproducible bit-for-bit.
    """
    bounds = quantization_bounds(df, vec_col, dim)
    src = df.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(bounds)
    )

    def code(i: int):
        v = F.col(vec_col).getItem(i).cast("double")
        mn, mx = F.col(f"mn{i}"), F.col(f"mx{i}")
        return F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            F.floor(((v - mn) / (mx - mn)) * float(_LEVELS) + F.lit(0.5))
        )

    coded = src.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(f"mn{i}") for i in range(dim)],
        *[F.col(f"mx{i}") for i in range(dim)],
        *[code(i).alias(f"c{i}") for i in range(dim)],
    )

    def err(i: int):
        v = F.col(vec_col).getItem(i).cast("double")
        mn, mx = F.col(f"mn{i}"), F.col(f"mx{i}")
        recon = mn + ((F.col(f"c{i}").cast("double") * (mx - mn)) / float(_LEVELS))
        return (v - recon) * (v - recon)

    code_sum = F.col("c0")
    for i in range(1, dim):
        code_sum = code_sum + F.col(f"c{i}")
    err_sum = err(0)
    for i in range(1, dim):
        err_sum = err_sum + err(i)
    return coded.select(
        F.col(id_col),
        code_sum.cast("long").alias("code_sum"),
        F.round(err_sum / float(dim), 9).alias("mse"),
    )
