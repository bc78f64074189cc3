"""Johnson-Lindenstrauss sign random projection — deterministic
dimensionality reduction for embedding columns (the cheap front-end to
ANN indexing and clustering: project 64-d -> 16-d, bucket or index in
the small space, re-rank survivors at full precision).

The +/-1 projection matrix (Achlioptas 2003: sign entries preserve
pairwise distances within the JL bound just like Gaussians) is derived
from md5("jl-v1:j:k") parity — NO RNG state, so any engine, any rerun,
and the DuckDB oracle rebuild the identical matrix from that fixed salt
alone. The matrix is (out_dim x in_dim) and ships as column LITERALS:
model-sized, embedded in the plan, nothing to broadcast.

Cross-engine exactness: each output coordinate is a sequential fold
(Spark ``aggregate`` over ``zip_with``; DuckDB
``list_aggregate(list_transform(list_zip(..)), 'sum')`` — the pairing
proven bit-identical by the LSH/IVF/SQ8 oracle entries). float32
inputs cast to double, multiplied by exactly-representable +/-1.0, and
summed in the SAME left-to-right order on both engines, so outputs are
BIT-IDENTICAL doubles — no rounding needed.

100 TB posture: map-only (one projection per row, no exchange), pure
column expressions inside whole-stage codegen, output is
out_dim/in_dim the size of the input column.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sign_matrix(out_dim: int, in_dim: int) -> list[list[float]]:
    """The deterministic +/-1.0 matrix: entry (j, k) is +1.0 iff the
    first hex digit of md5("jl-v1:{j}:{k}") is even."""
    return [[1.0 if int(hashlib.md5(
                f"jl-v1:{j}:{k}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1.0
             for k in range(in_dim)]
            for j in range(out_dim)]


def jl_project(emb: DataFrame, in_dim: int, out_dim: int = 16) -> DataFrame:
    """(vec_id, p0..p{out_dim-1}): the sign projection of ``embedding``
    (unscaled — consumers comparing distances in the projected space
    use the same constant factor everywhere, so the 1/sqrt(out_dim) JL
    normalization cancels; apply it outside if absolute scale matters).
    """
    mat = sign_matrix(out_dim, in_dim)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cols = [F.aggregate(
                F.zip_with(e, F.array(*[F.lit(s) for s in row]),
                           lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x).alias(f"p{j}")
            for j, row in enumerate(mat)]
    return emb.select(F.col("vec_id"), *cols)
