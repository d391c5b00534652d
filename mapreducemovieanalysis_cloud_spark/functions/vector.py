"""Vector (embedding) column expressions: JVM-side folds, plus Arrow-batched
numpy kernels for the hot pair-scoring and signature paths.

Cosine similarity is computed in **quantized integer space**: each float is
scaled to a 1e-6-resolution integer, dot products accumulate exactly in int64
(64-dim · (0.58·1e6)² · 64 ≈ 2.1e13 « 2^53 « 2^63 — no overflow, and exact as
a double), and only the final sqrt/divide touch floating point (both exactly
rounded IEEE ops). Result: bit-identical cosine in any engine, any summation
order — which makes ANN results oracle-checkable, and at scale removes
nondeterminism across partitionings.
"""

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.rounding import (
    round_half_up_long,
)

SCALE = 1_000_000


def quantize(vec: Column | str) -> Column:
    """array<float> -> array<long> at 1e-6 resolution."""
    return F.transform(
        vec, lambda x: round_half_up_long(x.cast("double") * SCALE)
    )


def qdot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors (sequential fold —
    order-independent because integer addition is associative)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def qnorm2(a: Column) -> Column:
    """Exact squared L2 norm (int64) of a quantized vector."""
    return qdot(a, a)


def cosine_q(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity from quantized vectors."""
    return qdot(a, b) / (
        F.sqrt(qnorm2(a).cast("double")) * F.sqrt(qnorm2(b).cast("double"))
    )


def list_matrix(arr, width: int | None = None, label: str = "vector"):
    """(n, d) int64 matrix of an Arrow ``list<int64>`` batch column: one
    flatten of the values buffer and one reshape, no per-row Python.

    Raises a ``ValueError`` naming ``label`` on a NULL vector or element,
    on ragged widths, and when ``width`` is given and differs. An empty
    batch is a (0, width) matrix."""
    if len(arr) == 0:
        return np.zeros((0, width or 0), dtype=np.int64)
    flat = arr.flatten()
    if arr.null_count or flat.null_count:
        raise ValueError(f"{label}: NULL vector or vector element")
    widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
    d = int(widths[0])
    if (widths != d).any():
        raise ValueError(
            f"{label}: ragged vectors (widths {sorted(set(widths.tolist()))})"
        )
    if width is not None and d != width:
        raise ValueError(f"{label}: vector width {d}, expected {width}")
    return flat.to_numpy().reshape(len(arr), d)


def qdot_arrow(a: Column, b: Column) -> Column:
    """Exact int64 dot product via an Arrow-batched numpy einsum.

    Bit-identical to ``qdot`` (int64 multiply-add is associative and exact)
    but vectorized: one einsum per Arrow batch over the flat value buffers
    instead of an interpreted fold per row. Use in pair-explosion stages
    (ANN scoring, near-dup verification); keep ``qdot`` for one-off
    signature math where plan simplicity wins.
    """
    import pyarrow as pa

    def _dot(x: pa.Array, y: pa.Array) -> pa.Array:
        xa = list_matrix(x, label="qdot_arrow")
        ya = list_matrix(y, xa.shape[1], "qdot_arrow")
        return pa.array(np.einsum("ij,ij->i", xa, ya), type=pa.int64())

    return F.arrow_udf(_dot, "long")(a, b)


def srp_signature_arrow(qv: Column, planes: list[list[int]]) -> Column:
    """SRP bucket id from a quantized vector via one int64 matmul per Arrow
    batch (bit-identical to the fold-based ``operators.similarity.
    srp_signature``: sign bits of exact integer dots)."""
    import pyarrow as pa

    pm = np.asarray(planes, dtype="int64")  # (k, dim)
    weights = 1 << np.arange(pm.shape[0], dtype="int64")

    def _sig(x: pa.Array) -> pa.Array:
        xa = list_matrix(x, pm.shape[1], "srp_signature_arrow")
        dots = xa @ pm.T  # exact: |dot| << 2^63
        return pa.array((dots > 0).astype("int64") @ weights, type=pa.int64())

    return F.arrow_udf(_sig, "long")(qv)


def srp_signatures_multi_arrow(
    qv: Column, planes_per_band: list[list[list[int]]]
) -> Column:
    """All bands' SRP signatures in ONE Arrow kernel: the per-band plane
    matrices are stacked into a single (bands*k, dim) int64 matmul, then the
    sign bits fold into one signature per band. Bit-identical to calling
    ``srp_signature_arrow`` per band, but the corpus is read and quantized
    once instead of once per band — the band loop moves from the scan axis
    (bands × full-table passes) into the batch axis (one matmul)."""
    import pyarrow as pa

    bands = len(planes_per_band)
    k = len(planes_per_band[0])
    pm = np.asarray(
        [p for band in planes_per_band for p in band], dtype="int64"
    )  # (bands*k, dim)
    weights = 1 << np.arange(k, dtype="int64")

    def _sigs(x: pa.Array) -> pa.Array:
        xa = list_matrix(x, pm.shape[1], "srp_signatures_multi_arrow")
        dots = xa @ pm.T  # (n, bands*k), exact: |dot| << 2^63
        bits = (dots > 0).astype("int64").reshape(len(xa), bands, k)
        sigs = bits @ weights  # (n, bands)
        offsets = np.arange(0, sigs.size + 1, bands, dtype=np.int32)
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(sigs.ravel(), type=pa.int64())
        )

    return F.arrow_udf(_sigs, "array<long>")(qv)


# DuckDB fragment computing the identical quantity, for oracle SQL. `a`/`b`
# are DOUBLE[] (or FLOAT[]) list expressions.
DUCKDB_QDOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(ROUND(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) * "
    "CAST(ROUND(CAST(p[2] AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT)"
)


def duckdb_cosine(a: str, b: str) -> str:
    dab = DUCKDB_QDOT.format(a=a, b=b)
    daa = DUCKDB_QDOT.format(a=a, b=a)
    dbb = DUCKDB_QDOT.format(a=b, b=b)
    return (
        f"({dab} / (sqrt(CAST({daa} AS DOUBLE)) * sqrt(CAST({dbb} AS DOUBLE))))"
    )
