"""Vector math over ``array<float|double>`` columns — JVM-side expressions.

Dot products / cosine via ``zip_with`` + ``aggregate`` (higher-order
functions, codegen'd).  Elements are cast to double *before* multiply so
results are bit-identical across engines and summation runs left-to-right
deterministically — the property the duckdb-oracle correctness gate relies
on.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 for zero-norm vectors (never NaN/div-by-zero)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def literal_vector(values: list[float]) -> Column:
    """A double-array literal column (e.g. an ANN query vector)."""
    return F.array(*[F.lit(float(v)) for v in values])


def hyperplane_signature(vec: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bit signature (as a long).  *planes* are
    driver-side constants (deterministic seed), so the expression is pure
    Column algebra — no shuffle, no UDF; at scale this is a narrow map."""
    v = _c(vec)
    bits = []
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(v, literal_vector(plane),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def hyperplanes(dims: int, n_planes: int, seed: int) -> list[list[float]]:
    """The seeded random hyperplanes of every LSH path — one draw, so an
    index that records only ``(n_planes, seed, dims)`` redraws the same
    planes at query time."""
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(n_planes)]


def signature_probes(vec: list[float], planes: list[list[float]],
                     multiprobe: bool) -> list[int]:
    """Driver-side twin of :func:`hyperplane_signature` for one vector,
    followed by its 1-bit neighbours when *multiprobe*."""
    sig = sum(1 << i for i, plane in enumerate(planes)
              if sum(float(a) * b for a, b in zip(vec, plane)) >= 0)
    return [sig] + ([sig ^ (1 << i) for i in range(len(planes))]
                    if multiprobe else [])
