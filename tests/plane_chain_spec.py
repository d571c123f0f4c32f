"""Test-side spec for the literal-plane projections of
`operators.similarity`: the plain general multiply chain
``0.0 + v[0]·c0 + v[1]·c1 + …`` as one parsed Spark SQL expression,
and the same left-to-right fold in pure Python. The package computes
these dots only in the `_plane_dots` numpy kernel; the tests check the
kernel against both, bit for bit."""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def plane_dot_sql(vec_name: str, plane: list[float]) -> str:
    """SQL text of the left-associated fold dot of column ``vec_name``
    with a literal plane. A NULL vector or element makes it NULL, NaN
    propagates, and an index past a short vector fails under ANSI."""
    terms = " + ".join(
        f"CAST({vec_name}[{i}] AS DOUBLE) * CAST({c!r} AS DOUBLE)"
        for i, c in enumerate(plane)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def band_cols(
    vec_name: str, planes: list[list[float]], bands: int, bits_per_band: int
) -> list[Column]:
    """One INT column ``band_j`` per band: the sign bits of planes
    j·bits … (j+1)·bits − 1, packed little-endian (bit set iff the dot
    is >= 0.0; NULL dots fail the test, NaN passes it in Spark)."""
    cols = []
    for j in range(bands):
        terms = [
            f"(CASE WHEN {plane_dot_sql(vec_name, planes[j * bits_per_band + i])} "
            f">= CAST(0.0 AS DOUBLE) THEN {1 << i} ELSE 0 END)"
            for i in range(bits_per_band)
        ]
        cols.append(F.expr(" + ".join(terms)).alias(f"band_{j}"))
    return cols


def dots_col(vec_name: str, planes: list[list[float]]) -> Column:
    """``array(dot_0, …, dot_k)``: an array of NULLs for a vector that
    is NULL or holds a NULL element."""
    return F.expr(
        "array(" + ", ".join(plane_dot_sql(vec_name, p) for p in planes) + ")"
    )


def python_dot(vec: list[float], plane: list[float]) -> float:
    """The sequential fold ``acc = acc + v[i] * c[i]`` over the plane
    width (Python floats are IEEE doubles; no fused multiply-add)."""
    acc = 0.0
    for x, c in zip(vec, plane):
        acc = acc + x * c
    return acc


def python_bands(
    vec: list[float | None] | None,
    planes: list[list[float]],
    bands: int,
    bits_per_band: int,
) -> tuple[int, ...]:
    """The band values of one vector by `python_dot`: bit set iff the
    dot is >= 0.0 or NaN; all zero for a NULL vector or element."""
    dim = len(planes[0])
    if vec is None or any(x is None for x in vec[:dim]):
        return (0,) * bands
    out = []
    for j in range(bands):
        val = 0
        for i in range(bits_per_band):
            acc = python_dot(vec, planes[j * bits_per_band + i])
            if acc >= 0.0 or math.isnan(acc):
                val |= 1 << i
        out.append(val)
    return tuple(out)
