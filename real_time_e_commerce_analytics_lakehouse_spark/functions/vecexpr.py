"""Vector (embedding) SQL expression builders, per dialect.

Cosine similarity and hyperplane-LSH projections over `array<float>`
columns, computed entirely with built-in array lambdas (JVM-side in
Spark — no Python in the hot path; Arrow/pandas variants exist for the
cases where a kernel genuinely beats codegen, see operators/simsearch).

Determinism note: both engines left-fold the elementwise products in
array order over IEEE doubles, so the resulting similarity is
bit-identical — rankings therefore agree without rounding tricks.
"""

from __future__ import annotations

import random


def to_double_array(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"cast({col} as array<double>)"
    return f"CAST({col} AS DOUBLE[])"


def dot(a: str, b: str, dialect: str) -> str:
    """Dot product of two double-array expressions (sequential fold).

    CONTRACT: both arrays must share one dimension, validated at ingest
    — on mismatch the engines diverge instead of erroring alike (Spark
    zip_with NULL-pads the shorter array, yielding NULL; DuckDB
    list_dot_product raises), so a ragged vector would silently rank
    with NULL similarity on Spark while crashing the oracle (r5
    review). The driver corpus is fixed-dim; external ingest paths
    should assert `size(vec) == dim` before scoring."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0 as double), (acc, v) -> acc + v)"
        )
    return f"list_dot_product({a}, {b})"


def norm(a: str, dialect: str) -> str:
    return f"sqrt({dot(a, a, dialect)})"


def dot_unrolled(a: str, b: str, dim: int) -> str:
    """Spark-only dot with the sum UNROLLED to scalar terms
    (a[0]*b[0] + a[1]*b[1] + ...). Left-to-right addition matches the
    sequential fold's association order (0.0 + t0 == t0 in IEEE), so
    results are bit-identical to dot()/list_dot_product.

    MEASURED SLOWER than the aggregate() fold at dim=64 (2-3x on a
    125k-pair scoring stage): the 64-term tree blows up the generated
    code (per-term null/bounds checks) past what JIT handles well,
    while the fold stays one tight loop. Kept as the documented
    negative result + for small dims (<=8), where it does win."""
    return "(" + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim)) + ")"


def sqdist(a: str, b: str, dialect: str) -> str:
    """Squared Euclidean distance via the polarization identity
    ||a-b||^2 = a.a - 2 a.b + b.b — three bit-identical dot folds plus
    scalar arithmetic, so both engines produce the same double (the
    same cross-engine-exactness contract as cosine())."""
    return (
        f"({dot(a, a, dialect)} - 2 * {dot(a, b, dialect)} "
        f"+ {dot(b, b, dialect)})"
    )


def cosine(a: str, b: str, dialect: str) -> str:
    """Cosine similarity, zero-vector safe: the norm product is floored
    at 1e-60 (same idiom as int8_maxabs) — identical on both dialects,
    value-neutral for any real vector, and a ZERO vector scores 0
    against everything instead of dividing 0/0 (which crashes Spark
    under ANSI with DIVIDE_BY_ZERO and yields NaN on DuckDB — r5
    review; the numerator is 0 there, so 0/1e-60 = 0 on both)."""
    return (
        f"({dot(a, b, dialect)} / greatest("
        f"{norm(a, dialect)} * {norm(b, dialect)}, 1e-60))"
    )


def vec_sum(members: str, field: str) -> str:
    """Spark: componentwise sum of the `field` arrays of an array of
    structs, left-folded from 0.0 in array order — per position, the
    same sum as folding that position's values as a sorted list."""
    zero = f"transform({members}[0].{field}, x -> cast(0 as double))"
    return f"aggregate({members}, {zero}, (acc, s) -> zip_with(acc, s.{field}, (a, b) -> a + b))"


def literal_vector(values: list[float], dialect: str) -> str:
    """Embed a constant vector as a SQL literal (double elements)."""
    if dialect == "spark":
        return "array(" + ", ".join(f"{v!r}D" for v in values) + ")"
    return "[" + ", ".join(repr(v) for v in values) + "]::DOUBLE[]"


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH. Components are
    rounded so the SQL literals parse to identical doubles everywhere."""
    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(col: str, planes: list[list[float]], dialect: str) -> str:
    """Sign-LSH bucket id: bit j = (v . plane_j) > 0, assembled into a
    BIGINT. Same constants on both dialects -> identical buckets."""
    a = to_double_array(col, dialect)
    terms = []
    for j, plane in enumerate(planes):
        p = literal_vector(plane, dialect)
        terms.append(
            f"(case when {dot(a, p, dialect)} > 0 then {1 << j} else 0 end)"
        )
    return "cast(" + " + ".join(terms) + " as bigint)"


def int8_maxabs(col: str, dialect: str) -> str:
    """Per-vector symmetric-quantization scale base: max |x_i|, floored
    at 1e-30 so the zero vector quantizes to zeros instead of NaN."""
    a = to_double_array(col, dialect)
    if dialect == "spark":
        return f"greatest(array_max(transform({a}, x -> abs(x))), 1e-30d)"
    return f"greatest(list_max(list_transform({a}, x -> abs(x))), 1e-30)"


def int8_codes(col: str, maxabs: str, dialect: str) -> str:
    """Symmetric int8 quantization codes: trunc(x * 127 / maxabs).

    Truncation toward zero on BOTH dialects (Spark's non-ANSI
    double->int CAST truncates; DuckDB's CAST rounds, so it goes
    through trunc() explicitly) — codes are bit-identical, which makes
    quantized scores exactly reproducible cross-engine."""
    a = to_double_array(col, dialect)
    if dialect == "spark":
        return f"transform({a}, x -> cast(x * 127.0d / {maxabs} as int))"
    return (
        f"list_transform({a}, x -> "
        f"CAST(trunc(x * 127.0 / {maxabs}) AS INTEGER))"
    )
