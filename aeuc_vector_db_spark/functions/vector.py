"""Vector primitives as Column expressions over ARRAY<FLOAT>/ARRAY<DOUBLE>.

All math is performed in DOUBLE via SQL higher-order functions (zip_with /
aggregate / transform), which Catalyst evaluates JVM-side inside
whole-stage codegen — no Python in the hot path. Folds are sequential
left-to-right, which makes results reproducible and lets a DuckDB oracle
(list_reduce) match bit-for-bit.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double(col: Column | str) -> Column:
    """Widen ARRAY<FLOAT> → ARRAY<DOUBLE> element-wise (exact widening)."""
    return F.transform(_c(col), lambda x: x.cast("double"))


_NON_FINITE_SQL = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _double_sql(v: float) -> str:
    r = repr(v)
    if math.isfinite(v):
        return f"{r}D"
    return f"CAST('{_NON_FINITE_SQL[r]}' AS DOUBLE)"


def lit_vector(values: Sequence[float]) -> Column:
    """A query vector as a literal ARRAY<DOUBLE> column, built in ONE
    Python→JVM call: the whole array is one SQL expression string.

    Exactness: each finite element is written as `repr(float(v))` + `D`.
    Python's repr is the shortest string that round-trips to the same
    IEEE double, and Spark parses a DOUBLE literal with Java's correctly
    rounded `Double.parseDouble`, so every element — −0.0 (a signed
    literal, not a negation), subnormals, DBL_MAX — arrives bit-for-bit.
    NaN and ±inf have no literal syntax and go through `CAST('NaN' AS
    DOUBLE)` etc. The per-element `F.lit(...)` form it replaces made one
    Py4J call per dimension: on a 4-vCPU host it took 80–90 ms at 64
    dims and 5.6 s at 4096, against 1–1.5 ms and 10–30 ms here.
    """
    return F.expr(f"array({', '.join(_double_sql(float(v)) for v in values)})")


def quantize_dyadic_col(a: Column | str, scale: int = 64) -> Column:
    """Snap each element to the nearest multiple of 1/scale (scale a
    power of two): `floor(x·scale + 0.5) / scale` — every output is an
    exactly-representable dyadic rational, so downstream products and
    sums against other dyadics are EXACT in IEEE double regardless of
    fold order. This is what lets the literal-parameter apply queries
    (ann_pq_adc_apply, emb_cell_assign_literal) drive the NumPy/BLAS
    kernels verbatim and still hash-match a DuckDB oracle: with exact
    inputs, BLAS reassociation cannot change a bit. x·scale is exact
    (power-of-two multiply), `+0.5` and `floor` round identically in
    Spark, NumPy, and DuckDB (round-half-up toward +inf)."""
    s = float(scale)
    return F.transform(
        _c(a), lambda x: F.floor(x.cast("double") * s + 0.5) / s
    )


def dot_col(a: Column | str, b: Column | str) -> Column:
    """a·b as a sequential double fold (similarity.py:47-49 parity)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def sq_norm_col(a: Column | str) -> Column:
    """Σ x² (sequential fold)."""
    return F.aggregate(_c(a), F.lit(0.0), lambda s, x: s + x * x)


def l2_norm_col(a: Column | str) -> Column:
    """‖a‖₂ (clustering.py:110 parity)."""
    return F.sqrt(sq_norm_col(a))


def l2_normalize_col(a: Column | str, eps: float = 1e-12) -> Column:
    """Unit-normalize a vector; zero vectors stay (near-)zero via eps guard.

    The norm is let_col-bound: referenced from inside the transform
    lambda it would otherwise re-evaluate the whole O(d) fold per
    element — O(d²) per row."""
    arr = _c(a)
    return let_col(
        arr,
        lambda v: let_col(
            l2_norm_col(v) + F.lit(eps),
            lambda norm: F.transform(v, lambda x: x / norm),
        ),
    )


def let_col(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate `value` ONCE per
    row and pass it to `body` as a lambda variable —
    ``transform(array(value), v -> body(v))[0]``.

    Why this exists: Catalyst freely DUPLICATES non-cheap projection
    aliases — CollapseProject inlines them into consumers and
    filter-pushdown substitutes them into predicates — and an outer
    expression referenced inside a higher-order-function lambda body is
    re-evaluated PER ELEMENT (lambda bodies get no CSE, and HOFs are
    CodegenFallback so codegen subexpression elimination never rescues
    the copies). Measured: the winnowing shingle-hash transform inlined
    ~8×; the φ-similarity weight normalizer re-ran its d-element fold
    once per element (O(d²)). A NamedLambdaVariable reference is the
    one user-level binding every rewrite treats as cheap, so `body` may
    reference it any number of times at one evaluation's cost. Works
    for scalars and arrays alike; binding changes evaluation COUNT
    only, never the operations or their order, so bit-parity contracts
    are preserved.
    """
    return F.transform(F.array(value), body)[0]


_BUILT: tuple[object, dict] = (None, {})


def built_once(build, *args):
    """`build(*args)`, built once per JVM and then reused.

    For Column expressions that depend only on column names and
    integers: building one costs a Python→JVM call per node, and the
    text-feature and MinHash builders make hundreds of them (measured
    0.7–0.9 s per `with_text_features` call on a 4-vCPU host). A Column
    is an immutable, unresolved expression, resolved afresh in every
    plan that uses it, so one instance serves any number of
    DataFrames. The cache belongs to the current gateway's JVM view: a
    new gateway (a new JVM) starts an empty cache."""
    from pyspark import SparkContext

    global _BUILT
    jvm = SparkContext._jvm
    owner, cache = _BUILT
    if owner is not jvm:
        cache = {}
        _BUILT = (jvm, cache)
    key = (build, args)
    if key not in cache:
        cache[key] = build(*args)
    return cache[key]
