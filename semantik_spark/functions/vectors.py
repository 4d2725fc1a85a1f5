"""Vector Column-expression helpers — dot/cosine/normalize on
ARRAY<FLOAT|DOUBLE> columns, plus the reference's deterministic mock
embedder (vecpipe/search/dense_search.py:19-44) as a pure expression.

All JVM-side higher-order functions (zip_with/aggregate/transform) — no
Python in the scoring hot path; at 100 TB the brute-force cosine top-k
stays inside whole-stage codegen.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def by_name(build):
    """Memoize an expression builder per tuple of column names.

    Building an expression like mock_embedding or cosine costs dozens of
    py4j round-trips (tens of ms each time), and a serve call rebuilds
    the same few expressions over the same column names. A Column is an
    immutable, session-independent expression tree, so the one built for
    ("embedding", "qv") serves every later call. Only all-``str`` calls
    are cached: a Column argument may be any expression, so it builds a
    fresh one. Threads that miss together each build one; every copy is
    the same expression."""
    memo: dict[tuple[str, ...], Column] = {}

    @functools.wraps(build)
    def wrapper(*args, **kwargs):
        if kwargs or not all(isinstance(a, str) for a in args):
            return build(*args, **kwargs)
        hit = memo.get(args)
        if hit is None:
            hit = memo[args] = build(*args)
        return hit

    return wrapper


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i * b_i as double."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


@by_name
def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is 0."""
    d = dot(a, b)
    nn = norm(a) * norm(b)
    return F.when(nn > 0, d / nn).otherwise(F.lit(0.0))


def l2_normalize(a: Column | str) -> Column:
    n = norm(a)
    return F.when(n > 0, F.transform(_col(a), lambda x: x.cast("double") / n)).otherwise(_col(a).cast("array<double>"))


def _bind(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE and pass it
    to ``body`` as a lambda variable. Catalyst does not CSE repeated
    subexpressions (each reference re-evaluates), so any expression used
    more than once should go through here: transform over a 1-element
    array binds the computed value, get(..., 0) unwraps the result."""
    return F.get(F.transform(F.array(value), body), 0)


@by_name
def mock_embedding(c: Column | str) -> Column:
    """Deterministic 8-dim mock embedding, reference-identical math
    (dense_search.py:19-44): sha256(text) → 8 big-endian uint32 →
    v/2^32*2-1 → L2 normalize. Pure expression (sha2+conv+substr), so
    the DuckDB oracle can reproduce it bit-for-bit.

    The reference pads with zeros up to the model dim; zero padding does
    not change cosine ranking, so we keep the 8 informative dims.

    The sha2→conv chain is let-bound so it evaluates once per row —
    naively referencing ``vals`` from both the norm and the final
    transform doubles the hash work (no CSE in Catalyst).
    """
    hexs = F.sha2(_col(c).cast("string"), 256)
    vals = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: (
            F.conv(hexs.substr(i * 8 + 1, F.lit(8)), 16, 10).cast("double")
            / F.lit(4294967296.0) * 2.0 - 1.0
        ),
    )
    return _bind(vals, lambda v: _bind(
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
        lambda n: F.transform(v, lambda x: x / n),
    ))


def mock_embedding_sql(expr: str) -> str:
    """DuckDB SQL string computing the same mock embedding for ``expr``."""
    return (
        "list_transform("
        f"[(('0x'||substr(sha256(cast({expr} as varchar)), i*8+1, 8))::bigint / 4294967296.0)*2.0-1.0 "
        "for i in range(0, 8)], "
        f"x -> x / sqrt(list_sum(list_transform("
        f"[(('0x'||substr(sha256(cast({expr} as varchar)), j*8+1, 8))::bigint / 4294967296.0)*2.0-1.0 "
        "for j in range(0, 8)], y -> y*y))))"
    )


FP16_MAX = 65504.0  # largest finite IEEE-754 half


def quantize_float16(a: Column | str) -> Column:
    """float16 storage tier (Collection.quantization='float16',
    models.py:261): round every component to the nearest representable
    half-precision value, returned as ARRAY<DOUBLE>.

    Portable formulation (bit-identical in the DuckDB oracle, see
    float16_sql): exponent e = floor(log2|x|) with an exact power-of-two
    correction step (so a ±1-ULP log2 between engines cannot change e),
    quantum = 2^(max(e,-14) - 10) (normals have 10 mantissa bits,
    subnormals flush to the fixed 2^-24 quantum), value =
    floor(x/quantum + 0.5) * quantum (ties toward +inf on both
    engines), clamped to ±65504. All arithmetic on exact powers of two,
    so the only rounding is the intended mantissa truncation."""
    def one(x: Column) -> Column:
        return _bind(F.abs(x), lambda ax: _bind(
            F.floor(F.log2(ax)), lambda e0: _bind(
                F.pow(F.lit(2.0), e0), lambda p: _bind(
                    e0 + F.when(p > ax, F.lit(-1.0))
                          .when(p * 2.0 <= ax, F.lit(1.0))
                          .otherwise(F.lit(0.0)),
                    lambda e: _bind(
                        F.pow(F.lit(2.0), F.greatest(e, F.lit(-14.0)) - 10.0),
                        lambda step: _bind(
                            F.floor(x / step + 0.5) * step,
                            lambda q: F.least(F.greatest(q, F.lit(-FP16_MAX)),
                                              F.lit(FP16_MAX)),
                        ),
                    ),
                )
            )
        ))

    return F.transform(
        _col(a),
        lambda x0: _bind(
            x0.cast("double"),
            lambda x: F.when(x == 0.0, F.lit(0.0)).otherwise(one(x)),
        ),
    )


def float16_sql(expr: str) -> str:
    """DuckDB twin of quantize_float16 over a DOUBLE[] expression."""
    e = ("(floor(log2(abs(x))) + CASE WHEN pow(2.0, floor(log2(abs(x)))) > abs(x) THEN -1.0 "
         "WHEN pow(2.0, floor(log2(abs(x)))) * 2.0 <= abs(x) THEN 1.0 ELSE 0.0 END)")
    step = f"pow(2.0, greatest({e}, -14.0) - 10.0)"
    q = f"(floor(x / {step} + 0.5) * {step})"
    clamped = f"least(greatest({q}, {-FP16_MAX}), {FP16_MAX})"
    return (f"list_transform({expr}, x -> CASE WHEN x = 0 THEN 0.0 "
            f"ELSE {clamped} END)")


def quantize_float32(a: Column | str) -> Column:
    """float32 storage tier: IEEE single rounding via a float
    round-trip (exact and engine-portable — both Spark and DuckDB use
    round-half-even hardware casts)."""
    return F.transform(_col(a), lambda x: x.cast("double").cast("float").cast("double"))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric linear int8 quantization of a vector (the reference's
    Collection.quantization='int8' level, models.py:261): scale =
    127/max|x|, code = floor(x*scale + 0.5). floor(+0.5) instead of
    round() so Spark and the DuckDB oracle share exact half-way
    semantics. Returns STRUCT<codes ARRAY<INT>, scale DOUBLE>."""
    v = _col(a)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(1.0))
    codes = F.transform(v, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("int"))
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_int8(q: Column) -> Column:
    """Inverse of quantize_int8: codes/scale as ARRAY<DOUBLE>."""
    return F.transform(q["codes"], lambda c: c.cast("double") / q["scale"])
