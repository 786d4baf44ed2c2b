"""Portable 64-bit hashing.

The engine needs hashes that are (a) stable across Spark versions, (b)
reproducible by external oracles (DuckDB / Python hashlib) so that dedup,
MinHash-LSH and fingerprint operators are hash-for-hash checkable. Spark's
``xxhash64``/``hash`` have no DuckDB twin, so we derive a 60-bit integer from
the first 15 hex chars of md5 — identical bytes hash identically everywhere.

Reference analog: chunk-id hashing ``hash(title) % 100000``
(backend/app/api/routes/graph.py:308) — upgraded to a collision-resistant,
engine-portable form.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: DuckDB expression template computing the same value as portable_hash64.
#: Format with the source SQL expression, e.g.
#: ``PORTABLE_HASH64_DUCKDB.format(expr="text")``.
PORTABLE_HASH64_DUCKDB = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


#: Spark SQL text of the exact :func:`portable_hash64` tree — format with a
#: (quoted) SQL expression; the single-parse fast path for column names.
PORTABLE_HASH64_SPARK_SQL = "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def quote_name(name: str) -> str | None:
    """Backtick-quote a plain column name for the single-parse SQL fast
    paths; ``None`` when the name must take the Column-API branch instead.

    Embedded backticks are escaped by doubling (the Spark identifier rule —
    an unescaped backtick would break the parse, effectively injecting SQL
    into the plan). Dotted names return ``None``: ``F.col("a.b")`` resolves
    nested field ``b`` of struct ``a``, while a quoted `a.b` resolves only a
    column literally named "a.b" — the Column branch keeps the established
    multipart semantics (ADVICE r10).
    """
    if "." in name:
        return None
    return quote_identifier(name)


def quote_identifier(name: str) -> str:
    """Backtick-quote a literal column name (dots included), escaping
    embedded backticks by doubling."""
    escaped = name.replace("`", "``")
    return f"`{escaped}`"


def sql_inputs(df: DataFrame, key: str, *cols: str) -> tuple[DataFrame, str, list[str]]:
    """``(df, key_sql, [col_sql, ...])``: the frame and the SQL names to
    render one single-parse expression over its columns ``key`` and ``cols``.

    Plain names are quoted in place. If any name is dotted (``F.col``
    semantics: a struct field or a qualified column), the inputs are
    selected once: ``key`` under the name ``F.col(key)`` gives it, so
    outputs keep that name, and each of ``cols`` under the fixed alias
    ``_in{i}``."""
    quoted = [quote_name(n) for n in (key, *cols)]
    if None not in quoted:
        return df, quoted[0], quoted[1:]
    df = df.select(F.col(key), *[F.col(c).alias(f"_in{i}") for i, c in enumerate(cols)])
    return df, quote_identifier(df.columns[0]), [f"`_in{i}`" for i in range(len(cols))]


def sql_double(x: float) -> str:
    """Spark SQL literal of a Python float as a DOUBLE: ``repr(x) + "D"``
    for finite values (``1e-05D``, ``-0.0D`` and ``1e+300D`` parse), a
    cast string for NaN and ±Infinity, which have no numeric literal
    (``nanD`` would parse as a column name)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def sql_string(x: str) -> str:
    """Spark SQL literal of a Python string: single-quoted, with each
    backslash and single quote escaped by a backslash, so the parser's
    unescaping gives back ``x`` exactly (``o'brien`` and ``a\\b`` round-trip;
    the session keeps Spark's default ``spark.sql.parser.escapedStringLiterals
    = false``)."""
    return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"


def portable_hash64(col: Column | str) -> Column:
    """60-bit integer hash of a string column, reproducible in DuckDB/Python.

    Spark: ``conv(substr(md5(x),1,15),16,10)`` — md5 of UTF-8 bytes, first 15
    hex nibbles as a base-16 number (< 2^60, so it always fits a signed long).

    Column-NAME inputs take a single-F.expr-parse fast path — the identical
    tree at ~1/10 the py4j plan-build cost (the helper is on ~25
    query-build paths; pinned value-equal in
    tests/test_sql_fastpath_twins.py)."""
    if isinstance(col, str) and (q := quote_name(col)) is not None:
        return F.expr(PORTABLE_HASH64_SPARK_SQL.format(expr=q))
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def salted_hash64(col: Column | str, salt: int) -> Column:
    """Salted variant used as the i-th MinHash permutation h_i(x) = H(i||x)."""
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash64(F.concat(F.lit(f"{salt}|"), c))


def salted_hash64_duckdb(expr: str, salt: int) -> str:
    """DuckDB SQL computing the same value as :func:`salted_hash64`."""
    return PORTABLE_HASH64_DUCKDB.format(expr=f"'{salt}|' || {expr}")


#: Mersenne prime 2^61 - 1, the modulus of the universal MinHash family.
P61 = (1 << 61) - 1


def _perm_constants(n: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine family, a < 2^31 (the
    overflow bound of :func:`mulmod_affine_p61`), b < P61. Same constants on
    the Spark and DuckDB sides — single source of truth."""
    pairs, state = [], seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) % ((1 << 31) - 2) + 1  # 1 .. 2^31-2
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % P61
        pairs.append((a, b))
    return pairs


MINHASH_PERMS: list[tuple[int, int]] = _perm_constants()


def mulmod_affine_p61(h: Column, a: int, b: int) -> Column:
    """(a*h + b) mod (2^61-1) without 128-bit arithmetic, for h < 2^60 and
    a < 2^31 — every intermediate stays below 2^63 (signed-long safe, no
    ANSI overflow):

        h = h_hi*2^30 + h_lo          (h_hi < 2^30, h_lo < 2^30)
        a*h_hi = u*2^31 + v           (u < 2^29,  v < 2^31)
        a*h*2^0 = u*2^61 + v*2^30 + a*h_lo
               ≡ u + v*2^30 + a*h_lo  (mod p, since 2^61 ≡ 1)

    then two fold-reductions x → (x>>61) + (x & p) and conditional
    subtracts. DuckDB twin (has 128-bit HUGEINT, no trick needed):
    ``((a::HUGEINT * h + b) % 2305843009213693951)::BIGINT``.
    """
    if not (0 < a < (1 << 31)):
        raise ValueError("a must be in (0, 2^31)")
    h_hi = F.shiftright(h, 30)
    h_lo = h.bitwiseAND(F.lit((1 << 30) - 1))
    t1 = F.lit(a) * h_hi
    u = F.shiftright(t1, 31)
    v = t1.bitwiseAND(F.lit((1 << 31) - 1))
    x = u + F.shiftleft(v, 30) + F.lit(a) * h_lo  # < 2^62.1
    x = F.shiftright(x, 61) + x.bitwiseAND(F.lit(P61))  # fold: <= p + 1
    x = F.when(x >= P61, x - P61).otherwise(x)
    x = x + F.lit(b)  # < 2p
    x = F.when(x >= P61, x - P61).otherwise(x)
    return x


def minhash_perm_family(base_hash: Column, num_hashes: int) -> list[Column]:
    """``num_hashes`` pairwise-independent-style permutations of ONE base
    hash: h_i = (a_i*h + b_i) mod (2^61-1). md5 is the kernel cost of
    MinHash; hashing the shingle once and permuting with integer affine maps
    is a ~k-fold saving over k salted md5 calls at the same LSH quality
    (the standard universal-hashing MinHash construction)."""
    if num_hashes > len(MINHASH_PERMS):
        raise ValueError(f"at most {len(MINHASH_PERMS)} permutations available")
    return [
        mulmod_affine_p61(base_hash, a, b) for a, b in MINHASH_PERMS[:num_hashes]
    ]


def mulmod_affine_p61_sql(h_expr: str, a: int, b: int) -> str:
    """Spark SQL text of the exact :func:`mulmod_affine_p61` tree, for the
    single-parse fast path (``h_expr`` is a quoted SQL expression). The
    CASE duplication of subexpressions mirrors F.when's — codegen CSE
    collapses it at runtime either way; all arithmetic is exact integer
    math, so the twins are value-identical (pinned in
    tests/test_sql_fastpath_twins.py)."""
    if not (0 < a < (1 << 31)):
        raise ValueError("a must be in (0, 2^31)")
    t1 = f"({a} * shiftright({h_expr}, 30))"
    u = f"shiftright({t1}, 31)"
    v = f"({t1} & {(1 << 31) - 1})"
    x = f"(({u} + shiftleft({v}, 30)) + ({a} * ({h_expr} & {(1 << 30) - 1})))"
    x = f"(shiftright({x}, 61) + ({x} & {P61}))"
    x = f"(CASE WHEN {x} >= {P61} THEN {x} - {P61} ELSE {x} END)"
    x = f"({x} + {b})"
    return f"CASE WHEN {x} >= {P61} THEN {x} - {P61} ELSE {x} END"


def minhash_perm_family_sql(h_expr: str, num_hashes: int) -> list[str]:
    """SQL-text twin of :func:`minhash_perm_family` (same constants)."""
    if num_hashes > len(MINHASH_PERMS):
        raise ValueError(f"at most {len(MINHASH_PERMS)} permutations available")
    return [
        mulmod_affine_p61_sql(h_expr, a, b) for a, b in MINHASH_PERMS[:num_hashes]
    ]


def minhash_perm_duckdb(h_expr: str, i: int) -> str:
    """DuckDB SQL computing the same value as ``minhash_perm_family(...)[i]``."""
    a, b = MINHASH_PERMS[i]
    return f"((({a}::HUGEINT * ({h_expr})) + {b}) % {P61})::BIGINT"
