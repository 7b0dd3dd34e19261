"""Portable deterministic hashing (identical in Spark SQL and DuckDB).

Spark's ``hash``/``xxhash64`` have no DuckDB twin, so oracle-checked
sketches (MinHash, LSH bands, hyperplane signs) hash through md5 instead:
``bigint(hex_prefix_12(md5(s)))`` is stable, uniform enough for sketching,
and computable in both engines.  Spark stays JVM-side (conv/substring/md5
are codegen'd builtins) — this costs more than xxhash64 but keeps every
sketch independently verifiable; swap to xxhash64 for pure-production runs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_bigint(col: Column) -> Column:
    """First 48 bits of md5 as a non-negative bigint (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def md5_bigint_sql(expr: str) -> str:
    """DuckDB twin of md5_bigint."""
    return f"('0x' || substr(md5({expr}), 1, 12))::BIGINT"


def seeded(col: Column, seed: int) -> Column:
    return F.concat(col, F.lit(f"#{seed}"))


def seeded_sql(expr: str, seed: int) -> str:
    return f"({expr} || '#{seed}')"


def _seeded_hasher(seed: int):
    # NB: must be a ONE-parameter callable — pyspark passes (element, index)
    # to two-parameter lambdas, which would silently override the seed.
    def f(s: Column) -> Column:
        return md5_bigint(seeded(s, seed))

    return f


# MinHash via ONE md5 per shingle + k universal-hash mixes over the base
# value (round 5): the old form ran k independent md5 passes (k× the
# dominant cost); the (a·h + b) mod 2^48 family over a single base hash
# is the standard trick (Spark ML's MinHashLSH mixes one hashcode with
# random affine coefficients mod a prime the same way).  Odd multiplier
# ⇒ bijection on Z_2^48, so each mix is a permutation of the base hash
# space.  a < 2^14 keeps a·h + b < 2^63: no int64 overflow in either
# engine (DuckDB errors on overflow rather than wrapping).
_MH_MASK = (1 << 48) - 1


def _mh_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) mix coefficients from md5 — no RNG, shared
    by the Spark plan, the DuckDB oracle, and the pytest twin."""
    out = []
    for i in range(k):
        d = hashlib.md5(f"mh:{i}".encode()).digest()
        a = (int.from_bytes(d[:2], "big") & 0x3FFE) | 1  # odd, < 2^14
        b = int.from_bytes(d[2:8], "big") & _MH_MASK
        out.append((a, b))
    return out


def _mix_hasher(a: int, b: int):
    # NB: ONE-parameter callable (see _seeded_hasher note): pyspark binds
    # a lambda variable per Python parameter, defaults included.
    def f(h: Column) -> Column:
        return (h * F.lit(a) + F.lit(b)).bitwiseAND(F.lit(_MH_MASK))

    return f


def minhash_signature(shingles: Column, k: int = 12) -> list[Column]:
    """k min-hashes over a shingle array (all JVM builtins) — column-only
    form.  NOTE: each mh column embeds its own copy of the md5 base-hash
    transform; prefer operators.dedup.minhash_signatures, which
    materializes the base array in its own projection so md5 runs once
    per shingle regardless of k."""
    base = F.transform(shingles, md5_bigint)
    return [
        F.array_min(F.transform(base, _mix_hasher(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_mh_params(k))
    ]


def minhash_signature_sql(shingles_expr: str, k: int = 12) -> list[str]:
    base = f"list_transform({shingles_expr}, s -> {md5_bigint_sql('s')})"
    return [
        (
            f"list_min(list_transform({base}, "
            f"h -> (h * {a} + {b}) & {_MH_MASK})) AS mh{i}"
        )
        for i, (a, b) in enumerate(_mh_params(k))
    ]


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes for sign-LSH over embeddings.
    Derived from md5 of (plane, dim) — no RNG, reproducible everywhere;
    shared as literals by the Spark plan and the oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"hp:{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        planes.append(row)
    return planes


def python_md5_bigint(s: str) -> int:
    """Reference twin of md5_bigint for pytest oracles."""
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
