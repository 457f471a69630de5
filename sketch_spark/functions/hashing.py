"""Hash functions: the scalar-function surface of the engine.

The reference's hash family (see SURVEY.md §2.2) maps as follows:

  * element hash (WangHash, reference hash.h:42-63, the public Thomas Wang
    64-bit mix): `wanghash_np` (numpy, bit-exact) and `wanghash_col` (Spark
    Column, requires non-ANSI session for two's-complement wraparound).
  * string/shingle hash (reference XXH3, util.cpp:16-68): two tiers.
    PRODUCTION: Spark's builtin `xxhash64` (XXH64, JVM-side, whole-stage
    codegen — same family, identical collision behavior for dedup, and
    shingle hashing never crosses into Python).  PARITY: a from-scratch
    bit-exact XXH3-64 (`sketch_spark.functions.xxh3`, written from the
    public spec, tested against 96 vectors generated from the vendored
    library) provides the reference's exact `hash(str)` /
    `hash(list_of_str)` / `hash_ngrams` values where cross-engine hash
    equality matters.  `xxh64_py` is a pure-Python bit-exact mirror of
    Spark's xxhash64 used by the test oracle.
  * engine-portable polynomial hash (`poly_hash_*`): identical integer
    arithmetic in Spark SQL and DuckDB SQL, used for the driver's
    cross-engine correctness gate (no overflow: everything stays < 2^63).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

U64 = np.uint64
MASK64 = U64(0xFFFFFFFFFFFFFFFF)

# ---------------------------------------------------------------------------
# WangHash (Thomas Wang 64-bit mix) — reference hash.h:42-63
# ---------------------------------------------------------------------------


def wanghash_np(x: np.ndarray) -> np.ndarray:
    """Vectorized Thomas Wang 64-bit hash, bit-exact vs reference hash.h:42-63."""
    key = np.asarray(x, dtype=U64)
    with np.errstate(over="ignore"):
        key = (~key) + (key << U64(21))
        key = key ^ (key >> U64(24))
        key = (key + (key << U64(3))) + (key << U64(8))
        key = key ^ (key >> U64(14))
        key = (key + (key << U64(2))) + (key << U64(4))
        key = key ^ (key >> U64(28))
        key = key + (key << U64(31))
    return key


def wanghash_inv_np(x: np.ndarray) -> np.ndarray:
    """Inverse of wanghash_np (the mix is a bijection; reference hash.h:66+)."""
    key = np.asarray(x, dtype=U64)
    with np.errstate(over="ignore"):
        tmp = key - (key << U64(31))
        key = key - (tmp << U64(31))
        tmp = key ^ key >> U64(28)
        key = key ^ tmp >> U64(28)
        key = key * U64(14933078535860113213)
        tmp = key ^ key >> U64(14)
        tmp = key ^ tmp >> U64(14)
        tmp = key ^ tmp >> U64(14)
        key = key ^ tmp >> U64(14)
        key = key * U64(15244667743933553977)
        tmp = key ^ key >> U64(24)
        key = key ^ tmp >> U64(24)
        tmp = ~key
        tmp = ~(key - (tmp << U64(21)))
        tmp = ~(key - (tmp << U64(21)))
        key = ~(key - (tmp << U64(21)))
    return key


def wanghash_col(col: Column) -> Column:
    """WangHash as a Spark Column over LongType.

    Signed-long wraparound is bit-identical to uint64 wraparound, so the
    result matches `wanghash_np` reinterpreted as int64.  Requires
    spark.sql.ansi.enabled=false (sketch_spark sessions set this).
    """
    k = F.bitwise_not(col) + F.shiftleft(col, 21)
    k = k.bitwiseXOR(F.shiftrightunsigned(k, 24))
    k = (k + F.shiftleft(k, 3)) + F.shiftleft(k, 8)
    k = k.bitwiseXOR(F.shiftrightunsigned(k, 14))
    k = (k + F.shiftleft(k, 2)) + F.shiftleft(k, 4)
    k = k.bitwiseXOR(F.shiftrightunsigned(k, 28))
    k = k + F.shiftleft(k, 31)
    return k


# ---------------------------------------------------------------------------
# MurFinHash (murmur3 64-bit finalizer) — reference hash.h:466-476, the
# alternative element hasher the sketches accept instead of WangHash.
# ---------------------------------------------------------------------------

_MF_C1 = U64(0xFF51AFD7ED558CCD)
_MF_C2 = U64(0xC4CEB9FE1A85EC53)


def murfinhash_np(x: np.ndarray) -> np.ndarray:
    """Vectorized murmur3 finalizer, bit-exact vs reference hash.h:466-476."""
    key = np.asarray(x, dtype=U64)
    with np.errstate(over="ignore"):
        key = key ^ (key >> U64(33))
        key = key * _MF_C1
        key = key ^ (key >> U64(33))
        key = key * _MF_C2
        key = key ^ (key >> U64(33))
    return key


def murfinhash_col(col: Column) -> Column:
    """MurFinHash as a Spark Column over LongType (two's-complement
    wraparound == uint64; requires non-ANSI session, like wanghash_col)."""
    c1 = 0xFF51AFD7ED558CCD - (1 << 64)  # as signed int64 literals
    c2 = 0xC4CEB9FE1A85EC53 - (1 << 64)
    k = col.bitwiseXOR(F.shiftrightunsigned(col, 33))
    k = k * F.lit(c1)
    k = k.bitwiseXOR(F.shiftrightunsigned(k, 33))
    k = k * F.lit(c2)
    k = k.bitwiseXOR(F.shiftrightunsigned(k, 33))
    return k


def murfinhash_py(v: int) -> int:
    """Scalar mirror (unsigned)."""
    m = (1 << 64) - 1
    v &= m
    v ^= v >> 33
    v = (v * 0xFF51AFD7ED558CCD) & m
    v ^= v >> 33
    v = (v * 0xC4CEB9FE1A85EC53) & m
    v ^= v >> 33
    return v


# ---------------------------------------------------------------------------
# XXH64 — pure-Python mirror of Spark's builtin xxhash64 (oracle use only)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64_py(data: bytes, seed: int = 42) -> int:
    """XXH64 of raw bytes; seed defaults to 42 = Spark's xxhash64 seed.

    Returned as *signed* int64 to match Spark LongType output.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for _v in range(4):
                lane = int.from_bytes(data[i : i + 8], "little")
                if _v == 0:
                    v1 = (_rotl((v1 + lane * _P2) & _M, 31) * _P1) & _M
                elif _v == 1:
                    v2 = (_rotl((v2 + lane * _P2) & _M, 31) * _P1) & _M
                elif _v == 2:
                    v3 = (_rotl((v3 + lane * _P2) & _M, 31) * _P1) & _M
                else:
                    v4 = (_rotl((v4 + lane * _P2) & _M, 31) * _P1) & _M
                i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((lane * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h ^= (lane * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_long_py(value: int, seed: int = 42) -> int:
    """Spark xxhash64 of a LongType value = XXH64 of its 8 LE bytes."""
    return xxh64_py(int(value).to_bytes(8, "little", signed=value < 0), seed)


# ---------------------------------------------------------------------------
# Engine-portable polynomial hashes (Spark SQL == DuckDB SQL, overflow-free)
# ---------------------------------------------------------------------------

POLY_P = 1_000_000_007  # prime modulus; h*31+255 < 2^63 always
POLY_B = 31  # per-character base
POLY_TOKEN_B = 1_000_003  # per-token combine base; P*B + P < 2^63


def poly_token_family_col(tok: Column, b: int, p: int) -> Column:
    """Per-character polynomial hash of one (ASCII) token — Spark side,
    parameterized on the (base, prime) family.

    h = fold(chars, 0, (h, c) -> (h*b + ascii(c)) % p).  All intermediate
    values < 2^63, so this is ANSI-safe and runs under any session.

    NOT safe to pass bare to F.transform: the HOF DSL requires callables
    whose every parameter is positional (and a 2-positional callable is
    treated as the (element, index) form).  Pass the 1-arg wrappers
    (poly_hash_token_col, or a lambda closing over b/p) instead.
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: F.ascii(F.substr(tok, i, F.lit(1))),
    )
    folded = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(b) + c.cast("long")) % F.lit(p),
    )
    # sequence(1, 0) would be descending in Spark; guard the empty token.
    return F.when(F.length(tok) == 0, F.lit(0).cast("long")).otherwise(folded)


def poly_hash_token_col(tok: Column) -> Column:
    """The default (POLY_B, POLY_P) family member — 1-arg, so it can be
    passed bare to F.transform."""
    return poly_token_family_col(tok, POLY_B, POLY_P)


def poly_hash_token_sql(expr: str) -> str:
    """Same per-character fold as DuckDB SQL text (list_reduce)."""
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0 ELSE list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ascii(substr({expr}, CAST(i AS INTEGER), 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {POLY_B} + c) % {POLY_P}) END"
    )


def poly_hash_py(s: str, b: int = POLY_B, p: int = POLY_P) -> int:
    """Python mirror of poly_hash_token_col/sql (parameterized family)."""
    h = 0
    for ch in s:
        h = (h * b + ord(ch)) % p
    return h


def poly_combine_py(hashes: list[int], tb: int = POLY_TOKEN_B, p: int = POLY_P) -> int:
    acc = hashes[0]
    for h in hashes[1:]:
        acc = (acc * tb + h) % p
    return acc
