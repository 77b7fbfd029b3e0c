"""Cross-engine deterministic primitives (Spark <-> ANSI/DuckDB SQL).

The driver's correctness gate compares every Spark query against a DuckDB
oracle by value-hash, so any hashing/scoring operator must produce
*bit-identical* values in both engines. These helpers pin down:

- ``h64``: a portable 60-bit hash — ``md5`` hex is identical everywhere, and
  the first 15 hex digits fit a signed BIGINT. Spark's ``xxhash64`` and
  DuckDB's ``hash`` disagree, so md5 is the common denominator. (Used as the
  shingle/token hash for MinHash / SimHash / fingerprinting; md5 cost is
  irrelevant next to the shuffle it feeds.)
- MinHash permutation constants: ``(a_k * h + b_k) mod P`` with all operands
  < 2^20 so the product stays < 2^40 — DuckDB *errors* on BIGINT overflow
  while the JVM silently wraps, so staying far from 2^63 keeps both honest.
- deterministic seeds: fixed literals from ``random.Random(42)``, embedded in
  both the Spark plan and the generated oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# prime modulus < 2^20 keeping (a*h + b) < 2^40 in both engines
MINHASH_P = 1_048_573
NUM_MINHASH = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
SIMHASH_BITS = 32

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(NUM_MINHASH)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_MINHASH)]


def h64(col: Column | str) -> Column:
    """Portable 60-bit string hash (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h64_sql(expr: str) -> str:
    """Same hash, DuckDB SQL side."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_term(k: int, hash_expr: Column) -> Column:
    """k-th permutation applied to an already-reduced hash (Spark side)."""
    return (F.lit(MINHASH_A[k]) * hash_expr + F.lit(MINHASH_B[k])) % F.lit(MINHASH_P)


def minhash_term_sql(k: int, hash_expr: str) -> str:
    return f"(({MINHASH_A[k]} * {hash_expr} + {MINHASH_B[k]}) % {MINHASH_P})"


def reduce_hash(c: Column) -> Column:
    """Fold the 60-bit hash into [0, P) before permuting (overflow safety)."""
    return F.pmod(c, F.lit(MINHASH_P))


def reduce_hash_sql(expr: str) -> str:
    # both operands non-negative, so % == pmod
    return f"({expr} % {MINHASH_P})"


# --- tokenization ----------------------------------------------------------
# One canonical tokenizer for dedup/textstats: lowercase, split on whitespace.
#
# The whitespace class is EXPLICIT, not `\s`, because the engines' `\s`
# classes differ on vertical tab: Java regex \s = [ \t\n\x0B\f\r] while
# DuckDB/RE2 \s = [ \t\n\f\r] (probed live on this build) — a document
# containing \x0B would tokenize differently per engine and flip every
# tokens-based value hash. The explicit class below is Java's definition,
# matching the Python kernels' [ \t\n\v\f\r] (core BPE, signals).

WS_CLASS = r" \t\n\x0B\f\r"  # identical meaning in Java regex and RE2


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), rf"[{WS_CLASS}]+")


def tokens_sql(expr: str) -> str:
    return rf"string_split_regex(lower(trim({expr})), '[{WS_CLASS}]+')"


EMBED_DIM = 64  # width of every `embeddings` vector


def dot_sql(a: str, b: str) -> str:
    """Explicit left-associated sum so the IEEE add order matches Spark's
    sequential aggregate() fold."""
    return " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(1, EMBED_DIM + 1))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def epoch_s(col: Column | str) -> Column:
    """Whole-second epoch of a TIMESTAMP_NTZ, session-timezone-INDEPENDENT.

    ``unix_timestamp(to_timestamp(ntz))`` converts through the session zone
    (wrong answers in any non-UTC driver session, and DST-dependent even for
    differences); building the epoch from wall-clock fields matches DuckDB's
    ``floor(epoch(ts))`` under every session timezone.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.unix_date(F.to_date(c)).cast("long") * 86400
        + F.hour(c) * 3600
        + F.minute(c) * 60
        + F.second(c)
    )
