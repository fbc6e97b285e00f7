"""Portable deterministic hashing used by blocking / MinHash / SimHash.

The reference (ad-freiburg/wiki_entity_linker) never hashes — its blocking is
pure dictionary lookup (entity_database.py:85-100) — but the graft's per-row
invariant is ``sha256(content)`` equality and its LSH blocking needs hash
families that are (a) deterministic across JVM/Python/DuckDB so golden tests
and oracle SQL agree, and (b) computed JVM-side inside whole-stage codegen
(no Python in the hot path).

Everything here is built from ``md5`` hex digests: ``h64(s) = int(md5(s)[:15
hex], 16)`` is a 60-bit non-negative integer with identical value in Spark
(``conv(substr(md5(s),1,15),16,10)``) and DuckDB
(``CAST('0x'||substr(md5(s),1,15) AS BIGINT)``). The k-member hash family is
``h64(s || '#' || i)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h64(col: Column | str) -> Column:
    """Portable 60-bit hash of a string column (same value in DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h64_seeded(col: Column | str, seed: int) -> Column:
    """Member ``seed`` of the portable hash family."""
    c = F.col(col) if isinstance(col, str) else col
    return h64(F.concat(c, F.lit(f"#{seed}")))


def h64_sql(expr: str) -> str:
    """DuckDB SQL rendering of :func:`h64` for oracle queries."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def h64_seeded_sql(expr: str, seed: int) -> str:
    """DuckDB SQL rendering of :func:`h64_seeded`."""
    return h64_sql(f"({expr} || '#{seed}')")


# ---------------------------------------------------------------------------
# Arithmetic hash family for MinHash: ONE md5 per shingle, then k cheap
# universal-hash mixes h_i(x) = ((h64(x) mod P) * a_i + b_i) mod P with
# P = 2^31 - 1. Identical arithmetic in DuckDB → oracle-checkable, and ~16×
# less digest work than k independent md5s.
# ---------------------------------------------------------------------------

MERSENNE_P = (1 << 31) - 1


def mh_family(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) constants for the k-member family."""
    out = []
    for i in range(n):
        a = (2654435761 * (i + 1)) % MERSENNE_P or 1
        b = (40503 * (i + 7) + 11) % MERSENNE_P
        out.append((a, b))
    return out


def mh_mix(base: Column, a: int, b: int) -> Column:
    """h_i = ((base mod P) * a_i + b_i) mod P — stays within int64."""
    return ((base % MERSENNE_P) * F.lit(a) + F.lit(b)) % MERSENNE_P


def mh_mix_sql(base_expr: str, a: int, b: int) -> str:
    return f"((({base_expr}) % {MERSENNE_P}) * {a} + {b}) % {MERSENNE_P}"


def stable_file_id(repo: Column | str, path: Column | str, commit: Column | str) -> Column:
    """Canonical file id: sha256 of the primary key ``repo|path|commit``.

    String ids sort identically everywhere, which makes the canonical pair
    ordering (``id_a < id_b``) reproducible across engines — the graft's
    analogue of the reference's sorted-QID tie-breaks
    (prefix_trie_linker.py:254-255).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in (repo, path, commit)]
    return F.sha2(F.concat_ws("|", *cols), 256)
