"""Deterministic Bloom-filter membership prefilter.

The 100 TB shape of "which corpus n-grams appear in the benchmark set":
the exact formulation joins EVERY corpus gram — the bloom formulation
builds a bit-array from the (small) benchmark side once, broadcasts it as
ONE ROW (m/64 int64 words), and tests membership ROW-LOCALLY in the scan;
only probable hits (true positives + the controlled false-positive tail)
ever reach the exact verify join. No false negatives by construction, so
`bloom-prefilter → exact verify` returns bit-identically the exact answer
— which is what the registered query's oracle pins.

Hash family: ONE ``xxhash64`` per key (JVM whole-stage codegen — the
filter is answer-transparent, the oracle never sees it, so the md5-based
cross-ENGINE portable family is not required here; xxhash64 is
deterministic across runs and partitions at a fraction of md5's cost,
measured ~4× on the probe side), masked to a non-negative 60-bit base,
then k cheap arithmetic mixes (the MinHash-family discipline,
functions/hashing ``mh_mix``) rather than k independent digests —
interpreted HOF lambdas cannot common-subexpression-eliminate a repeated
digest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import mh_family, mh_mix

# filter size in bits (4096 int64 words, a 32 KB broadcast) and the number
# of bit positions set per key
_M_BITS = 1 << 18
_K = 3


def bloom_base_hash(key: Column | str) -> Column:
    """The filter's base digest: xxhash64 masked to a non-negative 60-bit
    int (the mix arithmetic assumes a non-negative base). Project
    ``transform(grams, bloom_base_hash)`` into its OWN column before
    calling :func:`bloom_contains_hashed` in a lambda."""
    key = F.col(key) if isinstance(key, str) else key
    return F.xxhash64(key).bitwiseAND(F.lit((1 << 60) - 1))


def _positions(base: Column) -> list[Column]:
    """k bit positions from one 60-bit base hash via arithmetic mixes."""
    return [mh_mix(base, a, b) % _M_BITS for a, b in mh_family(_K)]


def bloom_bitmap(keys: DataFrame, key_col: str) -> DataFrame:
    """Build the filter: → ONE row ``(bitmap array<long>)`` of ``m_bits/64``
    words with bit ``h_i(key) mod m_bits`` set for every key and every
    ``i < k`` (``m_bits`` = ``_M_BITS`` = 2^18, ``k`` = ``_K`` = 3).

    Scale shape: the only key-sized work is one digest per key plus a
    map-side-combinable ``groupBy(word)`` over k·|keys| (word, bit) rows;
    the dense-array assembly (collect + transform over ``sequence``) runs
    on the word-cardinality summary frame (≤ m_bits/64 = 4096 rows, a
    32 KB broadcast).
    """
    n_words = _M_BITS // 64
    hashed = keys.select(bloom_base_hash(key_col).alias("__h"))
    pos = hashed.select(
        F.explode(F.array(*_positions(F.col("__h")))).alias("pos")
    )
    words = pos.select(
        F.expr("pos div 64").alias("word"),
        # shift amount is a COLUMN, so call the SQL function directly
        # (the python F.shiftleft wrapper only takes an int literal)
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
        ).alias("b"),
    ).groupBy("word").agg(F.bit_or("b").alias("bits"))
    sparse = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word"), F.col("bits")))
        ).alias("m")
    )
    return sparse.select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda w: F.coalesce(
                F.element_at("m", w), F.lit(0).cast("long")
            ),
        ).alias("bitmap")
    )


def bloom_contains_hashed(base: Column | str, bitmap: Column | str) -> Column:
    """Row-local membership test for a PRE-HASHED key (``h64`` of it) —
    the form to use inside higher-order-function lambdas: project
    ``transform(grams, g -> h64(g))`` into its own column first so the
    digest runs ONCE per element, then test the int64s here with k
    digest-free arithmetic mixes.
    """
    base = F.col(base) if isinstance(base, str) else base
    bm = F.col(bitmap) if isinstance(bitmap, str) else bitmap
    cond = F.lit(True)
    for pos in _positions(base):
        bit = (pos % 64).cast("int")
        # pos < m_bits <= 2^53, so the double division is exact
        word = ((pos - (pos % 64)) / 64).cast("int")
        cond = cond & (
            F.element_at(bm, word + 1).bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("long"), bit)
            )
            != 0
        )
    return cond
