"""Deterministic Bloom filter as a semi-join prefilter.

The 100 TB pattern: before shuffling a fact table into a semi join,
build a tiny Bloom filter over the (already-filtered) dimension
keys, broadcast it, and drop fact rows that cannot match — the
shuffle then carries only plausible rows. Spark's AQE has a runtime
version (`spark.sql.optimizer.runtime.bloomFilter.enabled`); this
explicit operator makes the pattern available to any plan (and to
engines/settings without it), with a bit family derived from md5
nibbles so the SAME filter is constructible in SQL on any engine.

Layout: m bits in m/64 longs; k probe positions per key, position
i = (md5 hex slice i) mod m. False positives only (never drops a
real match — the exact join downstream stays correct by
construction); default m=4096, k=4 gives fpp ≈ (1-e^{-kn/m})^k ≈
0.2% at n=100 keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hexdigest import hex_int


def _shl1(nbits: Column) -> Column:
    # shiftleft's Python signature wants a literal int for numBits;
    # call_function passes the Column through to the SQL function
    return F.call_function("shiftleft", F.lit(1).cast("bigint"), nbits)

M_BITS = 4096
K_HASHES = 4
_WORDS = M_BITS // 64


def _positions(key: Column) -> list[Column]:
    """K_HASHES deterministic bit positions from md5 of the key's
    string form: position i = int(hex[8i:8i+8], 16) mod M_BITS."""
    h = F.md5(key.cast("string"))
    return [
        F.pmod(hex_int(h, 8 * i + 1), F.lit(M_BITS))
        for i in range(K_HASHES)
    ]


def build_bloom(keys: DataFrame, key_col: str) -> DataFrame:
    """1-row DataFrame (bloom: array<bigint>[_WORDS]) — the OR of all
    keys' bit positions, built distributed (explode positions →
    bit_or per word) and assembled dense so the broadcast is a fixed
    m/8 bytes regardless of key count.

    NULL keys are dropped up front: md5(NULL) propagates to a NULL
    word index (a runtime error in map_from_entries), and a NULL key
    can never match the downstream semi join anyway."""
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("p")
    words = (
        keys.filter(F.col(key_col).isNotNull())
        .select(pos)
        .select((F.col("p") / 64).cast("int").alias("w"),
                _shl1((F.col("p") % 64).cast("int")).alias("b"))
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    collected = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("w", "bits")))
        ).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_WORDS - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0).cast("bigint")),
    )
    return collected.select(dense.alias("bloom"))


def might_contain(bloom_col: Column, key: Column) -> Column:
    """True iff every probe bit of ``key`` is set — no false
    negatives."""
    cond = None
    for p in _positions(key):
        word = F.element_at(bloom_col, (p / 64).cast("int") + 1)
        bit = word.bitwiseAND(_shl1((p % 64).cast("int")))
        c = bit != 0
        cond = c if cond is None else cond & c
    return cond


def bloom_semi_join(
    fact: DataFrame, dim_keys: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Exact left-semi join accelerated by a broadcast Bloom
    prefilter: fact rows failing the filter never reach the join
    shuffle; survivors are verified by the real semi join, so false
    positives cost only wasted shuffle, never wrong results.

    Only the bloom itself carries a broadcast hint — it is a fixed
    m/8 bytes regardless of key count, so it broadcasts at ANY
    scale. The verification semi join is deliberately unhinted:
    when dim_keys fits the threshold Catalyst/AQE broadcasts it
    anyway, and when it outgrows broadcast (the exact regime where
    a Bloom prefilter earns its keep) the verify step becomes a
    shuffle semi join over the already-pruned fact."""
    bloom = build_bloom(dim_keys, dim_key)
    pruned = fact.join(F.broadcast(bloom)).filter(
        might_contain(F.col("bloom"), F.col(fact_key))
    ).drop("bloom")
    return pruned.join(
        dim_keys, pruned[fact_key] == dim_keys[dim_key], "left_semi"
    )
