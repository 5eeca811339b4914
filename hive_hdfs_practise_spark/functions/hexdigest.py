"""Integers from md5/sha256 hex digests, identical in Spark and DuckDB.

Every piece of cross-engine randomness in the package (hyperplanes,
KMV, Bloom and count-min positions, split buckets, MinHash base
hashes, CDC cut points) is a slice of hex digits of an md5 or sha256
digest read as an unsigned integer. md5/sha256 hex is bit-identical
in both engines; the native ``hash()`` functions are not. This
module is the one place a digest becomes an integer:

- ``hex_int`` is the Spark Column form, ``conv(substring(...), 16,
  10)`` cast to BIGINT;
- ``hex_int_sql`` is the SQL-text form, valid in Spark SQL and DuckDB
  alike (DuckDB has no ``conv``): a big-endian sum of one-digit
  ``instr`` lookups, each cast to BIGINT before it is weighted.

Both read ``n`` hex digits starting at 1-based position ``start``;
``n ≤ 15`` keeps the value inside signed-64 range.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def hex_int(digest: Column, start: int = 1, n: int = 8) -> Column:
    """Hex digits ``start .. start+n-1`` of ``digest`` as a BIGINT."""
    return F.conv(F.substring(digest, start, n), 16, 10).cast("bigint")


def hex_int_sql(digest: str, start: int = 1, n: int = 8) -> str:
    """SQL twin of ``hex_int`` over the SQL expression ``digest``."""
    return (
        "("
        + " + ".join(
            f"CAST(instr('{_HEX}', substring({digest}, {start + p}, 1)) - 1 "
            f"AS BIGINT) * {16 ** (n - 1 - p)}"
            for p in range(n)
        )
        + ")"
    )
