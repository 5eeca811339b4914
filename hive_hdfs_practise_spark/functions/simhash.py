"""Cross-engine SimHash: 32-bit signatures from md5 nibbles.

SimHash needs k hash functions whose output is IDENTICAL in Spark
and the DuckDB oracle. Neither engine's native ``hash()`` matches
the other, so the token hash is derived from md5 hex digits (md5 is
bit-identical everywhere): token_sig = Σ_p nibble_p(md5(t)) << 4p
over the first 8 hex chars → a 32-bit integer per token. Bit j of
the signature is the majority vote of bit j over all token sigs.

The expression generators below emit the same computation in both
SQL dialects (Spark SQL expr / DuckDB SQL) from one source of
truth, so the oracle check is exact. Everything stays inside
higher-order array functions — one md5 per token, then integer
shifts; no UDFs, no explode.
"""

from __future__ import annotations

from .hexdigest import hex_int_sql

BITS = 32


def tokens_expr(dialect: str, text: str = "text") -> str:
    """Whitespace tokens (identical lists in both engines)."""
    if dialect == "spark":
        return f"filter(split(trim({text}), '\\\\s+'), t -> length(t) > 0)"
    return f"regexp_extract_all(trim({text}), '\\S+')"


def token_sig_term(h: str, bits: int = BITS) -> str:
    """Scalar ``bits``-wide signature of one md5-hex expression,
    little-endian: hex digit p weighs 16^p (dialect-neutral).
    bits ≤ 60 keeps the nibble sum inside signed-64 range."""
    return " + ".join(
        f"({hex_int_sql(h, p + 1, 1)} * {1 << (4 * p)})" for p in range(bits // 4)
    )


def token_sigs_expr(dialect: str, tokens: str, bits: int = BITS) -> str:
    """array<bigint>: per-token ``bits``-wide signature from md5
    nibbles."""
    if dialect == "spark":
        return (
            f"transform(transform({tokens}, t -> md5(t)), "
            f"h -> {token_sig_term('h', bits)})"
        )
    return f"[{token_sig_term('md5(t)', bits)} for t in {tokens}]"


def simhash_expr(dialect: str, sigs: str, bits: int = BITS) -> str:
    """BIGINT simhash: per-bit majority vote over token sigs."""
    def counter(j: int) -> str:
        if dialect == "spark":
            return (
                f"aggregate({sigs}, CAST(0 AS BIGINT), "
                f"(acc, v) -> acc + 2 * (shiftright(v, {j}) & 1) - 1)"
            )
        return f"coalesce(list_sum([2 * ((v >> {j}) & 1) - 1 for v in {sigs}]), 0)"

    shift = "shiftleft(CAST(1 AS BIGINT), {j})" if dialect == "spark" else "(CAST(1 AS BIGINT) << {j})"
    terms = [
        f"(CASE WHEN {counter(j)} > 0 THEN {shift.format(j=j)} ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def hamming_expr(dialect: str, a: str, b: str) -> str:
    if dialect == "spark":
        return f"bit_count({a} ^ {b})"
    return f"bit_count(xor({a}, {b}))"
