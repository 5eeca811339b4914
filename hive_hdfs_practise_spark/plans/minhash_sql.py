"""SQL restatement of the md5-family MinHash-LSH candidate
generator and of the exact shingle-Jaccard pair stanzas,
registration-free (the _minhash_cand_ctes generator used to live in
plans/dedup.py, but dedup.py REGISTERS queries at import time, and
three other modules need this text — the cross-module rule in
plans/constants.py's docstring applies to shared functions exactly as
it does to constants)."""

from __future__ import annotations

from ..dedup import minhash as mh
from ..functions.text import jaccard_sql, shingle_overlap_sql, shingle_set_sql
from .constants import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)


def minhash_cand_ctes(
    src: str,
    downsample: int,
    lang: bool,
    prefix: str = "mh_",
    emit_cand: bool = True,
) -> str:
    """CTE chain restating the md5-family MinHash-LSH candidate
    generator over source relation ``src`` (doc_id[, lang], text):
    distinct shingles → md5-derived base hash (÷``downsample``
    winnowing) → 128 permutation mins → 16 concat_ws band keys →
    distinct a<b pairs sharing any (block, band, key) bucket.
    Bit-exact twin of ``minhash_signature_from_text`` +
    ``lsh_candidate_pairs`` with ``family='md5'`` (see
    ``dedup/minhash.py``: same u32-from-md5 base hash, same
    (a_i·h+b_i) mod P32 family, same decimal-joined band keys).
    Docs with no shingles are absent here but present (sentinel
    signature) in Spark — sentinel buckets contain only empty docs,
    whose pairs die at exact verification (0/0 Jaccard), so the
    verified output is engine-identical.

    ``prefix`` renames the CTEs (two chains can coexist in one
    oracle — the delta-probe query signatures a delta and a corpus
    side independently); ``emit_cand=False`` stops after
    ``{prefix}bands`` so the caller can write its own (possibly
    asymmetric) candidate join."""
    h = mh.md5_shingle_hash_sql("s")
    lang_sel = "lang, " if lang else ""
    lang_grp = ", lang" if lang else ""
    lang_join = "a.lang = b.lang AND " if lang else ""
    mins = ", ".join(f"{mh.perm_min_sql(i)} AS m{i}" for i in range(N_PERM))
    arms = []
    for b in range(N_BANDS):
        cols = ", ".join(f"m{b * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
        arms.append(f"WHEN {b} THEN concat_ws(',', {cols})")
    band_key = "CASE b.band " + " ".join(arms) + " END"
    ds = f"WHERE h % {downsample} = 0" if downsample > 1 else ""
    p = prefix
    chain = f"""
    {p}sh AS (
        SELECT doc_id, {lang_sel}
               unnest({shingle_set_sql("text", SHINGLE_K)}) AS s
        FROM {src}
    ),
    {p}h AS (SELECT doc_id, {lang_sel} {h} AS h FROM {p}sh {ds}),
    {p}sigs AS (
        SELECT doc_id, {lang_sel} {mins} FROM {p}h GROUP BY doc_id{lang_grp}
    ),
    {p}bands AS (
        SELECT doc_id, {lang_sel} b.band, {band_key} AS band_key
        FROM {p}sigs, generate_series(0, {N_BANDS - 1}) AS b(band)
    )"""
    if not emit_cand:
        return chain
    return (
        chain
        + f""",
    {p}cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {p}bands a JOIN {p}bands b
          ON {lang_join}a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )"""
    )


def cand_overlap_ctes(cand: str, src: str = "documents") -> str:
    """``fsh`` + ``scored``: (doc_a, doc_b, ni, nu) shingle overlap
    counts of a (doc_a, doc_b) candidate CTE ``cand`` against the
    texts of ``src`` (the SQL side of ``_candidate_jaccard``)."""
    return f"""fsh AS (
        SELECT doc_id, {shingle_set_sql("text", SHINGLE_K)} AS shingles FROM {src}
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b, {shingle_overlap_sql("a.shingles", "b.shingles")}
        FROM {cand} c
        JOIN fsh a ON a.doc_id = c.doc_a
        JOIN fsh b ON b.doc_id = c.doc_b
    )"""


def lang_overlap_ctes(src: str = "documents") -> str:
    """``sh`` + ``scored``: (doc_a, doc_b, ni, nu) shingle overlap
    counts of every same-lang doc pair of ``src`` — the quadratic
    ground truth of dedup_ngram_jaccard and its siblings."""
    return f"""sh AS (
        SELECT doc_id, lang, {shingle_set_sql("text", SHINGLE_K)} AS shingles FROM {src}
    ),
    scored AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {shingle_overlap_sql("a.shingles", "b.shingles")}
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )"""


def jaccard_pairs_cte() -> str:
    """``pairs``: the (doc_a, doc_b, jaccard) rows of ``scored`` whose
    Jaccard reaches JACCARD_THRESHOLD."""
    j = jaccard_sql("ni", "nu")
    return f"""pairs AS (
        SELECT doc_a, doc_b, {j} AS jaccard
        FROM scored WHERE {j} >= {JACCARD_THRESHOLD}
    )"""


def verified_pairs_ctes(cand: str, src: str = "documents") -> str:
    """``fsh`` + ``scored`` + ``pairs``: exact shingle-Jaccard
    verification of the candidate CTE ``cand`` — the verify stanza of
    every LSH oracle, so the formula cannot drift (the SQL side of
    ``_verify_pairs_full_shingles``)."""
    return f"{cand_overlap_ctes(cand, src)},\n    {jaccard_pairs_cte()}"
