"""The integer vector quantizer behind every PQ kNN query and the
SemDeDup front end, and its Arrow-vectorized passes.

One owner per stage; the builders only configure them:

- ``train`` — THE Lloyd trainer: seed codebooks from ``seed_rows``
  (the k lowest vec_ids, quantized), then ``iters`` rounds of
  ``pq_update_pass`` -> per-(subspace, cid, component) sums ->
  collect -> truncating centroid update. ``coarse`` trains on
  coarse-quantizer residuals (IVFPQ), ``rot`` on rotated vectors
  (OPQ); ``m=1`` is a plain full-dimension VQ (IVFPQ's coarse lists,
  SemDeDup's cells).
- ``query_row`` + ``query_lut`` — the quantized query vector and its
  per-subspace distance table; IVFPQ applies the same ``query_lut``
  to the query's residual in each probed list.
- ``pq_score_pass`` — final encode + ADC sum in one scan.
- ``exact_rerank`` — the second stage of the two-stage top-k: the
  ADC shortlist re-ranked by exact int64 L2 to the query.

Scale shape: the declarative Lloyd assignment (component rows joined
to broadcast codebook components, two aggregates per round) shuffled
O(n * d * K) rows per round: measured 5.4 / 31.4 / 125.9 s at
1x/10x/40x for knn_pq_adc with the three assignment rounds dominant.
Each pass here is a single ``mapInPandas`` scan emitting
per-partition per-centroid component sums (<= M * K * SUBDIM rows per
partition) — the same treeAggregate shape as
``similarity/comoment.py``, with the codebook carried in the closure
(driver-state, like IVF's centroid table).

Exactness contract (what lets the SQL oracles stay unchanged):
components quantize HALF_UP to 1e6-scaled int64; distances are exact
int64 (expansion form, every term <= 8 * (2e6)^2); ``argmin`` takes
the FIRST minimum, which with centroid rows sorted by cid is exactly
the engines' ``min(struct(dist, cid))`` tie rule; centroid updates
divide with TRUNCATION toward zero (Spark ``div`` and DuckDB ``//``
both truncate; Python ``//`` floors and must NOT be used on the
possibly-negative sums); a centroid with no members drops out of the
next round, as in the oracles' ``c{k}`` CTEs."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import QUANT_SCALE, l2sq_sql


def quantize_rows(vectors) -> "object":
    """HALF_UP 1e6 quantization of a sequence of float vectors (a
    list of Row embeddings or an Arrow batch's column) to int64."""
    import numpy as np

    X = np.array(list(vectors), dtype=np.float64) * QUANT_SCALE
    return np.where(X >= 0, np.floor(X + 0.5), np.ceil(X - 0.5)).astype(
        np.int64
    )


def trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark ``div`` /
    DuckDB ``//`` semantics (Python ``//`` floors)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _assign(Xs, C):
    """(batch, k) exact int64 squared distances -> first-argmin
    codes. C rows MUST be sorted by cid ascending."""
    xn = (Xs * Xs).sum(axis=1)
    cn = (C * C).sum(axis=1)
    D = xn[:, None] - 2 * (Xs @ C.T) + cn[None, :]
    return D.argmin(axis=1), D


def _residualize(X, coarse):
    """Subtract each row's nearest coarse centroid (IVFPQ residual
    encoding). ``coarse``: (cids, C) over the FULL dimension; exact
    int64 (|x - c| <= 4e6, squared sums <= 64 * 1.6e13)."""
    cids, C = coarse
    a, _ = _assign(X, C)
    return X - C[a], a


def _encode_input(pdf: pd.DataFrame, coarse, rot):
    """A batch's vectors as the codebooks see them: quantized, then
    rotated (OPQ), then residualized (IVFPQ; also returns the coarse
    code, else None)."""
    X = quantize_rows(pdf["embedding"])
    if rot is not None:
        X = X @ rot.T
    if coarse is None:
        return X, None
    return _residualize(X, coarse)


def pq_update_pass(
    emb: DataFrame, cents: dict, coarse: tuple | None = None, rot=None
) -> DataFrame:
    """One Lloyd round: per-partition member-component sums + counts
    per (subspace, cid), clusters with members only. ``cents``:
    {s: (cids int64[k], C int64[k, sd])} with cids ascending; the
    subspace count and width are ``len(cents)`` and ``C.shape[1]``.
    With ``coarse``, the subspace codebooks train on coarse-quantizer
    RESIDUALS (IVFPQ). With ``rot`` (a d x d +-1 integer matrix), rows
    rotate X @ rot.T right after quantization (OPQ) — exact int64:
    |x| <= 2e6 per component, d=64 signed terms, |y| <= 1.28e8."""
    sd = cents[0][1].shape[1]

    def f(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sums = {s: np.zeros_like(C) for s, (_, C) in cents.items()}
        cnts = {s: np.zeros(len(C), dtype=np.int64) for s, (_, C) in cents.items()}
        for pdf in batches:
            if not len(pdf):
                continue
            X, _ = _encode_input(pdf, coarse, rot)
            for s, (_, C) in cents.items():
                Xs = X[:, s * sd : (s + 1) * sd]
                a, _ = _assign(Xs, C)
                np.add.at(sums[s], a, Xs)
                cnts[s] += np.bincount(a, minlength=len(C))
        cols: dict = {"s": [], "cid": [], "i": [], "ssum": [], "cnt": []}
        for s, (cids, _) in cents.items():
            nz = np.flatnonzero(cnts[s])
            cols["s"].append(np.full(len(nz) * sd, s))
            cols["cid"].append(np.repeat(cids[nz], sd))
            cols["i"].append(np.tile(np.arange(1, sd + 1), len(nz)))
            cols["ssum"].append(sums[s][nz].ravel())
            cols["cnt"].append(np.repeat(cnts[s][nz], sd))
        if not sum(len(c) for c in cols["s"]):
            return
        yield pd.DataFrame(
            {
                k: np.concatenate(v).astype(
                    "int64" if k in ("ssum", "cnt") else "int32"
                )
                for k, v in cols.items()
            }
        )

    return emb.select("embedding").mapInPandas(
        f, "s int, cid int, i int, ssum long, cnt long"
    )


def seed_rows(e: DataFrame, k: int) -> "object":
    """The quantized embeddings of the k lowest vec_ids of ``e`` —
    every codebook's seed, as in the oracles' ``seed`` CTEs. An empty
    corpus seeds an empty (0 x 0) codebook, and every scan over it
    emits nothing."""
    import numpy as np

    rows = e.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    if not rows:
        return np.zeros((0, 0), dtype=np.int64)
    return quantize_rows([r.embedding for r in rows])


def train(
    e: DataFrame,
    X0,
    m: int,
    iters: int,
    coarse: tuple | None = None,
    rot=None,
) -> dict:
    """The one integer Lloyd trainer: codebooks seeded from ``X0``
    (``seed_rows``; cids 0..len-1, rotated with ``rot`` and
    residualized against ``coarse`` like every scanned row), split
    into ``m`` subspaces, then ``iters`` rounds of ``pq_update_pass``
    over ``e``. Returns {s: (cids, C)} with cids ascending; a centroid
    that lost all members is absent."""
    import numpy as np

    if rot is not None:
        X0 = X0 @ rot.T
    if coarse is not None:
        X0, _ = _residualize(X0, coarse)
    sd = X0.shape[1] // m
    cids0 = np.arange(len(X0), dtype=np.int64)
    cents = {s: (cids0, X0[:, s * sd : (s + 1) * sd].copy()) for s in range(m)}
    for _ in range(iters):
        agg = (
            pq_update_pass(e, cents, coarse, rot)
            .groupBy("s", "cid", "i")
            .agg(F.sum("ssum").alias("ts"), F.sum("cnt").alias("tc"))
            .collect()
        )
        comps: dict = {s: {} for s in range(m)}
        for r in agg:
            # trunc_div, NOT Python // — Spark div and DuckDB //
            # truncate toward zero on the possibly-negative sums
            comps[r.s].setdefault(r.cid, [0] * sd)[r.i - 1] = trunc_div(
                int(r.ts), int(r.tc)
            )
        cents = {
            s: (
                np.array(sorted(c), dtype=np.int64),
                np.array([c[cid] for cid in sorted(c)], dtype=np.int64).reshape(
                    len(c), sd
                ),
            )
            for s, c in comps.items()
        }
    return cents


def query_row(e: DataFrame, vec_id: int, sf_dir: str, rot=None) -> "object":
    """The quantized (and, with ``rot``, rotated) embedding of
    ``vec_id`` — with a clear error when it is missing from the
    corpus."""
    rows = e.filter(F.col("vec_id") == vec_id).select("embedding").collect()
    if not rows:
        raise ValueError(
            f"query vector vec_id={vec_id} not found in the "
            f"embeddings table at {sf_dir!r}"
        )
    q = quantize_rows([rows[0].embedding])
    return (q if rot is None else q @ rot.T)[0]


def query_lut(cents: dict, q) -> dict:
    """{s: int64[k]}: exact squared distance from the query's
    subvector s to every centroid of subspace s, in cid order."""
    sd = cents[0][1].shape[1]
    return {
        s: ((C - q[s * sd : (s + 1) * sd]) ** 2).sum(axis=1)
        for s, (_, C) in cents.items()
    }


def pq_score_pass(
    emb: DataFrame,
    cents: dict,
    lut: dict,
    query_vec_id: int,
    coarse: tuple | None = None,
    rot=None,
) -> DataFrame:
    """Final encode + ADC in one scan: per vector, the exact integer
    sum over subspaces of the query-to-centroid distance of its
    code. Plain PQ: ``lut`` = ``query_lut(cents, q)``. IVFPQ
    (``coarse``): ``lut`` = {list: query_lut of the query's residual
    in that list} over the probed lists; vectors encode as residuals
    and only rows in a probed list survive (the inline form of the
    bucket-pruned index scan)."""
    sd = cents[0][1].shape[1]

    def f(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            X, ca = _encode_input(pdf, coarse, rot)
            vids = pdf["vec_id"].to_numpy()
            if coarse is not None:
                clist = coarse[0][ca]
                probed = np.isin(clist, list(lut))
                X, vids, clist = X[probed], vids[probed], clist[probed]
                if not len(vids):
                    continue
            adc = np.zeros(len(vids), dtype=np.int64)
            for s, (_, C) in cents.items():
                a, _ = _assign(X[:, s * sd : (s + 1) * sd], C)
                if coarse is None:
                    adc += lut[s][a]
                    continue
                for L, list_lut in lut.items():
                    mask = clist == L
                    adc[mask] += list_lut[s][a[mask]]
            keep = vids != query_vec_id
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(vids[keep], dtype="int64"),
                    "adc_fp": pd.Series(adc[keep], dtype="int64"),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        f, "vec_id long, adc_fp long"
    )


def exact_rerank(
    emb: DataFrame, scored: DataFrame, q, n: int, top_k: int, rot=None
) -> DataFrame:
    """Second stage of the two-stage top-k: the ``n`` best ADC
    candidates of ``scored`` (vec_id, adc_fp) re-ranked by exact int64
    squared L2 to the quantized query ``q`` -> top_k rows (vec_id,
    l2sq_fp, l2sq, adc_fp) ordered by (l2sq_fp, vec_id). ``emb``: the
    raw embeddings table; only the shortlist's rows are exploded and
    quantized (JVM-side), and ``q`` enters the plan as one array
    literal. With ``rot`` the shortlist rotates through a broadcast
    d*d sign table (metadata scale, never the corpus) and ``q`` must
    be rotated too; the display ``l2sq`` then also divides by d
    (SᵀS = d·I)."""
    shortlist = (
        scored.orderBy("adc_fp", "vec_id")
        .limit(n)
        # referenced twice below (semi-join + final join): cut the
        # lineage or the whole ADC scan executes twice
        .localCheckpoint(eager=True)
    )
    x = (
        emb.select("vec_id", F.posexplode("embedding").alias("j", "xf"))
        .select(
            "vec_id",
            "j",
            F.round(F.col("xf").cast("double") * QUANT_SCALE)
            .cast("bigint")
            .alias("x"),
        )
        .join(F.broadcast(shortlist.select("vec_id")), "vec_id")
    )
    l2sq = F.col("l2sq_fp").cast("double") / float(QUANT_SCALE) / QUANT_SCALE
    if rot is not None:
        d = len(rot)
        signs = emb.sparkSession.createDataFrame(
            [(i, j, int(rot[i, j])) for i in range(d) for j in range(d)],
            "i int, j int, sgn long",
        )
        x = (
            x.join(F.broadcast(signs), "j")
            .groupBy("vec_id", F.col("i").alias("j"))
            .agg(F.sum(F.col("sgn") * F.col("x")).cast("bigint").alias("x"))
        )
        l2sq = l2sq / d
    diff = F.col("x") - F.lit(q)[F.col("j")]
    exact = x.groupBy("vec_id").agg(
        F.sum(diff * diff).cast("bigint").alias("l2sq_fp")
    )
    return (
        exact.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", "l2sq_fp", F.round(l2sq, 6).alias("l2sq"), "adc_fp")
        .orderBy("l2sq_fp", "vec_id")
        .limit(top_k)
    )


def opq_rotation(d: int) -> "object":
    """Deterministic structured rotation S = H_d · D: the Sylvester
    Hadamard (h_ij = (-1)^popcount(i & j), 0-indexed) times an
    md5-seeded ±1 sign diagonal (d_j = -1 iff the first hex nibble of
    md5("opq:<j>") is odd — the house portable hash family). Entries
    are ±1 and SᵀS = d·I, so rotating EXACT integer vectors preserves
    squared distances exactly, scaled by d: ‖S(a-b)‖² = d·‖a-b‖².
    This is the FJLT / FAISS-style structured random rotation that
    decorrelates subspaces for PQ without training (OPQ's cheap,
    deterministic cousin — Ge et al. CVPR'13 train R; HD sign-flip
    rotations are the standard drop-in at scale)."""
    import hashlib

    import numpy as np

    assert d & (d - 1) == 0, "Sylvester Hadamard needs a power of 2"
    H = np.array(
        [
            [-1 if bin(i & j).count("1") % 2 else 1 for j in range(d)]
            for i in range(d)
        ],
        dtype=np.int64,
    )
    sign = np.array(
        [
            -1
            if int(hashlib.md5(f"opq:{j}".encode()).hexdigest()[0], 16) % 2
            else 1
            for j in range(d)
        ],
        dtype=np.int64,
    )
    return H * sign[None, :]


def vq_assign_pass(emb: DataFrame, cents: tuple) -> DataFrame:
    """Plain vector-quantizer assignment in ONE Arrow scan:
    (vec_id, cid, xi) where cid is the exact-integer-distance argmin
    (first minimum == lowest cid, cids ascending) and xi is the row's
    1e6-quantized int64 component vector (carried so consumers — e.g.
    the within-cluster pair join — never re-read or re-quantize the
    source). ``cents``: (cids int64[k], C int64[k, dim]). The GEMM
    shape: one (batch × dim) @ (dim × k) per Arrow batch — this is
    what lets nlist GROW with the corpus without the interpreted
    per-(row, centroid) fold a broadcast-join argmin would pay."""

    def f(batches):
        import numpy as np

        cids, C = cents
        for pdf in batches:
            if not len(pdf):
                continue
            X = quantize_rows(pdf["embedding"])
            a, _ = _assign(X, C)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids[a].astype("int32"),
                    "xi": list(X),
                    # per-ROW squared norm here, never per pair (and
                    # never as a downstream interpreted fold that
                    # CollapseProject would inline per reference)
                    "nrm": (X * X).sum(axis=1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        f, "vec_id long, cid int, xi array<long>, nrm long"
    )


def vq_kmeans_unrolled_cte(
    iters: int,
    nlist_sql: str,
    dim: int = 64,
    shard_cap: int | None = None,
    src: str = "e",
    col: str = "xi",
    key: str | None = None,
    prefix: str = "",
) -> str:
    """The one SQL Lloyd unroll of the INTEGER-domain vector quantizer
    (``train``), as a CTE list without WITH: exact int squared
    distances, first-min == lowest-cid ties, ``//`` truncating
    centroid updates — the ``pq_update_pass``/``vq_assign_pass``
    semantics. Runs over ``src(vec_id, [key,] col, ...)``, quantized
    rows such as ``vectors.quantized_sql()``'s ``e(vec_id, xi)``.

    ``nlist_sql``: a SQL scalar expression for the seed count (the
    lowest vec_ids), so nlist can DERIVE FROM THE DATA (e.g.
    ``least(greatest(8, (SELECT count(*) FROM e) // 640), 4096)``)
    and the same static unroll serves every corpus size. ``key``: a
    subspace column of ``src``; each key value trains its own
    codebook (PQ's subvectors). Produces ``{prefix}c{iters}([key,]
    cid, c)`` (the centroids) and ``{prefix}af`` — ``src``'s columns
    plus ``cid`` and the squared norm ``nrm``, one row per (vec_id,
    key), MATERIALIZED. With ``shard_cap`` set, af also carries
    ``shard`` — the in-cell md5-rank sub-split ((rank-1) // cap) that
    re-pins per-block pair mass once a capped nlist lets cells grow
    (plans/dedup.py's SEM_SHARD_CAP design note)."""
    by = "" if key is None else f"PARTITION BY {key} "
    keyc = "" if key is None else f"{key}, "
    row = "r.vec_id" if key is None else f"r.vec_id, r.{key}"
    match = "" if key is None else f" WHERE r.{key} = c.{key}"

    def argmin(cents: str) -> str:
        return f"""SELECT r.*, c.cid,
                   row_number() OVER (PARTITION BY {row}
                                      ORDER BY {l2sq_sql(f'r.{col}', 'c.c', dim)}, c.cid)
                       AS rn
            FROM {src} AS r, {cents} AS c{match}"""

    parts = [
        f"""{prefix}seed AS (
        SELECT {keyc}row_number() OVER ({by}ORDER BY vec_id) - 1 AS cid, {col} AS c
        FROM {src} QUALIFY row_number() OVER ({by}ORDER BY vec_id) <= ({nlist_sql})
    )"""
    ]
    prev = f"{prefix}seed"
    for k in range(1, iters + 1):
        parts.append(
            f"{prefix}a{k} AS MATERIALIZED (\n            {argmin(prev)}\n    )"
        )
        parts.append(
            f"""{prefix}c{k} AS MATERIALIZED (
        SELECT {keyc}cid, list(m ORDER BY i) AS c FROM (
            SELECT {keyc}cid, t.i,
                   CAST(sum(a.{col}[t.i]) // count(*) AS BIGINT) AS m
            FROM {prefix}a{k} AS a, generate_series(1, {dim}) AS t(i)
            WHERE a.rn = 1
            GROUP BY {keyc}cid, t.i
        ) GROUP BY {keyc}cid
    )"""
        )
        prev = f"{prefix}c{k}"
    shard_col = (
        f""",
               (row_number() OVER (PARTITION BY cid
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1)
                   // {shard_cap} AS shard"""
        if shard_cap is not None
        else ""
    )
    parts.append(
        f"""{prefix}af AS MATERIALIZED (
        SELECT * EXCLUDE (rn),
               list_sum(list_transform({col}, x -> x * x)) AS nrm{shard_col}
        FROM (
            {argmin(prev)}
        ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)
