"""Exact integer co-moment (Gram) matrix via Arrow-batched GEMM.

The declarative way to get sum(x_i * x_j) per dimension pair is a
posexplode self-join — O(n * d^2) ROWS through a shuffle (the
embeddings_covariance_topk plan, kept there as the all-JVM
reference). That shape is fine for a top-k over pairs, but as the
input to a full-matrix consumer (PCA) it dominates end-to-end time:
measured 79.7 s at the 40x corpus for embeddings_pca_power, almost
all in the co-moment stage. The linear-algebra identity
sum_v x x^T = X^T X turns the same computation into one d x d GEMM
per Arrow batch — n * d^2 multiply-adds with no interpreted row
expansion and nothing shuffled but PER-PARTITION d x d partials
(2080 rows each). This is exactly how Spark MLlib's RowMatrix
computes its Gram matrix (treeAggregate of per-partition BLAS
updates).

Exactness: components quantize to 1e6-scaled int64 (HALF_UP like
Spark/DuckDB round, not numpy's half-even); a batch GEMM of
<= 10k rows (the Arrow default) bounds each int64 entry at
10^4 * (2e6)^2 = 4e16 < 2^63; cross-batch accumulation promotes to
Python ints (object ndarray), and the partials leave the worker as
DECIMAL(38,0) — the whole pipeline is exact integer end to end,
bit-equal to the explode-join (pinned in test_similarity).
"""

from __future__ import annotations

from decimal import Decimal
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import QUANT_SCALE


def comoment_upper_exact(emb: DataFrame) -> DataFrame:
    """Upper-triangle (di <= dj, 1-based) exact integer co-moments of
    the 1e6-quantized ``embedding`` column: one row per dimension
    pair, ``sxy`` = sum over vectors of xi_di * xi_dj as
    DECIMAL(38,0)."""

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            y = X * QUANT_SCALE
            # HALF_UP to match Spark round()/DuckDB round(); numpy's
            # own round() is half-to-even
            Xi = np.where(
                y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)
            ).astype(np.int64)
            G = Xi.T @ Xi
            acc = G.astype(object) if acc is None else acc + G
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = [], []
        for i in range(d):
            for j in range(i, d):
                iu.append(i + 1)
                ju.append(j + 1)
        yield pd.DataFrame(
            {
                "di": pd.Series(iu, dtype="int32"),
                "dj": pd.Series(ju, dtype="int32"),
                "sxy": [Decimal(int(acc[i - 1][j - 1])) for i, j in zip(iu, ju)],
            }
        )

    partials = emb.select("embedding").mapInPandas(
        part, "di int, dj int, sxy decimal(38,0)"
    )
    return partials.groupBy("di", "dj").agg(F.sum("sxy").alias("sxy"))
