"""Expected answers, computed by DuckDB (or plain Python) from the
generated inputs, never by the engine under test. Everything here runs
outside the timed region."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.plans.constants import JACCARD_THRESHOLD, N_PERM, SHINGLE_K
from hive_hdfs_practise_spark.plans.minhash_sql import minhash_cand_ctes
from hive_hdfs_practise_spark.similarity.knn import kmeans_unrolled_cte

# Inserted orders carry the wall clock as create_time. The oracle
# stores this placeholder instead; it sorts after every generated
# timestamp (2015-2019) and matches the same LIKE patterns the op
# generator uses, so ordering and filtering agree with the engine.
INSERTED_TS = "9999-12-31 23:59:59"
FLOAT_TOL = 1e-6


def _close(a, b, tol: float = FLOAT_TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol


# ------------------------------------------------------------- serve


class ServeOracle:
    """DuckDB replica of the three serve tables; replays inserts in op
    order so reads see exactly the rows the engine should."""

    def __init__(self, tables: dict[str, list[tuple]], vec_ids: np.ndarray, vecs: np.ndarray,
                 nlist: int, iters: int):
        self.db = duckdb.connect()
        for name, rows in tables.items():
            cols = list(zip(*rows))
            self.db.register(f"{name}_src", pa.table({f"c{i}": list(c) for i, c in enumerate(cols)}))
        self.db.execute("CREATE TABLE movie AS SELECT CAST(c0 AS INT) movie_id, c1 AS name, c2 AS price, "
                        "c3 AS ranking, c4 AS information FROM movie_src")
        self.db.execute("CREATE TABLE review AS SELECT CAST(c0 AS INT) review_id, CAST(c1 AS INT) movie_id, "
                        "c2 AS ranking, c3 AS content FROM review_src")
        self.db.execute("CREATE TABLE order_info AS SELECT CAST(c0 AS INT) order_id, CAST(c1 AS INT) movie_id, "
                        "c2 AS movie_name, CAST(c3 AS INT) movie_num, c4 AS price_sum, c5 AS create_time "
                        "FROM order_info_src")
        self.base_max_order = max(r[0] for r in tables["order_info"])
        self.vec_ids, self.vecs = vec_ids, vecs.astype(np.float64)
        self.dim = vecs.shape[1]
        emb = pa.table({"vec_id": vec_ids, "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
        self.db.register("embeddings", emb)
        cte = kmeans_unrolled_cte(nlist, iters, self.dim)
        self.centroids = sorted(
            (int(c), np.array(v, dtype=np.float64))
            for c, v in self.db.execute(f"{cte} SELECT cid, c FROM c{iters}").fetchall()
        )
        assign = dict(self.db.execute(f"{cte} SELECT vec_id, cid FROM af").fetchall())
        self.cluster = np.array([assign[int(i)] for i in vec_ids])

    def expect(self, kind: str, args: dict):
        q = self.db.execute
        if kind == "movie_list":
            return q(
                "SELECT movie_id, name, price, ranking, information FROM movie "
                "WHERE name LIKE ? ORDER BY movie_id LIMIT ? OFFSET ?",
                [f"%{args['search_key']}%", args["limitation"], args["start_from"]],
            ).fetchall()
        if kind == "movie":
            m = q("SELECT movie_id, name FROM movie WHERE movie_id = ?", [args["movie_id"]]).fetchall()
            if not m:
                return None
            revs = [r[0] for r in q("SELECT review_id FROM review WHERE movie_id = ? ORDER BY review_id", [args["movie_id"]]).fetchall()]
            return (m[0][0], m[0][1], revs)
        if kind == "order_list":
            return q(
                "SELECT order_id, movie_id, movie_name, movie_num, price_sum, create_time FROM order_info "
                "WHERE create_time LIKE ? ORDER BY create_time DESC, order_id DESC LIMIT ? OFFSET ?",
                [args["time_limitation"], args["limitation"], args["start_from"]],
            ).fetchall()
        if kind == "recommend":
            return q(
                "SELECT movie_id, ranking FROM movie WHERE ranking IS NOT NULL "
                "ORDER BY ranking DESC, movie_id LIMIT ? OFFSET ?",
                [args["limitation"], args["start_from"]],
            ).fetchall()
        if kind == "monthly_sales":
            return sorted(q(
                "SELECT CAST(substr(create_time, 1, 4) AS INT) y, CAST(substr(create_time, 6, 2) AS INT) m, "
                "round(sum(price_sum), 1) FROM order_info GROUP BY 1, 2"
            ).fetchall())
        if kind == "yearly_sales":
            return sorted(q(
                "SELECT CAST(substr(create_time, 1, 4) AS INT) y, round(sum(price_sum), 1) "
                "FROM order_info GROUP BY 1"
            ).fetchall())
        if kind == "insert_order":
            oid = q("SELECT max(order_id) + 1 FROM order_info").fetchone()[0]
            q(
                "INSERT INTO order_info VALUES (?, ?, ?, ?, ?, ?)",
                [oid, args["movie_id"], args["movie_name"], args["movie_num"],
                 round(float(args["price_sum"]), 1), INSERTED_TS],
            )
            return {"success": True}
        if kind == "knn_probe":
            return self._knn(args["query_vec_id"])
        raise ValueError(kind)

    def _knn(self, qid: int, top_k: int = 10, nprobe: int = 2):
        qi = int(np.searchsorted(self.vec_ids, qid))
        qv = self.vecs[qi]
        order = sorted((float(((qv - c) ** 2).sum()), cid) for cid, c in self.centroids)
        probe = {cid for _, cid in order[:nprobe]}
        mask = np.isin(self.cluster, list(probe)) & (self.vec_ids != qid)
        cand = self.vecs[mask]
        cos = cand @ qv / (np.linalg.norm(cand, axis=1) * np.linalg.norm(qv))
        ranked = sorted(zip((-np.round(cos, 6)).tolist(), self.vec_ids[mask].tolist()))
        return [(vid, -c) for c, vid in ranked[:top_k]]

    def check(self, kind: str, args: dict, got, expected, run_start: str) -> bool:
        if kind == "movie_list":
            return len(got) == len(expected) and all(
                g["movie_id"] == e[0] and g["name"] == e[1] and _close(g.get("price"), e[2])
                and _close(g.get("ranking"), e[3]) and g.get("information") == e[4]
                for g, e in zip(got, expected)
            )
        if kind == "movie":
            if expected is None or got is None:
                return got is None and expected is None
            info = got.get("information_parsed") or {}
            return (
                got["movie_id"] == expected[0] and got["name"] == expected[1]
                and [r["review_id"] for r in got["reviews"]] == expected[2]
                and info.get("title") is not None
            )
        if kind == "order_list":
            if len(got) != len(expected):
                return False
            for g, e in zip(got, expected):
                ts = g["create_time"]
                if g["order_id"] > self.base_max_order:
                    if ts < run_start:
                        return False
                    ts = INSERTED_TS
                row = (g["order_id"], g["movie_id"], g["movie_name"], g["movie_num"], g["price_sum"], ts)
                if row[:4] != e[:4] or not _close(row[4], e[4]) or row[5] != e[5]:
                    return False
            return True
        if kind == "recommend":
            return [(g["movie_id"], g["ranking"]) for g in got] == expected
        if kind in ("monthly_sales", "yearly_sales"):
            keys = ("year", "month") if kind == "monthly_sales" else ("year",)
            merged: dict[tuple, float] = {}
            for g in got:
                k = tuple(g[x] for x in keys)
                if g["year"] > 2019:  # wall-clock inserts: one bucket
                    k = (9999, 12)[: len(keys)]
                merged[k] = merged.get(k, 0.0) + g["total_sales"]
            exp = {tuple(e[:-1]): e[-1] for e in expected}
            return merged.keys() == exp.keys() and all(_close(merged[k], exp[k], 0.051) for k in exp)
        if kind == "insert_order":
            return got == expected
        if kind == "knn_probe":
            return _knn_equal([(g["vec_id"], g["cosine"]) for g in got], expected)
        raise ValueError(kind)


def _knn_equal(got: list, expected: list, tol: float = 2e-6) -> bool:
    """Top-k lists agree: same cosines position by position, and the
    same ids except where equal cosines make the cut ambiguous."""
    if len(got) != len(expected):
        return False
    if not all(abs(g[1] - e[1]) <= tol for g, e in zip(got, expected)):
        return False
    if not expected:
        return True
    kth = expected[-1][1]
    sure_g = {g[0] for g in got if g[1] > kth + tol}
    sure_e = {e[0] for e in expected if e[1] > kth + tol}
    return sure_g == sure_e


# ------------------------------------------------------------ text


def shingles(text: str) -> set[str]:
    return {text[i : i + SHINGLE_K] for i in range(max(len(text) - SHINGLE_K + 1, 0))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return round(len(sa & sb) / union, 6) if union else 0.0


def _docs_table(docs: list[dict]) -> pa.Table:
    return pa.table({"doc_id": [d["doc_id"] for d in docs], "text": [d["text"] for d in docs]})


def minhash_lsh_pairs(docs: list[dict]) -> set[tuple[int, int]]:
    """Verified near-dup pairs of ``dedup_minhash_lsh`` (the batch twin
    of the streaming screen), from its registered DuckDB oracle."""
    db = duckdb.connect()
    db.register("documents", _docs_table(docs))
    rows = db.execute(plans.ORACLES["dedup_minhash_lsh"]).fetchall()
    return {(int(a), int(b)) for a, b, _ in rows}


class ProbeOracle:
    """Expected ``probe_minhash_index`` output for a batch against the
    live corpus — what a from-scratch index of exactly the live docs
    answers. Signatures and band keys of every doc come once from the
    md5-family SQL restatement; each batch is then a join."""

    def __init__(self, docs: list[dict]):
        self.text = {d["doc_id"]: d["text"] for d in docs}
        self.db = duckdb.connect()
        self.db.register("u_docs", _docs_table(docs))
        chain = minhash_cand_ctes("u_docs", downsample=4, lang=False, prefix="u_", emit_cand=False)
        self.db.execute(f"CREATE TABLE sigs AS WITH {chain} SELECT * FROM u_sigs")
        self.db.execute("CREATE TABLE bands AS SELECT doc_id, band, band_key FROM ("
                        f"WITH {chain} SELECT * FROM u_bands)")
        terms = [f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM)]
        self.agree = " + ".join("(" + " + ".join(terms[g : g + 8]) + ")" for g in range(0, N_PERM, 8))
        self.min_matches = math.ceil((JACCARD_THRESHOLD - 0.15) * N_PERM)

    def expect(self, batch: list[int], live: list[int]) -> set[tuple[int, int, float]]:
        self.db.register("batch_ids", pa.table({"doc_id": batch}))
        self.db.register("live_ids", pa.table({"doc_id": live}))
        cand = self.db.execute(
            f"""SELECT DISTINCT d.doc_id, c.doc_id
            FROM bands d JOIN bands c ON d.band = c.band AND d.band_key = c.band_key
            JOIN sigs sa ON sa.doc_id = d.doc_id JOIN sigs sb ON sb.doc_id = c.doc_id
            WHERE d.doc_id IN (SELECT doc_id FROM batch_ids)
              AND c.doc_id IN (SELECT doc_id FROM live_ids)
              AND {self.agree} >= {self.min_matches}"""
        ).fetchall()
        out = set()
        for a, b in cand:
            j = jaccard(self.text[a], self.text[b])
            if j >= JACCARD_THRESHOLD:
                out.add((int(a), int(b), j))
        return out
