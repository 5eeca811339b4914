"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, scale): the same seed
gives byte-identical inputs, a different seed gives different ones.
The engine never sees the seed, only the files written here.

Text corpus: documents are bags of words over a small technical
vocabulary sprinkled with English marker words, so most read as
English to the engine's language gates. Near-duplicates are made by
splicing a seeded base document with a few word edits (5-char shingle
Jaccard stays well above the 0.7 threshold), exact duplicates by
copying a base document verbatim. A minority of documents carry
German/Spanish markers or digit runs.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark group query row data slow small filter customer line batch value "
    "merge table join agg part sort window stream hash scan order key fast "
    "big column vector index shard bucket page cache plan stage task node "
    "file block commit log replica tuple schema range split sample"
).split()
EN_MARKERS = ("the", "and", "of", "is", "with", "that", "a")
DE_MARKERS = ("der", "die", "das", "und", "ist", "nicht")
ES_MARKERS = ("el", "la", "los", "las", "es", "una")
LANG_LABELS = ("en", "de", "es", "fr", "zh")

CJK_CHARS = "电影爱情故事城市夜晚星空海洋山河时间记忆梦想青春英雄传奇黄金秘密旅程"
LATIN_TITLES = (
    "Hombre Redemption Journey Night River Memory Dream Empire Garden Winter "
    "Storm Harbor Echo Silence Lantern Voyage"
).split()
GENRES = ("剧情", "爱情", "喜剧", "动作", "科幻", "悬疑", "动画", "纪录片")
COUNTRIES = ("中国大陆", "香港", "美国", "日本", "法国")


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``bench`` is what BENCHMARK.json runs; ``tiny`` is
    the test-suite smoke size. The bench sizes are set by run time, not
    by realism: a run, set-up included, must fit about a minute (see
    README.md, "Sizes and what was left out")."""

    movies: int
    reviews: int
    orders: int
    vectors: int
    dim: int
    corpus_docs: int
    batch_docs: int
    n_batches: int


SCALES = {
    "bench": Scale(
        movies=2000, reviews=20000, orders=40000, vectors=2000, dim=16,
        corpus_docs=100, batch_docs=40, n_batches=12,
    ),
    "tiny": Scale(
        movies=120, reviews=600, orders=500, vectors=200, dim=16,
        corpus_docs=60, batch_docs=20, n_batches=12,
    ),
}


# ---------------------------------------------------------------- text


def _doc_words(rng: random.Random, n_words: int, markers=EN_MARKERS) -> list[str]:
    words = []
    for _ in range(n_words):
        if rng.random() < 0.18:
            words.append(rng.choice(markers))
        else:
            words.append(rng.choice(WORDS))
    return words


def _edit(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(WORDS)
    return out


DUP_FRAC = 0.2


def documents(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents (doc_id, text, lang, source, n_chars) with
    ids ``0..n_docs-1``. About ``DUP_FRAC`` of them are near-duplicates
    (spliced + edited copies of an earlier doc) and a few percent exact
    copies."""
    rng = random.Random(f"docs-{seed}-0")
    docs: list[dict] = []
    bases: list[list[str]] = []
    for i in range(n_docs):
        r = rng.random()
        if bases and r < DUP_FRAC:
            a = rng.choice(bases)
            if r < DUP_FRAC * 0.15:
                words = list(a)  # exact duplicate
            else:
                # splice: a long prefix of one base with the tail of
                # another, then a couple of word edits
                b = rng.choice(bases)
                cut = int(len(a) * rng.uniform(0.85, 0.95))
                words = _edit(rng, a[:cut] + b[len(b) - max(1, len(a) - cut):], rng.randint(1, 2))
        else:
            kind = rng.random()
            n = rng.randint(30, 70)
            if kind < 0.08:
                words = _doc_words(rng, n, DE_MARKERS)
            elif kind < 0.14:
                words = _doc_words(rng, n, ES_MARKERS)
            elif kind < 0.18:
                words = [w + str(rng.randrange(10, 99)) for w in _doc_words(rng, n)]
            else:
                words = _doc_words(rng, n)
            bases.append(words)
        text = " ".join(words)
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANG_LABELS),
                "source": f"src{rng.randrange(10)}",
                "n_chars": len(text),
            }
        )
    return docs


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_docs(path: str, docs: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)


# ------------------------------------------------------------- vectors


def embeddings(seed: int, n: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids, float32 vectors): 12 seeded Gaussian clusters, ids
    ``0..n-1``. Never the zero vector."""
    rs = np.random.default_rng([seed, 0, 7])
    centers = np.random.default_rng([seed, 11]).normal(0, 1, (12, dim))
    which = rs.integers(0, 12, n)
    vecs = (centers[which] + rs.normal(0, 0.35, (n, dim))).astype(np.float32)
    return np.arange(n, dtype=np.int64), vecs


def write_embeddings(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((ids % 10).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------- serve tables


def _cjk(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(CJK_CHARS) for _ in range(rng.randint(lo, hi)))


def serve_tables(seed: int, scale: Scale) -> dict[str, list[tuple]]:
    """movie / review / order_info rows in the FIXTURES.md schemas:
    non-contiguous 7-8 digit movie ids, CJK + Latin names, some NULL
    rankings, a few degenerate information docs, reviews skewed over
    movies, orders spread uniformly over 2015-2019."""
    rng = random.Random(f"serve-{seed}")
    ids = sorted(rng.sample(range(1_000_000, 40_000_000), scale.movies))
    movies = []
    for mid in ids:
        title = _cjk(rng, 2, 5)
        name = title + (" " + rng.choice(LATIN_TITLES) if rng.random() < 0.6 else "")
        price = round(rng.uniform(60, 130), 1)
        ranking = None if rng.random() < 0.1 else round(rng.uniform(0, 10), 1)
        degenerate = rng.random() < 0.03
        info = {
            "_id": "search" if degenerate else str(mid),
            "title": title,
            "aka": [title + " 别名"],
            "casts": [{"id": str(rng.randrange(10**6)), "name": _cjk(rng, 2, 3)}],
            "directors": [{"id": str(rng.randrange(10**6)), "name": _cjk(rng, 2, 3)}],
            "writers": [],
            "countries": [rng.choice(COUNTRIES)],
            "genres": rng.sample(GENRES, rng.randint(1, 3)),
            "languages": ["汉语普通话"],
            "duration": f"{rng.randint(80, 180)}分钟",
            "episodes": "",
            "imdb": f"tt{rng.randrange(10**7):07d}",
            "poster": "http://example.invalid/p.jpg",
            "price": price,
            "pubdate": json.dumps([f"{rng.randint(1950, 2019)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"]),
            "rating": {
                "average": "" if degenerate or ranking is None else str(ranking),
                "rating_people": str(rng.randrange(10**5)),
                "stars": [str(rng.randrange(100)) for _ in range(5)],
            },
            "season_count": "",
            "site": "",
            "summary": _cjk(rng, 20, 60),
            "year": str(rng.randint(1950, 2019)),
        }
        movies.append((mid, name, price, ranking, json.dumps(info, ensure_ascii=False)))
    # skewed review counts: a zipf-ish pick over the movie list
    weights = [1.0 / (1 + i) ** 0.8 for i in range(len(ids))]
    picks = rng.choices(range(len(ids)), weights=weights, k=scale.reviews)
    reviews = [
        (j + 1, ids[p], float(rng.randint(0, 10)), _cjk(rng, 5, 40) + " great movie" * rng.randint(0, 1))
        for j, p in enumerate(picks)
    ]
    orders = []
    for j in range(scale.orders):
        m = movies[rng.randrange(len(movies))]
        num = rng.randint(1, 10)
        ts = (
            f"{rng.randint(2015, 2019)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        )
        orders.append((j + 1, m[0], m[1], num, round(m[2] * num, 1), ts))
    return {"movie": movies, "review": reviews, "order_info": orders}


def write_tsv(path: str, rows: list[tuple]) -> None:
    """Reference wire format: tab-separated, no header, UTF-8, NULL as
    an empty field."""
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")


# --------------------------------------------------------------- ops


SERVE_KINDS = (
    "movie_list", "movie", "order_list", "recommend", "insert_order",
    "monthly_sales", "yearly_sales", "knn_probe",
)


def serve_ops(seed: int, movie_ids: list[int], names: list[str], n_vectors: int, n: int) -> list[tuple]:
    """The seeded request sequence of the ``serve`` closed loop. Every
    request kind weighs the same: the five reference endpoints
    (``insert_order`` among them, so writes are 1 in 8), the two
    dashboard aggregations and the IVF probe. Requests come in shuffled
    blocks that hold each kind once, so any run of whole blocks has the
    same mix whatever the seed; the seed picks the order and the
    arguments."""
    rng = random.Random(f"ops-{seed}")
    ops = []
    while len(ops) < n:
        block = list(SERVE_KINDS)
        rng.shuffle(block)
        for k in block:
            ops.append((k, _serve_args(rng, k, movie_ids, names, n_vectors)))
    return ops[:n]


def _serve_args(rng: random.Random, k: str, movie_ids: list[int], names: list[str], n_vectors: int) -> dict:
    if k == "movie_list":
        key = "" if rng.random() < 0.3 else rng.choice(CJK_CHARS + "".join(LATIN_TITLES[:4]))
        return {"start_from": rng.randrange(0, 40), "limitation": rng.choice((10, 20, 50)), "search_key": key}
    if k == "movie":
        return {"movie_id": rng.choice(movie_ids) if rng.random() < 0.95 else 999}
    if k == "order_list":
        pat = rng.choice(("%", "%-%-%", f"{rng.randint(2015, 2019)}-%", f"{rng.randint(2015, 2019)}-{rng.randint(1, 12):02d}-%"))
        return {"start_from": rng.randrange(0, 30), "limitation": 10, "time_limitation": pat}
    if k == "recommend":
        return {"start_from": rng.randrange(0, 30), "limitation": 15}
    if k == "insert_order":
        i = rng.randrange(len(movie_ids))
        num = rng.randint(1, 10)
        return {"movie_id": movie_ids[i], "movie_name": names[i], "movie_num": num,
                "price_sum": round(rng.uniform(60, 130) * num, 1)}
    if k == "knn_probe":
        return {"query_vec_id": rng.randrange(n_vectors)}
    return {}


def ingest_plan(seed: int, scale: Scale) -> dict:
    """Corpus, batch and delete membership for ``ingest``: ids
    0..corpus-1 are indexed in set-up, batch b holds the next
    ``batch_docs`` ids. The maintenance cycle deletes a seeded handful
    of corpus ids."""
    rng = random.Random(f"ingest-{seed}")
    n = scale.corpus_docs + scale.batch_docs * scale.n_batches
    batches = [
        list(range(scale.corpus_docs + b * scale.batch_docs, scale.corpus_docs + (b + 1) * scale.batch_docs))
        for b in range(scale.n_batches)
    ]
    return {"n_docs": n, "batches": batches, "deletes": sorted(rng.sample(range(scale.corpus_docs), 8))}


def cache_dir(root: str, workload: str, scale: str, seed: int) -> str:
    return os.path.join(root, ".perfbench", "cache", f"{workload}-{scale}-{seed}")
