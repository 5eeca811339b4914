"""Text-analysis function tests: deterministic values on known
inputs (the oracle check covers engine parity; these pin semantics)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import hive_hdfs_practise_spark
from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.functions import text as tx


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text STRING")
    return df.select(col.alias("v")).collect()[0].v


class TestTokens:
    def test_token_count_ignores_extra_whitespace(self, spark):
        assert _one(spark, "  a  b\t c\n", tx.token_count(F.col("text"))) == 3

    def test_empty_string_zero_tokens(self, spark):
        assert _one(spark, "", tx.token_count(F.col("text"))) == 0

    def test_bpe_ish_segments(self, spark):
        # "Hi, there! 42" → Hi , there ! 42
        assert _one(spark, "Hi, there! 42", tx.bpe_ish_token_count(F.col("text"))) == 5


class TestShingles:
    def test_char_shingles_distinct_and_count(self, spark):
        got = _one(spark, "abcabc", tx.char_shingles(F.col("text"), 3))
        assert sorted(got) == ["abc", "bca", "cab"]

    def test_short_text_no_shingles(self, spark):
        assert _one(spark, "ab", tx.char_shingles(F.col("text"), 5)) == []


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
            ):
                ids.add(id(body[0].value))
    return ids


def _shingle_set_sites(root: Path) -> dict[str, int]:
    """Modules (with hit counts) that spell out a doc's shingle set:
    the SQL ``[... for x in generate_series(1, greatest(len(...`` list
    comprehension, or a Spark ``F.sequence`` of k-gram positions ending
    at ``length - (SHINGLE_K - 1)``. The positional k-gram tables with
    their own K (ESD_K, WIN_K, CDC_K) and the MinHash signature explode
    (``dedup/minhash.py``, which hashes positions, never builds a set)
    do not match; docstrings and comments do not count."""
    sql = re.compile(r"for\s+x\s+in\s+generate_series\(1,\s*greatest\(len\(")
    spark_k = re.compile(r"F\.lit\((SHINGLE_K|k) - 1\)")
    sites: dict[str, int] = {}
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            hit = False
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                hit = id(node) not in skip and bool(sql.search(node.value))
            elif isinstance(node, ast.Call):
                f = node.func
                hit = (
                    isinstance(f, ast.Attribute)
                    and f.attr == "sequence"
                    and bool(spark_k.search(ast.unparse(node)))
                )
            if hit:
                rel = path.relative_to(root).as_posix()
                sites[rel] = sites.get(rel, 0) + 1
    return sites


def test_one_shingle_set():
    """functions/text.py is the only module that builds a shingle set;
    everything else calls shingle_set_sql / shingle_postings."""
    root = Path(hive_hdfs_practise_spark.__file__).parent
    assert set(_shingle_set_sites(root)) == {"functions/text.py"}


def _tokenizer_sites(root: Path) -> dict[str, int]:
    r"""Modules (with hit counts) that spell out a whitespace token, a
    line or the quality weights: a SQL ``regexp_extract_all(`` over a
    ``\S+`` or whitespace-class run, ``split(trim(`` (SQL or Spark),
    ``string_split(...chr(10))``, a Spark split on "\n", or the
    quality weight ``0.4 *`` (SQL text or a Spark product).
    Docstrings do not count."""
    sql = re.compile(
        r"regexp_extract_all\([^']*'(\\S\+|\[\^[^\]]*(\\[st]|WS_SQL)[^\]]*\]\+)'"
        r"|split\(trim\(|string_split\([^)]*chr\(10\)|0\.4 \*"
    )
    sites: dict[str, int] = {}
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            hit = False
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                hit = id(node) not in skip and bool(sql.search(node.value))
            elif isinstance(node, ast.JoinedStr):
                hit = bool(sql.search(ast.unparse(node)))
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                args = node.args
                hit = node.func.attr == "split" and bool(args) and (
                    (isinstance(args[0], ast.Call) and ast.unparse(args[0].func).endswith("trim"))
                    or any(isinstance(a, ast.Constant) and a.value == "\n" for a in args[1:])
                )
            elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult):
                hit = isinstance(node.left, ast.Constant) and node.left.value == 0.4
            if hit:
                rel = path.relative_to(root).as_posix()
                sites[rel] = sites.get(rel, 0) + 1
    return sites


def test_one_tokenizer():
    """functions/text.py is the only module that writes a whitespace
    token, a non-empty line or the quality formula; everything else
    calls tokens / tokens_sql, lines / lines_sql, word_ngrams /
    word_ngrams_sql, quality / quality_sql."""
    root = Path(hive_hdfs_practise_spark.__file__).parent
    assert set(_tokenizer_sites(root)) == {"functions/text.py"}


# Legal but degenerate texts: each Spark form and its SQL twin (run in
# DuckDB) must agree exactly on every one of them.
PARITY_TEXTS = [
    "",
    None,
    " \t\n\r\f ",
    "\t\ny\n",
    "a\x0bb c",
    "\u3000z w",
    "\xa0z w",
    "\u2003z w",
    "token",
    "the cat sat",
    "这是一个中文句子",
    "The cat, and the dog; 42 dogs!\n\nthe cat\nthe cat\n",
]
# Texts on which Java's and DuckDB's lower() disagree: Spark's lowered
# form first, DuckDB's second (the input contract of tokens_sql).
LOWER_DIFFERS = {
    "ΟΔΟΣ": ("οδος", "οδοσ"),
    "\u0130stanbul": ("i\u0307stanbul", "istanbul"),
}
PARITY_FORMS = [
    "tokens", "tokens_lower", "lines", "ngrams_2", "ngrams_8",
    "content_hash", "quality", "lang",
]


@pytest.fixture(scope="module")
def parity_rows(spark, tmp_path_factory):
    """{form: ({doc_id: spark value}, {doc_id: duckdb value})} over
    PARITY_TEXTS + LOWER_DIFFERS; quality and language ID are read
    from the per-row scorers and from the registered batch queries
    (the _token_agg explode pass), which must agree with each other."""
    import duckdb
    import pandas as pd

    texts = PARITY_TEXTS + list(LOWER_DIFFERS)
    d = tmp_path_factory.mktemp("parity")
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t or "") for t in texts],
        }
    ).to_parquet(str(d / "documents.parquet"))
    t = F.col("text")
    spark_cols = {
        "tokens": tx.tokens(t),
        "tokens_lower": tx.tokens(F.lower(t)),
        "lines": tx.lines(t),
        "ngrams_2": tx.word_ngrams(tx.tokens(t), 2),
        "ngrams_8": tx.word_ngrams(tx.tokens(t), 8),
        "content_hash": tx.content_hash(t),
        "quality": tx.quality_score(t),
        "lang": tx.lang_id(t),
    }
    sdf = spark.read.parquet(str(d / "documents.parquet"))
    srows = sdf.select("doc_id", *[c.alias(k) for k, c in spark_cols.items()]).collect()
    got = {k: {r.doc_id: r[k] for r in srows} for k in spark_cols}
    batch = {
        "quality": {
            r.doc_id: r.quality
            for r in plans.QUERIES["text_quality_score"](spark, str(d)).collect()
        },
        "lang": {
            r.doc_id: r.lang_pred
            for r in plans.QUERIES["text_lang_id"](spark, str(d)).collect()
        },
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    sql = f"""
        SELECT doc_id, {tx.tokens_sql()} AS tokens,
               {tx.tokens_sql(lower=True)} AS tokens_lower,
               {tx.lines_sql()} AS lines,
               {tx.word_ngrams_sql("toks", 2)} AS ngrams_2,
               {tx.word_ngrams_sql("toks", 8)} AS ngrams_8,
               {tx.content_hash_sql()} AS content_hash
        FROM (SELECT *, {tx.tokens_sql()} AS toks FROM documents)
    """
    cur = con.execute(sql)
    names = [c[0] for c in cur.description]
    drows = [dict(zip(names, r)) for r in cur.fetchall()]
    want = {k: {r["doc_id"]: r[k] for r in drows} for k in names[1:]}
    want["quality"] = dict(con.execute(tx.quality_sql()).fetchall())
    want["lang"] = {r[0]: r[2] for r in con.execute(tx.lang_id_sql()).fetchall()}
    return texts, got, want, batch


class TestEngineParity:
    @pytest.mark.parametrize("form", PARITY_FORMS)
    def test_spark_and_sql_forms_agree(self, parity_rows, form):
        texts, got, want, batch = parity_rows
        lowered = form in ("tokens_lower", "content_hash")
        for i, text in enumerate(texts):
            if lowered and text in LOWER_DIFFERS:
                continue  # the lower() contract, pinned below
            assert got[form][i] == want[form][i], (form, text)
            if form in batch:
                assert batch[form][i] == got[form][i], (form, text)

    def test_lower_is_the_known_difference(self, parity_rows):
        texts, got, want, _ = parity_rows
        for text, (java, duck) in LOWER_DIFFERS.items():
            i = texts.index(text)
            assert got["tokens"][i] == want["tokens"][i] == [text]
            assert got["tokens_lower"][i] == [java]
            assert want["tokens_lower"][i] == [duck]
            assert got["content_hash"][i] != want["content_hash"][i]

    def test_whitespace_is_javas_class(self, parity_rows):
        texts, got, _, _ = parity_rows
        tok = got["tokens"]
        assert tok[texts.index("a\x0bb c")] == ["a", "b", "c"]
        assert tok[texts.index("\u3000z w")] == ["\u3000z", "w"]
        assert tok[texts.index("\t\ny\n")] == ["y"]
        assert got["ngrams_8"][texts.index("the cat sat")] == []
        assert got["ngrams_2"][texts.index("the cat sat")] == ["the cat", "cat sat"]
        assert got["ngrams_2"][texts.index(None)] is None


class TestLangId:
    def test_english(self, spark):
        assert _one(spark, "the cat and the dog is here", tx.lang_id(F.col("text"))) == "en"

    def test_german(self, spark):
        assert _one(spark, "der hund und die katze ist nicht da", tx.lang_id(F.col("text"))) == "de"

    def test_chinese_codepoints_dominate(self, spark):
        assert _one(spark, "这是一个中文句子", tx.lang_id(F.col("text"))) == "zh"

    def test_no_markers_und(self, spark):
        assert _one(spark, "xyzzy plugh 12345", tx.lang_id(F.col("text"))) == "und"


class TestQuality:
    def test_clean_prose_scores_high(self, spark):
        v = _one(
            spark,
            "the quick brown fox jumps over the lazy dog and keeps running for a while",
            tx.quality_score(F.col("text")),
        )
        assert v >= 0.9

    def test_garbage_scores_low(self, spark):
        v = _one(spark, "!!! ### 123 456 789 $$$ %%%", tx.quality_score(F.col("text")))
        assert v <= 0.45

    def test_bounds(self, spark):
        for t in ["", "a", "the the the", "....", "12 34"]:
            v = _one(spark, t, tx.quality_score(F.col("text")))
            assert 0.0 <= v <= 1.0


class TestFingerprint:
    def test_stable_under_whitespace_noise(self, spark):
        a = _one(spark, "hello world example", tx.content_hash(F.col("text")))
        b = _one(spark, "  Hello   WORLD    example ", tx.content_hash(F.col("text")))
        assert a == b

    def test_min_shingle_robust_to_suffix_edit(self, spark):
        # min-shingle fingerprint usually survives a trailing edit
        a = _one(spark, "abcdefghijklmnop", tx.minhash_fingerprint(F.col("text"), 5))
        b = _one(spark, "abcdefghijklmnoX", tx.minhash_fingerprint(F.col("text"), 5))
        assert a is not None and b is not None


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        from hive_hdfs_practise_spark import plans as P
        import tempfile, os

        docs = spark.createDataFrame(
            [
                # 4 non-empty lines, 2 distinct -> dup_line_frac 0.5;
                # bigrams: "a b","b a","a b","b c" -> top 2/4 = 0.5
                (1, "a b\na b\n\nc d\nc d", "en", "s", 17),
                (2, "", "en", "s", 0),          # empty -> zeros
                (3, "one two three", "en", "s", 13),  # all bigrams unique
            ],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )
        with tempfile.TemporaryDirectory() as tmp:
            docs.write.parquet(os.path.join(tmp, "documents.parquet"))
            rows = {
                r.doc_id: r
                for r in P.QUERIES["text_repetition_stats"](spark, tmp).collect()
            }
        assert rows[1].n_lines == 4 and rows[1].dup_line_frac == 0.5
        assert rows[2].n_lines == 0 and rows[2].dup_line_frac == 0.0
        assert rows[2].top_bigram_share == 0.0
        assert rows[3].dup_line_frac == 0.0 and rows[3].top_bigram_share == 0.5


class TestBigramLogprob:
    def test_gibberish_scores_below_natural_text(self, spark):
        from hive_hdfs_practise_spark import plans as P
        import tempfile, os

        docs = spark.createDataFrame(
            [(i, "the cat sat on the mat", "en", "s", 22) for i in range(9)]
            + [(99, "zq xv kj qz wx jq kv zx", "en", "s", 23)],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )
        with tempfile.TemporaryDirectory() as tmp:
            docs.write.parquet(os.path.join(tmp, "documents.parquet"))
            rows = {
                r.doc_id: r.avg_logprob
                for r in P.QUERIES["text_char_bigram_logprob"](spark, tmp).collect()
            }
        natural = rows[0]
        assert rows[99] < natural  # rare bigrams → lower log-probability
        assert all(abs(rows[i] - natural) < 1e-9 for i in range(9))


class TestSentenceUdtf:
    def test_udtf_rows_and_empty_segment_indexing(self, spark):
        from hive_hdfs_practise_spark.functions.udtfs import register_udtfs

        register_udtfs(spark)
        spark.createDataFrame(
            [(1, "one. . two"), (2, None)], "doc_id LONG, text STRING"
        ).createOrReplaceTempView("_udtf_t")
        rows = spark.sql(
            "SELECT doc_id, s.idx, s.sentence "
            "FROM _udtf_t, LATERAL split_sentences(text) s"
        ).collect()
        got = {(r.doc_id, r.idx, r.sentence) for r in rows}
        # empty middle segment consumes index 1 but yields no row
        assert got == {(1, 0, "one"), (1, 2, "two")}


class TestCountMinSketch:
    def test_never_underestimates_and_bounded_overestimate(self, spark):
        from hive_hdfs_practise_spark import plans as P

        rows = P.QUERIES["word_freq_cms_topk"](spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 20
        total = sum(r.n_exact for r in rows)  # lower bound on corpus tokens
        for r in rows:
            assert r.n_cms >= r.n_exact          # CMS never underestimates
            # width 256, depth 4: overestimate ≤ corpus/width w.h.p.;
            # generous 4x slack keeps the bound corpus-independent
            assert r.n_cms - r.n_exact <= max(4 * total / 256, 50)


class TestPiiScrub:
    """r4: documents_pii_scrub. The shipped corpus is PII-free (the
    sf oracle pins the identity transform), so planted-PII behavior
    is exercised here black-box: write a documents.parquet with
    seeded PII, run the registered query on that dir, and cross-run
    the DuckDB oracle on the same file to pin engine agreement."""

    DOCS = [
        (1, "contact me at jane.doe+spam@example.co.uk today", "en", "s", 45),
        (2, "server 10.0.254.3 then call +4915123456789 now", "en", "s", 46),
        (3, "no pii here at all", "en", "s", 18),
        (4, "a@b.io and 1.2.3.4 and +12345678", "en", "s", 32),
    ]
    WANT = {
        1: ("contact me at <EMAIL> today", 1),
        2: ("server <IP> then call <PHONE> now", 2),
        3: ("no pii here at all", 0),
        4: ("<EMAIL> and <IP> and <PHONE>", 3),
    }

    @pytest.fixture(scope="class")
    def pii_dir(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("pii")
        spark.createDataFrame(
            self.DOCS, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(str(d / "documents.parquet"))
        return str(d)

    def test_spark_scrub_planted(self, spark, pii_dir):
        got = {
            r.doc_id: (r.text_scrubbed, r.n_redactions)
            for r in plans.QUERIES["documents_pii_scrub"](spark, pii_dir).collect()
        }
        assert got == self.WANT

    def test_oracle_agrees_on_planted(self, pii_dir):
        import duckdb

        from hive_hdfs_practise_spark.plans.registry import ORACLES

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{pii_dir}/documents.parquet/*.parquet')"
        )
        got = {
            r[0]: (r[1], r[2])
            for r in con.execute(ORACLES["documents_pii_scrub"]).fetchall()
        }
        assert got == self.WANT


class TestBpeMerges:
    """r4: text_bpe_merges — learned merge table equals a pure-Python
    BPE trainer on the same corpus."""

    def test_matches_python_bpe(self, spark):
        from collections import Counter

        from hive_hdfs_practise_spark.plans.text import BPE_ROUNDS
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = [
            (r.round, r.left_sym, r.right_sym, r.freq)
            for r in sorted(
                plans.QUERIES["text_bpe_merges"](spark, sf).collect(),
                key=lambda r: r.round,
            )
        ]
        words = Counter()
        for row in table(spark, sf, "documents").select("text").collect():
            words.update(row.text.split())
        vocab = {w: list(w) for w in words}
        want = []
        for k in range(1, BPE_ROUNDS + 1):
            pair_freq = Counter()
            for w, syms in vocab.items():
                c = words[w]
                for a, b in zip(syms, syms[1:]):
                    pair_freq[(a, b)] += c
            (l, r), freq = min(
                pair_freq.items(), key=lambda kv: (-kv[1], kv[0])
            )
            want.append((k, l, r, freq))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if out and out[-1] == l and syms[i] == r:
                        out[-1] = l + r
                    else:
                        out.append(syms[i])
                    i += 1
                vocab[w] = out
        assert got == want


class TestBpeApply:
    """r4: text_bpe_apply — per-doc token counts under the learned
    merges equal a pure-Python BPE trainer + greedy tokenizer."""

    def test_matches_python_tokenizer(self, spark):
        from collections import Counter

        from hive_hdfs_practise_spark.plans.text import BPE_ROUNDS
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = {
            r.doc_id: (r.n_words, r.n_chars, r.n_tokens)
            for r in plans.QUERIES["text_bpe_apply"](spark, sf).collect()
        }
        docs = {
            row.doc_id: row.text.split()
            for row in table(spark, sf, "documents")
            .select("doc_id", "text")
            .collect()
        }
        words = Counter(w for ws in docs.values() for w in ws)
        vocab = {w: list(w) for w in words}
        for _ in range(BPE_ROUNDS):
            pair_freq = Counter()
            for w, syms in vocab.items():
                c = words[w]
                for a, b in zip(syms, syms[1:]):
                    pair_freq[(a, b)] += c
            (l, r), _f = min(
                pair_freq.items(), key=lambda kv: (-kv[1], kv[0])
            )
            for w, syms in vocab.items():
                out = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                vocab[w] = out
        want = {
            d: (
                len(ws),
                sum(len(w) for w in ws),
                sum(len(vocab[w]) for w in ws),
            )
            for d, ws in docs.items()
            if ws
        }
        assert got == want


class TestBoilerplate:
    """r4: documents_boilerplate_ngrams — cross-doc frequent-gram
    fraction equals a pure-Python recompute."""

    def test_matches_python_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.plans.text import BP_MIN_DOCS, BP_N
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = {
            r.doc_id: (r.n_grams, r.n_boilerplate, r.bp_fraction)
            for r in plans.QUERIES["documents_boilerplate_ngrams"](
                spark, sf
            ).collect()
        }
        doc_grams = {}
        docs_of = defaultdict(set)
        for row in (
            table(spark, sf, "documents").select("doc_id", "text").collect()
        ):
            w = row.text.split()
            grams = [
                " ".join(w[i : i + BP_N]) for i in range(len(w) - BP_N + 1)
            ]
            if grams:
                doc_grams[row.doc_id] = grams
                for g in grams:
                    docs_of[g].add(row.doc_id)
        want = {}
        for d, grams in doc_grams.items():
            bp = sum(1 for g in grams if len(docs_of[g]) >= BP_MIN_DOCS)
            want[d] = (len(grams), bp, round(bp / len(grams), 6))
        assert got == want


class TestZipfSlope:
    def test_matches_numpy_polyfit(self, spark):
        import math
        from collections import Counter

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        wc = Counter()
        for r in table(spark, "/root/testdata/sf0.001", "documents").collect():
            wc.update(r.text.strip().split())
        ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        xs = [math.log(i + 1) for i in range(len(ranked))]
        ys = [math.log(c) for _, c in ranked]
        n = len(xs)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sx, sy = sum(xs), sum(ys)
        sxx = sum(a * a for a in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        r = plans.QUERIES["word_freq_zipf_slope"](
            spark, "/root/testdata/sf0.001"
        ).collect()[0]
        assert r.n_words == n
        assert abs(r.zipf_slope - slope) < 1e-4
        assert r.zipf_slope < 0  # frequency decreases with rank


class TestSourceClassifier:
    def test_separable_corpus_classifies_perfectly(self, spark, tmp_path):
        """Sources with disjoint vocabularies must produce a purely
        diagonal confusion matrix; a vocabulary-free (empty) doc falls
        back to the majority prior."""
        import pandas as pd

        from hive_hdfs_practise_spark import plans

        docs = []
        for i in range(8):
            docs.append((i, "alpha words only here", "en", "srcA"))
        for i in range(8, 14):
            docs.append((i, "beta tokens beta beta", "en", "srcB"))
        docs.append((14, "", "en", "srcB"))  # empty: prior-only -> srcA (majority)
        d = tmp_path / "clsf"
        d.mkdir()
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in docs],
                "text": [r[1] for r in docs],
                "lang": [r[2] for r in docs],
                "source": [r[3] for r in docs],
                "n_chars": [len(r[1]) for r in docs],
            }
        ).to_parquet(str(d / "documents.parquet"))
        got = {
            (r.true_source, r.pred_source): r.n_docs
            for r in plans.QUERIES["documents_source_classifier"](
                spark, str(d)
            ).collect()
        }
        assert got == {
            ("srcA", "srcA"): 8,
            ("srcB", "srcB"): 6,
            ("srcB", "srcA"): 1,  # the empty doc, classified by prior
        }


class TestKnPerplexity:
    """r7: documents_kn_perplexity — from-scratch Python recompute of
    the interpolated-KN bigram model (counts, exact D=3/4 rational
    probability, 1e-6 micro-log rounding, integer doc sums)."""

    def test_matches_python_recompute(self, spark):
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        docs = {
            r.doc_id: r.text
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", "text")
            .collect()
        }
        streams = {}
        bg = Counter()
        for did, text in docs.items():
            toks = text.split()
            pairs = [
                ("<s>" if i == 0 else toks[i - 1], toks[i])
                for i in range(len(toks))
            ]
            streams[did] = pairs
            bg.update(pairs)
        cv = Counter()
        n1p = Counter()
        n1w = Counter()
        for (v, w), c in bg.items():
            cv[v] += c
            n1p[v] += 1
            n1w[w] += 1
        B = len(bg)
        lp = {}
        for (v, w), c in bg.items():
            p = (max(4 * c - 3, 0) * B + 3 * n1p[v] * n1w[w]) / (4 * cv[v] * B)
            lp[(v, w)] = int(
                Decimal(repr(math.log(p) * 1_000_000)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
        got = {
            r.doc_id: (r.n_tokens, r.logprob_micro, r.avg_neg_logprob)
            for r in P.QUERIES["documents_kn_perplexity"](spark, sf).collect()
        }
        want_ids = {d for d, s in streams.items() if s}
        assert set(got) == want_ids
        for did in want_ids:
            n = len(streams[did])
            total = sum(lp[pair] for pair in streams[did])
            # Spark's round() goes through BigDecimal.valueOf, i.e.
            # the SHORTEST decimal repr of the double — Decimal(repr)
            # replicates that; Decimal(float) would expand the exact
            # binary value and flip half-boundary cases the engines
            # agree on
            avg = float(
                Decimal(repr(-total / (n * 1_000_000))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            gn, gtotal, gavg = got[did]
            assert gn == n
            assert gtotal == total
            assert abs(gavg - avg) < 1e-9


class TestPerplexityBuckets:
    """r9: documents_perplexity_buckets — CCNet head/middle/tail
    terciles recomputed from scratch in Python on top of the KN doc
    scores (which TestKnPerplexity pins independently): exact
    DECIMAL-product fixed-point rate, standard NTILE remainder rule
    (first n%3 buckets one larger), per-(source, tercile) token
    mass."""

    def test_matches_python_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        ppl = {
            r.doc_id: (r.n_tokens, r.logprob_micro)
            for r in P.QUERIES["documents_kn_perplexity"](spark, sf).collect()
        }
        src = {
            r.doc_id: r.source
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", "source")
            .collect()
        }
        by_source = defaultdict(list)
        for did, (n, lpm) in ppl.items():
            fp = (-lpm * 1_000_000) // n  # positive: // == trunc
            by_source[src[did]].append((fp, did, n))
        want = {}
        for s, rows in by_source.items():
            rows.sort()
            n = len(rows)
            q, rem = divmod(n, 3)
            sizes = [q + 1 if i < rem else q for i in range(3)]
            labels = ["head", "middle", "tail"]
            idx = 0
            mass = defaultdict(int)
            assign = []
            for t in range(3):
                for _ in range(sizes[t]):
                    fp, did, ntok = rows[idx]
                    assign.append((did, t, fp, ntok))
                    mass[t] += ntok
                    idx += 1
            for did, t, fp, ntok in assign:
                want[did] = (s, ntok, fp, labels[t], mass[t])
        got = {
            r.doc_id: (
                r.source,
                r.n_tokens,
                r.ppl_fp,
                r.bucket,
                r.bucket_tokens,
            )
            for r in P.QUERIES["documents_perplexity_buckets"](
                spark, sf
            ).collect()
        }
        assert got == want and got
        # head never has higher max rate than tail's min within a
        # source (the tercile ordering invariant)
        for s, rows in by_source.items():
            heads = [v[2] for k, v in got.items() if v[0] == s and v[3] == "head"]
            tails = [v[2] for k, v in got.items() if v[0] == s and v[3] == "tail"]
            if heads and tails:
                assert max(heads) <= min(tails)


class TestKnTrigramPerplexity:
    """r8: documents_kn_trigram_perplexity — from-scratch Python
    recompute of the interpolated trigram KN with the recursive
    continuation-count backoff: Python's int/int true division and
    `a/b + (c/d) * (num/den)` reproduce the engines' fixed IEEE op
    sequence exactly (same parenthesization, same exact-int
    inputs)."""

    def test_matches_python_recompute(self, spark):
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        docs = {
            r.doc_id: r.text
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", "text")
            .collect()
        }
        streams = {}
        tg = Counter()
        for did, text in docs.items():
            toks = text.split()
            tris = [
                (
                    "<s>" if i <= 1 else toks[i - 2],
                    "<s>" if i == 0 else toks[i - 1],
                    toks[i],
                )
                for i in range(len(toks))
            ]
            streams[did] = tris
            tg.update(tris)
        cuv = Counter()
        n1puv = Counter()
        mvw = Counter()
        for (u, v, w), c in tg.items():
            cuv[(u, v)] += c
            n1puv[(u, v)] += 1
            mvw[(v, w)] += 1
        mv_sum = Counter()
        mv_cnt = Counter()
        n1w = Counter()
        for (v, w), c in mvw.items():
            mv_sum[v] += c
            mv_cnt[v] += 1
            n1w[w] += 1
        B = len(mvw)
        lp = {}
        for (u, v, w), c3 in tg.items():
            d3 = (max(4 * mvw[(v, w)] - 3, 0) * B + 3 * mv_cnt[v] * n1w[w]) / (
                4 * mv_sum[v] * B
            )
            p = max(4 * c3 - 3, 0) / (4 * cuv[(u, v)]) + (
                (3 * n1puv[(u, v)]) / (4 * cuv[(u, v)])
            ) * d3
            lp[(u, v, w)] = int(
                Decimal(repr(math.log(p) * 1_000_000)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
        got = {
            r.doc_id: (r.n_tokens, r.logprob_micro, r.avg_neg_logprob)
            for r in P.QUERIES["documents_kn_trigram_perplexity"](
                spark, sf
            ).collect()
        }
        want_ids = {d for d, s in streams.items() if s}
        assert set(got) == want_ids
        for did in want_ids:
            n = len(streams[did])
            total = sum(lp[t] for t in streams[did])
            avg = float(
                Decimal(repr(-total / (n * 1_000_000))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            gn, gtotal, gavg = got[did]
            assert gn == n
            assert gtotal == total
            assert abs(gavg - avg) < 1e-9

    def test_trigram_sharper_than_bigram_on_average(self, spark):
        """LM-depth sanity: a higher-order model trained on the
        scoring corpus assigns it a lower (or equal) mean NLL than
        the bigram — corpus-level, not per-doc.

        CORPUS-CALIBRATED (r8 review note): this is an empirical
        property of the sf0.001 corpus, not a theorem — interpolated
        KN discounting can invert it on a small or heavily
        restructured corpus with both queries correct. If a corpus
        refresh flips it, loosen to a small tolerance rather than
        suspecting the queries (the recompute test above is the
        correctness pin)."""
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        bi = {
            r.doc_id: (r.logprob_micro, r.n_tokens)
            for r in P.QUERIES["documents_kn_perplexity"](spark, sf).collect()
        }
        tri = {
            r.doc_id: (r.logprob_micro, r.n_tokens)
            for r in P.QUERIES["documents_kn_trigram_perplexity"](
                spark, sf
            ).collect()
        }
        assert set(bi) == set(tri)
        bi_nll = -sum(t[0] for t in bi.values()) / sum(t[1] for t in bi.values())
        tri_nll = -sum(t[0] for t in tri.values()) / sum(
            t[1] for t in tri.values()
        )
        assert tri_nll <= bi_nll


class TestBm25TopK:
    """r7: documents_bm25_topk — full Python recompute of the Lucene
    BM25 (k1=6/5, b=3/4 exact-integer form) incl. the micro rounding
    and integer rank."""

    def test_matches_python_recompute(self, spark):
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.advanced import (
            BM25_QUERIES,
            BM25_SCALE,
            BM25_TOP,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        docs = {
            r.doc_id: r.text.lower().split()
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", "text")
            .collect()
        }
        N = len(docs)
        T = sum(len(t) for t in docs.values())
        tf = {d: Counter(t) for d, t in docs.items()}
        df = Counter()
        for c in tf.values():
            df.update(c.keys())
        scores: dict = {}
        for qid, w in BM25_QUERIES:
            for d, c in tf.items():
                if w not in c:
                    continue
                t = c[w]
                idf = math.log((2 * N + 2) / float(2 * df[w] + 1))
                quot = (44 * t * T) / float(20 * t * T + 6 * T + 18 * len(docs[d]) * N)
                micro = int(
                    Decimal(repr(idf * quot * float(BM25_SCALE))).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
                scores[(qid, d)] = scores.get((qid, d), 0) + micro
        want = {}
        by_q: dict = {}
        for (qid, d), s in scores.items():
            by_q.setdefault(qid, []).append((-s, d))
        for qid, lst in by_q.items():
            for rank, (negs, d) in enumerate(sorted(lst)[:BM25_TOP], 1):
                want[(qid, d)] = (rank, -negs)
        got = {
            (r.qid, r.doc_id): (r.rank, r.score_micro, r.bm25)
            for r in P.QUERIES["documents_bm25_topk"](spark, sf).collect()
        }
        assert set(got) == set(want)
        for k, (rank, s) in want.items():
            grank, gs, gbm = got[k]
            assert (grank, gs) == (rank, s)
            assert abs(gbm - round(s / BM25_SCALE, 6)) < 1e-9


class TestRrfFusion:
    """r7: documents_rrf_fusion — RRF identity recompute from the
    engine's own two rankings, plus the exact-rational rank check
    (cross-multiplication, no floats).

    CORPUS-SIZE-GATED (advice r7): the exact-order assertion holds
    only while per-query match sets stay under the ~940-doc
    _RRF_FP resolution bound (see plans/advanced.py) — above it,
    distinct true rationals may tie in fixed point and order falls
    to doc_id, which this Fraction recompute would flag even though
    both engines agree. Fine at sf0.001; don't point this test at a
    replica corpus without also checking the bound."""

    def test_rrf_identity_and_exact_rank(self, spark):
        from fractions import Fraction

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.advanced import RRF_K, RRF_TOP

        got = P.QUERIES["documents_rrf_fusion"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert got
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert len(rows) <= RRF_TOP
            prev = None
            for r in rows:
                s = Fraction(1, RRF_K + r.bm25_rank) + Fraction(
                    1, RRF_K + r.tfidf_rank
                )
                assert abs(r.rrf - round(float(s), 9)) < 1e-12
                if prev is not None:
                    # exact-rational non-increasing order with doc_id
                    # tiebreak — no float enters the comparison
                    assert s < prev[0] or (s == prev[0] and r.doc_id > prev[1])
                prev = (s, r.doc_id)


class TestHybridRrf:
    """r8: documents_hybrid_rrf — RRF identity recompute over the
    0-sentinel ranks, exact-rational order check (same corpus-size
    gate as TestRrfFusion), and the hybrid-specific pin: any doc
    appearing in BOTH top-HYB_LIST lists must outrank every
    single-list doc (with ranks ≤ HYB_LIST = 20 the worst two-list
    score 2/(K+20) = 0.025 beats the best one-list score
    1/(K+1) ≈ 0.0164)."""

    def test_hybrid_identity_order_and_dominance(self, spark):
        from fractions import Fraction

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.advanced import RRF_K, RRF_TOP

        got = P.QUERIES["documents_hybrid_rrf"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert got
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r.qid, []).append(r)
        assert len(by_q) == 3
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert len(rows) <= RRF_TOP
            prev = None
            seen_single = False
            for r in rows:
                assert r.bm25_rank > 0 or r.dense_rank > 0
                s = Fraction(0)
                if r.bm25_rank > 0:
                    s += Fraction(1, RRF_K + r.bm25_rank)
                if r.dense_rank > 0:
                    s += Fraction(1, RRF_K + r.dense_rank)
                assert abs(r.rrf - round(float(s), 9)) < 1e-12
                if prev is not None:
                    assert s < prev[0] or (s == prev[0] and r.doc_id > prev[1])
                if r.bm25_rank > 0 and r.dense_rank > 0:
                    # both-list docs may not appear after a single-list doc
                    assert not seen_single
                else:
                    seen_single = True
                prev = (s, r.doc_id)


class TestFilterCascade:
    """r8: documents_filter_cascade — funnel identities plus a python
    recompute of each stage's drop count from the engine's own three
    per-doc score tables."""

    def test_funnel_matches_scores(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.text import (
            CASCADE_MAX_DUP_LINE,
            CASCADE_MAX_TOP_BIGRAM,
            CASCADE_MIN_QUALITY,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r.stage: (r.rule, r.n_in, r.n_dropped, r.n_out)
            for r in P.QUERIES["documents_filter_cascade"](spark, sf).collect()
        }
        assert set(got) == {1, 2, 3}
        # chain identity: each stage's survivors feed the next
        assert got[1][3] == got[2][1] and got[2][3] == got[3][1]
        for s in (1, 2, 3):
            assert got[s][1] - got[s][2] == got[s][3]
        # recompute from the engine's own scorers
        li = {
            r.doc_id: r.lang_pred
            for r in P.QUERIES["text_lang_id"](spark, sf).collect()
        }
        q = {
            r.doc_id: r.quality
            for r in P.QUERIES["text_quality_score"](spark, sf).collect()
        }
        rep = {
            r.doc_id: (r.dup_line_frac, r.top_bigram_share)
            for r in P.QUERIES["text_repetition_stats"](spark, sf).collect()
        }
        d1 = {d for d in li if li[d] == "und"}
        d2 = {d for d in li if d not in d1 and q[d] < CASCADE_MIN_QUALITY}
        d3 = {
            d
            for d in li
            if d not in d1
            and d not in d2
            and (
                rep[d][1] > CASCADE_MAX_TOP_BIGRAM
                or rep[d][0] > CASCADE_MAX_DUP_LINE
            )
        }
        assert got[1] == ("langid", len(li), len(d1), len(li) - len(d1))
        assert got[2][2] == len(d2) and got[3][2] == len(d3)


class TestGopherRules:
    """r9: documents_gopher_rules — crafted docs exercising every
    rule in both directions, python expectations + cross-engine
    equality on the crafted corpus."""

    def test_crafted_corpus_rules(self, spark, tmp_path):
        import duckdb
        import pandas as pd

        from hive_hdfs_practise_spark import plans as P

        good = (
            "the quick brown fox jumps over that lazy dog and then "
            "walks away with steady calm pace because nothing here "
            "matters very much to anyone at all today " * 3
        )  # >50 words, stopwords the/that/and/with/to, clean lines
        docs = {
            0: good,
            1: "word " * 60,  # no 2 distinct req stopwords
            2: "#tag " * 60,  # symbol-heavy, alpha-poor... tokens '#tag' have alpha
            3: "\n".join("- bullet item" for _ in range(10)),  # bullets
            4: "\n".join("trailing off..." for _ in range(10)),  # ellipsis
            5: "ab " * 60,  # mean word len 2 < 3
            6: "",  # empty: ratio rules vacuous, word count fails
            7: "12345 " * 60,  # digits: alpha fraction 0
        }
        d = tmp_path / "gopher"
        d.mkdir()
        pd.DataFrame(
            {
                "doc_id": list(docs),
                "text": [docs[i] for i in docs],
                "lang": ["en"] * len(docs),
                "source": ["s"] * len(docs),
                "n_chars": [len(docs[i]) for i in docs],
            }
        ).to_parquet(str(d / "documents.parquet"))
        rows = {
            r.doc_id: r
            for r in P.QUERIES["documents_gopher_rules"](
                spark, str(d)
            ).collect()
        }
        assert rows[0].n_failed == 0  # the good doc passes everything
        assert not rows[1].r_stopwords
        assert not rows[2].r_symbol_ratio
        assert not rows[3].r_bullet_lines and rows[3].r_ellipsis_lines
        assert not rows[4].r_ellipsis_lines and rows[4].r_bullet_lines
        assert not rows[5].r_mean_word_len
        assert not rows[6].r_word_count  # empty doc fails the bound
        assert rows[6].r_mean_word_len  # ...but ratio rules vacuous
        assert rows[6].r_alpha_words
        assert not rows[7].r_alpha_words
        # cross-engine equality on the crafted corpus
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        oracle = {
            int(r[0]): tuple(r[1:])
            for r in con.execute(
                P.ORACLES["documents_gopher_rules"]
            ).fetchall()
        }
        got = {
            r.doc_id: (
                r.n_words,
                r.r_word_count,
                r.r_mean_word_len,
                r.r_symbol_ratio,
                r.r_bullet_lines,
                r.r_ellipsis_lines,
                r.r_alpha_words,
                r.r_stopwords,
                r.n_failed,
            )
            for r in rows.values()
        }
        assert got == oracle
