"""functions/hexdigest.py: the one hex-digest decoder.

The Column form (``hex_int``), its SQL text evaluated by Spark and the
same text evaluated by DuckDB must read the same integer out of every
digest slice the package uses; and no other module may decode hex
digits on its own."""

from __future__ import annotations

import ast
import hashlib
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import hive_hdfs_practise_spark
from hive_hdfs_practise_spark.functions.hexdigest import hex_int, hex_int_sql
from hive_hdfs_practise_spark.operators.sampling import md5_bucket, md5_bucket_sql

N_IDS = 300

# every (start, n) slice read somewhere in the package: single digits
# (URL noise, SimHash terms, JL signs), bytes (split buckets, count-min
# positions, sha256 feature bytes), u32 words (MinHash base hashes,
# KMV, checksums, Bloom positions at 1/9/17/25) and the 15-digit
# window sort key
SLICES = [
    (1, 1), (6, 1), (8, 1),
    (1, 2), (3, 2), (19, 2),
    (1, 8), (9, 8), (17, 8), (25, 8),
    (1, 15),
]


@pytest.mark.parametrize("start,n", SLICES)
def test_engines_agree(spark, start, n):
    import duckdb

    key = F.col("id").cast("string")
    digests = {  # name → (Column, Spark SQL text)
        "md5": (F.md5(key), "md5(CAST(id AS STRING))"),
        "sha256": (F.sha2(key, 256), "sha2(CAST(id AS STRING), 256)"),
    }
    cols = []
    for name, (h, h_sql) in digests.items():
        cols += [
            hex_int(h, start, n).alias(f"{name}_col"),
            F.expr(hex_int_sql(h_sql, start, n)).alias(f"{name}_sql"),
        ]
    got = {r["id"]: r for r in spark.range(N_IDS).select("id", *cols).collect()}
    want = duckdb.sql(
        f"SELECT i, {hex_int_sql('md5(CAST(i AS VARCHAR))', start, n)},"
        f" {hex_int_sql('sha256(CAST(i AS VARCHAR))', start, n)}"
        f" FROM range({N_IDS}) t(i)"
    ).fetchall()
    assert len(want) == len(got) == N_IDS
    for i, md5_v, sha_v in want:
        row = got[i]
        assert row["md5_col"] == row["md5_sql"] == md5_v, (i, start, n)
        assert row["sha256_col"] == row["sha256_sql"] == sha_v, (i, start, n)
        # and it is the integer value of those hex digits
        for fn, v in ((hashlib.md5, md5_v), (hashlib.sha256, sha_v)):
            hexdigest = fn(str(i).encode()).hexdigest()
            assert v == int(hexdigest[start - 1 : start - 1 + n], 16), (i, start, n)


def test_split_bucket_engines_agree(spark):
    """The split-bucket rule (first md5 byte of the key) reads the same
    bucket as a Column, as SQL text in Spark and as SQL text in DuckDB."""
    import duckdb

    got = {
        r["id"]: (r["col"], r["sql"])
        for r in spark.range(N_IDS)
        .select(
            "id",
            md5_bucket(F.col("id")).alias("col"),
            F.expr(md5_bucket_sql("id")).alias("sql"),
        )
        .collect()
    }
    want = duckdb.sql(
        f"SELECT i, {md5_bucket_sql('i')} FROM range({N_IDS}) t(i)"
    ).fetchall()
    assert len(want) == len(got) == N_IDS
    for i, v in want:
        assert got[i] == (v, v), i
        assert v == int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _decoder_sites(root: Path) -> set[str]:
    """Modules that hold the hex alphabet or call ``conv`` (as a
    Column function or inside SQL text); docstrings and comments do
    not count."""
    sql_conv = re.compile(r"\bconv\s*\(", re.IGNORECASE)
    sites = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            hit = False
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) not in skip:
                    hit = "0123456789abcdef" in node.value or bool(
                        sql_conv.search(node.value)
                    )
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                hit = name == "conv"
            if hit:
                sites.add(path.relative_to(root).as_posix())
    return sites


def test_one_hex_decoder():
    root = Path(hive_hdfs_practise_spark.__file__).parent
    assert _decoder_sites(root) == {"functions/hexdigest.py"}
