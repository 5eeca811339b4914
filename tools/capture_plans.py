"""Capture .explain('formatted') output for named queries into
plans/<tag>/<query>_<suffix>.txt — the optimization round's evidence
artifacts (guide §1: record the plan shape before and after).

    python tools/capture_plans.py <tag> <before|after> name [name...]

Builders that execute jobs at plan time (index writes, checkpoints)
run them here too — the captured plan is the FINAL returned frame's,
exactly what the bench action executes.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from hive_hdfs_practise_spark import plans  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = f"{REPO}/plans/{tag}"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = plans.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"{out_dir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_gen = plan.count("Generate")
        n_py = plan.count("EvalPython")
        print(
            f"{name}: {len(plan)} chars, Exchange×{n_ex}, "
            f"Generate×{n_gen}, EvalPython×{n_py} -> {path}"
        )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
