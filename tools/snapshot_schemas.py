"""Record every query's result schema → tests/fixtures/query_schemas.json.
The companion test fails if a refactor changes any query's schema —
the driver's smoke check requires stable schemas across rounds.

    python tools/snapshot_schemas.py   # re-record after intentional changes
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import measure  # noqa: E402
from hive_hdfs_practise_spark import plans  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = measure.session("schema-snapshot")
    out = {}
    for name, fn in sorted(plans.QUERIES.items()):
        out[name] = fn(spark, SF).schema.simpleString()
    with open(f"{measure.REPO}/tests/fixtures/query_schemas.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"recorded {len(out)} schemas")


if __name__ == "__main__":
    main()
