"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle at
the given scale factor, then compares row count, column names,
PANDAS DTYPE FAMILIES, and order-insensitive values.

Driver fidelity (the r5 lesson): the driver materializes BOTH sides
through pandas — Spark via ``toPandas()``-equivalent Arrow transfer,
DuckDB via ``res.df()`` — then canonicalizes (sort columns by name,
sort rows) and hashes the values. Two whole failure classes are
INVISIBLE to a ``collect()``/``fetchall()`` comparison but fatal to
the driver:

1. DuckDB ``sum(BIGINT)`` returns HUGEINT, and DuckDB's pandas
   conversion turns un-cast HUGEINT into float64 — so the driver
   hashes ``123.0`` against Spark's int64 ``123`` (r05:
   supplier_top_parts, lineitem_measures_unpivot). ``fetchall()``
   gives Python ints for HUGEINT and hides this.
2. A nested (array/map/struct) output column reaches the driver's
   pandas canonicalizer as list cells, which ``sort_values`` cannot
   hash — the row ERRORs before any comparison (r05:
   embeddings_quantize_int8). ``collect()`` tuples sort fine by repr
   and hide this.

This gate therefore materializes both sides through pandas, compares
the dtype FAMILY of every column (int vs float vs bool vs datetime
vs object), and hard-fails any query whose Spark schema or pandas
frame carries a nested type. Run me before every commit that touches
plans/:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import time
from pathlib import Path

import duckdb

# Nullable ints become float64 in pandas on BOTH engines (NaN has no
# int representation), so int-vs-float alone is not proof of a skew:
# only flag when the column has no nulls on either side (a fully
# populated column has no excuse to change family).
_INT_KINDS = frozenset("iu")


def dtype_family(kind: str) -> str:
    if kind in _INT_KINDS:
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind in "Mm":
        return "datetime"
    return "object"


def _norm_cell(v):
    """Canonicalize one pandas cell to a plain, repr-stable Python value."""
    if v is None:
        return None
    # numpy scalars -> Python scalars (repr differs across numpy 1/2)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # mirror probable driver tolerance: exact compare is the goal,
        # but repr-level noise below 1e-9 is not a real mismatch
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        # unify pd.Timestamp / datetime64[ns vs us] / datetime; a
        # midnight timestamp canons like a date — Spark DATE arrives
        # as datetime.date objects while DuckDB DATE materializes as
        # datetime64, and a date carries no time to diverge on
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return ("d", v.year, v.month, v.day)
        return ("ts", v.year, v.month, v.day, v.hour, v.minute, v.second, v.microsecond)
    if isinstance(v, datetime.date):
        return ("d", v.year, v.month, v.day)
    return v


def canon(df) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            try:
                if v is not None and v != v:  # NaN/NaT without isnan's type limits
                    v = None
            except Exception:  # noqa: BLE001 — exotic __eq__
                pass
            row.append(_norm_cell(v))
        rows.append(tuple(row))
    return sorted(rows, key=repr)


def nested_cols(df) -> list[str]:
    """Columns holding nested (list/dict/ndarray) CELLS. Scans EVERY
    cell — an early unconditional break after the first non-null
    value would pass a column whose first row is scalar but later
    rows hold lists (advice r6), and a sample cap would pass a cell
    first appearing beyond the cap (advice r7). Oracle outputs are
    small, so the full scan is cheap."""
    bad = []
    for c in df.columns:
        for v in df[c]:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray":
                bad.append(c)
                break
    return bad


def date_grain_warnings(spdf, odf) -> list[str]:
    """Warning-level (non-failing) note for columns where one engine
    materializes datetime64 and the other object-of-date: canon()'s
    midnight coercion compares them equal, but the DRIVER hashes
    pandas datetime64 and datetime.date cells differently — such a
    query should CAST the oracle (or the plan) so both sides agree
    on the date/timestamp grain rather than rely on the local
    coercion (advice r6).

    Warning, not failure, BY DRIVER EVIDENCE: the three queries that
    carried this skew through r10 (events_anomaly_mad_hist,
    events_sliding_distinct_kmv, sales_seasonal_decomposition) were
    all driver-GREEN with those dtypes, so the driver's hash
    demonstrably tolerates date-grain object-vs-datetime64 — unlike
    the int-vs-float family skew (r05's real reds), which stays a
    hard failure. All three were cast to TIMESTAMP on both sides in
    r11 (verdict item 4); the check stays so no new query
    reintroduces the class."""
    import datetime as _dt

    notes = []
    for c in spdf.columns:
        if c not in odf.columns:
            continue
        kinds = {spdf[c].dtype.kind, odf[c].dtype.kind}
        if kinds != {"M", "O"}:
            continue
        obj = spdf[c] if spdf[c].dtype.kind == "O" else odf[c]
        vals = [v for v in obj.head(1000) if v is not None]
        if vals and all(
            isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
            for v in vals
        ):
            notes.append(
                f"{c}: one side datetime64, other datetime.date — cast "
                "the oracle/plan to a common grain (driver hashes differ)"
            )
    return notes


def dtype_skews(spdf, odf) -> list[str]:
    """Dtype-family skews the driver's value hash dies on while a
    value-equality compare stays green:

    - int vs float (HUGEINT→float64, the r05 class): flagged when
      the column is fully populated on both sides (nullable ints
      legitimately become float64 on BOTH engines).
    - bool vs int/float: True == 1 compares equal but hashes apart.
    - a numeric-looking object column (e.g. DECIMAL materializing as
      Decimal objects) against a real numeric dtype.

    object-vs-datetime stays benign: DATE columns materialize as
    datetime.date objects on one engine and datetime64 on the other,
    and a date has no time component to diverge on."""
    import decimal

    skews = []
    for c in spdf.columns:
        if c not in odf.columns:
            continue
        f_s = dtype_family(spdf[c].dtype.kind)
        f_o = dtype_family(odf[c].dtype.kind)
        if f_s == f_o:
            continue
        fams = {f_s, f_o}
        if fams == {"int", "float"}:
            side = spdf[c] if f_o == "int" else odf[c]
            if not side.isna().any():
                skews.append(f"{c}: spark={f_s} duckdb={f_o}")
        elif "bool" in fams and fams & {"int", "float"}:
            skews.append(f"{c}: spark={f_s} duckdb={f_o}")
        elif "object" in fams and fams & {"int", "float", "bool"}:
            obj = spdf[c] if f_s == "object" else odf[c]
            vals = [v for v in obj if v is not None]
            if vals and all(
                isinstance(v, (int, float, bool, decimal.Decimal))
                for v in vals
            ):
                skews.append(
                    f"{c}: spark={f_s} duckdb={f_o} (numeric-valued object)"
                )
    return skews


def _materialize(sdf):
    """The driver's view of a result: nested output columns by schema,
    and the rows through pandas."""
    nested = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    return nested, sdf.toPandas()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import measure
    from hive_hdfs_practise_spark import plans

    if os.environ.get("ORACLE_VANILLA"):
        # simulate the driver: a bare session with none of our confs
        from pyspark.sql import SparkSession

        measure.pin_tree()
        spark = SparkSession.builder.master("local[8]").appName("oracle-vanilla").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = measure.session("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    results: dict[str, dict] = {}
    for name in sorted(plans.QUERIES):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            record, (nested_schema, spdf) = measure.run(
                spark, name, sf_dir, runs=1, action=_materialize
            )
            cost = record["runs"][0]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"spark error: {exc}"}
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if nested_schema:
            failures.append(name)
            msg = (
                f"nested output type (driver canon cannot hash list cells): "
                f"{nested_schema}"
            )
            results[name] = {"status": "FAIL", "err": msg}
            print(f"FAIL  {name}: {msg}")
            continue
        oracle = plans.ORACLES.get(name)
        if oracle is None:
            results[name] = {"status": "rows_only", "spark_rows": len(spdf), **cost}
            print(f"ok?   {name}: rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            res = con.execute(oracle)
            odf = res.df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"duckdb error: {exc}"}
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        status = []
        bad_cells = nested_cols(spdf) + nested_cols(odf)
        if bad_cells:
            status.append(f"nested cells in columns {sorted(set(bad_cells))}")
        if len(spdf) != len(odf):
            status.append(f"rowcount spark={len(spdf)} duckdb={len(odf)}")
        if sorted(spdf.columns) != sorted(odf.columns):
            status.append(
                f"columns spark={sorted(spdf.columns)} duckdb={sorted(odf.columns)}"
            )
        if not status:
            skews = dtype_skews(spdf, odf)
            if skews:
                status.append(
                    "dtype family skew (driver hashes these differently): "
                    + "; ".join(skews)
                )
        if not status:
            sn, on_ = canon(spdf), canon(odf)
            if sn != on_:
                diff = [(x, y) for x, y in zip(sn, on_) if x != y][:3]
                status.append(f"values differ, first diffs: {diff}")
        if status:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": "; ".join(status)}
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            results[name] = {
                "status": "OK",
                "spark_rows": len(spdf),
                # the oracle's canonical result, to compare across trees
                "oracle_sha256": hashlib.sha256(
                    repr((sorted(odf.columns), on_)).encode()
                ).hexdigest(),
                "secs": round(time.time() - t0, 1),
                **cost,
            }
            print(f"OK    {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            notes = date_grain_warnings(spdf, odf)
            if notes:
                results[name]["warn"] = notes
                for note in notes:
                    print(f"warn  {name}: {note}")

    out = os.environ.get("ORACLE_JSON")
    if out:
        import json

        n_ok = sum(1 for r in results.values() if r["status"] == "OK")
        n_rows_only = sum(1 for r in results.values() if r["status"] == "rows_only")
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_ok": n_ok,
                    "n_rows_only": n_rows_only,
                    "n_fail": len(failures),
                    "failures": failures,
                    "results": results,
                },
                fh,
                indent=1,
            )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
