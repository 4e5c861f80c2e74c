"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, schema arity, and order-insensitive rounded values.

Usage: python tools/check_oracle.py [--json OUT.json] [query ...]

With --json, writes a driver-CORRECTNESS-shaped artifact covering the
FULL registry (the driver's own file caps at 50 entries — r3 verdict
item #1): per query rows_match / schema_match / hash_match /
spark_rows / oracle_rows / err, with hash_match null for documented
rows-only queries.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints/floats
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            # dtype-CLASS skew (int64 vs float64) compares numerically
            # equal below but hash-diverges in the driver's canonical
            # form — the exact failure mode of r4's sessionize row
            # (DuckDB HUGEINT -> pandas float64 vs Spark int64)
            ai = pd.api.types.is_integer_dtype(a[c])
            bi = pd.api.types.is_integer_dtype(b[c])
            af = pd.api.types.is_float_dtype(a[c])
            bf = pd.api.types.is_float_dtype(b[c])
            if (ai and bf) or (af and bi):
                issues.append(
                    f"col '{c}': dtype-class skew spark={a[c].dtype} "
                    f"duck={b[c].dtype} (driver hash would diverge)"
                )
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if pd.api.types.is_float_dtype(a[c]):
                both_nan = pd.isna(av) & pd.isna(bv)
                # exact, like the driver's value hash
                neq = ~(both_nan | (av.astype(float) == bv.astype(float)))
            else:
                neq = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
            if neq.any():
                i = int(np.argmax(neq))
                issues.append(
                    f"col '{c}': {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
    return issues


def main():
    import __spark_entry__ as entry_mod
    from chronoxtract_spark.session import get_spark

    # correctness is core-count-invariant (every oracle compare is
    # order-insensitive), so the session takes get_spark's host default
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = args
    ok = fail = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:300],
            }
            fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows, {len(sdf.columns)} cols "
                  f"({dt:.1f}s)")
            record[name] = {
                "rows_match": len(sdf) >= 0, "schema_match": True,
                "hash_match": None, "spark_rows": len(sdf),
                "oracle_rows": None, "err": None, "no_oracle": True,
            }
            ok += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(sdf),
                "oracle_rows": None, "err": f"duckdb error: {e}"[:300],
            }
            fail += 1
            continue
        issues = compare(name, sdf, ddf)
        record[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
            "hash_match": not issues,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            "err": "; ".join(issues[:3])[:300] if issues else None,
        }
        if issues:
            print(f"FAIL {name} ({len(sdf)} rows, {dt:.1f}s):")
            for i in issues[:5]:
                print(f"    {i}")
            fail += 1
        else:
            print(f"OK   {name}: {len(sdf)} rows match ({dt:.1f}s)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(record)} queries)")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
