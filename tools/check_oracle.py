"""Local stand-in for the driver's CORRECTNESS gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row-count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return round(v, 9)
        if hasattr(v, "tolist"):
            return tuple(v.tolist())
        if isinstance(v, list):
            return tuple(v)
        return v

    out = df.map(norm_cell)
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(lambda x: (x is None, str(x)))).reset_index(drop=True)


def main():
    import __spark_entry__ as entrymod
    from ccnet_spark_spark.session import get_spark, query_scope

    spark = get_spark(cores=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # accept space- and comma-separated names in both `--only a,b` and
    # `--only=a,b` spellings (a bare comma list used to silently match
    # nothing); unknown names fail loudly instead of silently checking an
    # empty set
    only = []
    for arg in sys.argv[1:]:
        if arg == "--only":
            continue
        if arg.startswith("--only="):
            arg = arg[len("--only="):]
        only.extend(n for n in arg.split(",") if n)
    unknown = [n for n in only if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}; known: {len(qs)} in queries()")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            with query_scope():  # frees what the query materialized
                sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check)")
            if len(sdf) == 0 and name != "jaccard_pairs":
                print(f"      WARNING: empty result")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        a, b = canon(sdf), canon(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures.append(name)
            continue
        # Type-strictness mirror of the driver's value hash: an int64 Spark
        # column vs a HUGEINT->float64 DuckDB column has equal values but
        # different hashed representations — catch it here, not in the round.
        kind_mismatch = [
            c
            for c in sorted(sdf.columns)
            if {sdf[c].dtype.kind, odf[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
        ]
        if kind_mismatch:
            print(f"FAIL  {name}: int-vs-float dtype mismatch in {kind_mismatch} "
                  f"(spark {[str(sdf[c].dtype) for c in kind_mismatch]} vs "
                  f"duckdb {[str(odf[c].dtype) for c in kind_mismatch]})")
            failures.append(name)
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            failures.append(name)
            continue
        eq = a.eq(b) | (a.isna() & b.isna())
        if not eq.all().all():
            bad = ~eq.all(axis=1)
            print(f"FAIL  {name}: {int(bad.sum())}/{len(a)} rows differ; first diffs:")
            merged = pd.concat([a[bad].head(3).add_suffix("_spark"), b[bad].head(3).add_suffix("_duck")], axis=1)
            print(merged.to_string()[:2000])
            failures.append(name)
            continue
        print(f"OK    {name}: {len(a)} rows")
    print()
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
