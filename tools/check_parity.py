"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() twin on DuckDB over the same parquet
tables; compare row count, sorted-column schema, and an order-insensitive
value hash (floats canonicalized via repr of rounded values). A query that
leaves a frame in Spark's cache manager fails whatever its hash.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            df[c] = s.round(6).map(lambda v: repr(float(v)))
        elif s.dtype.kind == "M":
            df[c] = s.astype("datetime64[us]").astype(str)
        else:
            df[c] = s.map(repr)
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(rows), list(df.columns), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from osmix_spark.session import get_spark

    spark = get_spark("parity", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # check BOTH tiers: the driver-facing 50 (entrymod.queries()) plus the
    # second-tier near-duplicates the driver window excludes
    assert len(entrymod.queries()) <= 50, "driver correctness window is 50 queries"
    from osmix_spark import queries as _queries

    qs = _queries.all_queries()
    oracles = _queries.all_oracles()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            continue
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            print(f"FAIL  {name}: left a frame in Spark's cache manager")
            failures.append(name)
            spark.catalog.clearCache()
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows={len(sdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        status = "PASS" if (sn, sc, sh) == (on, oc, oh) else "FAIL"
        print(f"{status}  {name}: spark rows={sn} oracle rows={on} "
              f"hash {'=' if sh == oh else sh + '!=' + oh} cols {'=' if sc == oc else str(sc) + '!=' + str(oc)} "
              f"[{time.time()-t0:.1f}s]")
        if status == "FAIL":
            failures.append(name)
            if sn and on and sc == oc:
                merged = sdf[sorted(sdf.columns)].round(6).sort_values(sorted(sdf.columns)).head(3)
                omerged = odf[sorted(odf.columns)].round(6).sort_values(sorted(odf.columns)).head(3)
                print("  spark head:", merged.to_dict("records"))
                print("  oracle head:", omerged.to_dict("records"))
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
