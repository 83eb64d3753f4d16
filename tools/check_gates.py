"""Simulate the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_gates.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    df = normalize(df)
    cells = []
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            cells.append(s.astype(str))
        elif str(s.dtype).startswith("float"):
            cells.append(s.map(lambda x: repr(float(x))))
        else:
            cells.append(s.astype(str))
    blob = "\n".join("|".join(t) for t in zip(*[c.tolist() for c in cells])) if len(df) else ""
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from annoy_spark.session import get_spark

    spark = get_spark("check_gates", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for name in ("documents", "embeddings", "lineitem", "orders", "customer",
                 "supplier", "part", "nation", "region", "events"):
        try:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        except duckdb.Error:
            pass

    qs, oracles = E.queries(), E.oracle_sql()
    # every registered gate must have an oracle twin — a truncated or
    # partially-registered run is a loud failure, not a silent gap
    # (round-5 driver artifact recorded 50 of 53 registered gates)
    # (raise, not assert: `python -O` strips asserts)
    missing_oracle = [n for n in qs if n not in oracles]
    if missing_oracle:
        raise SystemExit(f"gates without oracle SQL: {missing_oracle}")
    if not len(qs) == len(oracles) == 53:
        raise SystemExit(
            f"expected 53 registered gates with 53 oracles, got "
            f"{len(qs)}/{len(oracles)}"
        )
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok   {name}: rows {len(sdf)} (rows-only, no oracle) "
                  f"spark {t1-t0:.1f}s")
            if len(sdf) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        t2 = time.time()

        scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
        sh, dh = value_hash(sdf), value_hash(ddf)
        ok = len(sdf) == len(ddf) and scols == dcols and sh == dh
        status = "ok  " if ok else "FAIL"
        print(
            f"{status} {name}: rows {len(sdf)}/{len(ddf)} hash {sh}/{dh} "
            f"spark {t1-t0:.1f}s duck {t2-t1:.1f}s"
        )
        if not ok:
            failures.append(name)
            if scols != dcols:
                print(f"     cols spark={scols} duck={dcols}")
            else:
                a, b = normalize(sdf), normalize(ddf)
                merged = a.merge(b, how="outer", indicator=True,
                                 on=list(a.columns) if len(a.columns) else None)
                diff = merged[merged["_merge"] != "both"]
                print(diff.head(10).to_string())

    if not only and ran != len(qs):
        failures.append(f"__truncated__({ran}/{len(qs)})")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL GREEN")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
