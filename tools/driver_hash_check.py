"""Driver-style correctness check: unlike tools/check_oracle.py (which
collects Python objects and compares reprs), this mimics the DRIVER's
canonicalization path — Spark `.toPandas()` vs DuckDB `.df()`, columns
sorted by name, rows sorted with pandas, per-value string hash.  That
path surfaces two failure classes the repr checker can't see:

  * dtype drift — e.g. DuckDB windowed SUM returns HUGEINT, which
    `.df()` silently converts to float64 (7 vs 7.0 hashes differently);
  * unhashable cells — list/array-typed columns crash pandas'
    sort_values factorization, the exact multimodal_features r1 error.

Usage: python tools/driver_hash_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    bad = [c for c in cols
           if pdf[c].map(lambda v: isinstance(v, (list, dict, set,
                                                  bytearray))).any()]
    if bad:
        raise TypeError(f"unhashable (list-like) columns: {bad}")
    pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        for v in pdf[c]:
            h.update(repr(v).encode())
        h.update(b"|")
    return h.hexdigest(), {c: str(pdf[c].dtype) for c in cols}


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from benthos_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("driver-hash-check")
    con = duckdb.connect()
    for t in entry._TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            sh, sdt = canon(spdf)
        except Exception as e:
            print(f"FAIL {name}: spark/canon: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spdf)} rows)")
            n_pass += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dh, ddt = canon(dpdf)
        except Exception as e:
            print(f"FAIL {name}: duckdb/canon: {str(e)[:200]}")
            n_fail += 1
            continue
        if len(spdf) != len(dpdf):
            print(f"FAIL {name}: rows spark={len(spdf)} duck={len(dpdf)}")
            n_fail += 1
        elif sh != dh:
            drift = {c: (sdt[c], ddt.get(c)) for c in sdt
                     if sdt[c] != ddt.get(c)}
            print(f"FAIL {name}: hash mismatch; dtype drift: {drift}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
