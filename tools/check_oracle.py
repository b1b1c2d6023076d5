"""Local differential check: run each __spark_entry__ query against its
DuckDB oracle at a given SF, compare row count, column names, and
order-insensitive values (mimics the driver's correctness gate).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                # bitwise compare is the goal; repr keeps full precision
                vals.append(repr(v))
            elif hasattr(v, "quantize"):  # Decimal from duckdb
                vals.append(repr(float(v)))
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    import os

    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Data-dependent oracle builders (IVF/SemDeDup centroids) train on
    # this dir so their SQL literals match the Spark queries' per-sf
    # training — must be exported BEFORE the entry module is imported.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entry
    from benthos_spark.session import get_spark

    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # DuckDB's default memory_limit assumes it owns ~80% of the box,
    # but it shares this process with a Spark JVM whose heap may take
    # half the RAM (get_spark's default) — at sf1 the big ANN oracles
    # then die with bad_alloc instead of spilling.  Bound it
    # (overridable) so DuckDB spills to disk under pressure.
    con.execute("SET memory_limit = '"
                + os.environ.get("SPARK_GRAFT_ORACLE_MEM", "24GB")
                + "'")
    con.execute("SET threads = "
                + os.environ.get("SPARK_GRAFT_ORACLE_THREADS", "16"))
    con.execute("SET temp_directory = '/tmp/duckdb_oracle_spill'")
    for t in entry._TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # sharded table (gen_scale_data layout)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols_raw = [d[0] for d in res.description]
            drows_raw = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        dcols = sorted(dcols_raw)
        drows = [dict(zip(dcols_raw, r)) for r in drows_raw]
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            continue
        sn = normalize(srows, scols)
        dn = normalize(drows, dcols)
        if sn != dn:
            bad = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs:")
            for a, b in bad:
                print(f"   spark={a}")
                print(f"   duck ={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
