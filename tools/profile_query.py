"""Per-query profiling harness for the optimization rounds.

For each named base query: run it through the noop sink N times
(min reported, like bench.py), and optionally dump
`.explain("formatted")` to a file so plan claims are auditable.

Usage:
  python tools/profile_query.py [--sf DIR] [--passes N] [--plans OUTDIR] q1 q2 ...
  python tools/profile_query.py --all            # every base query
Prints one line per query: min / all timings.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>.txt explain dumps")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for plan dumps, e.g. _before")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from benthos_spark.session import get_spark

    spark = get_spark("profile")
    qs = entry.base_queries()
    names = list(qs) if args.all else args.queries
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # same warmup as bench.py so first-query numbers are comparable
    from pyspark.sql import functions as F
    for t in ("lineitem", "orders", "customer", "documents",
              "embeddings", "events"):
        spark.read.parquet(f"{args.sf}/{t}.parquet").count()
    spark.range(0, 1 << 20).groupBy(
        F.pmod(F.col("id"), F.lit(32))).count().collect()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    sc = spark.sparkContext
    for name in names:
        fn = qs[name]
        runs = []
        njobs = nstages = 0
        for p in range(args.passes):
            sc.setJobGroup(f"prof_{name}_{p}", f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            if p == args.passes - 1:  # job/stage count of the warm pass
                tracker = sc.statusTracker()
                jids = tracker.getJobIdsForGroup(f"prof_{name}_{p}")
                njobs = len(jids)
                for j in jids:
                    ji = tracker.getJobInfo(j)
                    if ji:
                        nstages += len(ji.stageIds)
        sc.setJobGroup(None, None)
        if args.plans:
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(
                    args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
        print(f"{min(runs):8.3f}  {name}  jobs={njobs} stages={nstages} "
              f"runs={runs}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
