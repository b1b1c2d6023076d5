"""Independent CC/canonical differential check for large fixtures.

The DuckDB oracle for `dedup_connected_components` / `dedup_canonical`
computes the transitive closure with a recursive CTE that materializes
EVERY (node, reachable-label) pair — O(sum of component size squared)
rows.  On the sf10 fixture the dup graph has 44.3 M banded pairs over
175 k nodes, so the closure is computationally infeasible (hours of
DuckDB time, unbounded spill).  This checker verifies the same two
queries with the same independence guarantee at a cost linear in the
edge count:

  1. DuckDB evaluates the oracle's own NON-recursive `pairs` CTE
     (tokenize -> shingle -> MinHash signature -> banded self-join),
     extracted verbatim from `oracle_sql()` — the entire data pipeline
     is still the oracle's SQL, not Spark's.
  2. numpy min-label propagation with pointer jumping replaces only
     the recursive CTE (same fixpoint: component = MIN reachable id).
  3. The canonical winner rule is replayed off the same arrays
     (row_number() == 1 over PARTITION BY component
      ORDER BY n_chars DESC, doc_id; singletons canonical).
  4. Both Spark query outputs are compared EXACTLY (every row).

Usage: python tools/check_cc_independent.py [sf_dir]
"""
from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import duckdb
    import numpy as np

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["dedup_connected_components"]
    pairs_sql = re.search(r"WITH\s+RECURSIVE\s+pairs\s+AS\s*\((.*?)\)\s*,"
                          r"\s*edges\s+AS\b", sql, re.S | re.I).group(1)

    con = duckdb.connect()
    con.execute("SET memory_limit = '"
                + os.environ.get("SPARK_GRAFT_ORACLE_MEM", "24GB") + "'")
    con.execute("SET threads = "
                + os.environ.get("SPARK_GRAFT_ORACLE_THREADS", "16"))
    con.execute("SET temp_directory = '/tmp/duckdb_indep_spill'")
    for t in entry._TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    t0 = time.time()
    ab = con.execute(pairs_sql).fetchnumpy()
    a = ab["id_a"].astype(np.int64)
    b = ab["id_b"].astype(np.int64)
    print(f"oracle pairs CTE: {len(a)} pairs in {time.time()-t0:.1f} s",
          flush=True)
    nc = con.execute("SELECT doc_id, n_chars FROM documents").fetchnumpy()

    # --- components: min-label propagation + pointer jumping ---
    t0 = time.time()
    ids = np.unique(np.concatenate([a, b]))
    ia = np.searchsorted(ids, a)
    ib = np.searchsorted(ids, b)
    lab = np.arange(len(ids), dtype=np.int64)
    for _ in range(200):
        old = lab.copy()
        m = np.minimum(lab[ia], lab[ib])
        np.minimum.at(lab, ia, m)
        np.minimum.at(lab, ib, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(old, lab):
            break
    comp = ids[lab]
    print(f"components: {len(np.unique(lab))} over {len(ids)} nodes "
          f"in {time.time()-t0:.1f} s", flush=True)
    expected_cc = dict(zip(ids.tolist(), comp.tolist()))

    # --- canonical winner rule over ALL documents ---
    doc_ids = nc["doc_id"].astype(np.int64)
    nch = nc["n_chars"].astype(np.int64)
    if len(ids):
        pos = np.minimum(np.searchsorted(ids, doc_ids), len(ids) - 1)
        comp_all = np.where(ids[pos] == doc_ids, comp[pos], doc_ids)
    else:  # no edges: every document is a canonical singleton
        comp_all = doc_ids
    order = np.lexsort((doc_ids, -nch))  # n_chars DESC, doc_id ASC
    _, first_pos = np.unique(comp_all[order], return_index=True)
    is_canon = np.zeros(len(doc_ids), dtype=np.int64)
    is_canon[order[first_pos]] = 1
    expected_canon = {int(d): (int(c), int(k))
                      for d, c, k in zip(doc_ids, comp_all, is_canon)}

    # --- Spark side, exact comparison ---
    from benthos_spark.session import get_spark
    spark = get_spark("cc-independent-check")
    qs = entry.base_queries()
    rows = qs["dedup_connected_components"](spark, sf_dir).collect()
    got = {r["doc_id"]: r["component"] for r in rows}
    bad = ([("rowcount", len(got), len(expected_cc))]
           if len(got) != len(expected_cc) else
           [(k, got[k], expected_cc[k])
            for k in got if got[k] != expected_cc.get(k)])
    print(f"dedup_connected_components: {len(rows)} rows, "
          f"{len(bad)} mismatches {bad[:3]}", flush=True)

    rows2 = qs["dedup_canonical"](spark, sf_dir).collect()
    got2 = {r["doc_id"]: (r["component"], r["is_canonical"])
            for r in rows2}
    bad2 = ([("rowcount", len(got2), len(expected_canon))]
            if len(got2) != len(expected_canon) else
            [(k, got2[k], expected_canon[k])
             for k in got2 if got2[k] != expected_canon.get(k)])
    print(f"dedup_canonical: {len(rows2)} rows, "
          f"{len(bad2)} mismatches {bad2[:3]}", flush=True)
    spark.stop()

    ok = not bad and not bad2
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
