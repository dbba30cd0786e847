#!/usr/bin/env python3
"""Dev-only local replica of the driver's t2 correctness gate.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query parquet in outDir, executes the matching oracle SQL from
oracle_sql.json in DuckDB against the same sf tables and compares
(rows, schema-ish, values). Uses driver-side-only tools (duckdb/pandas)
— this script is not part of the shipped library.

Usage: python3 scripts/selfcheck.py <sfDir> <outDir> [--json artifact.json]
       --json writes the per-query statuses in the CORRECTNESS_GEN*_r{N}
       artifact shape ({"queries": {...}, "sf_dir": ..., "summary": ...}).
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def driver_hash(df: pd.DataFrame):
    """Emulate the driver's hash: sort columns by name, sort rows by all
    columns, hash values dtype-sensitively (int64 vs float64 differ, like
    the driver; array/bytearray cells raise, like the driver). Hashing with
    index=True after the row sort makes the hash order-sensitive, so the
    canonical sort is load-bearing (a plain sum would be multiset-only and
    could in principle collide across different multisets)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if df.shape[1]:  # sort_values(by=[]) raises on a zero-column frame
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return pd.util.hash_pandas_object(df, index=True).sum()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values for hashing
    def cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return float(v)
        if hasattr(v, "tolist"):  # numpy arrays / lists
            return tuple(v.tolist())
        return v
    return df.map(cell)


# ---- iterative transitive closure -----------------------------------
#
# The three closure oracles (dedup_clusters / dedup_keep_best /
# pipeline_dedup_pack) are authored as one recursive CTE, which DuckDB
# evaluates by materializing every (node, reachable-label) fact — at a
# 250k-pair list that is the full transitive reach set and exhausts
# memory. This replays the SAME oracle semantics iteratively: the pair
# list and the min-label fixpoint go through temp tables (hook to the
# min neighbor label + pointer-jump each round, O(log n) rounds, each a
# plain join), then the oracle's own tail SQL runs against the computed
# `labels` table. Engaged only when the statement matches the shared
# closure-CTE prefix; anything else executes verbatim.
_EDGES_CTE = ("edges AS (SELECT doc_a AS u, doc_b AS v FROM p "
              "UNION ALL SELECT doc_b, doc_a FROM p),")
_LABELS_CTE = ("labels AS (SELECT id, MIN(lab) AS cluster_keeper "
               "FROM reach GROUP BY id),")


# closure-CTE oracles whose text drifted off the iterative-replay prefix
# and ran verbatim (memory-unsafe at large pair lists) — recorded into
# the JSON artifact so the hazard survives past a scrolled-away stderr
DRIFTED_CLOSURE = []


def run_oracle(con, sql: str, name: str = "?"):
    if not (sql.startswith("WITH RECURSIVE p AS (")
            and _EDGES_CTE in sql and _LABELS_CTE in sql):
        if sql.startswith("WITH RECURSIVE p AS ("):
            # the Scala-side closure SQL drifted away from the replay
            # prefix: falling back to the recursive CTE silently loses
            # the iterative path (and exhausts memory at a sf~1 pair
            # list) — execute verbatim but say so, loudly and durably
            DRIFTED_CLOSURE.append(name)
            print(f"WARNING: {name} starts with the closure-CTE prefix "
                  "but does not match the iterative-replay shape; "
                  "executing the recursive CTE verbatim (memory-unsafe "
                  "at large pair lists). Re-sync _EDGES_CTE/_LABELS_CTE "
                  "with the Scala oracle SQL.", file=sys.stderr)
        return con.execute(sql).fetchdf()
    # the whole rewrite — temp-table creation, fixpoint loop, tail — sits
    # inside one try/finally: an exception mid-loop must not leak
    # p/edges/lbl/lbl2 onto the shared connection (a later query named
    # like one of these would silently read stale state)
    try:
        head, rest = sql.split(_EDGES_CTE, 1)
        _reach, tail = rest.split(_LABELS_CTE, 1)
        pairs_sql = head[len("WITH RECURSIVE p AS ("):].rstrip()
        assert pairs_sql.endswith("),"), "unexpected closure-oracle shape"
        pairs_sql = pairs_sql[:-2]
        con.execute("CREATE OR REPLACE TEMP TABLE p AS " + pairs_sql)
        con.execute("CREATE OR REPLACE TEMP TABLE edges AS "
                    "SELECT doc_a AS u, doc_b AS v FROM p "
                    "UNION ALL SELECT doc_b, doc_a FROM p")
        con.execute("CREATE OR REPLACE TEMP TABLE lbl AS "
                    "SELECT DISTINCT u AS id, u AS lab FROM edges")
        while True:
            con.execute("""CREATE OR REPLACE TEMP TABLE lbl2 AS
                WITH hooked AS (
                  SELECT l.id, LEAST(l.lab, COALESCE(MIN(nl.lab), l.lab)) AS lab
                  FROM lbl l
                  LEFT JOIN edges e ON e.u = l.id
                  LEFT JOIN lbl nl ON nl.id = e.v
                  GROUP BY l.id, l.lab)
                SELECT h.id, COALESCE(j.lab, h.lab) AS lab
                FROM hooked h LEFT JOIN hooked j ON j.id = h.lab""")
            changed = con.execute(
                "SELECT count(*) FROM lbl2 a JOIN lbl b USING (id) "
                "WHERE a.lab <> b.lab").fetchone()[0]
            con.execute("CREATE OR REPLACE TEMP TABLE lbl AS SELECT * FROM lbl2")
            if changed == 0:
                break
        con.execute("CREATE OR REPLACE TEMP TABLE labels AS "
                    "SELECT id, lab AS cluster_keeper FROM lbl")
        return con.execute("WITH " + tail.strip()).fetchdf()
    finally:
        for t in ("labels", "lbl2", "lbl", "edges", "p"):
            con.execute(f"DROP TABLE IF EXISTS {t}")


def main(sf_dir: str, out_dir: str, json_out=None) -> int:
    con = duckdb.connect()
    # big-fixture replays (gen100x/gen1000x) share the box with Spark
    # runs; an explicit budget keeps DuckDB's default (80% of RAM) from
    # OOM-evicting everything else mid-gate
    mem = os.environ.get("SELF_CHECK_DUCKDB_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    # big-fixture replays can also be CPU-budgeted so a long oracle run
    # can share the box with timed Spark work (DuckDB defaults to all
    # cores)
    thr = os.environ.get("SELF_CHECK_DUCKDB_THREADS")
    if thr:
        con.execute(f"SET threads={int(thr)}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table (a directory of part files), e.g. the
            # GenScaledCorpus fixtures — DuckDB needs the glob form
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    # SELF_CHECK_ONLY: comma-separated query names, trailing '*' for a
    # prefix — the same semantics as the harness's SPARK_GRAFT_ONLY. Used
    # to resume a long big-fixture replay after a per-query fix without
    # redoing hours of already-passed oracles (partial artifacts are then
    # merged by the caller).
    only_spec = os.environ.get("SELF_CHECK_ONLY")
    def _selected(name):
        if not only_spec:
            return True
        return any(name.startswith(p[:-1]) if p.endswith("*") else name == p
                   for p in (x.strip() for x in only_spec.split(",")) if p)

    n_pass = n_fail = n_noora = 0
    results = {}
    # an oracle key without an output directory is a query that crashed
    # (Verify deletes each query's directory before running it) or never
    # ran: it fails, rather than silently shrinking the compared set
    for name in sorted(oracles):
        if _selected(name) and not os.path.isdir(os.path.join(out_dir, name)):
            print(f"[   MISSING] {name}: oracle SQL but no output directory")
            n_fail += 1
            results[name] = {"rows": None, "status": "missing"}
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        if not os.path.isdir(qdir):
            continue
        name = os.path.basename(qdir)
        if not _selected(name):
            continue
        got = pd.read_parquet(qdir)
        if name not in oracles:
            # the driver still sorts/hashes the spark result for rows-only
            # queries — an array-typed output column crashes its comparator
            try:
                driver_hash(got)
                status = "ROWS_ONLY" if len(got) > 0 else "ROWS_ONLY_EMPTY"
                print(f"[{status:>10}] {name}: rows={len(got)}")
                n_noora += 1
                results[name] = {"rows": len(got), "status": "rows_only"}
            except Exception as err:
                print(f"[      FAIL] {name}: rows-only result not driver-hashable: {err}")
                n_fail += 1
                results[name] = {"rows": len(got), "status": "fail"}
            continue
        try:
            exp = run_oracle(con, oracles[name], name)
        except Exception as e:
            print(f"[ ORA_ERROR] {name}: {e}")
            n_fail += 1
            results[name] = {"rows": len(got), "status": "ora_error"}
            continue
        g, e = norm(got), norm(exp)
        ok_cols = list(g.columns) == list(e.columns)
        ok_rows = len(g) == len(e)
        ok_vals = False
        if ok_cols and ok_rows:
            try:
                pd.testing.assert_frame_equal(
                    g.reset_index(drop=True), e.reset_index(drop=True),
                    check_dtype=False, check_exact=True)
                ok_vals = True
            except AssertionError as err:
                detail = str(err).splitlines()[0]
        if ok_vals:
            try:
                if driver_hash(got) != driver_hash(exp):
                    ok_vals = False
                    detail = "driver-style hash mismatch (dtype drift? " + \
                        f"spark={dict(got.dtypes.astype(str))} duck={dict(exp.dtypes.astype(str))})"
            except Exception as err:
                ok_vals = False
                detail = f"driver-style hash raised: {err}"
        results[name] = {"rows": len(g),
                         "status": "pass" if (ok_cols and ok_rows and ok_vals) else "fail"}
        if ok_cols and ok_rows and ok_vals:
            print(f"[      PASS] {name}: rows={len(g)}")
            n_pass += 1
        else:
            print(f"[      FAIL] {name}: cols_ok={ok_cols} rows {len(g)} vs {len(e)}")
            if ok_cols and ok_rows:
                print(f"             {detail}")
            if not ok_cols:
                print(f"             spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1
    print(f"\npass={n_pass} fail={n_fail} rows_only={n_noora}")
    if DRIFTED_CLOSURE:
        print(f"WARNING: closure oracles ran VERBATIM (prefix drift, see "
              f"stderr above): {', '.join(sorted(set(DRIFTED_CLOSURE)))}")
    if json_out:
        art = {"queries": dict(sorted(results.items())), "sf_dir": sf_dir,
               "summary": f"pass={n_pass} fail={n_fail} rows_only={n_noora}"}
        if only_spec:
            # a filtered replay must be self-identifying: pass/fail totals
            # cover only the SELF_CHECK_ONLY subset, and a json_out write
            # would otherwise be indistinguishable from a full gate (the
            # caller merges partials; consumers check this flag)
            art["partial"] = True
            art["self_check_only"] = only_spec
        if DRIFTED_CLOSURE:
            art["closure_prefix_drift"] = sorted(set(DRIFTED_CLOSURE))
        with open(json_out, "w") as f:
            json.dump(art, f, indent=1, sort_keys=False)
            f.write("\n")
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    jout = None
    argv = sys.argv[1:]
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: selfcheck.py <sf_dir> <out_dir> [--json PATH]")
        jout = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if len(argv) != 2:
        sys.exit("usage: selfcheck.py <sf_dir> <out_dir> [--json PATH]")
    sys.exit(main(argv[0], argv[1], json_out=jout))
