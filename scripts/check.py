#!/usr/bin/env python3
"""Dev-only replica of the driver's correctness gate (NOT part of the library).

Usage: scripts/check.py <sfDir> <verifyOutDir>
  1. expects `sbt "runMain graft.Verify <sfDir> <outDir>"` was already run
  2. registers each testdata parquet as a DuckDB view named after the table
  3. runs every oracle_sql.json query and compares against the Spark parquet
     dump: Verify error marker, column names, column types (as DuckDB reads
     each side), row count, and exact values with columns sorted by name
     (mirrors the driver's hash-compare, which is type-sensitive).
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def fresh_con(sf_dir):
    """One connection per ORACLE query (r16): running all 193 oracles in
    a single long-lived DuckDB session accumulated enough allocator
    state at sf0.1 that the biggest query (q190's unrolled MMR) hit a
    spurious out-of-memory after ~190 predecessors, while the same SQL
    solo passes. Views are lazy — re-registering them per query costs
    microseconds and keeps every oracle's memory independent."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con

def col_types(rel):
    """{column: DuckDB type name} of a relation; binds, does not execute."""
    return dict(zip(rel.columns, (str(t) for t in rel.types)))

def run_oracle_isolated(sf_dir, sql):
    """Run one oracle in a child python (fresh address space) and ship
    the result back as a pickled DataFrame — the bounded-retry path for
    spurious allocator failures late in a long in-process sequence.
    Pickle, not parquet: the retry must produce the SAME frame
    con.execute(sql).df() would have (dtype-exact — a parquet roundtrip
    can remap DECIMAL/HUGEINT or NaN-vs-None and false-FAIL the
    compare). The SQL is never interpolated into an f-string (oracle
    text may legally contain braces); it arrives via stdin and is
    passed to execute() verbatim."""
    import subprocess, tempfile
    fd, out = tempfile.mkstemp(suffix=".pkl"); os.close(fd)
    code = (
        "import duckdb, sys, glob, os\n"
        "sf, out = sys.argv[1], sys.argv[2]\n"
        "sql = sys.stdin.read()\n"
        "con = duckdb.connect()\n"
        "for p in glob.glob(os.path.join(sf, '*.parquet')):\n"
        "    n = os.path.basename(p)[:-len('.parquet')]\n"
        "    con.execute(\"CREATE VIEW \" + n + \" AS SELECT * FROM '\""
        " + p + \"'\")\n"
        "con.execute(sql).df().to_pickle(out)\n")
    try:
        subprocess.run([sys.executable, "-c", code, sf_dir, out],
                       input=sql.encode(), check=True, capture_output=True)
        return pd.read_pickle(out)
    finally:
        os.unlink(out)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = 0
    for name, sql in sorted(oracle.items()):
        marker = os.path.join(out_dir, name + ".error")
        if os.path.exists(marker):
            # Verify failed this query; a parquet dump left by an earlier
            # run must not pass in its place
            print(f"FAIL {name}: verify error marker: "
                  f"{open(marker).read().strip()}")
            failures += 1; continue
        spark_files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not spark_files:
            print(f"FAIL {name}: no spark result parquet"); failures += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in spark_files])
        con = fresh_con(sf_dir)
        try:
            got_types = col_types(
                con.sql(f"SELECT * FROM read_parquet({spark_files!r})"))
            exp_types = col_types(con.sql(sql))
            exp = con.execute(sql).df()
        except Exception as e:
            if "Out of Memory" in str(e):
                # spurious in-sequence allocator failure (observed on
                # q190's 16 GB-peak oracle at sf0.1 after ~190
                # predecessors, while the same SQL solo passes with
                # >100 GB free): retry ONCE in an isolated subprocess —
                # a fresh address space, same exact value compare
                try:
                    exp = run_oracle_isolated(sf_dir, sql)
                except Exception as e2:
                    print(f"FAIL {name}: oracle sql error (isolated "
                          f"retry): {e2}"); failures += 1; continue
            else:
                print(f"FAIL {name}: oracle sql error: {e}")
                failures += 1; continue
        finally:
            con.close()  # also on failure — a leaked connection per
            # failing oracle re-accumulates exactly the allocator state
            # the per-query connection exists to shed
        got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
        exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            failures += 1; continue
        # The driver's hash is type-sensitive (q79/q80 once matched value
        # for value but failed on an uncast HUGEINT window sum), while the
        # pandas compare below is not (int64 1 == float64 1.0, Decimal
        # 1.5 == 1.5) — so a type mismatch fails here.
        bad_types = [(c, got_types[c], exp_types[c]) for c in got.columns
                     if got_types[c] != exp_types[c]]
        if bad_types:
            print(f"FAIL {name}: types (col, spark, oracle) {bad_types}")
            failures += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); failures += 1; continue
        # exact value compare (driver hashes values — no float tolerance)
        mismatch = None

        def _cell(v):
            # list-valued columns arrive as ndarray/list cells, whose ==
            # is elementwise (q102's DOUBLE[] centroids); normalize to
            # tuples so the compare stays scalar and exact
            if isinstance(v, (list, tuple)):
                return tuple(v)
            if type(v).__module__ == "numpy" and getattr(v, "ndim", 0) >= 1:
                return tuple(v.tolist())
            return v

        for c in got.columns:
            a, b = got[c].map(_cell), exp[c].map(_cell)
            try:
                eq = (a.astype("object").where(a.notna(), None)
                      == b.astype("object").where(b.notna(), None))
            except Exception:
                eq = pd.Series([False] * len(a))
            if not eq.all():
                i = int(eq.idxmin())
                mismatch = (c, i, a.iloc[i], b.iloc[i]); break
        if mismatch:
            c, i, av, bv = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={av!r} oracle={bv!r}")
            failures += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries pass")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
