#!/usr/bin/env python3
"""Local correctness harness mirroring the driver's t2 gate.

Runs graft.Verify (compiled classes + /opt/spark/jars) at a given SF dir,
then for each query: loads the Spark result parquet, runs the declared
oracle SQL in DuckDB (tables exposed as views over the same parquet), and
compares values with columns sorted by name and rows sorted by all columns.

Usage: python3 scripts/check.py [sfdir] [--skip-verify] [-q name ...]
"""
import json, math, subprocess, sys, glob, os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith('-') \
    else '/root/testdata/sf0.01'
# per-SF default dump dir: two concurrent checks at different SFs would
# otherwise clobber each other's dumps and report phantom hash mismatches
OUT = os.environ.get('GRAFT_VERIFY_OUT',
                     '/tmp/graft_verify_' + os.path.basename(SF.rstrip('/')))
ONLY = [a for i, a in enumerate(sys.argv) if i and sys.argv[i-1] == '-q']

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]


def run_verify():
    import shutil
    shutil.rmtree(OUT, ignore_errors=True)
    cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(
        glob.glob("/opt/spark/jars/*.jar"))
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx8g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Verify", SF, OUT])
    r = subprocess.run(cmd, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if '[verify]' in line or 'Exception' in line:
            print(line)
    if r.returncode != 0:
        print(r.stderr[-4000:])
        sys.exit(f"Verify failed rc={r.returncode}")
    open(f"{OUT}/.sfdir", "w").write(SF)


def canon(rows, cols):
    """Column-name-sorted, row-sorted, nan-normalized value matrix."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return (0, '')
        if isinstance(v, float):
            if math.isnan(v):
                return (1, 'nan')
            return (2, repr(v))
        return (2, str(v))
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def main():
    import duckdb
    if '--skip-verify' not in sys.argv:
        run_verify()
    else:
        dumped = open(f"{OUT}/.sfdir").read() if \
            os.path.exists(f"{OUT}/.sfdir") else '?'
        if dumped != SF:
            sys.exit(f"stale dump: {OUT} was produced from {dumped}, "
                     f"not {SF} — rerun without --skip-verify")
    con = duckdb.connect()
    for t in glob.glob(f"{SF}/*.parquet"):
        name = os.path.basename(t).replace('.parquet', '')
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = sorted(os.listdir(OUT))
    fails = 0
    # queries that threw inside Verify, with their messages
    failed_path = f"{OUT}/failures.json"
    failed = json.load(open(failed_path)) if os.path.exists(failed_path) else {}
    for name, msg in failed.items():
        print(f"✗ {name:34s} FAILED IN VERIFY: {msg[:300]}")
    # a query that crashed inside Verify has an oracle but no dump — that
    # must FAIL loudly, not silently drop out of the comparison
    for name in oracle:
        if name not in results and not ONLY:
            print(f"✗ {name:34s} NO RESULT DUMP (query failed in Verify?)")
            fails += 1
    for name in results:
        if name in ('oracle_sql.json', 'failures.json') or name.startswith('.') \
                or (ONLY and name not in ONLY):
            continue
        got_rel = con.sql(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        gcols, grows = canon(got_rel.fetchall(), got_rel.columns)
        if name not in oracle:
            print(f"  {name:34s} rows={len(grows):6d}  (no oracle: rows-only)")
            continue
        try:
            exp_rel = con.sql(oracle[name])
            ecols, erows = canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:
            print(f"✗ {name:34s} ORACLE SQL ERROR: {e}")
            fails += 1
            continue
        if gcols != ecols:
            print(f"✗ {name:34s} SCHEMA got={gcols} exp={ecols}")
            fails += 1
        elif grows != erows:
            fails += 1
            diff = [(g, e) for g, e in zip(grows, erows) if g != e]
            print(f"✗ {name:34s} rows got={len(grows)} exp={len(erows)} "
                  f"first-diffs={diff[:2]}")
        else:
            print(f"✓ {name:34s} rows={len(grows):6d} cols={len(gcols)}")
    print("FAIL" if fails else "ALL OK", f"({fails} failing)" if fails else "")
    sys.exit(1 if fails else 0)


main()
