#!/usr/bin/env python3
"""Local differential harness mimicking the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir] [query...]

1. Runs graft.Verify (this checkout's compiled classes + /opt/spark/jars) at sfdir -> outdir
2. Runs each oracle_sql.json entry in DuckDB over the same parquet tables
3. Compares: schema (sorted col names), row count, values (sorted rows,
   floats rounded to 6 sig places)
"""
import sys, os, json, subprocess, glob

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ONLY = set(sys.argv[3:])
SKIP_VERIFY = "--no-verify" in ONLY
ONLY.discard("--no-verify")

# this checkout's compiled classes, wherever it is
CLASSES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "target", "scala-2.13", "classes")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

def run_verify():
    cp = CLASSES + ":" + ":".join(
        glob.glob("/opt/spark/jars/*.jar"))
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx8g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.Verify", SFDIR, OUT]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print(r.stderr[-3000:])
        sys.exit(1)

def norm(v):
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6g}"
    return str(v)

def main():
    if not SKIP_VERIFY:
        run_verify()
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(f"{SFDIR}/*.parquet"):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    npass = nfail = 0
    for name, sql in sorted(oracles.items()):
        if ONLY and name not in ONLY:
            continue
        pdir = f"{OUT}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output"); nfail += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); nfail += 1; continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: cols {gc} != {ec}"); nfail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); nfail += 1; continue
        g = sorted(tuple(norm(v) for v in row) for row in got[gc].itertuples(index=False))
        e = sorted(tuple(norm(v) for v in row) for row in exp[ec].itertuples(index=False))
        if g != e:
            bad = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {bad}"); nfail += 1; continue
        npass += 1
        print(f"PASS {name} ({len(got)} rows)")
    print(f"== {npass} pass / {nfail} fail ==")
    # zero comparisons is itself a failure — a filter typo must not read green
    sys.exit(1 if (nfail or npass == 0) else 0)

main()
