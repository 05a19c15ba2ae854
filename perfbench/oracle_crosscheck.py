#!/usr/bin/env python3
"""Records the registry slice's results from outputs the DuckDB oracles
passed. Run from the repository root (needs duckdb and pandas):

    python3 perfbench/oracle_crosscheck.py [sf]

Generates the registry tables at scale `sf` (default 0.001), runs the
slice's queries through graft.Verify (one parquet output per query plus
the oracle SQL) and compares every output with its oracle through
tools/check_oracle.py. Only if all pass does it print, on stdout, one
perfbench/registry_expected.tsv line per query (scale, query, row count,
order-free hash); on stderr it says whether each line matches the recorded
one. Scratch files go to .bench_work/crosscheck/.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build and JVM flags)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "0.001"
    cp = run.build()
    work = os.path.join(run.WORK, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    tables, out, tmp = (os.path.join(work, d) for d in ("tables", "verify", "tmp"))
    os.makedirs(tables)
    os.makedirs(tmp)

    def java(*args, **kw):
        return subprocess.run(["java", *run.ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
                               f"-Djava.io.tmpdir={tmp}",
                               "-cp", cp, *args], check=True, stdin=subprocess.DEVNULL, **kw)

    expected, names = {}, set()
    for line in open(os.path.join(run.BENCH, "registry_expected.tsv")):
        if not line.startswith("#"):
            s, q, rows, h = line.rstrip("\n").split("\t")
            names.add(q)
            if float(s) == float(sf):
                expected[q] = (rows, h)
    queries = ",".join(sorted(names))
    java("graft.perfbench.WriteTables", tables, sf)
    java("graft.Verify", tables, out, queries)
    oracle = subprocess.run(["python3", os.path.join(run.ROOT, "tools", "check_oracle.py"),
                             tables, out], stdout=sys.stderr)
    if oracle.returncode:
        sys.exit("oracle check failed: nothing recorded")
    got = java("graft.perfbench.HashOutputs", out, queries, capture_output=True, text=True).stdout
    bad = 0
    for line in got.splitlines():
        q, rows, h = line.split("\t")
        print(f"{sf}\t{q}\t{rows}\t{h}")
        ok = expected.get(q) == (rows, h)
        bad += not ok
        print(f"[{q}] recorded {'OK' if ok else f'MISMATCH {expected.get(q)} vs {(rows, h)}'}",
              file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
