#!/usr/bin/env python3
"""Regenerate perfbench/ops_mix_expected.tsv and cross-check it against DuckDB.

    python3 perfbench/tools/fingerprints.py

Run from the root of a checkout. Builds like perfbench/run.py, runs every
SparkEntry.queries entry on the fixed ops_mix fixtures (graft.perfbench.
GenFingerprints), then compares each result that has a SparkEntry.oracleSql
entry with DuckDB, using the repository's tools/check_oracle.py (needs the
duckdb and pandas modules). Takes tens of minutes on 4 cores.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def main():
    classpath = run.build(run.source_hash())
    work = os.path.join(run.STATE, "fingerprints")
    dump = os.path.join(work, "dump")
    flat = os.path.join(work, "flat")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(dump)
    out = os.path.join(run.BENCH, "ops_mix_expected.tsv")
    env, cmd = run.java_command(classpath, work, "graft.perfbench.GenFingerprints",
                                ["--work", work, "--out", out, "--dump", dump,
                                 "--flat", flat])
    subprocess.run(cmd, cwd=run.ROOT, env=env, check=True)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                            flat, dump], cwd=run.ROOT)
    print(f"DuckDB cross-check exit {check.returncode}; dump kept in {dump}", file=sys.stderr)
    return check.returncode


if __name__ == "__main__":
    sys.exit(main())
