#!/usr/bin/env python3
"""Regenerate perfbench/manifest.json, the expected output of every
workload query.

    python3 perfbench/make_manifest.py

Runs every query of every workload, measured or deferred, twice in one
JVM and records each output's order-insensitive digest
(perfbench/src/main/scala/perfbench/Digest.scala); a digest that differs
between the two runs is marked unstable. Then the program's own
graft.Verify writes the same queries' outputs and dev/check.py compares
each one that has a DuckDB oracle twin (graft.SparkEntry.oracleSql)
against DuckDB; a query without a twin gets check.py's rows-only check.
A disagreement is recorded in the manifest and printed; the query stays
in its workload.
"""
import json
import re
import shutil
import subprocess
import sys

import run

CHECK = run.ROOT / "dev" / "check.py"


def oracle_verdicts(check_stdout, names):
    """Map query name -> manifest verdict from dev/check.py's report."""
    verdicts = {}
    for line in check_stdout.splitlines():
        m = re.match(r"(\S+)\s+(\w+)(.*)$", line)
        if not m or m.group(2) not in names:
            continue
        status, q = m.group(1), m.group(2)
        if status == "OK":
            verdicts[q] = "match"
        elif status == "ROWS_ONLY":
            verdicts[q] = "rows-only"
        elif status == "EMPTY!":
            verdicts[q] = "rows-only: EMPTY"
        else:
            verdicts[q] = f"DISAGREES: {line.strip()}"
    return verdicts


def main():
    if not run.program_present() or not CHECK.is_file():
        run.die(2, "program sources or dev/check.py not found; run from a full checkout")
    spec = json.loads(run.SPEC.read_text())
    classpath = run.build()
    run_dir = run.make_run_dir()
    verify_out = run_dir / "verify"
    try:
        code, lines = run.run_jvm(spec, classpath, run_dir,
                                  run.harness(spec, run_dir, "--mode", "manifest"), 3600)
        if code != 0 or not lines:
            run.die(1, f"manifest run failed with code {code}")
        found = json.loads(lines[-1])
        code, _ = run.run_jvm(spec, classpath, run_dir, [
            "graft.Verify", run.sf_dir(spec), str(verify_out), ",".join(sorted(found))], 3600)
        if code != 0:
            run.die(1, f"graft.Verify failed with code {code}")
        check = subprocess.run([sys.executable, str(CHECK), str(verify_out), run.sf_dir(spec)],
                               stdout=subprocess.PIPE, text=True)
        verdicts = oracle_verdicts(check.stdout, set(found))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    queries, problems = {}, []
    for q, r in sorted(found.items()):
        entry = {k: r[k] for k in ("rows", "digest", "stable", "error") if k in r}
        if "error" in r:
            problems.append(f"{q}: failed: {r['error']}")
        elif not r["stable"]:
            problems.append(f"{q}: digest differs between two runs in one JVM")
        entry["oracle"] = verdicts.get(q, "DISAGREES: graft.Verify wrote no output")
        if entry["oracle"].startswith("DISAGREES"):
            problems.append(f"{q}: oracle {entry['oracle']}")
        print(f"{entry['oracle']:40.40s} {q} rows={entry.get('rows')}")
        queries[q] = entry
    run.MANIFEST.write_text(json.dumps({
        "commit": run.git_commit(), "sf_dir": spec["sf_dir"], "nproc": run.cpus(),
        "queries": queries}, indent=1) + "\n")
    n_match = sum(1 for e in queries.values() if e["oracle"] == "match")
    n_rows = sum(1 for e in queries.values() if e["oracle"].startswith("rows-only"))
    print(f"{len(queries)} queries: {n_match} match their oracle, {n_rows} rows-only, "
          f"{len(problems)} listed below")
    for p in problems:
        print(f"  {p}")


if __name__ == "__main__":
    sys.exit(main())
