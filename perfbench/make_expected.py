#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the results every benchmark run is
checked against. Run it from the repository root when the engine's results
are meant to change:

  python3 perfbench/make_expected.py

It builds the benchmark and its tables as run.py does, then
  1. runs every query of every pool twice, in two fresh JVMs
     (perfbench.Expect), recording row count, order-insensitive hash and
     single-run seconds;
  2. dumps every query result with graft.Verify and replays each query's
     oracle SQL in DuckDB with tools/local_oracle.py, recording pass/fail;
  3. marks as rows-only every query whose hash differs between the two
     runs (its result bits are not reproducible), with the reason.
Queries whose oracle replay fails are recorded as such; the expected hash
is still the engine's own result at this commit.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TIMEOUT_S = 3600


def main():
    classpath = run.build()
    data = run.tables()
    runs = []
    for i in (1, 2):
        d = os.path.join(run.WORK, f"expect-{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        out = os.path.join(d, "expect.json")
        if run.jvm(classpath, [data, out], os.path.join(d, "expect.log"), d,
                   main="perfbench.Expect", timeout=TIMEOUT_S) != 0:
            run.die(f"perfbench.Expect failed (see {d}/expect.log)")
        runs.append(json.load(open(out)))

    d = os.path.join(run.WORK, "verify")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if run.jvm(classpath, [data, os.path.join(d, "out")], os.path.join(d, "verify.log"), d,
               main="graft.Verify", timeout=TIMEOUT_S) != 0:
        run.die(f"graft.Verify failed (see {d}/verify.log)")
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "local_oracle.py"),
         os.path.join(d, "out"), data], capture_output=True, text=True).stdout
    verdict = {m.group(2): m.group(1).lower()
               for m in re.finditer(r"^(PASS|FAIL) (\S+?):?\s", oracle, re.M)}

    first, second = runs
    results, rows_only = {}, {}
    for q in sorted(first):
        a, b = first[q], second[q]
        if a["error"] or b["error"]:
            run.die(f"{q} failed: {a['error'] or b['error']}")
        if a["rows"] != b["rows"]:
            run.die(f"{q}: row count differs between runs ({a['rows']} vs {b['rows']})")
        if a["hash"] != b["hash"]:
            rows_only[q] = "result bits differ between two runs of this commit"
        results[q] = {"rows": a["rows"], "hash": a["hash"],
                      "oracle": verdict.get(q, "none"),
                      "seconds": round(min(a["seconds"], b["seconds"]), 3)}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"rows_only": rows_only, "results": results}, f, indent=1, sort_keys=True)
        f.write("\n")
    n = {v: sum(r["oracle"] == v for r in results.values()) for v in ("pass", "fail", "none")}
    print(f"{len(results)} queries; oracle {n}; rows-only {sorted(rows_only)}")


if __name__ == "__main__":
    main()
