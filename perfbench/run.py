#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each was chosen):
  olap_mix           8 cost-stratified relational/analytics queries
  corpus_mix         5 cost-stratified LLM-corpus queries (queries/LlmOps.scala)
  table_maintenance  3 queries that commit through graft.catalog
  ingest_train       serialize -> deserialize/train through service.ControlPlane

The script builds the engine and the benchmark from source with sbt (once
per source state), generates the benchmark's tables (once), runs the
workload in its own JVM on local[N] with N = nproc, checks every result
against perfbench/expected.json, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run. Everything it writes stays under
perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("olap_mix", "corpus_mix", "table_maintenance", "ingest_train")


def _metrics(kind):
    """Metric name -> unit, as BENCHMARK.json at the repository root lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Djava.awt.headless=true",
    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    f"-Dspark.local.dir={os.path.join(WORK, 'tmp')}"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    """Content hash of every file under `paths` (files or directories)."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main")]
    if not all(os.path.exists(p) for p in sources):
        die("engine sources (build.sbt, src/main) not found next to perfbench/")
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    key = digest(sources)
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(key)
    return lines[-1].strip()


def tables():
    """Generate the benchmark's tables once per generator version."""
    gen = os.path.join(HERE, "gen_tables.py")
    out, stamp = os.path.join(WORK, "tables"), os.path.join(WORK, "tables.stamp")
    key = digest([gen, os.path.join(ROOT, "tools", "gen_fixtures.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True, timeout=300)
        with open(stamp, "w") as f:
            f.write(key)
    return out


def jvm(classpath, args, log_path, cwd, main="perfbench.Main", timeout=RUN_TIMEOUT_S):
    """Run JVM class `main` with `args` in `cwd`; return its exit code."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(["java", *JVM_OPTS, "-cp", classpath, main, *args],
                                cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{main} did not finish within {timeout} s (see {log_path})")


def engine_dir(classpath, data):
    """The JVMs' working directory. Its spark-warehouse holds the ingested
    layout (bucketed tables, IVF and dedup indexes) that SparkEntry.prepare
    builds; it is built once per engine build and table set, untimed, and
    every run's set-up re-attaches to it."""
    d = os.path.join(WORK, "engine")
    stamp = os.path.join(WORK, "engine.stamp")
    key = open(os.path.join(WORK, "build.stamp")).read() + open(
        os.path.join(WORK, "tables.stamp")).read()
    if os.path.exists(stamp) and open(stamp).read() == key:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    out = os.path.join(d, "prime.json")
    code = jvm(classpath, ["--workload", "prime", "--seed", "0", "--seconds", "0",
                           "--trace", "0", "--data", data, "--work", d, "--out", out],
               os.path.join(d, "prime.log"), d)
    if code != 0 or not os.path.exists(out):
        die(f"priming the engine's warehouse failed (see {d}/prime.log)")
    print(f"primed the warehouse in {json.load(open(out))['prime_s']:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(key)
    return d


def check_results(result):
    """Compare each query check with expected.json; return the mismatches."""
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    rows_only = expected["rows_only"]
    bad = []
    for c in result.get("checks", []):
        want = expected["results"].get(c["query"])
        if want is None:
            bad.append(f"{c['query']}: no expected result")
        elif c["rows"] != want["rows"]:
            bad.append(f"{c['query']}: {c['rows']} rows, expected {want['rows']}")
        elif c["query"] not in rows_only and c["hash"] != want["hash"]:
            bad.append(f"{c['query']}: hash {c['hash']}, expected {want['hash']}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    data = tables()
    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cwd = engine_dir(classpath, data)
    out = os.path.join(run_dir, "result.json")
    code = jvm(classpath, ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace),
                           "--data", data, "--work", run_dir, "--out", out],
               os.path.join(run_dir, "jvm.log"), cwd)
    if code != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited with {code} (see {run_dir}/jvm.log)")
    with open(out) as f:
        result = json.load(f)

    errors = result["errors"] + check_results(result)
    attempted = result["attempted"]
    failed = min(len(errors), attempted)
    values = result["layers" if args.trace else "metrics"]
    wanted = _metrics("per_layer" if args.trace else "end_to_end")
    missing = [m for m in wanted if m not in values]
    if missing:
        die(f"no value for {missing}; errors: {errors[:5]}")

    print(f"workload {args.workload}  seed {args.seed}  nproc {result['nproc']}  "
          f"master {result['master']}  trace {args.trace}")
    if "sample" in result:
        print(f"sample ({len(result['sample'])} queries, {result['timed_ops']} timed runs "
              f"in {result['passes']} passes): {' '.join(result['sample'])}")
    if "dataset" in result:
        print(f"dataset {json.dumps(result['dataset'])}  cycles {result['timed_ops']}")
        print(f"serialize_records_per_s {result['serialize_records_per_s']:.4f} 1/s")
        print(f"train_rows_per_s {result['train_rows_per_s']:.4f} 1/s")
    for name, unit in wanted.items():
        print(f"{name} {values[name]:.6g} {unit}")
    if args.trace:
        print(f"construct_share {values['op.construct_s'] / result['metrics']['op_p50_s']:.4g}"
              " (op.construct_s / op_p50_s)")
    for key in ("ingest_split", "layer_job_s"):
        for name, v in sorted(values.get(key, {}).items()):
            print(f"{key}.{name} {v:.6g} s")
    print(f"error_rate {failed / attempted:.6g} ({failed} of {attempted})")
    for e in errors[:20]:
        print(f"error: {e}")

    # tracing overhead: this traced run's end-to-end figures minus those of
    # the last untraced run of the same workload and seed in this checkout
    base = os.path.join(WORK, f"untraced-{args.workload}-{args.seed}.json")
    if args.trace and os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)
        for name in _metrics("end_to_end"):
            if name in result["metrics"] and name in untraced:
                print(f"tracing_overhead.{name} {result['metrics'][name] - untraced[name]:+.6g}")
    elif not args.trace:
        with open(base, "w") as f:
            json.dump(values, f)
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in wanted.items()}}))


if __name__ == "__main__":
    main()
