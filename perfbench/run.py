#!/usr/bin/env python3
"""Benchmark runner for the claspyspark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_rollup --seed 0 --seconds 25 --trace 0

Builds the engine and the harness (sbt, only when a source changed), runs
one workload in one JVM, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 1` reports the per-layer metrics instead of the end-to-end ones
and appends spans and stage records to perfbench/out/trace.jsonl.

`--record N` measures nothing: it merges the results of N seeds, from
`--seed` on, into perfbench/expected.json. A crawl result that contradicts
an existing entry fails its check and is not merged; a query whose hash
differs from its entry is marked rows-only. Record only on a commit whose
outputs are known to be right, and record query_suite twice, with
different seeds.

`--urls N` changes the crawl window; `--urls 1000 --seed 0` is the 1000-url
table whose rollup_hash is 2841053685709785122.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("crawl_rollup", "query_suite")
RESULT_PREFIX = "PERFBENCH_RESULT "
RECORD_PREFIX = "RECORD "
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root, bench):
    """Digest of every input of the build: engine and harness sources and
    build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
              os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, bench):
    """Compile with sbt unless the stamp of the last build still matches;
    returns the launch file (classpath, then one JVM option per line)."""
    launch = os.path.join(bench, "target", "launch.txt")
    stamp_file = os.path.join(bench, "target", "launch.stamp")
    stamp = source_stamp(root, bench)
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g")
    tmp = os.path.join(bench, "out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                           "-J-XX:-UsePerfData", "launchFile"], cwd=bench, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(launch):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return launch


def run_jvm(launch, root, bench, argv):
    with open(launch) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(bench, "out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"]
           + opts + ["-cp", cp, "perfbench.Main", "--root", root] + argv)
    # Spark prefers these over spark.local.dir; the run stays in the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    text = out.decode(errors="replace").splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(text[-50:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode}")
    return text


def merge_records(bench, lines):
    path = os.path.join(bench, "expected.json")
    expected = {}
    if os.path.isfile(path):
        with open(path) as f:
            expected = json.load(f)
    for line in lines:
        for workload, entries in json.loads(line[len(RECORD_PREFIX):]).items():
            section = expected.setdefault(workload, {})
            if workload == "query_suite":
                # a query whose hash differs from an earlier recording is
                # checked on row count only
                queries = section.setdefault("queries", {})
                rows_only = set(section.get("rows_only", []))
                for name, rec in entries["queries"].items():
                    old = queries.get(name)
                    if old is not None and old["hash"] != rec["hash"]:
                        rows_only.add(name)
                    if old is not None and old["rows"] != rec["rows"]:
                        fail(f"{name}: {rec['rows']} rows, recorded {old['rows']}")
                    queries.setdefault(name, rec)
                section["rows_only"] = sorted(rows_only)
            else:
                section.update(entries)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def check_metrics(root, result, trace):
    """The result must name exactly the metrics BENCHMARK.json lists for
    this mode, with the same units."""
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return
    with open(spec_path) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["metrics"] and got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"units {sorted(k for k in want if k in got and got[k] != want[k])}")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--urls", type=int, default=100)
    p.add_argument("--record", type=int, default=0)
    a = p.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a claspyspark checkout (build.sbt and src/main/scala/graft not found)")
    if a.urls <= 0 or a.urls % 100 != 0:
        fail("--urls must be a positive multiple of 100")

    launch = build(root, bench)
    lines = run_jvm(launch, root, bench, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--urls", str(a.urls), "--record", str(a.record)])
    results = [l for l in lines if l.startswith(RESULT_PREFIX)]
    if len(results) != 1:
        sys.stderr.write("\n".join(lines[-50:]) + "\n")
        fail("benchmark printed no result")
    result = json.loads(results[0][len(RESULT_PREFIX):])
    check_metrics(root, result, a.trace)
    if a.record:
        merge_records(bench, [l for l in lines if l.startswith(RECORD_PREFIX)])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
