#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the program together with the harness (perfbench/build.sbt, sbt offline)
into .bench_build/ and caches the classpath, keyed by a hash of the
sources; later runs launch the JVM directly. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1), each with its unit.

Workloads (see perfbench/README.md):
  tumbling_upsert  StreamJobSqlTumbling, generator at a fixed rate -> Derby
  sliding_upsert   StreamJobSqlSliding, Zipf keys, one sink row per event
  corpus_dedup     cold passes over nine SparkEntry.queries at sf0.1

--smoke 1 shrinks every workload to a tiny rate and input (smoke.py).
"""
import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

# importing tools/compare.py and oracle_digests.py must leave no bytecode
# files in the checkout
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tumbling_upsert", "sliding_upsert", "corpus_dedup")
# Files of the program the benchmark cannot run without.
PROGRAM_FILES = ("src/main/scala/graft/SparkEntry.scala",
                 "src/main/scala/graft/StarterDemo.scala", "tools/compare.py")
# The JVM's share of a run's 180 s; the output check follows it.
JVM_LIMIT_S = 150.0
# Layer prefixes a workload has no such layer for; their metrics read 0.
NOT_APPLICABLE = {
    "tumbling_upsert": ("queries.", "trace.self_queries"),
    "sliding_upsert": ("queries.", "trace.self_queries"),
    "corpus_dedup": ("sources.", "streaming.", "ops.", "upsert.", "trace.self_sources",
                     "trace.self_streaming", "trace.self_ops", "trace.self_upsert"),
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compile of program + harness; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-J-XX:-UsePerfData", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"), "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch"] + props + ["export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if "perfbench-target" in ln and ":" in ln and " " not in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def permute_tables(seed, work):
    """Seed-permuted row order of the committed corpus tables: the same
    answers, another physical order."""
    import pyarrow.parquet as pq
    for sf in ("sf0.1", "sf0.001"):
        os.makedirs(os.path.join(work, sf), exist_ok=True)
        for t in ("documents", "embeddings"):
            table = pq.read_table(os.path.join(HERE, "data", sf, f"{t}.parquet"))
            order = list(range(table.num_rows))
            random.Random(f"{seed}/{sf}/{t}").shuffle(order)
            pq.write_table(table.take(order), os.path.join(work, sf, f"{t}.parquet"))


def corpus_check(work, scale, queries):
    """Names of the queries whose output differs from its DuckDB oracle's
    answer (stored as a digest, see oracle_digests.py), or that fail the
    simhash oracles' cap-binding precondition of tools/compare.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.path.insert(0, HERE)
    import compare
    import duckdb
    import oracle_digests
    out = os.path.join(work, "out")
    con = duckdb.connect()
    with open(oracle_digests.DIGESTS) as f:
        want = json.load(f)[scale]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed = []
    with contextlib.redirect_stdout(sys.stderr):
        binding = compare.simhash_binding(con, out)
        for name in queries:
            if compare.precondition_failure(name, binding):
                failed.append(name)
                continue
            w = want.get(name)
            if w is None or name not in oracle or \
                    w["oracle_sql_sha256"] != oracle_digests.sql_hash(oracle[name]):
                print(f"FAIL {name}: no stored oracle answer for the current oracle SQL "
                      f"(regenerate with perfbench/oracle_digests.py)")
                failed.append(name)
                continue
            try:
                got = oracle_digests.digest(compare, con, con.sql(
                    f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')"))
            except Exception as e:  # a failed query left no output
                print(f"FAIL {name}: error {e}")
                failed.append(name)
                continue
            if got["rows"] != w["rows"] or got["sha256"] != w["sha256"]:
                print(f"FAIL {name}: {got['rows']} rows, digest differs from the oracle's "
                      f"({w['rows']} rows)")
                failed.append(name)
            else:
                print(f"ok   {name} ({got['rows']} rows)")
    return failed


def run_jvm(a, cp, work, deadline):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--smoke", str(a.smoke)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("workload exceeded its time limit")
    if rc != 0:
        fail(f"workload exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        fail(f"not a checkout of the program (missing {', '.join(missing)})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    start = time.time()  # the build is not part of a run's time limit
    work = os.path.join(BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "corpus_dedup":
            permute_tables(a.seed, work)
        run_jvm(a, cp, work, start + JVM_LIMIT_S)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        failed_keys = set(res["failed_keys"])
        failed = res["failed"]
        if a.workload == "corpus_dedup":
            scale = "sf0.001" if a.smoke else "sf0.1"
            failed_keys |= set(corpus_check(work, scale, [m["name"][len("queries."):-2]
                                                   for m in spec["per_layer"]
                                                   if m["name"].startswith("queries.")]))
            failed = len(failed_keys)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        if not os.environ.get("PERFBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)
    for n in res["notes"]:
        print(f"[perfbench] {n}", file=sys.stderr)

    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"] and m["name"].startswith(NOT_APPLICABLE[a.workload]):
            res["metrics"][m["name"]] = 0.0
        v = res["metrics"].get(m["name"])
        if v is None:  # absent, or not a number (NaN, infinite)
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["valid"]) and failed == 0,
                      "attempted": int(res["attempted"]), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
