#!/usr/bin/env python3
"""Smoke test of the benchmark harness.

Runs every workload the harness knows (also sliding_upsert, which the
benchmark's own runs leave out, see README.md) at a tiny rate and input
for a few seconds, untraced and traced, and asserts that each run prints
every metric of BENCHMARK.json with its unit and passes its output check.

    python3 perfbench/smoke.py          # from the repository root
"""
import json
import subprocess
import sys

WORKLOADS = ("tumbling_upsert", "sliding_upsert", "corpus_dedup")


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    failures = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", "7", "--seconds", "2", "--trace", str(trace),
                                "--smoke", "1"],
                               stdout=subprocess.PIPE, text=True, timeout=900)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {p.returncode}, no result")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                failures.append(f"{tag}: output check failed: {lines[-1]}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    failures.append(f"{tag}: metric {m['name']} missing or without unit {m['unit']}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                failures.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"{'FAIL' if failures and failures[-1].startswith(tag) else 'ok  '} {tag}",
                  flush=True)
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
