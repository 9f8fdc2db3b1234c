#!/usr/bin/env python3
"""Single-threaded open-loop GeoJSON feed generator.

Writes send.py-shaped Feature lines into a directory as atomically
published files (tmp + rename), which the program reads through
`Sources.geojsonLinesDir`. Event i is due at `start + i / rate`; its
RECEIVED_ON is that due instant with microsecond precision, so every
event of a feed has its own timestamp. The schedule never waits for
the consumer: a file is published when its last event falls due, and
how late the generator ran against that schedule is reported.

Modes:
  live    --dir D --seed N --rate R --start-us T --seconds S --tick-ms K
          publish one file per tick on the wall clock, then print a JSON
          summary (events, files, p95 publish lateness) on stdout;
  backlog --dir D --seed N --rate R --start-us T --events E --per-file F
          write E events at once (event times spaced 1/R from T).

Keys: `--keys uniform8` draws the eight railway classes of send.py
uniformly; `--keys zipf:<n>:<s>` draws one of n classes with Zipf
exponent s. Draws come from Python's seeded Mersenne Twister, so one
seed gives one feed.
"""
import argparse
import bisect
import itertools
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

RAILWAY_CLASSES = ["11", "12", "13", "14", "15", "16", "17", "18"]
N02_002 = ["1", "2", "3", "4", "5"]
LINE_NAMES = ["joetsu-shinkansen", "kyushu-shinkansen", "hokkaido-shinkansen",
              "hokuriku-shinkansen", "sanyo-shinkansen", "tohoku-shinkansen",
              "tokaido-shinkansen"]
OPERATORS = ["jr-east", "jr-west"]


def key_picker(spec, rng):
    if spec == "uniform8":
        return lambda: rng.choice(RAILWAY_CLASSES)
    kind, n, s = spec.split(":")
    if kind != "zipf":
        raise SystemExit(f"unknown --keys {spec}")
    n, s = int(n), float(s)
    cum = list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))
    total = cum[-1]
    # rank r is class "c<r>"; rank 1 is the hottest key
    return lambda: "c%d" % (bisect.bisect_left(cum, rng.random() * total) + 1)


def iso_micros(us):
    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + ".%06d" % (us % 1_000_000)


def feature(rng, pick_key, us):
    n2 = rng.choice(N02_002)
    return ('{"type":"Feature","properties":{"RECEIVED_ON":"%s","N02_001":"%s",'
            '"N02_002":"%s","N02_003":"%s","N02_004":"%s","ID":"%s_%d","COUNT":%d}}'
            % (iso_micros(us), pick_key(), n2, rng.choice(LINE_NAMES),
               rng.choice(OPERATORS), n2, rng.randint(1, 101), rng.randint(10, 20)))


def publish(a, index, lines):
    # the file source lists every file of its directory, so a half-written
    # file must never sit there: write beside it, then rename into place
    name = "feed-%06d.json" % index
    tmp = os.path.join(a.tmp, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, os.path.join(a.dir, name))


def due_us(start_us, rate, i):
    return start_us + (i * 1_000_000) // rate


def run_live(a, rng, pick_key):
    tick_us = a.tick_ms * 1000
    end_us = a.start_us + a.seconds * 1_000_000
    late_ms, i, file_no = [], 0, 0
    tick_end = a.start_us + tick_us
    while tick_end <= end_us:
        lines = []
        while due_us(a.start_us, a.rate, i) < tick_end:
            lines.append(feature(rng, pick_key, due_us(a.start_us, a.rate, i)))
            i += 1
        wait = tick_end / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        if lines:
            publish(a, file_no, lines)
            file_no += 1
        late_ms.append(max(0.0, time.time() * 1e3 - tick_end / 1e3))
        tick_end += tick_us
    late_ms.sort()
    print(json.dumps({
        "events": i, "files": file_no,
        "late_p95_ms": late_ms[min(len(late_ms) - 1, int(len(late_ms) * 0.95))]}))


def run_backlog(a, rng, pick_key):
    for file_no in range((a.events + a.per_file - 1) // a.per_file):
        lo = file_no * a.per_file
        hi = min(a.events, lo + a.per_file)
        publish(a, file_no,
                [feature(rng, pick_key, due_us(a.start_us, a.rate, i)) for i in range(lo, hi)])
    print(json.dumps({"events": a.events}))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["live", "backlog"])
    p.add_argument("--dir", required=True)
    p.add_argument("--tmp", required=True, help="directory for unpublished files")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--start-us", type=int, required=True)
    p.add_argument("--keys", default="uniform8")
    p.add_argument("--seconds", type=int, default=0)
    p.add_argument("--tick-ms", type=int, default=50)
    p.add_argument("--events", type=int, default=0)
    p.add_argument("--per-file", type=int, default=1000)
    a = p.parse_args()
    rng = random.Random(a.seed)
    pick_key = key_picker(a.keys, rng)
    os.makedirs(a.dir, exist_ok=True)
    os.makedirs(a.tmp, exist_ok=True)
    if a.mode == "live":
        run_live(a, rng, pick_key)
    else:
        run_backlog(a, rng, pick_key)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
