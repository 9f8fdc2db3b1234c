#!/usr/bin/env python3
"""Answer digests of the corpus_dedup queries' DuckDB oracles.

Some brute-force oracles take minutes on sf0.1 (dedup_survivors alone
about five), far beyond one benchmark run, while the answers never
change: the seed only permutes row order. So the oracle answers are
computed once, here, on the committed tables of both scales
(perfbench/data/sf0.1, and sf0.001 for the smoke test), and stored as
digests in perfbench/data/oracle_digests.json; each run diffs its
outputs with them (run.py).

A digest is the row count and a SHA-256 over the rows in the column
order and row order of tools/compare.py's `canon`, each float rounded to
9 significant digits (compare.py accepts floats within 1e-12 relative).
Each entry also keeps the hash of the oracle SQL it came from, so a run
notices when the oracle changed and the digest must be made again.

Usage (from the repository root, after a corpus_dedup run that kept its
work directory, PERFBENCH_KEEP_WORK=1):
    python3 perfbench/oracle_digests.py <work>/out
"""
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "data", "oracle_digests.json")


def cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else "%.9g" % v
    if hasattr(v, "tolist"):  # numpy arrays of list columns
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(compare, con, rel):
    df = compare.canon(con, rel)
    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(list(df.columns)).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def main(out_dir):
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import compare
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for sf in ("sf0.1", "sf0.001"):
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{HERE}/data/{sf}/{t}.parquet'")
        result[sf] = {}
        for name, sql in sorted(oracle.items()):
            d = digest(compare, con, con.sql(sql))
            d["oracle_sql_sha256"] = sql_hash(sql)
            result[sf][name] = d
            print(sf, name, d["rows"], file=sys.stderr)
    with open(DIGESTS, "w") as f:
        json.dump(result, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
