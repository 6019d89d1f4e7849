#!/usr/bin/env python3
"""Local oracle-compare harness — the compare half of the correctness gate.

Usage:
    sbt "runMain graft.Verify <sfDir> <dumpDir>"
    python3 scripts/oracle_check.py <sfDir> <dumpDir> [gate,gate,...] [--out PATH]

Consumes graft.Verify's dump (one parquet dir per SparkEntry.queries gate +
oracle_sql.json) and replays every oracle SQL in DuckDB over the same
parquet fixtures, then compares rows / schema (column names) / exact values
(sorted-column, sorted-row multiset — the driver's hash-match equivalent).

With --out PATH, writes the results to PATH (CORRECTNESS_local.json is the
committed one) stamped with git HEAD + UTC timestamp + the per-oracle
DuckDB wall time, so the "pre-checked locally" claim is an auditable
artifact (VERDICT r9 "what's wrong" #2). Without it nothing is written.

Exit code 0 iff every gate matches.
"""
import argparse
import duckdb
import glob
import json
import math
import os
import subprocess
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Canonicalize a cell for exact compare: floats rounded to 9 sig
    figs to absorb double formatting, everything else exact."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float("%.9g" % v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def multiset(cols, rows):
    """Column-name-sorted, then row-sorted value multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort by repr: total order even for rows mixing None with values
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    ), [cols[i] for i in order]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("only", nargs="?", help="comma-separated gate names")
    ap.add_argument("--out", help="write the stamped results here")
    args = ap.parse_args()
    sf_dir, out_dir = args.sf_dir, args.out_dir
    only = set(args.only.split(",")) if args.only else None
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    results, n_pass = {}, 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        entry = {"match": False}
        spark_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        if not files:
            entry["error"] = "no spark dump"
            results[name] = entry
            print(f"FAIL {name}: no spark dump")
            continue
        try:
            t0 = time.time()
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            entry["oracle_sec"] = round(time.time() - t0, 2)
            cur = con.execute(
                "SELECT * FROM read_parquet(["
                + ",".join(f"'{f}'" for f in sorted(files)) + "])")
            s_cols = [d[0] for d in cur.description]
            s_rows = cur.fetchall()
        except Exception as e:
            entry["error"] = str(e)[:300]
            results[name] = entry
            print(f"FAIL {name}: {e}")
            continue
        entry["rows"] = {"spark": len(s_rows), "oracle": len(o_rows)}
        o_ms, o_sorted = multiset(o_cols, o_rows)
        s_ms, s_sorted = multiset(s_cols, s_rows)
        if o_sorted != s_sorted:
            entry["error"] = f"schema: spark={s_sorted} oracle={o_sorted}"
            print(f"FAIL {name}: {entry['error']}")
        elif o_ms != s_ms:
            diff = next(i for i, (a, b) in enumerate(zip(s_ms, o_ms))
                        if a != b) if len(s_ms) == len(o_ms) else -1
            entry["error"] = (
                f"values: rows {len(s_ms)}/{len(o_ms)}, first diff @"
                f"{diff}: spark={s_ms[diff] if diff >= 0 else '-'} "
                f"oracle={o_ms[diff] if diff >= 0 else '-'}")[:500]
            print(f"FAIL {name}: {entry['error']}")
        else:
            entry["match"] = True
            n_pass += 1
            print(f"ok   {name} ({len(s_rows)} rows, "
                  f"oracle {entry['oracle_sec']}s)")
        results[name] = entry

    if args.out:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        head = subprocess.run(["git", "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              cwd=repo).stdout.strip()
        # a HEAD stamp alone can lie: a dirty-tree run attributes results to
        # a commit that cannot reproduce them, so record the tree state too.
        # The generated artifacts themselves are excluded — regenerating one
        # must not mark the next as irreproducible (only SOURCE dirt does).
        # If git itself fails, the flag must read DIRTY: the anti-lying stamp
        # cannot assert a clean tree exactly when it could not check.
        # (Mirrors graft.tools.Provenance — keep the two rule sets in sync.)
        artifacts = {"CORRECTNESS_local.json", "LEAKCHECK.json", "SCALING.md",
                     "bench_last.json"}
        st = subprocess.run(["git", "status", "--porcelain"],
                            capture_output=True, text=True, cwd=repo)
        dirty = st.returncode != 0 or any(
            line[3:] not in artifacts
            for line in st.stdout.splitlines() if line.strip())
        stamp = {
            "git_head": head,
            "git_tree_dirty": dirty,
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "sf_dir": sf_dir,
            "n_gates": len(results),
            "n_pass": n_pass,
            "slowest_oracles": sorted(
                ((r.get("oracle_sec", 0), n) for n, r in results.items()),
                reverse=True)[:10],
            "gates": results,
        }
        with open(args.out, "w") as f:
            json.dump(stamp, f, indent=1, sort_keys=True)
        print(f"\nwrote {args.out}")
    print(f"{n_pass}/{len(results)} gates match")
    sys.exit(0 if n_pass == len(results) else 1)


if __name__ == "__main__":
    main()
