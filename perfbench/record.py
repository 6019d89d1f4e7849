#!/usr/bin/env python3
"""Record the benchmark's baseline on this checkout.

    python3 perfbench/record.py --runs 10 --traced 3 --out perfbench/baseline.json \
        --reference <project's sf0.1 fixture dir>

For every workload it makes `--runs` untraced runs and `--traced` traced
runs, one after the other, each on its own seed, and writes one JSON
record: for each end-to-end metric the quartiles over the runs and their
spread (interquartile range over median, the figure the metric's bound
is held to), the median of each per-layer metric over the traced runs,
the tracing overhead (traced `wall_s` over untraced, minus 1), and the
check of each workload's expected layer emphasis.

With `--reference DIR` it also compares the tables the benchmark
generates (for the first seed) with the fixture in DIR: `fixture.profile`
of both, and one traced run of each workload on each (the reference one
with `--base DIR`, scaled the same way) for every gate's job count, warm
time and output rows.
"""
import argparse
import json
import os
import platform
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture  # noqa: E402
import run as bench  # noqa: E402
import stats  # noqa: E402

# layer -> the modules it covers
LAYER_MODULES = {
    "jobs": "Spark scheduling of the jobs that SparkEntry gates and operators/ "
            "(Dedup, Bpe, KneserNey, Graph, Skew) fire",
    "driver": "SparkEntry, api/, and the driver-local loops in operators/ (Bpe, "
              "Unigram, WordPiece, KneserNey, QualityClassifier, MultiClass, "
              "Dedup.duplicateClusters)",
    "sources": "sources/ readers and ParquetWriter, plus Spark's parquet scan",
    "operators": "executor-side per-row CPU in functions/ expressions and "
                 "operators/ codecs",
    "exchange": "shuffle between stages",
}

FIXTURE_NOTES = {
    "inputs": "perfbench/fixture.py writes sf0.1-shaped tables from the seed "
              "(vs_reference below compares them with the project's sf0.1 "
              "fixture); "
              "the volume workload runs on a scaled copy built with "
              "graft.tools.ScalingProbe's recipe (token-suffixed, id-shifted "
              "documents; id-shifted lineitem and orders; user-shifted events; "
              "dimension tables unchanged), rows in seed order",
    "scaled_gates": {
        "q3_shipping": "each copy repeats every order's revenue, but the gate "
                       "breaks ties by l_orderkey, which the shift keeps "
                       "distinct, so its top 10 is unique",
        "q18_toporders": "per-order sums repeat per copy, but the gate keeps every "
                         "order over its threshold, so the result is a set, not a "
                         "tie-broken top-k",
        "partitioned_write": "writes lineitem's columns partitioned by "
                             "l_returnflag and sums one partition back: order-free",
        "events_funnel": "well-defined (user ids are shifted per copy, so each "
                         "user's funnel stays inside one copy); left out to fit "
                         "the run budget",
        "dedup_spans_remove": "well-defined (token suffixes keep copies "
                              "shingle-disjoint; oracle passes at 4x) but 10 s "
                              "warm at 4x, over the run budget",
        "join_salted, q16_partsupp, q21_waiting": "well-defined (oracle passes "
                              "at 4x); left out to fit the run budget",
        "dedup_lsh_drop": "well-defined, but its DuckDB oracle takes 14 s at 1x "
                          "and grows with the copies, over the run budget",
    },
    "vocabulary": "documents have 31 distinct words (30 plus the 'dup' label), "
                  "93 at 3x; word tables never cross Bpe.SmallWordTableBound "
                  "(2^17), so the distributed trainer paths stay unmeasured",
}


def one(workload, seed, seconds, trace, base=None):
    return bench.invoke(".", workload, seed, seconds, trace, base=base)


def per_gate(result, summary):
    gates = {}
    for key, value in summary.items():
        if key.startswith("gate."):
            name, figure = key[len("gate."):].rsplit(".", 1)
            gates.setdefault(name, {})[figure] = value
    return {"correct": result["correct"], "gates": gates}


def compare_fixture(reference, seed, seconds, workloads):
    """The generated tables for `seed` beside the fixture in `reference`."""
    generated = os.path.join(".bench_build", "compare_base")
    shutil.rmtree(generated, ignore_errors=True)
    fixture.generate(generated, seed)
    out = {"reference": os.path.basename(os.path.normpath(reference)), "seed": seed,
           "profile": {"generated": fixture.profile(generated),
                       "reference": fixture.profile(reference)},
           "runs": {}}
    shutil.rmtree(generated, ignore_errors=True)
    for w in workloads:
        out["runs"][w] = {
            "generated": per_gate(*one(w, seed, seconds, 1)),
            "reference": per_gate(*one(w, seed, seconds, 1, base=reference)),
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(bench.WORKLOADS))
    ap.add_argument("--out", required=True)
    ap.add_argument("--reference", help="fixture directory to compare the "
                    "generated tables with")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                 "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)},
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "run_seconds": spec["run_seconds"],
        "layer_modules": LAYER_MODULES,
        "fixture": dict(FIXTURE_NOTES),
        "workloads": {},
    }
    for w in args.workloads.split(","):
        seeds = range(args.seed, args.seed + args.runs)
        runs = [one(w, s, spec["run_seconds"], 0) for s in seeds]
        traced = [one(w, s, spec["run_seconds"], 1) for s in seeds[:args.traced]]
        e2e = {}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r, _ in runs]
            q1, q2, q3 = stats.quartiles(values)
            e2e[name] = {"q1": q1, "median": q2, "q3": q3, "spread": (q3 - q1) / q2,
                         "bound": bounds[name], "values": values}
        fail = [r["failed"] / r["attempted"] for r, _ in runs + traced]
        entry = record["workloads"][w] = {
            "gates": bench.WORKLOADS[w]["gates"],
            "copies": bench.WORKLOADS[w]["copies"],
            "seeds": [seeds[0], seeds[-1]],
            "end_to_end": e2e,
            "fail_frac": max(fail),
        }
        if traced:
            layers = {k: stats.quartiles([r["metrics"][k]["value"] for r, _ in traced])[1]
                      for k in stats.LAYER_UNITS}
            wall = stats.quartiles([s["wall_s"] for _, s in traced])[1]
            entry.update({
                "per_layer": layers,
                "traced_wall_s": wall,
                "trace_overhead_frac": wall / e2e["wall_s"]["median"] - 1,
                # iterative: idle cores plus driver self time against the
                # wall; volume: task time against the open core time
                "emphasis": {
                    "idle_plus_self_over_wall": (layers["jobs.idle_core_s"] / record["host"]["cpus"]
                                                 + layers["driver.self_s"]) / wall,
                    "core_util": layers["operators.core_util"],
                },
            })
        print(json.dumps({w: {k: round(v["spread"], 4) for k, v in e2e.items()}}),
              file=sys.stderr)
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    if args.reference:
        record["fixture"]["vs_reference"] = compare_fixture(
            os.path.abspath(args.reference), args.seed, spec["run_seconds"],
            args.workloads.split(","))
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
