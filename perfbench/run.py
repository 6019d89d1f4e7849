#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  The run

1. builds `src/main/scala` and `perfbench/scala` with the Scala compiler
   that ships in Spark's jar directory (cached in `.bench_build/` by
   source hash);
2. writes the workload's input tables from `--seed` (`fixture.py`), or
   with `--base DIR` reads the base tables from DIR instead;
3. starts one JVM at `local[<cores>]` that sets up a SparkSession, runs
   the gate list once cold and then in warm passes for `--seconds`, and
   dumps each gate's output (`scala/Driver.scala`); the warm medians
   skip the first warm pass, which still runs slow while the JIT settles;
4. compares every dumped output with the gate's `SparkEntry.oracleSql`
   in DuckDB through `scripts/oracle_check.py`;
5. prints a summary (`<workload> <key> <value>` lines, per-gate figures
   under `gate.<name>.`), then one JSON line: the end-to-end metrics
   with `--trace 0`, the per-layer metrics from a Spark listener with
   `--trace 1`.

`setup_s` is the JVM's start, SparkSession and warm-up, plus on a scaled
workload the time to build the scaled copy; the base tables' generation
is benchmark code no program change moves, so it is printed apart as
`fixture_s`.

Every file it writes stays under `.bench_build/` in the checkout.  The
program hard-codes absolute `.../target/tmp` and `.../target/warehouse`
scratch paths; the benchmark compiles a copy of the sources with those
literals pointed into `.bench_build/`, which changes no behaviour but
where scratch files land.  A lock in `.bench_build/` keeps two runs in
one checkout from overlapping.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # job count and driver time: incremental hamming dedup (candidate ->
    # verify -> contract, 36 jobs), incremental video dedup, the
    # driver-local BPE trainer, and a small JSONL write and read-back
    "iterative": {"copies": 1, "gates": [
        "image_dedup_incremental_drop", "video_dedup_incremental",
        "text_bpe_train_incremental_deep", "jsonl_roundtrip"]},
    # TPC-H joins and a partitioned parquet write on a 3x scaled copy:
    # bytes grow, the job count does not
    "volume": {"copies": 3, "gates": [
        "q3_shipping", "q18_toporders", "partitioned_write"]},
}

END_TO_END_UNITS = {"wall_s": "s", "gate_geomean_s": "s", "cold_s": "s",
                    "setup_s": "s", "peak_rss_mb": "MB"}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    # a fixed heap and young generation keep peak RSS from following G1's
    # timing-driven resizing, so it moves with the work, not the host
    "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

JVM_TIMEOUT_S = 150
SCRATCH_LITERAL = re.compile(r'"/[^"$\s]*/target/(tmp|warehouse)')


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def build(root, out, scratch):
    """Compile the program and the driver once per source hash."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    drivers = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    digest = hashlib.sha256(scratch.encode())
    for path in sources + drivers:
        with open(path, "rb") as f:
            digest.update(path[len(root):].encode() + f.read())
    classes = os.path.join(out, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "ok")):
        return classes
    for old in glob.glob(os.path.join(out, "classes-*")) + [os.path.join(out, "src")]:
        shutil.rmtree(old, ignore_errors=True)
    copies = []
    for path in sources:
        dst = os.path.join(out, "src", os.path.relpath(path, root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(path) as f:
            text = SCRATCH_LITERAL.sub(lambda m: f'"{scratch}/{m.group(1)}', f.read())
        with open(dst, "w") as f:
            f.write(text)
        copies.append(dst)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(root), "*")
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", jars] + copies + drivers,
                   check=True, stdout=sys.stderr)
    open(os.path.join(classes, "ok"), "w").close()
    return classes


def oracle_check(root, fixture_dir, dump, gates):
    """Names of gates whose dumped output misses its oracle."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    res = subprocess.run(
        [sys.executable, os.path.join(root, "scripts/oracle_check.py"),
         fixture_dir, dump, ",".join(gates)],
        capture_output=True, text=True, cwd=root, env=env, timeout=120)
    passed = {line.split()[1] for line in res.stdout.splitlines()
              if line.startswith("ok ")}
    for line in res.stdout.splitlines():
        if line.startswith("FAIL"):
            print("oracle:", line[:300], file=sys.stderr)
    return [g for g in gates if g not in passed]


# pass 0 is cold and pass 1 lets the JIT settle; the medians start here
FIRST_MEASURED_PASS = 2


def end_to_end(record, setup_s):
    warm = [g for g in record["gates"] if g["pass"] >= FIRST_MEASURED_PASS]
    per_gate = {}
    for g in warm:
        per_gate.setdefault(g["gate"], []).append(g["sec"])
    return {
        "wall_s": stats.quartiles(record["pass_walls"][FIRST_MEASURED_PASS:])[1],
        "gate_geomean_s": stats.geomean(
            [stats.quartiles(v)[1] for v in per_gate.values()]),
        "cold_s": record["pass_walls"][0],
        "setup_s": setup_s,
        "peak_rss_mb": record["peak_rss_kb"] / 1024,
    }


def dump_rows(path):
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def run(root, args):
    spec = WORKLOADS[args.workload]
    out = os.path.join(root, ".bench_build")
    work = os.path.join(out, "work")
    classes = build(root, out, os.path.join(work, "target"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "dump", "target/tmp", "target/hadoop"):
        os.makedirs(os.path.join(work, d))
    try:
        t0 = time.time()
        base = args.base or os.path.join(work, "base")
        if not args.base:
            fixture.generate(base, args.seed)
        data = base
        t1 = time.time()
        if spec["copies"] > 1:
            data = os.path.join(work, "scaled")
            fixture.scale(base, data, spec["copies"], args.seed)
        fixture_s, scale_s = t1 - t0, time.time() - t1
        record_path = os.path.join(work, "record.json")
        cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                              os.path.join(spark_jars(root), "*")])
        cpus = len(os.sched_getaffinity(0))
        launched_ms = int(time.time() * 1000)
        jvm_log = open(os.path.join(out, "jvm.log"), "w")
        subprocess.run(
            ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
                                   f"-Dspark.hadoop.hadoop.tmp.dir={work}/target/hadoop",
                                   "-cp", cp,
             "perfbench.Driver", "--dir", data, "--gates", ",".join(spec["gates"]),
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--cpus", str(cpus),
             "--dump", os.path.join(work, "dump"), "--out", record_path,
             "--warehouse", os.path.join(work, "warehouse"),
             "--local", os.path.join(work, "local"),
             "--launched-ms", str(launched_ms)],
            check=True, cwd=work, timeout=JVM_TIMEOUT_S,
            stdout=jvm_log, stderr=subprocess.STDOUT)
        jvm_log.close()
        with open(record_path) as f:
            record = json.load(f)
        setup_s = scale_s + (record["ready_ms"] - launched_ms) / 1e3
        failed = set(record["failed"]) | set(
            oracle_check(root, data, os.path.join(work, "dump"), spec["gates"]))
        for name, err in record["failed"].items():
            print(f"failed: {name}: {err}", file=sys.stderr)
        rows = {name: dump_rows(os.path.join(work, "dump", name))
                for name in spec["gates"] if name not in failed}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(record, setup_s)
    passes = sorted({g["pass"] for g in record["gates"] if g["pass"] >= FIRST_MEASURED_PASS})
    summary = dict(e2e, fail_frac=len(failed) / len(spec["gates"]),
                   warm_passes=len(passes), fixture_s=fixture_s)
    jobs = stats.gate_jobs(record, passes) if args.trace else {}
    for name in spec["gates"]:
        secs = [g["sec"] for g in record["gates"] if g["gate"] == name]
        if secs:
            summary[f"gate.{name}.cold_s"] = secs[0]
            summary[f"gate.{name}.warm_s"] = stats.quartiles(
                secs[FIRST_MEASURED_PASS:] or secs)[1]
        if name in rows:
            summary[f"gate.{name}.rows"] = rows[name]
        if name in jobs:
            summary[f"gate.{name}.jobs"] = jobs[name]
    if args.trace:
        lay = stats.layers(record, passes)
        summary.update(lay)
        metrics = {k: {"value": v, "unit": stats.LAYER_UNITS[k]} for k, v in lay.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    for k, v in summary.items():
        print(f"{args.workload} {k} {v:.6g}")
    print(json.dumps({"correct": not failed, "attempted": len(spec["gates"]),
                      "failed": len(failed), "metrics": metrics}))


def invoke(checkout, workload, seed, seconds, trace, base=None, timeout=900):
    """Run the benchmark in `checkout` as a subprocess and return its JSON
    result and its summary lines as {key: value}; exits on a failed run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if base:
        cmd += ["--base", base]
    res = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                         timeout=timeout)
    if res.returncode != 0:
        sys.exit(f"{checkout} {workload} seed {seed}: exit {res.returncode}\n"
                 f"{res.stderr[-2000:]}")
    lines = res.stdout.strip().splitlines()
    summary = {}
    for line in lines[:-1]:
        _, key, value = line.split()
        summary[key] = float(value)
    return json.loads(lines[-1]), summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", help="read the base tables from this directory "
                    "instead of generating them from the seed")
    args = ap.parse_args()
    if args.base:
        args.base = os.path.abspath(args.base)
    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "scripts/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} not found; run from the root of a graft checkout")
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    with open(os.path.join(root, ".bench_build", "run.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        run(root, args)


if __name__ == "__main__":
    main()
