#!/usr/bin/env python3
"""Compare two PlanDump outputs gate by gate, ignoring run-local ids.

Usage:
    sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 <dirA>"   # commit A
    sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 <dirB>"   # commit B
    python3 scripts/plan_diff.py <dirA> <dirB>

PlanDump writes one `<gate>.txt` per gate. Two dumps of the SAME code
differ in ids the JVM or Spark hands out per run, so each plan is masked
before the compare (`MASKS`): expression ids (`#N`), exchange ids
(`plan_id=N`), lambda class names and object addresses, `File.scala:line`
call sites, RDD ids (`RDD[n]`, `ZippedPartitionsRDD2[n]`), and the random
suffix of temp directories. What is left is the plan's shape, operators,
expressions and inputs.

Prints one line per gate whose masked plans differ, or that only one dump
holds, then a summary line. Exit code 0 iff no gate differs.
"""
import difflib
import os
import re
import sys

MASKS = [
    # lambda classes: `Foo$$$Lambda$3057/0x00007ffafcd80208@516370c1`
    (re.compile(r"\$\$Lambda[$\w]*(/0x[0-9a-f]+)?(@[0-9a-f]+)?"), "$$Lambda"),
    # identity hashes: `[[D@6e77f4e7`, `graft.X@1a2b3c`
    (re.compile(r"(?<=[\w$\[;])@[0-9a-f]{1,8}(?![0-9A-Za-z])"), "@ADDR"),
    # call sites: `localCheckpoint at Dedup.scala:567`
    (re.compile(r"\b(\w+\.(?:scala|java)):\d+"), r"\1:LINE"),
    # RDD ids: `MapPartitionsRDD[78]`, `ZippedPartitionsRDD2[12]`
    (re.compile(r"(RDD\d*)\[\d+\]"), r"\1[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
    # Files.createTempDirectory("graft_bkt") -> graft_bkt11660510998249469379
    (re.compile(r"(graft_[A-Za-z_]+)\d{8,}"), r"\1N"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def load(d):
    return {f[:-len(".txt")]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(".txt")}


def compare(dir_a, dir_b):
    """Return [(gate, reason, first differing masked lines or None)]."""
    a, b = load(dir_a), load(dir_b)
    out = []
    for gate in sorted(set(a) | set(b)):
        if gate not in b:
            out.append((gate, "only in " + dir_a, None))
            continue
        if gate not in a:
            out.append((gate, "only in " + dir_b, None))
            continue
        with open(a[gate]) as fa, open(b[gate]) as fb:
            ma, mb = mask(fa.read()), mask(fb.read())
        if ma != mb:
            diff = [line for line in difflib.unified_diff(
                ma.splitlines(), mb.splitlines(), lineterm="", n=0)
                if line[:1] in "+-" and line[:3] not in ("+++", "---")]
            out.append((gate, "plan differs", diff[:6]))
    return out


def main(argv):
    if len(argv) != 3:
        print("usage: plan_diff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    differing = compare(argv[1], argv[2])
    for gate, reason, lines in differing:
        print(f"{gate}: {reason}")
        for line in lines or []:
            print("    " + line[:200])
    total = len(set(load(argv[1])) | set(load(argv[2])))
    print(f"{len(differing)} of {total} gates differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
