#!/usr/bin/env python3
"""Diff two graft.PlanDump output directories after normalising run noise.

    python3 tools/plan_diff.py <dirA> <dirB>

PlanDump writes one `<query>_<suffix>.txt` per query. Files are paired by
query name (each directory's common `_<suffix>` is stripped). Before
comparing, everything that changes from run to run on the same plan is
masked: expression ids (`#123`, `obj#12`), `plan_id`s, lambda class
names, identity hashes (`@1a2b3c`), temp paths and RDD call sites.
Prints a unified diff per differing query and a summary line; exits 1 if
any query differs or is missing from one side.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda\$?[\w/$]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{4,8}\b"), "@H"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]\)]+"), "<tmp>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\bat [\w$.]+\.(?:scala|java):\d+"), "at <callsite>"),
]


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def by_query(d):
    names = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    suffixes = {f[:-4].rsplit("_", 1)[-1] for f in names}
    strip = len(suffixes) == 1 and all("_" in f for f in names)
    return {(f[:-4].rsplit("_", 1)[0] if strip else f[:-4]): os.path.join(d, f)
            for f in names}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = by_query(argv[1]), by_query(argv[2])
    same, differ = 0, []
    for q in sorted(a.keys() & b.keys()):
        with open(a[q]) as fa, open(b[q]) as fb:
            la, lb = normalise(fa.read()), normalise(fb.read())
        if la == lb:
            same += 1
            continue
        differ.append(q)
        sys.stdout.writelines(difflib.unified_diff(la, lb, a[q], b[q]))
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    print(f"== {same} identical, {len(differ)} differ"
          + (f": {', '.join(differ)}" if differ else "")
          + (f"; only in A: {', '.join(only_a)}" if only_a else "")
          + (f"; only in B: {', '.join(only_b)}" if only_b else ""))
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
