#!/usr/bin/env python3
"""Diff PlanDump captures after normalising run-specific tokens.

usage: python3 plans/pr6/diff.py <dir> [before_suffix after_suffix]

Pairs <name>_before.txt with <name>_after.txt in <dir>, masks the
tokens that change from run to run (expression and plan ids, temp
directory names, stream run ids, RDD ids, AQE size statistics) and
prints, per gate, `same` or a unified diff of what is left.
"""
import difflib
import glob
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),                        # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"/tmp/[\w.-]*?\d{6,}"), "/tmp/TMP"),     # createTempDirectory names
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"(?<![0-9a-f])[0-9a-f]{32}(?![0-9a-f])"), "HEX"),              # temp view names
    (re.compile(r"mv_[0-9a-f]{12}\.parquet"), "mv_HASH.parquet"),  # advisor MV names
    (re.compile(r"\$Lambda\$?[\w/$]*"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@OBJ"),             # object identity hashes
    (re.compile(r"\[\d+\] at \w+ at [\w.]+:\d+"), "[RDD]"),  # RDD ids/call sites
    (re.compile(r"(ExistingRDD|LogicalRDD)\s*\[\d+\]"), r"\1 [N]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(..)"),
]


def norm(text):
    for rx, rep in MASKS:
        text = rx.sub(rep, text)
    return text.splitlines()


def main():
    d = sys.argv[1]
    before, after = (sys.argv[2:4] if len(sys.argv) >= 4 else ("before", "after"))
    same = 0
    for bp in sorted(glob.glob(os.path.join(d, f"*_{before}.txt"))):
        name = os.path.basename(bp)[: -len(f"_{before}.txt")]
        ap = os.path.join(d, f"{name}_{after}.txt")
        if not os.path.exists(ap):
            print(f"{name}: no {after} capture")
            continue
        b, a = norm(open(bp).read()), norm(open(ap).read())
        if a == b:
            same += 1
            print(f"{name}: same")
        else:
            print(f"{name}: DIFFERS")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                b, a, f"{name}_{before}", f"{name}_{after}", n=2, lineterm=""))
    print(f"-- {same} same")


if __name__ == "__main__":
    main()
