#!/usr/bin/env python3
"""Compare two sets of formatted physical plans written by graft.PlanDump.

    python3 tools/plandiff.py <before_dir> <after_dir> [--diff]

Each directory holds `<query>_<suffix>.txt` files, as written by
`runMain graft.PlanDump <q1,q2,...> <sfDir> <dir>/<suffix>`. Before
comparing, the text is stripped of what changes between runs without a
change of plan: expression ids (`#n`), `plan_id=n`, RDD ids (`RDD[n]`),
source positions (`File.scala:line`), lambda variable numbers
(`lambda x_n`, `lambda y_n`), object identity hashes
(`ArrayMeanAgg@1b2c3d`), and the path prefixes of `file:` locations,
including the data-dir and mtime fingerprint that persisted artifacts
carry in their directory name and the data dir's own name in a scan of
one of its `<table>.parquet` tables. Capture both sides on fresh copies
of the data dir; the copies may have different names.

Per query it prints whether the stripped text is identical and the counts
of Exchange, Window, join, aggregate and Sort operators on each side
(before/after). `--diff` also prints a unified diff of every query whose
text differs. Exits 1 if any query's operator counts differ or a query is
missing from one side.
"""
import difflib
import os
import re
import sys

KINDS = ("Exchange", "Window", "Join", "Aggregate", "Sort")


def _strip_path(m):
    parts = [p for p in m.group(1).split("/") if p]
    k = next((i for i, p in enumerate(parts) if p.startswith("graft-")), None)
    # the component after a graft-<kind> dir is a persisted entry named
    # after the data dir path and its mtime, and the parent of a
    # <table>.parquet scan is the data dir: drop both with the prefix
    skip = set() if k is None else {k, k + 1}
    if parts and parts[-1].endswith(".parquet"):
        skip.add(len(parts) - 2)
    tail = [p for i, p in enumerate(parts) if i >= len(parts) - 2 and i not in skip]
    kind = [] if k is None else [parts[k], "…"]
    return "file:…/" + "/".join(kind + tail)


RULES = [
    (re.compile(r"file:(/[^\s,\]]*)"), _strip_path),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"lambda (\w)_\d+"), r"lambda \1_"),
    (re.compile(r"(\w)@[0-9a-f]{1,8}\b"), r"\1@"),
]


def strip(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def kind_of(node):
    if node.endswith("Exchange"):
        return "Exchange"
    if node.startswith("Window"):
        return "Window"
    if "Join" in node or node == "CartesianProduct":
        return "Join"
    if node.endswith("Aggregate"):
        return "Aggregate"
    if node == "Sort":
        return "Sort"
    return None


def counts(text):
    """Operator counts from the plan's node headers `(n) Name ...` — every
    node, subqueries included, has exactly one."""
    c = dict.fromkeys(KINDS, 0)
    for m in re.finditer(r"^\(\d+\) (\w+)", text, re.M):
        k = kind_of(m.group(1))
        if k:
            c[k] += 1
    return c


def load(d):
    plans = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f)) as fh:
                plans[f[:-4].rsplit("_", 1)[0]] = strip(fh.read())
    return plans


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    before, after = load(args[0]), load(args[1])
    bad = 0
    for q in sorted(set(before) | set(after)):
        if q not in before or q not in after:
            print(f"{q}: only in {'after' if q in after else 'before'}")
            bad += 1
            continue
        cb, ca = counts(before[q]), counts(after[q])
        same = before[q] == after[q]
        ops = " ".join(f"{k} {cb[k]}/{ca[k]}" for k in KINDS)
        flag = "" if cb == ca else "  COUNTS DIFFER"
        bad += cb != ca
        print(f"{q}: {'identical' if same else 'text differs'}  {ops}{flag}")
        if not same and "--diff" in argv:
            sys.stdout.writelines(difflib.unified_diff(
                before[q].splitlines(True), after[q].splitlines(True),
                "before", "after", n=1))
    n = len(set(before) | set(after))
    print(f"{n - bad}/{n} queries with identical operator counts")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
