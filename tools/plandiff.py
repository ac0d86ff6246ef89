#!/usr/bin/env python3
"""Compare two sides of formatted plan dumps key by key.

`Test/runMain graft.PlanDump <tag> <side>` and `graft.StageDump` write
one `<key>_<side>.txt` per key (`.explain("formatted")`). This script
pairs `<key>_<sideA>.txt` with `<key>_<sideB>.txt` in one directory,
normalises both and sorts every key into one category:

  identical     equal after normalisation
  expand-order  equal except for the order of the distinct-aggregate
                groups in an `Expand` and the grouping keys after it;
                that order is not stable from one JVM to the next
                (seen on `q_profile` and `dedup_substring`)
  differ        any other difference
  missing       a dump exists on one side only

The normalisation removes what changes from one JVM or one run to the
next: expression ids (`#12L`), plan ids, codegen stage ids, RDD ids,
call-site line numbers, temporary paths, lambda class names and object
hash codes (`Pipeline$$$Lambda$6460/0x00007f...@f2f703a`,
`MinHashUnion$@177d8003`), and graft's internal column names
(`__graft_*`, the prefix column `__off` / `__c_off`). It also drops the
rank mode the top-k exec node printed as its last argument before it
had one mode (`rk: bigint, RowNumber`).

Usage:
  python3 tools/plandiff.py <dir> <sideA> <sideB> [--must-match k1,k2,...] [--show]

Prints each category with its keys. Exits 1 when a key named in
`--must-match` is not identical (or is missing), else 0. `--show` adds
a unified diff of every `differ` key.
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#[0-9]+L?"), ""),
    (re.compile(r"plan_id=[0-9]+"), ""),
    (re.compile(r"\[codegen id : [0-9]+\]"), "[codegen]"),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[n]"),
    (re.compile(r"\.scala:[0-9]+"), ".scala:N"),
    (re.compile(r"/tmp/[^] ,]*"), "/tmp/P"),
    (re.compile(r"__graft_[A-Za-z0-9_]+"), "__graft_X"),
    (re.compile(r"__c_off|__off"), "__OFF"),
    (re.compile(r"([a-z_]+): bigint, RowNumber$", re.M), r"\1: bigint"),
    # lambda classes and object identity hash codes
    (re.compile(r"\$\$Lambda\$?[0-9]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda@H"),
    (re.compile(r"(\$?)@[0-9a-f]{4,8}\b"), r"\1@H"),
]


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def tree(text):
    """The operator tree: the lines before the first node detail."""
    return text.split("\n\n\n", 1)[0]


def expand_order_only(a, b):
    """True when `a` and `b` differ only by a permutation inside lines:
    same operator tree with an `Expand`, the same line count, and every
    differing line pair made of the same characters."""
    if "Expand" not in tree(a) or tree(a) != tree(b):
        return False
    la, lb = a.splitlines(), b.splitlines()
    return len(la) == len(lb) and all(
        x == y or sorted(x) == sorted(y) for x, y in zip(la, lb))


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalise(f.read())


def keys_of(d, side):
    suffix = f"_{side}.txt"
    return {f[: -len(suffix)] for f in os.listdir(d) if f.endswith(suffix)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir")
    ap.add_argument("side_a")
    ap.add_argument("side_b")
    ap.add_argument("--must-match", default="",
                    help="comma-separated keys that must be identical")
    ap.add_argument("--show", action="store_true",
                    help="print a unified diff of every differing key")
    args = ap.parse_args()

    ka, kb = keys_of(args.dir, args.side_a), keys_of(args.dir, args.side_b)
    cats = {"identical": [], "expand-order": [], "differ": [], "missing": []}
    diffs = {}
    for k in sorted(ka | kb):
        if k not in ka or k not in kb:
            cats["missing"].append(k)
            continue
        a = read(os.path.join(args.dir, f"{k}_{args.side_a}.txt"))
        b = read(os.path.join(args.dir, f"{k}_{args.side_b}.txt"))
        if a == b:
            cats["identical"].append(k)
        elif expand_order_only(a, b):
            cats["expand-order"].append(k)
        else:
            cats["differ"].append(k)
            diffs[k] = difflib.unified_diff(
                a.splitlines(), b.splitlines(),
                f"{k}_{args.side_a}", f"{k}_{args.side_b}", lineterm="", n=1)

    print(f"{len(ka | kb)} keys, {args.side_a} vs {args.side_b}")
    for cat, ks in cats.items():
        print(f"{cat} ({len(ks)}): {' '.join(ks)}")
    if args.show:
        for k, d in diffs.items():
            print("\n".join(d))

    must = [k for k in args.must_match.split(",") if k]
    bad = [k for k in must if k not in cats["identical"]]
    if bad:
        print(f"MUST-MATCH FAILED ({len(bad)}): {' '.join(bad)}")
        return 1
    if must:
        print(f"must-match: all {len(must)} identical")
    return 0


if __name__ == "__main__":
    sys.exit(main())
