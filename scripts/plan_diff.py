#!/usr/bin/env python3
"""Compare the physical-operator lines of two sets of plan dumps.

Usage:
    python3 scripts/plan_diff.py <dirA> <dirB>

Each directory holds the `<query>_<suffix>.txt` files that
`graft.BenchExtra explain <dir> <suffix> <query> ...` writes: the query's
formatted plan plus the pre-checkpoint plans of the eager dedup tiers.
All files of one directory must share one suffix.

From every `== Physical Plan ==` tree, the operator lines are kept with
expression ids (`#123`), lambda class names and `Dedup.scala:N` line
references masked, so that a refactor that keeps the plan compares
equal. Prints each query whose operator lines differ, with a unified
diff of them, and each query dumped on one side only; exits 1 if there
is any, 0 otherwise.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\$\$Lambda[$/][\w$/]*"), "$$Lambda"),
    (re.compile(r"Dedup\.scala:\d+"), "Dedup.scala:N"),
]


def operator_lines(text):
    """The masked lines of each physical-plan tree, in order: every line
    from a `== Physical Plan ==` header up to the next blank line."""
    out, in_tree = [], False
    for line in text.splitlines():
        if line.startswith("== Physical Plan =="):
            in_tree = True
        elif not line.strip():
            in_tree = False
        if in_tree:
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out.append(line.rstrip())
    return out


def dumps(directory):
    """{query: path} of the `<query>_<suffix>.txt` files in `directory`."""
    names = [f for f in os.listdir(directory) if f.endswith(".txt") and "_" in f]
    suffixes = {f[:-4].rsplit("_", 1)[1] for f in names}
    if len(suffixes) != 1:
        sys.exit(f"{directory}: expected one file suffix, found {sorted(suffixes)}")
    tail = f"_{suffixes.pop()}.txt"
    return {f[: -len(tail)]: os.path.join(directory, f) for f in names}


def main(dir_a, dir_b):
    a, b = dumps(dir_a), dumps(dir_b)
    bad = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {dir_a if q in a else dir_b}")
            bad += 1
            continue
        with open(a[q], encoding="utf-8") as fa, open(b[q], encoding="utf-8") as fb:
            la, lb = operator_lines(fa.read()), operator_lines(fb.read())
        if la != lb:
            print(f"{q}: operator lines differ")
            bad += 1
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(la, lb, a[q], b[q], lineterm=""))
    print(f"{len(a.keys() | b.keys())} queries, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
