#!/usr/bin/env python3
"""Diff battery query plans dumped by `graft.tools.PlanDump`.

PlanDump writes `<query>_<suffix>.txt` per query. Two layouts compare:

    python3 scripts/plan_diff.py DIR_A DIR_B        # one suffix per dir
    python3 scripts/plan_diff.py DIR SUFFIX_A SUFFIX_B

Before the diff, ids that change from run to run are normalized:
expression ids (`#123`), exchange plan ids (`plan_id=…`), the RDD ids
of `Scan ExistingRDD` nodes (`MapPartitionsRDD[12]`), broadcast ids
(`Broadcast(648)`) and `.scala:<line>` call sites. Prints one line per
query (`same`, `DIFF` or `MISSING`), a unified diff for every differing
plan, and exits 1 if any plan differs or is missing on one side, 2 on
a usage error, else 0.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def usage(message):
    print(message, file=sys.stderr)
    sys.exit(2)


def plans(directory, suffix=None):
    """{query: path} for the dir's `<query>_<suffix>.txt` files; with no
    suffix given the dir must hold exactly one."""
    out, seen = {}, set()
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".txt") or "_" not in name:
            continue
        query, suf = name[: -len(".txt")].rsplit("_", 1)
        if suffix is None:
            seen.add(suf)
        elif suf != suffix:
            continue
        out[query] = os.path.join(directory, name)
    if len(seen) > 1:
        usage(f"{directory} holds several suffixes {sorted(seen)}; name two of them")
    return out


def main(argv):
    if len(argv) == 2 and all(os.path.isdir(a) for a in argv):
        left, right = plans(argv[0]), plans(argv[1])
    elif len(argv) == 3 and os.path.isdir(argv[0]):
        left, right = plans(argv[0], argv[1]), plans(argv[0], argv[2])
    else:
        usage(__doc__)
    if not left and not right:
        usage("no plan files found")
    differ = 0
    for query in sorted(set(left) | set(right)):
        if query not in left or query not in right:
            print(f"MISSING {query} (only in {'left' if query in left else 'right'})")
            differ += 1
            continue
        with open(left[query], encoding="utf-8") as f:
            a = normalize(f.read())
        with open(right[query], encoding="utf-8") as f:
            b = normalize(f.read())
        if a == b:
            print(f"same    {query}")
        else:
            print(f"DIFF    {query}")
            sys.stdout.writelines(difflib.unified_diff(a, b, left[query], right[query], n=2))
            differ += 1
    print(f"{len(set(left) | set(right)) - differ} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
