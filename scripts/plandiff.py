#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories query by query.

    python3 scripts/plandiff.py OLD_DIR NEW_DIR [--noise OLD_DIR2 ...]

PlanDump writes one `<query>_<suffix>.txt` per query (the suffix is the
second PlanDump argument and must not contain `_`). Before comparing, each
plan is normalized so that two runs of the same code read the same:

- expression ids (`col#123L` -> `col#N`),
- exchange plan ids (`plan_id=123`) and RDD ids (`MapPartitionsRDD[45]`),
- source call sites of checkpointed RDDs: the line always
  (`at Analytics.scala:2538`), and for a `localCheckpoint` or `checkpoint`
  call site the file too (`localCheckpoint at <src>:N`), since moving the
  call into a shared helper moves it to another file,
- lambda variable names (`lambda x_339`), renumbered by first appearance
  within each plan: Spark names them from one counter for the whole JVM,
  so one lambda more or fewer renames those of every later plan,
- lambda class names and object identity hashes (`Foo$$Lambda$12/0x..@1a2b`),
- UUIDs.

Some plans still differ between two runs of the same code: an `Expand`
from a multi-distinct aggregate lists its groups in hash order. Pass more
dumps of the old code with `--noise` (repeatable); a query whose plan also
differs between OLD_DIR and any of them reads `noisy` instead of `diff`.

Prints `same`, `noisy` or `diff` and the query name for every query, with
the first differing lines (unified diff) under each `diff`, then a
one-line summary. Exits 1 if any query reads `diff` or is present on one
side only, else 0. Standard library only.
"""
import argparse
import difflib
import os
import re
import sys

DIFF_LINES = 6

_RULES = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(localCheckpoint|checkpoint) at [\w$.]+\.(scala|java):\d+"),
     r"\1 at <src>:N"),
    (re.compile(r"\bat ([\w$.]+)\.(scala|java):\d+"), r"at \1.\2:N"),
    (re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"([\w$])@[0-9a-f]{4,8}\b"), r"\1@N"),
]


# Spark's fresh lambda variables: x_N, y_N, z_N from one shared counter
_LAMBDA = re.compile(r"\blambda ([xyz])_(\d+)\b")


def renumber_lambdas(text):
    """Rename lambda variables `x_N` to `x_1, y_2, ...` by first appearance
    of each N in `text`, keeping the letter."""
    seen = {}

    def rename(m):
        k = seen.setdefault(m.group(2), len(seen) + 1)
        return f"lambda {m.group(1)}_{k}"

    return _LAMBDA.sub(rename, text)


def normalize(text):
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return renumber_lambdas(text).splitlines()


def load(directory):
    """Map query name -> normalized plan lines for one PlanDump directory."""
    plans = {}
    for fname in sorted(os.listdir(directory)):
        if not fname.endswith(".txt") or "_" not in fname:
            continue
        query = fname[: -len(".txt")].rsplit("_", 1)[0]
        with open(os.path.join(directory, fname), encoding="utf-8") as f:
            plans[query] = normalize(f.read())
    return plans


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old_dir")
    ap.add_argument("new_dir")
    ap.add_argument("--noise", action="append", default=[],
                    help="another PlanDump directory of the old code")
    args = ap.parse_args(argv)

    old, new = load(args.old_dir), load(args.new_dir)
    noise = [load(d) for d in args.noise]
    counts = {"same": 0, "noisy": 0, "diff": 0, "only-old": 0, "only-new": 0}
    for name in sorted(set(old) | set(new)):
        if name not in new:
            status = "only-old"
        elif name not in old:
            status = "only-new"
        elif old[name] == new[name]:
            status = "same"
        elif any(name in n and n[name] != old[name] for n in noise):
            status = "noisy"
        else:
            status = "diff"
        counts[status] += 1
        print(f"{status} {name}")
        if status == "diff":
            lines = [l for l in difflib.unified_diff(
                old[name], new[name], lineterm="", n=0)
                if not l.startswith(("---", "+++", "@@"))]
            for line in lines[:DIFF_LINES]:
                print(f"    {line}")
    print(" ".join(f"{k}={v}" for k, v in counts.items()))
    return 0 if counts["diff"] + counts["only-old"] + counts["only-new"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
