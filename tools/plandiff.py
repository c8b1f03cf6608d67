#!/usr/bin/env python3
"""Compare two `graft.tools.Prof plan` dumps query by query.

Usage: python3 tools/plandiff.py <dirA> <dirB> [--expect q1,q2,...]

Each dir holds one `<query>.txt` per query (`explain("formatted")`) and
the `_meta.txt` that `Prof plan` writes: the shuffle partitions and local
cores the dump ran under. Partition counts appear in the plans, so when
the two `_meta.txt` differ, or one is missing, the dumps are not
comparable and the script exits 2 without diffing.
Both sides are normalized first, so that two dumps of the same code
compare equal:
  - expression ids (`#123`, `#123L`), exchange ids (`plan_id=N`,
    `[id=#N]`) and RDD ids (`RDD[12]`);
  - `_common_expr_N` and lambda variable counters (`lambda x_12`);
  - object hashes (`@1a2b3c4d`) and JVM lambda class names
    (`$Lambda$6661/0x00007f2c298d43c8`);
  - temp-dir paths, the checkout path in front of `spark-warehouse`,
    and Scala source line numbers;
  - q184's per-run table suffix (`graft_q184_orders_<hex>`).

One run-order effect survives normalization even on identical code and
is not reported: the column order of a distinct-aggregate Expand follows
expression-id allocation, so q13, q140, q147, q196 and q367 may differ on
lines that carry the `gid` grouping column (only those lines are
ignored).

Prints every query whose plan differs (with its first differing lines),
every query present on one side only, and each skip; exits 1 if any
query differs or is missing, and 2 if the dumps are not comparable.

With `--expect`, the comma-separated queries (full names, or the `qN`
prefix) are the ones a change is meant to re-plan: a difference in a
listed query is reported as EXPECTED and does not fail the run, while a
listed query whose plan did NOT change (or that matches no query) is
reported as UNCHANGED and does. Differences outside the list fail as
without `--expect`.

Dev tool only — not part of the shipped Scala library.
"""
import difflib
import os
import re
import sys

EXPAND_ORDER = ("q13_", "q140_", "q147_", "q196_", "q367_")

RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\b(plan_id|id)=#?\d+"), r"\1=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"(/tmp|/var/folders)/[^\s,\]\)]*"), "/TMP"),
    (re.compile(r"[^\s,\[\(]*/spark-warehouse/"), "<checkout>/spark-warehouse/"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"(graft_q184_\w+?)_[0-9a-f]+\b"), r"\1_T"),
]


def normalize(text: str) -> list:
    lines = []
    for line in text.splitlines():
        for pat, rep in RULES:
            line = pat.sub(rep, line)
        lines.append(line)
    return lines


META = "_meta.txt"


def load(d: str) -> dict:
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".txt") and f != META}


def meta_mismatch(a_dir: str, b_dir: str):
    """Why the two dumps cannot be compared, or None if they can."""
    metas = []
    for d in (a_dir, b_dir):
        p = os.path.join(d, META)
        if not os.path.exists(p):
            return f"{p} is missing (dump it again with `Prof plan`)"
        metas.append(open(p).read().strip())
    if metas[0] != metas[1]:
        return (f"the dumps ran under different settings: "
                f"{a_dir}: {metas[0].splitlines()} vs {b_dir}: {metas[1].splitlines()}")
    return None


def listed(name: str, expect: list) -> bool:
    return any(name == e or name.startswith(e + "_") for e in expect)


def main(a_dir: str, b_dir: str, expect=None) -> int:
    why = meta_mismatch(a_dir, b_dir)
    if why:
        print(f"plandiff: not comparable: {why}", file=sys.stderr)
        return 2
    a, b = load(a_dir), load(b_dir)
    bad = 0
    for name in sorted(set(a) ^ set(b)):
        print(f"ONLY-IN-{'A' if name in a else 'B'} {name}")
        bad += 1
    same = skipped = expected = 0
    changed = set()
    for name in sorted(set(a) & set(b)):
        la = normalize(open(a[name]).read())
        lb = normalize(open(b[name]).read())
        if la == lb:
            same += 1
            continue
        diff = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
                if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        if name.startswith(EXPAND_ORDER) and all("gid" in l for l in diff):
            print(f"SKIP {name}: only the Expand column order differs")
            skipped += 1
            continue
        changed.add(name)
        if expect is not None and listed(name, expect):
            expected += 1
            print(f"EXPECTED {name}")
            continue
        bad += 1
        print(f"DIFF {name}")
        for line in diff[:6]:
            print(f"  {line[:160]}")
    for e in expect or []:
        if not any(listed(n, [e]) for n in changed):
            print(f"UNCHANGED {e}: listed in --expect, plan did not change")
            bad += 1
    exp = "" if expect is None else f"{expected} expected, "
    print(f"== {same} identical, {skipped} skipped (run-order cases), "
          f"{exp}{bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    expect = None
    if "--expect" in args:
        i = args.index("--expect")
        if i + 1 >= len(args):
            sys.exit(__doc__)
        expect = [e for e in args[i + 1].split(",") if e]
        del args[i:i + 2]
    if len(args) != 2:
        sys.exit(__doc__)
    sys.exit(main(args[0], args[1], expect))
