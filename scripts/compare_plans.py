#!/usr/bin/env python3
"""Plan identity across two DumpPlans output dirs (say, a parent commit and
a change, both dumped with the same query names and scale factor).

Checks, per query:
  - the same executions ran (the labels `<name>.exec<k>` and `<name>` in
    `_summary.txt`, in order);
  - each execution's initial physical plan tree (the `== Initial Plan ==`
    section, planned before any stage ran) is identical;
  - each execution's optimized logical plan is identical once expression
    ids, RDD ids and plan ids are masked. Remaining differing lines are
    printed side by side, so a renamed internal column reads as such.

Census lines describe the final adaptive plans. Under adaptive execution
a join's build side, and even its strategy, depends on which query stage
finished first, so two runs of the same commit can differ there; census
differences are printed, and are judged against a second dump of the
same commit.

Usage: python3 scripts/compare_plans.py <dumpDirA> <dumpDirB>
Exit status 1 when the executions or an initial plan tree differ.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"(RDD|rdd)\[\d+\]"), r"\1[N]"),
]


def census(d):
    with open(os.path.join(d, "_summary.txt")) as f:
        rows = [line.split() for line in f if line.strip()]
    return [(r[0], " ".join(r[1:])) for r in rows]


def read(d, name):
    path = os.path.join(d, name)
    return open(path).read() if os.path.exists(path) else None


def initial_tree(text):
    """The top-level `== Initial Plan ==` tree. A cached relation inside it
    prints its own adaptive plan; that nested final plan, and any runtime
    statistics, are dropped."""
    lines = text.splitlines()
    start = next((i + 1 for i, l in enumerate(lines)
                  if l.startswith("+- == Initial Plan ==")), 0)
    tree, skip_at = [], None
    for l in lines[start:]:
        if not l.strip():
            break
        indent = len(l) - len(l.lstrip(" :|+-"))
        body = l.strip(" :|")
        if skip_at is not None:
            if indent == skip_at and body.startswith("+- == Initial Plan =="):
                skip_at = None
            else:
                continue
        if body.startswith("+- == Final Plan =="):
            skip_at = indent
            continue
        l = re.sub(r", Statistics\(.*\)$", "", l)
        tree.append(re.sub(r"\(\d+\)", "(N)", l))
    return tree


def logical(text):
    for rx, sub in MASKS:
        text = rx.sub(sub, text)
    return text.splitlines()


def changed(a, b):
    return [d for d in difflib.unified_diff(a, b, lineterm="", n=0)
            if d[:1] in "+-" and not d.startswith(("+++", "---"))]


def main(a, b):
    ca, cb = census(a), census(b)
    if [l for l, _ in ca] != [l for l, _ in cb]:
        print("executions differ:")
        print("  A:", " ".join(l for l, _ in ca))
        print("  B:", " ".join(l for l, _ in cb))
        return 1
    failed = False
    census_diffs = reviewed = 0
    for (label, xa), (_, xb) in zip(ca, cb):
        if xa != xb:
            census_diffs += 1
            print(f"{label}: final-plan census differs\n  A: {xa}\n  B: {xb}")
        pa, pb = read(a, f"{label}.txt"), read(b, f"{label}.txt")
        if pa is None or pb is None or initial_tree(pa) != initial_tree(pb):
            failed = True
            print(f"{label}: initial plan tree differs or is missing")
        la, lb = read(a, f"{label}.logical.txt"), read(b, f"{label}.logical.txt")
        if la is None or lb is None:
            print(f"{label}: no logical plan in one of the dirs")
            continue
        diff = changed(logical(la), logical(lb))
        if diff:
            reviewed += 1
            print(f"{label}: {len(diff)} logical-plan lines differ")
            for d in diff:
                print("  " + d.strip()[:200])
    print(f"{len(ca)} executions; initial plan trees "
          f"{'DIFFER' if failed else 'identical'}; {census_diffs} final-plan census "
          f"lines differ; {reviewed} with logical-plan lines to review")
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
