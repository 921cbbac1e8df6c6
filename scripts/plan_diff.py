#!/usr/bin/env python3
"""Compare two perfbench ``*-plans.json`` artifacts.

Usage: python3 scripts/plan_diff.py A B

A traced run (``perfbench/run.py --trace 1``) writes the formatted plans
it captured, in capture order, to ``.perfbench/results/<workload>-seed<N>
-plans.json``. Expression ids, plan ids, RDD ids, the run's working
directory and its temporary paths change from run to run of the same
code, so they are masked before the plans are compared. Prints the
owner of each plan that differs, with a diff of the first one, and
exits 1 on any difference, 0 when every plan is the same.
"""

import difflib
import json
import re
import sys

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\S*/\.perfbench/[^/\s\]]+/tmp/[^\s\]]+"), "<tmp>"),
    (re.compile(r"\S*/\.perfbench/[^/\s\]]+"), "<work>"),
)


def load(path: str) -> list[tuple[str, str]]:
    """(owner, masked plan) of each plan in the artifact at ``path``."""
    with open(path, encoding="utf-8") as fh:
        plans = json.load(fh)
    out = []
    for p in plans:
        text = p["plan"]
        for rx, sub in _MASKS:
            text = rx.sub(sub, text)
        out.append((p["owner"], text))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    differ = len(a) != len(b)
    if differ:
        print(f"{len(a)} plans in {argv[1]}, {len(b)} in {argv[2]}")
    for i, ((owner_a, plan_a), (owner_b, plan_b)) in enumerate(zip(a, b)):
        if (owner_a, plan_a) == (owner_b, plan_b):
            continue
        print(f"plan {i}: {owner_a}" + (f" / {owner_b}" if owner_b != owner_a else ""))
        if not differ:  # the first difference in full
            lines_a, lines_b = plan_a.splitlines(True), plan_b.splitlines(True)
            sys.stdout.writelines(difflib.unified_diff(lines_a, lines_b, argv[1], argv[2], n=1))
        differ = True
    return int(differ)


if __name__ == "__main__":
    sys.exit(main(sys.argv))
