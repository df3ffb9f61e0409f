#!/usr/bin/env python3
"""Operator-by-operator diff of two plan dump directories.

Usage: python3 tools/plan_shape.py A_dir B_dir

Both directories hold `graft.ExplainOne` dumps (`<query>_<suffix>.txt`,
explain("formatted")). Files are paired by query name, so the suffixes
may differ. Each plan is normalized before the compare:

  - expression ids        `v#406L`          -> `v#n`
  - exchange plan ids     `plan_id=3349`    -> `plan_id=n`
  - RDD ids               `RDD[173]`        -> `RDD[n]`
  - source line refs      `Graph.scala:415` -> `*.scala:n`
  - JVM object identities `Graph$$$Lambda$5284/0x00007f23@5279a1ca`,
                          `Kmv$BoundedDistinctMinK@6378d7a1` -> `...@n`

and split into its numbered operator sections ("(k) Name" plus the
lines under it, and the tree header). The report lists every query
whose operators differ, with the first differing lines of each
operator; the exit status is 1 if any query differs or is missing on
one side, else 0.
"""
import difflib
import pathlib
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"\[\d+\]"), "[n]"),
    (re.compile(r"[\w$]+\.scala:\d+"), "*.scala:n"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@n"),
]
SECTION = re.compile(r"^\((\d+)\) (.+)$")


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def operators(text):
    """[(header, lines)]: the tree, then one entry per "(k) Name" section."""
    ops, head, body = [], "tree", []
    for line in normalize(text).splitlines():
        if SECTION.match(line):
            ops.append((head, body))
            head, body = line, []
        elif line.strip():
            body.append(line)
    ops.append((head, body))
    return ops


def query_files(d):
    return {p.name.rsplit("_", 1)[0]: p for p in sorted(pathlib.Path(d).glob("*.txt"))}


def compare(a, b):
    """Differences between two plans, one string per differing operator."""
    oa, ob = operators(a), operators(b)
    out = []
    if len(oa) != len(ob):
        out.append(f"operator count {len(oa) - 1} vs {len(ob) - 1}")
    for (ha, la), (hb, lb) in zip(oa, ob):
        if (ha, la) != (hb, lb):
            diff = [l for l in difflib.unified_diff([ha] + la, [hb] + lb, lineterm="", n=0)
                    if l[:1] in "+-" and l[:3] not in ("+++", "---")]
            out.append(f"{ha} / {hb}: " + " | ".join(diff[:4]))
    return out


def main(a_dir, b_dir):
    fa, fb = query_files(a_dir), query_files(b_dir)
    bad = 0
    for name in sorted(set(fa) | set(fb)):
        if name not in fa or name not in fb:
            print(f"MISSING {name}: only in {a_dir if name in fa else b_dir}")
            bad += 1
            continue
        diffs = compare(fa[name].read_text(), fb[name].read_text())
        if diffs:
            bad += 1
            print(f"DIFF {name}: {len(diffs)} operator(s)")
            for d in diffs:
                print(f"  {d}")
        else:
            print(f"SAME {name}: {len(operators(fa[name].read_text())) - 1} operators")
    print(f"\n{len(set(fa) | set(fb)) - bad} same, {bad} different or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
