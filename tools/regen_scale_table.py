#!/usr/bin/env python3
"""Regenerate SCALE.md's MAIN table numbers from SCALE_DETAIL.json.

Only the numeric columns (sf0.1, sf1, ratio, leading exponent) of rows
whose item name appears in the JSON are rewritten; the per-row
annotation text and every other section (second decade, skew tables —
which share row names) are left untouched. An item whose exponent is
null (its input volume did not grow, so no exponent exists) gets `n/a`.
Run from the repo root:

    python3 tools/regen_scale_table.py           # rewrite SCALE.md
    python3 tools/regen_scale_table.py --check   # exit 1 on drift

`--check` writes nothing; it names each row whose committed numbers
differ from what the JSON regenerates, and exits 1 if there is one.
"""
import json
import re
import sys

check = sys.argv[1:] == ["--check"]
if sys.argv[1:] and not check:
    sys.exit("usage: regen_scale_table.py [--check]")

detail = json.load(open("SCALE_DETAIL.json"))
items = detail["items"]

lines = open("SCALE.md").read().split("\n")
out = []
in_main = False
updated = 0
drifted = []
for i, ln in enumerate(lines):
    if ln.startswith("| item | sf0.1 | sf1 |"):
        in_main = True
        out.append(ln)
        continue
    if in_main and not ln.startswith("|"):
        in_main = False
    if in_main and ln.startswith("|") and not ln.startswith("|---"):
        cells = ln.split("|")
        name = cells[1].strip() if len(cells) > 1 else ""
        if name in items and len(cells) >= 7:
            v = items[name]
            m = re.match(r"\s*(-?\d+\.\d+)(.*)$", cells[6], re.S)
            if m is None:
                # non-numeric exponent cell (e.g. "n/a (rerun pending)"):
                # leave the row alone rather than prepending a number
                # next to stale text
                print(f"skipping non-numeric exponent row: {name}",
                      file=sys.stderr)
                out.append(ln)
                continue
            annot = m.group(2)
            expo = v["exponent"]
            cells[2] = f" {v['a']:.2f} s "
            cells[3] = f" {v['b']:.2f} s "
            cells[4] = f" {v['ratio']:.2f} "
            cells[6] = (" n/a" if expo is None else f" {expo:.2f}") + annot
            row = "|".join(cells)
            if row != ln:
                drifted.append(name)
            out.append(row)
            updated += 1
            continue
    out.append(ln)

if check:
    for name in drifted:
        print(f"drifted: {name}")
    print(f"{len(drifted)} of {updated} rows differ from SCALE_DETAIL.json")
    sys.exit(1 if drifted else 0)
open("SCALE.md", "w").write("\n".join(out))
print(f"updated {updated} rows")
