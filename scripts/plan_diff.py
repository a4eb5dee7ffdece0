#!/usr/bin/env python3
"""Diff two `graft.PlanDump` plan-shape records and their oracles.

Usage: python3 scripts/plan_diff.py A B

A and B are each a `graft.PlanDump` out dir (its `planshape.json`) or a
record file itself, such as a committed `PLANSHAPE_rNN.json`. Each
query's record (operators, exchanges, joins, scans, windows, aggregates,
subqueries, codegen stages, kernel calls; or its failure) is compared
field by field. A record holds nothing that changes from one run of the
same plan to the next, so any difference is a re-plan. A query present
on one side only differs.

If both sides are dirs that also hold an `oracle_sql.json`
(graft.Verify writes the full map even with a name filter), every
oracle is compared too, after collapsing whitespace outside
single-quoted literals and dropping whitespace next to `(`, `)` and `,`.

Prints each query that differs with the fields that differ, and exits
1 if any do, 0 if none do and 2 on a usage error.
"""
import json
import os
import re
import sys


def norm_sql(sql):
    """Collapse whitespace outside '…' literals; drop it beside ( ) ,."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    text = "".join(out).strip()
    return re.sub(r" ?([(),]) ?", r"\1", text)


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def records(side):
    return load(os.path.join(side, "planshape.json")
                if os.path.isdir(side) else side)


def main(argv):
    if len(argv) != 3 or not all(os.path.exists(p) for p in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    differ = []
    ra, rb = records(a), records(b)
    for name in sorted(set(ra) | set(rb)):
        if name not in ra or name not in rb:
            differ.append(f"plan {name} (only in {a if name in ra else b})")
        elif ra[name] != rb[name]:
            fields = sorted(k for k in set(ra[name]) | set(rb[name])
                            if ra[name].get(k) != rb[name].get(k))
            differ.append(f"plan {name}: {', '.join(fields)}")
    oa, ob = os.path.join(a, "oracle_sql.json"), os.path.join(b, "oracle_sql.json")
    if os.path.isfile(oa) and os.path.isfile(ob):
        ja, jb = load(oa), load(ob)
        for name in sorted(set(ja) | set(jb)):
            if name not in ja or name not in jb:
                differ.append(
                    f"oracle {name} (only in {a if name in ja else b})")
            elif norm_sql(ja[name]) != norm_sql(jb[name]):
                differ.append(f"oracle {name}")
    for line in differ:
        print(line)
    print(f"[plan_diff] {len(differ)} differ "
          f"({len(set(ra) & set(rb))} plans compared)", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
