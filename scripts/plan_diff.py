#!/usr/bin/env python3
"""Diff two `graft.PlanDump` directories, ignoring run noise.

Usage: python3 scripts/plan_diff.py A B

Compares every `<query>.txt` plan in A with the one of the same name in
B after masking what changes from run to run of the same plan:
expression ids (`#12`, `#12L`), `plan_id=`, `codegen id :`, a bare
`Arguments: <n>` line, `$Lambda` class names, `@<hex>` object hashes,
`/tmp/graft-…` / `/tmp/graft_…` scratch names with the `<tag>-<n>` dir
a JVM's scratch root holds (`graft.Fs.scratch`), RDD ids and the `File.scala:<line>` call sites
of checkpointed RDDs, the checkout's `spark-warehouse` path, and the
JVM-wide counter in lambda variable names (`lambda x_49` -> `lambda x_`:
it counts every lambda built before, so it moves with construction
order, not with the plan). A query present on one side only differs.

A plan with an `Expand` node (cube, rollup, grouping sets, distinct
aggregates) can list its grouping sets, and the keys and filters that
follow them, in either order from one run to the next. Such a plan
that differs only in line-wise token order (same lines, and each
differing line holds the same multiset of tokens) is printed as
`order-only` and does not count as a difference.

If both dirs also hold an `oracle_sql.json` (graft.Verify writes the
full map even with a name filter), every oracle is compared too, after
collapsing whitespace outside single-quoted literals and dropping
whitespace next to `(`, `)` and `,`.

Prints each name that differs and exits 1 if any do (order-only plans
excepted), 0 otherwise.
"""
import json
import os
import re
import sys
from collections import Counter

PLAN_MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: "),
    (re.compile(r"\$Lambda[\w$/.@]*"), "$Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"/tmp/graft[-_][\w.-]*"), "/tmp/graft"),
    (re.compile(r"(/tmp/graft)/[A-Za-z]\w*-\d+"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:spark-warehouse/"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_"),
]
EXPAND = re.compile(r"^\(\d+\) Expand$", re.M)
TOKEN = re.compile(r"\w+|[^\w\s]")


def mask_plan(text):
    for pat, rep in PLAN_MASKS:
        text = pat.sub(rep, text)
    return text


def order_only(a, b):
    """True if masked plans a and b, both with an Expand node, differ
    only in the order of tokens within lines."""
    if not (EXPAND.search(a) and EXPAND.search(b)):
        return False
    la, lb = a.splitlines(), b.splitlines()
    return len(la) == len(lb) and all(
        x == y or Counter(TOKEN.findall(x)) == Counter(TOKEN.findall(y))
        for x, y in zip(la, lb))


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


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    differ, reordered = [], []
    pa, pb = plans(a), plans(b)
    for name in sorted(pa | pb):
        if name not in pa or name not in pb:
            differ.append(f"plan {name} (only in {a if name in pa else b})")
            continue
        ta = mask_plan(read(f"{a}/{name}.txt"))
        tb = mask_plan(read(f"{b}/{name}.txt"))
        if ta == tb:
            continue
        if order_only(ta, tb):
            reordered.append(f"plan {name} (order-only)")
        else:
            differ.append(f"plan {name}")
    oa, ob = f"{a}/oracle_sql.json", f"{b}/oracle_sql.json"
    if os.path.exists(oa) and os.path.exists(ob):
        ja, jb = json.loads(read(oa)), json.loads(read(ob))
        for name in sorted(set(ja) | set(jb)):
            if name not in ja or name not in jb:
                differ.append(
                    f"oracle {name} (only in {a if name in ja else b})")
            elif norm_sql(ja[name]) != norm_sql(jb[name]):
                differ.append(f"oracle {name}")
    for line in reordered + differ:
        print(line)
    print(f"[plan_diff] {len(differ)} differ, {len(reordered)} order-only "
          f"({len(pa & pb)} plans compared)", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
