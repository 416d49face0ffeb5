#!/usr/bin/env python3
"""Compare two traced benchmark artifacts on load-independent counters.

    python3 perfbench/structural_diff.py A.json B.json

A and B are artifacts of `run.py --trace 1` (written to
$CARGO_TARGET_DIR/artifacts/). Wall-clock times move with host load;
these counters do not: jobs, stages and tasks the scheduler ran, bytes and
records read from inputs and moved through shuffles, and the RDDs each
operation materialized. For two runs of the same code and seed
every counter should repeat exactly; any that does not is named. For a
parent/change pair the same listing is the change's structural evidence.

Operations are matched by (op, pass, occurrence); operations only one of
the runs reached (a run does as many passes as its time allows) are
skipped and counted. Exit status: 0 when every compared counter is equal,
1 otherwise.
"""
import json
import sys
from collections import defaultdict

COUNTERS = ["jobs", "stages", "tasks", "input_bytes", "input_records",
            "shuffle_write_bytes", "shuffle_write_records",
            "shuffle_read_bytes", "shuffle_read_records"]


def load(path):
    doc = json.load(open(path))
    h = doc["harness"]
    if not h.get("spans"):
        sys.exit(f"{path}: not a traced artifact (run with --trace 1)")
    return h


def per_op(h):
    """{(op, pass, n): {counter: value}} summed over each op's span tree,
    plus the same per named sub-span (domain.*, calc.*, export.*)."""
    spans = {s["id"]: s for s in h["spans"]}
    kids = defaultdict(list)
    for s in spans.values():
        kids[s["parent"]].append(s["id"])

    def tree(i):
        out = [i]
        for k in kids.get(i, []):
            out += tree(k)
        return out

    def sums(i):
        return {c: sum(spans[j]["own"].get(c, 0) for j in tree(i)) for c in COUNTERS}

    out, seen = {}, defaultdict(int)
    for op in h["ops"]:
        base = (op["op"], op["pass"])
        key = base + (seen[base],)
        seen[base] += 1
        if op["span"] not in spans:
            continue
        row = sums(op["span"])
        row["mat_rdds"] = op["mat_rdds"]
        out[key] = row
        names = defaultdict(int)
        for j in tree(op["span"])[1:]:
            name = spans[j]["name"]
            sub = key + (f"{name}#{names[name]}",)
            names[name] += 1
            out[sub] = sums(j)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        print(f"note: comparing {a['workload']}/seed {a['seed']} with "
              f"{b['workload']}/seed {b['seed']}; inputs differ")
    pa, pb = per_op(a), per_op(b)
    common = sorted(set(pa) & set(pb), key=str)
    only = len(set(pa) ^ set(pb))
    diffs = []
    for k in common:
        for c in pa[k]:
            if pa[k][c] != pb[k].get(c):
                diffs.append((k, c, pa[k][c], pb[k].get(c)))
    print(f"compared {len(common)} operations/spans "
          f"({only} reached by only one run), {len(diffs)} counters differ")
    moved = defaultdict(int)
    for k, c, x, y in diffs:
        moved[c] += 1
        label = "/".join(str(p) for p in k)
        print(f"  {label:<60} {c:<22} {x} -> {y}")
    for c in COUNTERS + ["mat_rdds"]:
        state = f"differs in {moved[c]} places" if moved[c] else "repeats exactly"
        print(f"  {c:<22} {state}")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
