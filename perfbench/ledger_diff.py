#!/usr/bin/env python3
"""Compare two traced runs' ledgers on their exact count columns.

    python3 perfbench/ledger_diff.py A.json B.json

A and B are ledgers that `run.py --trace 1` writes to
`.bench_build/ledger/<workload>-s<seed>.json`. Operations are matched by
name and occurrence (the k-th execution of a query, or a batch number).
Prints every operation whose jobs, stages, tasks, exchanges or scans
differ, and exits 1 if any do. These counts do not move with host load,
so the comparison stays exact in a noisy window; wall times are not
compared.
"""
import json
import sys

COLUMNS = [("spark.jobs", "jobs"), ("spark.stages", "stages"),
           ("spark.tasks", "tasks"), ("catalyst.exchanges", "exchanges"),
           ("catalyst.scans", "scans")]


def keyed(path):
    with open(path) as f:
        ledger = json.load(f)
    seen = {}
    out = {}
    for row in ledger["ops"]:
        k = seen[row["op"]] = seen.get(row["op"], -1) + 1
        out[(row["op"], k)] = row
    return ledger, out


def main(a_path, b_path):
    a_meta, a = keyed(a_path)
    b_meta, b = keyed(b_path)
    if (a_meta["workload"], a_meta["cpus"]) != (b_meta["workload"], b_meta["cpus"]):
        print(f"note: comparing {a_meta['workload']}@{a_meta['cpus']} cpus "
              f"with {b_meta['workload']}@{b_meta['cpus']} cpus")
    changed = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"{key[0]}#{key[1]}: only in {'A' if key in a else 'B'}")
            changed += 1
            continue
        diffs = [f"{name} {a[key][col]} -> {b[key][col]}"
                 for name, col in COLUMNS if a[key][col] != b[key][col]]
        if diffs:
            print(f"{key[0]}#{key[1]}: " + ", ".join(diffs))
            changed += 1
    print(f"{changed} of {len(set(a) | set(b))} operations changed")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
