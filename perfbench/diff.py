#!/usr/bin/env python3
"""Counter diff between two traced runs.

Prints, per op and for the whole workload, the change in every exact counter
(job, stage and task counts, shuffle volume, plan node counts, scan input)
from trace A to trace B. Counters do not drift with the host's clock the way
wall time does, so this is the comparison to make across sessions and
commits. Run it on two traces of the same commit first: a counter that does
not repeat exactly there is named as unusable for claims.

Usage: python3 perfbench/diff.py A.json B.json
  (trace files from `perfbench/run.py --trace 1`, under perfbench/.work/traces/)
"""
import json
import sys

# counters that must repeat exactly between runs of one commit and seed
EXACT = ["exec.jobs", "exec.stages", "exec.tasks",
         "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_records",
         "plans.exchanges", "plans.broadcasts", "plans.expands", "plans.sort_aggs",
         "plans.hash_aggs", "plans.smj", "plans.bhj",
         "sources.input_mb", "sources.input_rows", "sources.scan_tasks"]


def totals(per_op):
    out = {}
    for counters in per_op.values():
        for k, v in counters.items():
            out[k] = out.get(k, 0.0) + v
    return out


def differs(x, y):
    # MB counters are float sums taken in task-completion order
    return abs(x - y) > 1e-9 * max(1.0, abs(x))


def diff_rows(a, b):
    """[(counter, a, b)] for the EXACT counters that differ."""
    return [(k, a.get(k, 0.0), b.get(k, 0.0)) for k in EXACT if differs(a.get(k, 0.0), b.get(k, 0.0))]


def main(path_a, path_b):
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    if a["workload"] != b["workload"]:
        sys.exit(f"different workloads: {a['workload']} vs {b['workload']}")
    print(f"workload {a['workload']}: build {a['build']} seed {a['seed']} -> "
          f"build {b['build']} seed {b['seed']}")
    moved = set()
    for op in sorted(set(a["per_op"]) | set(b["per_op"])):
        for k, x, y in diff_rows(a["per_op"].get(op, {}), b["per_op"].get(op, {})):
            moved.add(k)
            print(f"  {op:<28} {k:<24} {x:>14.6g} -> {y:<14.6g} ({y - x:+.6g})")
    ta, tb = totals(a["per_op"]), totals(b["per_op"])
    print("workload totals:")
    for k in EXACT:
        x, y = ta.get(k, 0.0), tb.get(k, 0.0)
        print(f"  {k:<24} {x:>14.6g} -> {y:<14.6g} ({y - x if differs(x, y) else 0:+.6g})")
    same = [k for k in EXACT if k not in moved]
    print("unchanged: " + (", ".join(same) or "none"))
    if moved:
        print("changed: " + ", ".join(sorted(moved)) +
              ("  -- same build and seed, so these are unusable for claims"
               if (a["build"], a["seed"]) == (b["build"], b["seed"]) else ""))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
