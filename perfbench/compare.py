#!/usr/bin/env python3
"""Diff the per-layer ledgers of two traced benchmark runs.

    python3 perfbench/compare.py BASE.json NEW.json

Each argument is a run record that `perfbench/run.py --trace 1` writes
to <build dir>/runs/<workload>-seed<seed>-trace1.json. Structural
counters (job, stage and exchange counts, output files, changed
partitions, rows rewritten) repeat exactly at one commit, so any change
is flagged; the exit code is 1 when one is. Timings are printed as
new/base ratios with the base value.
"""
import json
import sys

STRUCTURAL = ("spark.jobs", "spark.stages", "plans.exchanges", "sources.output_files",
              "operators.changed_parts", "operators.rows_rewritten")


def structural(name):
    return name in STRUCTURAL or (name.startswith("query.") and name.endswith(".jobs"))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    if base["workload"] != new["workload"]:
        sys.exit(f"workloads differ: {base['workload']} vs {new['workload']}")
    bl, nl = base["layer"], new["layer"]
    flagged = 0
    print(f"{base['workload']}: seed {base['seed']} -> seed {new['seed']}")
    for name in sorted(set(bl) | set(nl)):
        b, n = bl.get(name), nl.get(name)
        if structural(name):
            if b != n:
                flagged += 1
                print(f"  CHANGED  {name:40s} {b} -> {n}")
        elif name.endswith("_s") and b:
            print(f"  {n / b:6.3f}x  {name:40s} base {b:.4f} s")
    print(f"{flagged} structural counter(s) changed")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
