#!/usr/bin/env python3
"""Record the oracle's expected outputs for a range of seeds.

    python3 perfbench/record.py --workload schedule --seeds 0-63

Merges into perfbench/expected.json (``workload → size → seed``). Runs
without Spark. A seed missing from the file is computed by run.py itself,
before Spark starts, so recording only saves that time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(ROOT, "perfbench", "expected.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("schedule", "crawl"))
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SIZES, expected

    lo, _, hi = args.seeds.partition("-")
    size = SIZES[args.workload]["full"]
    for seed in range(int(lo), int(hi or lo) + 1):
        exp = expected(args.workload, seed, size)
        try:
            with open(PATH) as f:
                table = json.load(f)
        except FileNotFoundError:
            table = {}
        table.setdefault(args.workload, {}).setdefault("full", {})[str(seed)] = exp
        tmp = f"{PATH}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
        os.replace(tmp, PATH)
        print(f"{args.workload} seed {seed}: {exp['rounds'][0]['scheduled']} scheduled",
              file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
