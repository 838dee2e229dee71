"""Compare two sets of benchmark results.

    python3 perfbench/compare.py --base A.json [A2.json ...] --new B.json [B2.json ...]

Each file is a detail record the benchmark wrote under
``.perfbench_out/``. Prints, per workload and end-to-end metric, each
side's median and quartiles and the change of the medians. Refuses to
compare results taken at different core counts or masters: readings
from local[4] and local[32] measure different machines, not different
code.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict
from statistics import median, quantiles


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def summary(values: list[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.4g} (n=1)"
    q1, _, q3 = quantiles(values, n=4)
    return f"{median(values):.4g} [{q1:.4g}, {q3:.4g}] (n={len(values)})"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--new", nargs="+", required=True)
    args = p.parse_args(argv)
    base, new = load(args.base), load(args.new)
    hosts = {(r["host"]["nproc"], r["host"]["master"]) for r in base + new}
    if len(hosts) > 1:
        print(f"refusing to compare results from different core counts: {sorted(hosts)}",
              file=sys.stderr)
        return 2
    sides = {"base": defaultdict(list), "new": defaultdict(list)}
    for side, records in (("base", base), ("new", new)):
        for r in records:
            for metric, value in r["end_to_end"].items():
                sides[side][(r["workload"], metric)].append(value)
    for key in sorted(set(sides["base"]) & set(sides["new"])):
        b, n = sides["base"][key], sides["new"][key]
        change = median(n) / median(b) - 1
        print(f"{key[0]:22s} {key[1]:14s} base {summary(b):34s} new {summary(n):34s} {change:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
