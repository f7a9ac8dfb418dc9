#!/usr/bin/env python3
"""Compare two sets of graft benchmark artifacts.

    python3 graftbench/compare.py BASE_ARTIFACT... -- NEW_ARTIFACT...

Artifacts are the JSON files run.py writes to graftbench/.work/artifacts.
Each set is summarised per workload, trace mode and metric by its median
and its spread (interquartile range over the median). Runs whose host
blocks differ in anything but the seed and the source version are never
compared: a change of core count, heap or input size is not a change of
code. Exits 2 when it refuses.
"""
import json
import statistics
import sys

# Host fields that may differ between the runs being compared.
VARYING = {"seed", "source_sha", "git_sha"}


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def identity(run):
    return json.dumps({k: v for k, v in run["host"].items() if k not in VARYING}, sort_keys=True)


def summary(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        raise SystemExit(__doc__)
    hosts = {identity(r) for r in base + new}
    if len(hosts) > 1:
        print("refusing to compare: the runs' host blocks differ", file=sys.stderr)
        for h in sorted(hosts):
            print("  " + h, file=sys.stderr)
        sys.exit(2)
    groups = sorted({(r["workload"], r["trace"]) for r in base + new})
    print(f"{'workload':16s} {'metric':34s} {'base':>12s} {'spread':>7s} "
          f"{'new':>12s} {'spread':>7s} {'change':>8s}")
    for workload, trace in groups:
        b = [r for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        n = [r for r in new if (r["workload"], r["trace"]) == (workload, trace)]
        if not b or not n:
            continue
        for name in b[0]["metrics"]:
            bm, bs = summary([r["metrics"][name]["value"] for r in b])
            nm, ns = summary([r["metrics"][name]["value"] for r in n if name in r["metrics"]])
            change = f"{(nm - bm) / abs(bm):+.1%}" if bm else "-"
            print(f"{workload:16s} {name:34s} {bm:12.4g} {bs:7.1%} {nm:12.4g} {ns:7.1%} {change:>8s}")
        failed = sum(r["failed"] for r in n)
        if failed:
            print(f"{workload:16s} {failed} failed jobs in the new set")


if __name__ == "__main__":
    main(sys.argv[1:])
