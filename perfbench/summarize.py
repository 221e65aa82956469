"""Summarise recorded runs: for each workload, the median of every metric
over the runs in ``perfbench/results/c<cores>/`` and its spread, the
distance between the first and third quartile as a share of the median.

    python3 perfbench/summarize.py [--cores 4] [--write perfbench/baseline/c4.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(cores: int) -> dict:
    out: dict = {}
    for wdir in sorted(glob.glob(os.path.join(HERE, "results", f"c{cores}", "*"))):
        runs = {0: [], 1: []}
        for path in sorted(glob.glob(os.path.join(wdir, "*.json"))):
            with open(path) as fh:
                rec = json.load(fh)
            runs[rec["trace"]].append(rec)
        entry: dict = {}
        for trace, key in ((0, "e2e"), (0, "named"), (1, "per_layer")):
            values: dict[str, list[float]] = {}
            for rec in runs[trace]:
                for k, v in rec.get(key, {}).items():
                    if isinstance(v, (int, float)):
                        values.setdefault(k, []).append(v)
            entry[key] = {}
            for k, vs in values.items():
                med = statistics.median(vs)
                row = {"median": med, "runs": len(vs)}
                if len(vs) >= 2:
                    q1, _, q3 = statistics.quantiles(vs, n=4)
                    row["spread"] = (q3 - q1) / med if med else 0.0
                entry[key][k] = row
        entry["seeds"] = sorted({r["seed"] for r in runs[0] + runs[1]})
        entry["failed_runs"] = sum(bool(r["failures"]) for r in runs[0] + runs[1])
        out[os.path.basename(wdir)] = entry
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--write", help="also write the summary as JSON to this path")
    args = ap.parse_args()
    summary = summarize(args.cores)
    for workload, entry in summary.items():
        print(f"# {workload}  seeds={entry['seeds']}  failed runs={entry['failed_runs']}")
        for key in ("e2e", "named", "per_layer"):
            for k, row in entry[key].items():
                spread = f"{row['spread']:.3f}" if "spread" in row else "-"
                print(f"{key:<9} {k:<28} median={row['median']:<14.6g} spread={spread}  n={row['runs']}")
    if args.write:
        os.makedirs(os.path.dirname(os.path.abspath(args.write)), exist_ok=True)
        with open(args.write, "w") as fh:
            json.dump({"cores": args.cores, "workloads": summary}, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
