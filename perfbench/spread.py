#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, from run ledgers.

    python3 perfbench/spread.py perfbench/_work/ledger.jsonl [other-ledger.jsonl]

For each workload, prints every end-to-end metric's median, quartiles
(``statistics.quantiles(values, n=4)``) and the quartile distance as a
share of the median, beside the metric's bound in BENCHMARK.json. With
a second ledger, also prints how far each median moved from the first
set to the second, as a share of the first.

Runs are comparable only when their inputs are: the same datagen
canary and parameters for a workload, and the same source digest for
a (workload, seed). Ledgers that break this are refused.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [r for r in map(json.loads, f) if r["trace"] == 0]


def check_comparable(records: list[dict]) -> None:
    inputs: dict[str, tuple] = {}
    digests: dict[tuple, str] = {}
    for r in records:
        key = (r["canary"], json.dumps(r["inputs"]["params"], sort_keys=True))
        if inputs.setdefault(r["workload"], key) != key:
            sys.exit(f"refused: {r['workload']} runs were made from different datagen "
                     "inputs (canary or parameters differ); they are not comparable")
        ws = (r["workload"], r["seed"])
        if digests.setdefault(ws, r["inputs"]["source_digest"]) != r["inputs"]["source_digest"]:
            sys.exit(f"refused: {ws} has two different source digests")


def summary(records: list[dict], bounds: dict) -> dict:
    out = {}
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w]
        out[w] = {"runs": len(rs), "failed_share": sorted(
            {r["failed"] / r["attempted"] for r in rs})}
        for m in bounds:
            v = [r["metrics"][m]["value"] for r in rs]
            med = statistics.median(v)
            q1, _q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
            out[w][m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
    return out


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(p) for p in sys.argv[1:3]]
    check_comparable([r for s in sets for r in s])
    sums = [summary(s, bounds) for s in sets]
    for w in sums[0]:
        print(f"{w}: {sums[0][w]['runs']} runs, failed share {sums[0][w]['failed_share']}")
        for m, spec in bounds.items():
            a = sums[0][w][m]
            line = (f"  {m:12s} median {a['median']:12.4f}  q1 {a['q1']:12.4f}  q3 {a['q3']:12.4f}"
                    f"  spread {a['spread']:6.3f}  bound {spec['bound']}")
            if len(sums) > 1 and w in sums[1]:
                b = sums[1][w][m]
                worse = (b["median"] - a["median"]) / a["median"]
                if spec["better"] == "higher":
                    worse = -worse
                line += f"  | set2 median {b['median']:12.4f} spread {b['spread']:6.3f} worse-by {worse:+.3f}"
            print(line)


if __name__ == "__main__":
    main()
