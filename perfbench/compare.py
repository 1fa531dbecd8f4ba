"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result records ``run.py`` writes to
``.perfbench/results/`` (copy them aside between commits). For every
workload and end-to-end metric it prints each side's median and
quartiles, and flags a metric whose new median is worse than the base
median by more than the bound in ``BENCHMARK.json``. It refuses to
compare records whose host fingerprints differ.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from host import same_host


def load(path: str) -> list[dict]:
    recs = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0 and "end_to_end" in rec:
            recs.append(rec)
    return recs


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json"),
              encoding="utf-8") as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, new = load(argv[0]), load(argv[1])
    if not base or not new:
        print("no untraced results on one side", file=sys.stderr)
        return 2
    ref = base[0]["fingerprint"]
    for rec in base + new:
        diff = same_host(ref, rec["fingerprint"])
        if diff:
            print(f"refusing: host fingerprints differ on {diff}",
                  file=sys.stderr)
            return 2
    worse = 0
    for wl in sorted({r["workload"] for r in base + new}):
        print(f"## {wl}")
        for name, m in spec.items():
            sides = []
            for recs in (base, new):
                vals = [r["end_to_end"][name] for r in recs
                        if r["workload"] == wl]
                sides.append(quartiles(vals) if vals else None)
            if None in sides:
                continue
            (b1, b2, b3), (n1, n2, n3) = sides
            change = (n2 - b2) / b2 if b2 else 0.0
            bad = change * (1 if m["better"] == "lower" else -1) > m["bound"]
            worse += bad
            print(f"{name:18s} base {b2:.4g} [{b1:.4g}, {b3:.4g}]  "
                  f"new {n2:.4g} [{n1:.4g}, {n3:.4g}]  {change:+.1%}"
                  f"{'  WORSE THAN BOUND' if bad else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
