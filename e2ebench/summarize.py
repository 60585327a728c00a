"""Summarise the steadiness log written by ``run.py``.

    python3 e2ebench/summarize.py [.e2ebench/steadiness.jsonl]

For each workload's untraced runs it prints, as markdown: every end-to-end
metric's median and quartile spread across runs (the spread is
``(q3 - q1) / median`` with ``statistics.quantiles(values, n=4)``), each
operation's median wall time by index with the warm-up included, and how far
the first timed operation of each run sits from that run's median timed
operation.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) of ``values``."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def summarize(runs: list[dict]) -> str:
    out = []
    for wl in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == wl and r["trace"] == 0
              and not r["errors"] and not r["problems"]]
        if len(rs) < 2:
            continue
        out += [f"### {wl}: {len(rs)} runs, seeds "
                + ", ".join(str(r["seed"]) for r in rs), "",
                "| metric | median | (q3-q1)/median |", "|---|---|---|"]
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name] for r in rs if name in r["metrics"]]
            if len(vals) == len(rs):
                med, sp = spread(vals)
                out.append(f"| {name} | {med:.6g} | {sp:.3f} |")
        out += ["", "| op | phase | median wall s | min | max |",
                "|---|---|---|---|---|"]
        for i in range(max(len(r["ops"]) for r in rs)):
            ops = [r["ops"][i] for r in rs if len(r["ops"]) > i]
            walls = [o["wall_s"] for o in ops]
            out.append(f"| {i} | {ops[0]['phase']} | "
                       f"{statistics.median(walls):.3f} | {min(walls):.3f} | "
                       f"{max(walls):.3f} |")
        firsts = []
        for r in rs:
            timed = [o["wall_s"] for o in r["ops"] if o["phase"] == "timed"]
            firsts.append(timed[0] / statistics.median(timed) - 1.0)
        out += ["", "First timed operation vs the run's median timed "
                "operation: " + ", ".join(f"{f:+.3f}" for f in firsts)
                + f" (largest {max(firsts, key=abs):+.3f})", ""]
    return "\n".join(out)


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".e2ebench", "steadiness.jsonl")
    with open(path, encoding="utf-8") as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    print(summarize(runs))


if __name__ == "__main__":
    main()
