"""Run one workload of the extraction-job benchmark and print its metrics.

    python3 e2ebench/run.py --workload crawl_snapshot --seed 1 \
        --seconds 20 --trace 0

Workloads: crawl_snapshot and kernel_direct (see
``workloads.py``). With ``--trace 0`` the run reports the end-to-end metrics,
with ``--trace 1`` the per-layer ones. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the lines before it print every metric with its unit and sample
count. Progress goes to standard error.

Everything the run writes stays under ``.e2ebench/`` in the checkout: a work
dir removed at exit, an appended steadiness log (``steadiness.jsonl``: every
operation's wall time by index, warm-up included) and, for traced runs, the
spans.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".e2ebench")
sys.path.insert(0, REPO)

from e2ebench import cpu  # noqa: E402


def _launched_at() -> float:
    """This process's start on the ``perf_counter`` clock, from /proc
    (to the kernel's clock tick)."""
    with open("/proc/uptime", encoding="utf-8") as fh:
        uptime = float(fh.read().split()[0])
    since = uptime - cpu.snapshot()[os.getpid()].start / cpu.CLK_TCK
    return time.perf_counter() - max(0.0, since)


def main(argv=None) -> int:
    t_start = min(T_START, _launched_at())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "ocr_spark", "job.py")):
        print(f"e2ebench: no ocr_spark package under {REPO}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from e2ebench.report import Report
    from e2ebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from "
                 + ", ".join(WORKLOADS))
    report = Report(args.workload, args.seed, bool(args.trace))
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace),
                                 work, report, t_start)
    finally:
        left = cpu.wait_gone([p for p in cpu.snapshot().values()
                              if p.pid != os.getpid()], 30.0)
        cpu.kill(left)
        if left:
            report.fail("child processes outlived the run: "
                        + ", ".join(f"{p.pid}:{p.comm}" for p in left))
        shutil.rmtree(work, ignore_errors=True)
        with open(os.path.join(OUT_DIR, "steadiness.jsonl"), "a",
                  encoding="utf-8") as fh:
            fh.write(report.log_line() + "\n")
        if report.tracer is not None:
            report.tracer.dump(os.path.join(
                OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
    print(report.table())
    print(json.dumps(report.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
