"""What one run measured: its operations, its metrics and the output check,
turned into the one-line JSON result, a human-readable table and a line of
the steadiness log."""

from __future__ import annotations

import json
import statistics
import sys
import time

from e2ebench import check, cpu

# name -> unit; the names and units BENCHMARK.json declares
END_TO_END = {
    "docs_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "warmup.first_op_s": "s",
    "iceberg_shim.scan_s": "s",
    "iceberg_shim.prepare_snapshot_s": "s",
    "iceberg_shim.write_s": "s",
    "iceberg_shim.publish_s": "s",
    "iceberg_shim.files_written": "count",
    "iceberg_shim.bytes_written_per_input_byte": "ratio",
    "extraction.shuffle_s": "s",
    "extraction.boundary_s": "s",
    "extraction.kernel_s": "s",
    "extraction.docs_per_task": "count",
    "bookkeeping.commit_s": "s",
    "bookkeeping.resume_scan_s": "s",
    "bookkeeping.spark_jobs": "count",
    "job.waves": "count",
    "job.wave_s_p50": "s",
    "job.spark_jobs": "count",
    "job.tasks": "count",
    "job.unattributed_s": "s",
    "core.extract_document_ms_per_doc": "ms",
    "core.html_extract_ms_per_doc": "ms",
    "core.fixture_extract_ms_per_doc": "ms",
    "core.json_serialise_ms_per_doc": "ms",
    "core.oversized_ms_per_doc": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_start_s": "s",
    "cpu.jvm_s_per_kdoc": "s",
    "cpu.python_workers_s_per_kdoc": "s",
    "cpu.driver_s_per_kdoc": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "memory.peak_pss_mb": "MiB",
    "trace.overhead_frac": "ratio",
}


def p99(xs: list[float]) -> float:
    """99th percentile of ``xs``, by nearest rank."""
    s = sorted(xs)
    return s[max(0, -(-99 * len(s) // 100) - 1)]


class Report:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.ops: list[dict] = []
        self.metrics: dict[str, tuple[float, str, int]] = {}
        self.verdict = check.Verdict()
        self.errors: list[str] = []
        self.infos: dict = {}
        self.tracer = None
        self._mark = time.perf_counter()

    # --------------------------------------------------------- recording
    def op(self, phase: str, wall_s: float, docs: int,
           cpu_s: dict[str, float] | None = None,
           latencies: list[float] | None = None) -> None:
        """Record one operation; ``latencies`` are its per-document wall
        times, kept as the operation's median and 99th percentile."""
        o = {"i": len(self.ops), "phase": phase, "wall_s": wall_s,
             "docs": docs, "cpu_s": cpu_s}
        if latencies:
            o["p50_s"] = statistics.median(latencies)
            o["p99_s"] = p99(latencies)
        self.ops.append(o)
        print(f"op {len(self.ops) - 1:3d} {phase:<14s} {wall_s:8.3f} s "
              f"{docs:5d} docs", file=sys.stderr, flush=True)

    def check(self, expected: dict, got: list[tuple]) -> None:
        v = check.check_rows(expected, got)
        self.verdict.add(v)
        if v.failed:
            print(f"check failed: {dict(v.problems)}", file=sys.stderr)

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        print(f"error: {msg}", file=sys.stderr)

    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase ended."""
        now = time.perf_counter()
        self.infos.setdefault("phase_s", {})[name] = now - self._mark
        self._mark = now

    def info(self, key: str, value) -> None:
        self.infos[key] = value

    def layer(self, name: str, value: float, unit: str, samples: int) -> None:
        if PER_LAYER.get(name) != unit:
            raise KeyError(f"undeclared layer metric {name} [{unit}]")
        self.metrics[name] = (float(value), unit, samples)

    # -------------------------------------------------------- derived
    def median_wall(self, phase: str) -> float:
        return statistics.median(o["wall_s"] for o in self.ops
                                 if o["phase"] == phase)

    def cpu_per_kdoc(self, phase: str) -> dict[str, float]:
        ops = [o for o in self.ops if o["phase"] == phase]
        docs = sum(o["docs"] for o in ops)
        return {p: 1000.0 * sum(o["cpu_s"][p] for o in ops) / docs
                for p in cpu.PARTS}

    def setup_s(self, samples: list[float]) -> None:
        self.metrics["setup_s"] = (statistics.median(samples), "s",
                                   len(samples))

    def end_to_end(self) -> None:
        """End-to-end metrics over the ``timed`` operations, each the median
        over those operations. Where the operations recorded per-document
        latencies (``kernel_direct``), the latency quantiles are taken per
        operation and their median reported, so one operation slowed by the
        host cannot move them alone. Otherwise a document's latency is its
        operation's wall time, as on ``crawl_snapshot``: no output is visible
        before the job commits."""
        ops = [o for o in self.ops if o["phase"] == "timed"]
        m = self.metrics
        if all("p50_s" in o for o in ops):
            n = sum(o["docs"] for o in ops)
            m["latency_p50_s"] = (statistics.median(o["p50_s"] for o in ops),
                                  "s", n)
            m["latency_p99_s"] = (statistics.median(o["p99_s"] for o in ops),
                                  "s", n)
        else:
            m["latency_p50_s"] = (statistics.median(o["wall_s"] for o in ops),
                                  "s", len(ops))
            m["latency_p99_s"] = (p99([o["wall_s"] for o in ops
                                       for _ in range(o["docs"])]),
                                  "s", sum(o["docs"] for o in ops))
        m["docs_per_s"] = (statistics.median(o["docs"] / o["wall_s"]
                                             for o in ops), "1/s", len(ops))
        m["cpu_s_per_kdoc"] = (sum(self.cpu_per_kdoc("timed").values()), "s",
                               len(ops))

    # ---------------------------------------------------------- output
    def result(self) -> dict:
        names = PER_LAYER if self.trace else END_TO_END
        metrics = {}
        for name, unit in names.items():
            value, _, _ = self.metrics.get(name, (0.0, unit, 0))
            metrics[name] = {"value": value, "unit": unit}
        failed = self.verdict.failed
        return {"correct": failed == 0 and not self.errors,
                "attempted": max(1, self.verdict.attempted),
                "failed": failed, "metrics": metrics}

    def table(self) -> str:
        names = PER_LAYER if self.trace else END_TO_END
        lines = [f"# {self.workload} seed={self.seed} trace={int(self.trace)}"
                 f" attempted={self.verdict.attempted}"
                 f" failed={self.verdict.failed}"]
        for name in names:
            value, unit, n = self.metrics.get(name, (0.0, names[name], 0))
            lines.append(f"{name:<44s} {value:14.6g} {unit:<6s} n={n}")
        for key, value in self.infos.items():
            lines.append(f"# {key}: {json.dumps(value)}")
        return "\n".join(lines)

    def keep_spans(self, tracer) -> None:
        """Hold the run's spans until they are written out at exit."""
        self.tracer = tracer

    def log_line(self) -> str:
        return json.dumps({
            "workload": self.workload, "seed": self.seed,
            "trace": int(self.trace), "time": time.time(),
            "ops": [{k: o[k] for k in ("i", "phase", "wall_s", "docs",
                                       "p50_s", "p99_s") if k in o}
                    for o in self.ops],
            "metrics": {k: v[0] for k, v in self.metrics.items()},
            "info": self.infos, "errors": self.errors,
            "problems": dict(self.verdict.problems)})
