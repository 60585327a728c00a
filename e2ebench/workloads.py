"""The workloads. Each is a closed loop with one caller: the next
operation starts when the previous one has returned.

* ``crawl_snapshot`` -- one fresh ``run_extraction_job`` per operation over a
  seeded shim snapshot (1,000 docs + two ~10 MB pages).
* ``kernel_direct`` -- ``extract_document`` over the crawl corpus in this
  process, no Spark; one operation is one pass.

Every run: set up, warm up with untimed operations of the same kind (the
golden slice first, checked against the frozen goldens), time a fixed number
of operations, check every output, tear down. ``--trace 1`` runs the traced
variant, which reports the per-layer metrics instead.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from e2ebench import check, cpu, gen
from e2ebench.report import Report
from e2ebench.sparkenv import SparkEnv
from e2ebench.spans import Tracer

# Scaled-down sizing: small enough that a run fits its time budget, with the
# fixed per-wave cost of the job visible.
JOB_KW = {"partitions": 4, "n_buckets": 16, "waves": 1}
CRAWL_DOCS, CRAWL_OVERSIZED = 1000, 2
STREAM_FILE_DOCS = 200


def timed_ops(seconds: int, nominal_op_s: float, least: int) -> int:
    """Operations a run times: a count fixed by ``--seconds`` and the
    workload's nominal operation time, never by how fast this host is."""
    return max(least, round(seconds / nominal_op_s))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _pages_table(rows: list[dict]):
    import pyarrow as pa
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


def write_parquet(rows: list[dict], path: str) -> None:
    """Write ``rows`` as one parquet file, published by an atomic rename so
    a file-source stream never sees it half-written."""
    import pyarrow.parquet as pq
    d, name = os.path.split(path)
    tmp = os.path.join(d, f"_{name}.tmp")
    pq.write_table(_pages_table(rows), tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------- Spark side

def _stage(rows: list[dict], work: str, name: str) -> str:
    """Write ``rows`` to ``<work>/raw-<name>/part-0.parquet``; return the
    file's path."""
    raw = os.path.join(work, f"raw-{name}")
    os.makedirs(raw)
    path = os.path.join(raw, "part-0.parquet")
    write_parquet(rows, path)
    return path


def _make_input_snapshot(spark, raw: str, root: str) -> str:
    """Commit the staged parquet in ``raw`` as a shim snapshot at ``root``;
    return the snapshot's data dir."""
    from ocr_spark.sources import PAGES_SCHEMA
    from ocr_spark.sources import iceberg_shim as shim
    shim.write_snapshot(spark.read.schema(PAGES_SCHEMA).parquet(raw), root)
    shutil.rmtree(raw)
    return shim.read_manifest(root, shim.current_snapshot_id(root))["data_dir"]


def _job_output(spark, work_dir: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from ocr_spark.job import output_root
    from ocr_spark.sources import iceberg_shim as shim
    out = shim.read_current(spark, output_root(work_dir))
    return [tuple(r) for r in out.select("url", F.md5("text"), "error")
            .collect()]


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, fn))
    return size, files


class SparkRun:
    """One Spark-backed run: its session, CPU meter, report and work dir."""

    def __init__(self, report: Report, work_dir: str, t_start: float):
        self.report = report
        self.work = work_dir
        self.env = SparkEnv(work_dir)
        self.t_start = t_start

    def setup(self) -> None:
        get_spark_s = self.env.start()
        self.env.warm_workers()
        self.report.setup_s([time.perf_counter() - self.t_start])
        self.report.layer("session.get_spark_s", get_spark_s, "s", 1)
        self.spark = self.env.spark
        self.meter = cpu.CpuMeter()

    def teardown(self) -> None:
        left = self.env.stop()
        cpu.kill(left)
        if left:
            self.report.fail("processes outlived the run: "
                             + ", ".join(f"{p.pid}:{p.comm}" for p in left))


def crawl_snapshot(seed: int, seconds: int, trace: bool, work: str,
                   report: Report, t_start: float) -> None:
    from ocr_spark.job import run_extraction_job

    n_timed = timed_ops(seconds, 6.0, 3)
    run = SparkRun(report, work, t_start)
    try:
        run.setup()
        report.phase("setup")
        spark = run.spark
        rows = gen.make_corpus(seed, CRAWL_DOCS, CRAWL_OVERSIZED,
                               f"crawl-s{seed}")
        report.info("input", gen.check_mix(rows, CRAWL_OVERSIZED))
        report.phase("generate")
        staged = _stage(rows, work, "pages")
        expected = check.reference_digests(staged)
        report.phase("reference")
        golden = check.golden_digests()
        in_root = os.path.join(work, "pages")
        data_dir = _make_input_snapshot(spark, os.path.dirname(staged),
                                        in_root)
        golden_root = os.path.join(work, "golden")
        staged = _stage(gen.golden_rows(), work, "golden")
        _make_input_snapshot(spark, os.path.dirname(staged), golden_root)
        report.phase("snapshots")

        def job(phase: str, root: str, want: dict) -> float:
            wd = os.path.join(work, f"job-{len(report.ops)}")
            c0 = run.meter.read()
            t0 = time.perf_counter()
            run_extraction_job(spark, root, wd, **JOB_KW)
            wall = time.perf_counter() - t0
            report.op(phase, wall, len(want), cpu.delta(c0, run.meter.read()))
            report.check(want, _job_output(spark, wd))
            shutil.rmtree(wd)
            return wall

        for _ in range(2):
            job("golden", golden_root, golden)
        report.layer("warmup.first_op_s", report.ops[0]["wall_s"], "s", 1)
        job("warmup", in_root, expected)
        report.phase("warmup")

        if not trace:
            for _ in range(n_timed):
                job("timed", in_root, expected)
            report.end_to_end()
        else:
            _crawl_traced(run, rows, in_root, data_dir, expected, job)
        report.phase("measure")
    finally:
        run.teardown()
        report.phase("teardown")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _crawl_traced(run: SparkRun, rows, in_root, data_dir, expected,
                  job) -> None:
    """Traced jobs interleaved with untraced ones, then the differential
    arms."""
    import ocr_spark.job as job_mod
    from ocr_spark.operators import bookkeeping
    from ocr_spark.operators.extraction import (
        run_extraction, salted_repartition,
    )
    from ocr_spark.sources import PAGES_SCHEMA
    from ocr_spark.sources import iceberg_shim as shim

    spark, report = run.spark, run.report
    kw = {"partitions": JOB_KW["partitions"],
          "n_buckets": JOB_KW["n_buckets"]}
    n_docs = len(rows)
    in_bytes = sum(len(r["html"]) for r in rows)

    def pages():
        return spark.read.schema(PAGES_SCHEMA).parquet(data_dir)

    def salted():
        return salted_repartition(pages(), **kw).select("url", "html",
                                                        "bucket")

    arms = {
        "scan": lambda: pages().select("url", "html"),
        "shuffle": salted,
        "identity": lambda: salted().mapInPandas(
            _identity, "url string, html binary, bucket int"),
        "extract": lambda: run_extraction(pages(), **kw),
    }
    tracer = Tracer(spark)
    for mod, attr in ((job_mod, "run_extraction"),
                      (job_mod, "commit_bucket_bookkeeping"),
                      (job_mod, "checkpointed_out_snapshots"),
                      (bookkeeping, "completed_buckets_by_snapshot"),
                      (shim, "prepare_snapshot"), (shim, "read_snapshot"),
                      (shim, "publish_snapshot")):
        tracer.wrap(mod, attr)
    job_spans, untraced, pss = [], [], []
    out_bytes = out_files = 0

    def traced_job() -> None:
        nonlocal out_bytes, out_files
        wd = os.path.join(run.work, f"job-{len(report.ops)}")
        c0 = run.meter.read()
        with tracer.span("job") as s:
            job_mod.run_extraction_job(spark, in_root, wd, **JOB_KW)
        report.op("traced", s.dur, n_docs, cpu.delta(c0, run.meter.read()))
        job_spans.append(s)
        out_bytes, out_files = _dir_bytes_files(
            os.path.join(job_mod.output_root(wd), "data"))
        report.check(expected, _job_output(spark, wd))
        shutil.rmtree(wd)

    def untraced_job() -> None:
        untraced.append(job("untraced", in_root, expected))

    try:   # ABBA order, so a drift within the run cancels
        for step in (untraced_job, traced_job, traced_job, untraced_job):
            step()
            pss.append(cpu.pss_mb())
    finally:
        tracer.restore()

    arm_s: dict[str, list[float]] = {k: [] for k in arms}
    arm_span = {}
    for _ in range(2):
        for name, build in arms.items():
            with tracer.span(f"arm.{name}") as s:
                _noop(build())
            arm_s[name].append(s.dur)
            arm_span[name] = s
            report.op(f"arm.{name}", s.dur, n_docs)
    arm = {k: median(v) for k, v in arm_s.items()}

    time.sleep(1.0)   # let the status listener catch up
    tracer.count_spark()

    def kids(span, name):
        return [c for c in tracer.descendants(span) if c.name == name]

    def per_job(name):
        return median([sum(c.dur for c in kids(s, name)) for s in job_spans])

    prepare = per_job("iceberg_shim.prepare_snapshot")
    waves = [len(kids(s, "iceberg_shim.prepare_snapshot")) for s in job_spans]
    counts = {k: median([tracer.total(s, k) for s in job_spans])
              for k in ("jobs", "stages", "tasks")}
    wave_s = []
    for s in job_spans:
        ex = kids(s, "job.run_extraction")
        pub = kids(s, "iceberg_shim.publish_snapshot")
        wave_s += [p.end - e.start for e, p in zip(ex, pub)]
    layer = report.layer
    layer("iceberg_shim.scan_s", arm["scan"], "s", 2)
    layer("iceberg_shim.prepare_snapshot_s", prepare, "s", len(job_spans))
    layer("iceberg_shim.write_s", prepare - arm["extract"], "s",
          len(job_spans))
    layer("iceberg_shim.publish_s", per_job("iceberg_shim.publish_snapshot"),
          "s", len(job_spans))
    layer("iceberg_shim.files_written", out_files, "count", 1)
    layer("iceberg_shim.bytes_written_per_input_byte", out_bytes / in_bytes,
          "ratio", 1)
    layer("extraction.shuffle_s", arm["shuffle"] - arm["scan"], "s", 2)
    layer("extraction.boundary_s", arm["identity"] - arm["shuffle"], "s", 2)
    layer("extraction.kernel_s", arm["extract"] - arm["identity"], "s", 2)
    ex_span = arm_span["extract"]
    last_stage_tasks = _last_stage_tasks(spark, ex_span.group)
    layer("extraction.docs_per_task", n_docs / max(1, last_stage_tasks),
          "count", 1)
    layer("bookkeeping.commit_s", per_job("job.commit_bucket_bookkeeping"),
          "s", len(job_spans))
    layer("bookkeeping.resume_scan_s",
          per_job("job.checkpointed_out_snapshots")
          + per_job("bookkeeping.completed_buckets_by_snapshot"),
          "s", len(job_spans))
    layer("bookkeeping.spark_jobs",
          median([sum(c.jobs for c in kids(s, "job.commit_bucket_bookkeeping"))
                  for s in job_spans]), "count", len(job_spans))
    layer("job.waves", median(waves), "count", len(job_spans))
    layer("job.wave_s_p50", median(wave_s), "s", len(wave_s))
    layer("job.spark_jobs", counts["jobs"], "count", len(job_spans))
    layer("job.tasks", counts["tasks"], "count", len(job_spans))
    layer("job.unattributed_s", median([tracer.self_time(s)
                                        for s in job_spans]), "s",
          len(job_spans))
    for key, v in counts.items():
        layer(f"spark.{key}", v, "count", len(job_spans))
    cpu_used = report.cpu_per_kdoc("traced")
    for part, v in cpu_used.items():
        layer(f"cpu.{part}_s_per_kdoc", v, "s", len(job_spans))
    layer("memory.peak_pss_mb", max(pss), "MiB", len(pss))
    layer("trace.overhead_frac",
          median([s.dur for s in job_spans]) / median(untraced) - 1.0,
          "ratio", len(job_spans))
    report.info("trace_check", {
        "job_wall_s": median([s.dur for s in job_spans]),
        "unattributed_share": median([tracer.self_time(s) / s.dur
                                      for s in job_spans]),
        "cpu_s_per_kdoc_traced": sum(cpu_used.values()),
        "cpu_s_per_kdoc_untraced": sum(report.cpu_per_kdoc("untraced")
                                       .values())})
    _stream_layers(run, rows, expected, check.golden_digests())
    core_layers(report, rows)
    report.keep_spans(tracer)


def _last_stage_tasks(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    stage_ids = [sid for jid in tracker.getJobIdsForGroup(group)
                 for sid in (tracker.getJobInfo(jid).stageIds
                             if tracker.getJobInfo(jid) else [])]
    for sid in sorted(stage_ids, reverse=True):
        st = tracker.getStageInfo(sid)
        if st is not None:
            return st.numTasks
    return 0


def _stream_layers(run: SparkRun, rows: list[dict], expected: dict,
                   golden: dict) -> None:
    """Streaming layer: append 200-doc parquet files and drain each with
    ``stream_extract_with_lineage`` (AvailableNow). The golden slice goes
    first; the last two drains are timed for the ``streaming.*`` metrics."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.ingest import stream_extract_with_lineage

    spark, report = run.spark, run.report
    files = [gen.golden_rows()] + [rows[i:i + STREAM_FILE_DOCS]
                                   for i in range(0, 3 * STREAM_FILE_DOCS,
                                                  STREAM_FILE_DOCS)]
    d = {k: os.path.join(run.work, "stream", k)
         for k in ("in", "out", "lineage", "ckpt")}
    os.makedirs(d["in"])
    batches, starts = [], []
    for i, part in enumerate(files):
        t0 = time.perf_counter()
        write_parquet(part, os.path.join(d["in"], f"part-{i:05d}.parquet"))
        q = stream_extract_with_lineage(spark, d["in"], d["out"],
                                        d["lineage"], d["ckpt"])
        started = time.perf_counter() - t0
        q.awaitTermination()
        report.op("stream.golden" if i == 0 else "stream.drain",
                  time.perf_counter() - t0, len(part))
        if i >= len(files) - 2:
            starts.append(started)
            batches += [b for b in q.recentProgress
                        if b.get("numInputRows", 0) > 0]
    got = [tuple(r) for r in spark.read.parquet(d["out"])
           .select("url", F.md5("text"), "error").collect()]
    report.check(golden, [g for g in got if g[0] in golden])
    report.check({u: expected[u] for part in files[1:] for u in
                  (r["url"] for r in part)},
                 [g for g in got if g[0] not in golden])
    layer = report.layer
    layer("streaming.trigger_ms",
          median([b["durationMs"]["triggerExecution"] for b in batches]),
          "ms", len(batches))
    layer("streaming.add_batch_ms",
          median([b["durationMs"]["addBatch"] for b in batches]),
          "ms", len(batches))
    layer("streaming.query_start_s", median(starts), "s", len(starts))


# ------------------------------------------------------------- kernel only

_SETUP_PROBE = (
    "from ocr_spark.gen.corpus import make_row\n"
    "from ocr_spark.core.extract import extract_document\n"
    "r = make_row(0, seed={seed})\n"
    "assert extract_document(r['url'], r['html']).error is None\n"
    "print('ok', flush=True)\n")
SETUP_SAMPLES = 5


def _setup_sample(seed: int) -> float:
    """Seconds from launching a fresh interpreter until it has extracted
    its first document."""
    env = {**os.environ, "PYTHONPATH": check.REPO}
    t0 = time.perf_counter()
    with subprocess.Popen([sys.executable, "-c",
                           _SETUP_PROBE.format(seed=seed)],
                          cwd=check.REPO, env=env, stdout=subprocess.PIPE,
                          text=True) as p:
        line = p.stdout.readline()
        took = time.perf_counter() - t0
        p.stdout.read()
        if p.wait(timeout=60) != 0 or line.strip() != "ok":
            raise RuntimeError("setup probe failed")
    return took


# On a shared host each core's speed drifts on its own (a neighbour on the
# same physical core slows it by up to ~1.7x for tens of seconds), so a
# single-threaded pass that stays on one core measures that core's luck. The
# pass moves itself to the next allowed core before the first document that
# starts ROTATE_S or more after the last move, so every pass samples every
# core and consecutive oversized pages run on different cores. On a 4-vCPU VM
# this halved the run-to-run variation of the per-doc median latency, at the
# same median.
ROTATE_S = 0.03


def _kernel_pass(rows: list[dict], latencies: list[float] | None = None,
                 traced: dict | None = None) -> list[tuple]:
    """One pass of ``extract_document`` over ``rows``; returns
    ``(url, text digest, error)`` per doc. ``traced`` collects per-kind
    kernel seconds and the JSON serialisation the Spark runner does."""
    from ocr_spark.core.extract import extract_document
    out = []
    clock = time.perf_counter
    allowed = os.sched_getaffinity(0)
    cores = itertools.cycle(sorted(allowed))
    moved = -ROTATE_S
    try:
        for r in rows:
            if clock() - moved >= ROTATE_S:
                os.sched_setaffinity(0, {next(cores)})
                moved = clock()
            t0 = clock()
            res = extract_document(r["url"], r["html"])
            t1 = clock()
            if latencies is not None:
                latencies.append(t1 - t0)
            if traced is not None:
                kind = ("oversized"
                        if len(r["html"]) >= gen.OVERSIZED_MIN_BYTES
                        else res.kind)
                traced.setdefault(kind, []).append(t1 - t0)
                json.dumps(res.blocks, ensure_ascii=False)
                json.dumps(res.spans, ensure_ascii=False)
                json.dumps(res.matches, ensure_ascii=False)
                traced.setdefault("json", []).append(clock() - t1)
            out.append((r["url"], check.digest(res.text), res.error))
    finally:
        os.sched_setaffinity(0, allowed)
    return out


def core_layers(report: Report, rows: list[dict],
                traced: dict | None = None, passes: int = 1) -> None:
    """The kernel's per-doc costs, from one traced pass over ``rows``
    unless ``traced`` already holds them."""
    if traced is None:
        traced = {}
        _kernel_pass(rows, traced=traced)
    n = len(rows) * passes

    def ms(kind):
        xs = traced.get(kind, [])
        return 1000.0 * sum(xs) / len(xs) if xs else 0.0, len(xs)

    total = sum(sum(v) for k, v in traced.items() if k != "json")
    report.layer("core.extract_document_ms_per_doc", 1000.0 * total / n,
                 "ms", n)
    for name, kind in (("html_extract", "html"),
                       ("fixture_extract", "fixture"),
                       ("json_serialise", "json"),
                       ("oversized", "oversized")):
        v, k = ms(kind)
        report.layer(f"core.{name}_ms_per_doc", v, "ms", k)


def kernel_direct(seed: int, seconds: int, trace: bool, work: str,
                  report: Report, t_start: float) -> None:
    n_timed = timed_ops(seconds, 4.0, 5)
    report.setup_s([_setup_sample(seed) for _ in range(SETUP_SAMPLES)])
    rows = gen.make_corpus(seed, CRAWL_DOCS, CRAWL_OVERSIZED,
                           f"crawl-s{seed}")
    report.info("input", gen.check_mix(rows, CRAWL_OVERSIZED))
    golden = check.golden_digests()
    meter = cpu.CpuMeter()

    def one_pass(phase, docs, traced=None):
        lat: list[float] = []
        c0 = meter.read()
        t0 = time.perf_counter()
        got = _kernel_pass(docs, lat, traced)
        report.op(phase, time.perf_counter() - t0, len(docs),
                  cpu.delta(c0, meter.read()), lat)
        return got

    report.check(golden, one_pass("golden", gen.golden_rows()))
    report.layer("warmup.first_op_s", report.ops[0]["wall_s"], "s", 1)
    first = one_pass("warmup", rows)
    expected = {u: dg for u, dg, err in first if err is None}
    report.check(expected, first)
    if not trace:
        for _ in range(n_timed):
            report.check(expected, one_pass("timed", rows))
        report.end_to_end()
        return
    traced: dict = {}
    pss = []
    n = n_timed // 2
    # ABBA order, so a drift within the run cancels
    for phase in (["untraced", "traced", "traced", "untraced"] * n)[:2 * n]:
        report.check(expected, one_pass(
            phase, rows, traced=traced if phase == "traced" else None))
        pss.append(cpu.pss_mb())
    core_layers(report, rows, traced, passes=n)
    for part, v in report.cpu_per_kdoc("traced").items():
        report.layer(f"cpu.{part}_s_per_kdoc", v, "s", n)
    report.layer("memory.peak_pss_mb", max(pss), "MiB", len(pss))
    # the traced pass also serialises each result to JSON; that is measured
    # work, not tracing overhead
    json_s = sum(traced["json"]) / n
    report.layer("trace.overhead_frac", (report.median_wall("traced") - json_s)
                 / report.median_wall("untraced") - 1.0, "ratio", n)


WORKLOADS = {
    "crawl_snapshot": crawl_snapshot,
    "kernel_direct": kernel_direct,
}
