"""Tests of the benchmark's own arithmetic and checks (no Spark needed):

    python3 -m pytest -q e2ebench/test_e2ebench.py
"""

from __future__ import annotations

import json
import os

import pytest

from e2ebench import check, cpu, gen, report, workloads
from e2ebench.spans import Span, Tracer, covered, self_time

BENCH_JSON = os.path.join(check.REPO, "BENCHMARK.json")


# ------------------------------------------------------------ output check

EXPECTED = {"u1": "d1", "u2": "d2", "u3": "d3"}
CLEAN = [("u1", "d1", None), ("u2", "d2", None), ("u3", "d3", None)]


def test_check_passes_clean_output():
    v = check.check_rows(EXPECTED, CLEAN)
    assert (v.attempted, v.failed) == (3, 0)


@pytest.mark.parametrize("rows, problem", [
    ([("u1", "XX", None), *CLEAN[1:]], "text_mismatch"),
    (CLEAN[1:], "missing"),
    ([*CLEAN, ("u2", "d2", None)], "duplicate"),
    ([("u1", None, "ValueError: boom"), *CLEAN[1:]], "error"),
    ([*CLEAN, ("u9", "d9", None)], "extra"),
])
def test_check_fires(rows, problem):
    v = check.check_rows(EXPECTED, rows)
    assert v.attempted == 3
    assert v.failed == 1
    assert dict(v.problems) == {problem: 1}


def test_verdicts_add_up():
    v = check.Verdict()
    v.add(check.check_rows(EXPECTED, CLEAN[1:]))
    v.add(check.check_rows(EXPECTED, [*CLEAN, ("u9", "d9", None)]))
    assert (v.attempted, v.failed) == (6, 2)
    assert dict(v.problems) == {"missing": 1, "extra": 1}


def test_golden_digests_cover_the_golden_slice():
    assert set(check.golden_digests()) == {r["url"]
                                           for r in gen.golden_rows()}


# ------------------------------------------------------------ generator

def test_corpus_mix_and_bytes():
    rows = gen.make_corpus(7, 200, 1, "t7")
    mix = gen.check_mix(rows, 1)
    assert mix["docs"] == 200 and mix["fixtures"] == 20
    assert mix["oversized"] == 1
    assert rows == gen.make_corpus(7, 200, 1, "t7")   # seeded


def test_mix_check_catches_missing_fixtures():
    rows = gen.make_corpus(7, 200, 0, "t7")
    no_fix = [r for r in rows if not r["url"].endswith(".pdf")]
    with pytest.raises(AssertionError, match="fixture"):
        gen.check_mix(no_fix + no_fix[:20], 0)


def test_mix_check_catches_golden_collision():
    rows = gen.make_corpus(7, 200, 0, "t7")
    rows[0] = {**rows[0], "url": gen.golden_rows()[0]["url"]}
    with pytest.raises(AssertionError, match="golden"):
        gen.check_mix(rows, 0)


# ------------------------------------------------------------ CPU arithmetic

def _stat(pid, ppid, comm, utime, stime, cutime, cstime, start=100):
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + \
        [0] * 4 + [start]
    return f"{pid} ({comm}) " + " ".join(map(str, fields))


def test_parse_stat_handles_spaces_in_comm():
    p = cpu.parse_stat(7, _stat(7, 1, "a b) c", 5, 6, 7, 8, start=42), "x")
    assert (p.ppid, p.own_ticks, p.reaped_ticks, p.start) == (1, 11, 15, 42)
    assert p.comm == "a b) c"


def test_split_counts_live_and_reaped_ticks_per_part():
    t = cpu.CLK_TCK
    procs = [
        cpu.parse_stat(10, _stat(10, 1, "python3", 2 * t, t, 0, 0), "run.py"),
        cpu.parse_stat(11, _stat(11, 10, "java", 5 * t, 0, t, 0), "java"),
        cpu.parse_stat(12, _stat(12, 11, "python", 0, 0, 3 * t, t),
                       "python -m pyspark.daemon"),
        cpu.parse_stat(13, _stat(13, 12, "python", t, 0, 0, 0),
                       "python -m pyspark.daemon"),
        cpu.parse_stat(14, _stat(14, 10, "sh", 0, t, 0, 0), "sh -c x"),
    ]
    tree = {p.pid: p for p in procs}
    parts = cpu.split_seconds(tree, 10)
    assert parts == {"driver": 4.0, "jvm": 6.0, "python_workers": 5.0}
    d = cpu.delta(parts, {"driver": 5.0, "jvm": 6.5, "python_workers": 5.0})
    assert d == {"driver": 1.0, "jvm": 0.5, "python_workers": 0.0}


def test_live_snapshot_sees_this_process():
    tree = cpu.snapshot()
    assert os.getpid() in tree
    assert cpu.split_seconds(tree, os.getpid())["driver"] >= 0.0


# ------------------------------------------------------------ span arithmetic

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_only():
    spans = [Span(0, "job", None, 0.0, 10.0),
             Span(1, "a", 0, 1.0, 4.0),
             Span(2, "b", 0, 3.0, 6.0),
             Span(3, "grandchild", 1, 1.5, 2.0),
             Span(4, "other", None, 2.0, 9.0)]
    assert self_time(spans[0], spans) == 5.0
    assert self_time(spans[1], spans) == 2.5


def test_tracer_nests_wrapped_calls_and_restores():
    import types
    mod = types.ModuleType("pkg.layer")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig = mod.inner
    tr = Tracer()
    tr.wrap(mod, "inner")
    tr.wrap(mod, "outer")
    assert mod.outer(1) == 4
    tr.restore()
    assert mod.inner is orig
    outer, inner = tr.spans
    assert (outer.name, inner.name) == ("layer.outer", "layer.inner")
    assert inner.parent == outer.id and outer.parent is None
    assert tr.self_time(outer) <= outer.dur - inner.dur + 1e-9


# ------------------------------------------------------------ result shape

def test_benchmark_json_matches_the_metrics_reported():
    with open(BENCH_JSON, encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == report.PER_LAYER


def test_result_has_every_metric_and_counts_failures():
    r = report.Report("kernel_direct", 1, trace=False)
    r.check(EXPECTED, CLEAN[1:])
    out = r.result()
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(report.END_TO_END)
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 3, 1)


def test_p99_nearest_rank():
    assert report.p99(list(range(1, 101))) == 99
    assert report.p99([5.0]) == 5.0


def test_latency_quantiles_are_per_operation_medians():
    r = report.Report("kernel_direct", 1, trace=False)
    zero = dict.fromkeys(cpu.PARTS, 0.0)
    for lat in ([1.0] * 100, [2.0] * 100, [9.0] * 100):
        r.op("timed", sum(lat), len(lat), zero, lat)
    r.end_to_end()
    assert r.metrics["latency_p50_s"] == (2.0, "s", 300)
    assert r.metrics["latency_p99_s"] == (2.0, "s", 300)


def test_latency_without_per_doc_times_is_the_operation_wall_time():
    r = report.Report("crawl_snapshot", 1, trace=False)
    zero = dict.fromkeys(cpu.PARTS, 0.0)
    for wall in (7.0, 8.0, 12.0):
        r.op("timed", wall, 10, zero)
    r.end_to_end()
    assert r.metrics["latency_p50_s"] == (8.0, "s", 3)
    assert r.metrics["latency_p99_s"] == (12.0, "s", 30)
