"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench import sparkmetrics as sm  # noqa: E402
from perfbench import stats  # noqa: E402
from perfbench import truth as T  # noqa: E402
from perfbench.tracing import Tracer, install  # noqa: E402
from perfbench.workloads import Run, closed_loop, split_by_url_hash  # noqa: E402


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


# --- spans ---------------------------------------------------------------


def test_self_time_of_nested_spans():
    clock, groups = FakeClock(), []
    tr = Tracer("t", groups.append, clock)
    with tr.span("run"):
        clock.t = 1.0
        with tr.span("plans.pipeline"):
            clock.t = 2.0
            with tr.span("operators.lsh"):
                clock.t = 5.0
            clock.t = 6.0
            with tr.span("operators.lsh"):
                clock.t = 6.5
            with tr.span("operators.components"):
                clock.t = 8.0
                with tr.span("plans.chain"):
                    clock.t = 8.25
            clock.t = 9.0
        clock.t = 10.0
    st = tr.layer_self_times()
    assert st == {
        "run": 2.0,
        "plans.pipeline": 2.75,
        "operators.lsh": 3.5,
        "operators.components": 1.5,
        "plans.chain": 0.25,
    }
    assert sum(st.values()) == tr.spans[0].duration == 10.0
    # entering sets the span's own group, leaving restores the parent's
    assert groups[:4] == ["t-0", "t-1", "t-2", "t-1"]
    assert groups[-1] == "t-0"


FAKE_MODULE = """
def inner(x):
    return x * 2

class Pipe:
    def run(self, x):
        return inner(x) + 1
"""


def test_wrap_records_result_and_restores_sites():
    mod = types.ModuleType("pb_fake_mod")
    exec(FAKE_MODULE, mod.__dict__)
    inner, run = mod.inner, mod.Pipe.__dict__["run"]
    sys.modules["pb_fake_mod"] = mod
    try:
        tr = Tracer("t")
        patches = install(tr, [("pb_fake_mod", "Pipe.run", "outer"), ("pb_fake_mod", "inner", "in")], [])
        with tr.span("run"):
            assert mod.Pipe().run(3) == 7
        assert [s.layer for s in tr.spans] == ["run", "outer", "in"]
        assert [s.parent for s in tr.spans] == [None, 0, 1]
        assert [r.result for r in tr.results("inner")] == [6]
        patches.restore()
        assert mod.inner is inner and mod.Pipe.__dict__["run"] is run
    finally:
        del sys.modules["pb_fake_mod"]


def test_patches_restore_after_failed_install():
    mod = types.ModuleType("pb_fake_mod2")
    mod.f = lambda: 1
    sys.modules["pb_fake_mod2"] = mod
    original = mod.f
    try:
        with pytest.raises(AttributeError):
            install(Tracer("t"), [("pb_fake_mod2", "f", "l"), ("pb_fake_mod2", "missing", "l")], [])
        assert mod.f is original
    finally:
        del sys.modules["pb_fake_mod2"]


# --- REST aggregation ------------------------------------------------------

MB = 1024 * 1024
JOBS = [
    {"jobId": 0, "jobGroup": "a", "status": "SUCCEEDED", "stageIds": [0, 1]},
    # stage 1 is reused by job 1 (listed, skipped there): it belongs to job 0
    {"jobId": 1, "jobGroup": "b", "status": "SUCCEEDED", "stageIds": [1, 2, 3]},
    {"jobId": 2, "jobGroup": "other", "status": "SUCCEEDED", "stageIds": [4]},
]


def _stage(sid, cpu_s, run_s, read_mb, write_mb, spill_mb=0, failed=0, status="COMPLETE"):
    return {
        "stageId": sid, "attemptId": 0, "status": status, "numTasks": 4,
        "executorCpuTime": int(cpu_s * 1e9), "executorRunTime": int(run_s * 1e3),
        "shuffleReadBytes": int(read_mb * MB), "shuffleWriteBytes": int(write_mb * MB),
        "diskBytesSpilled": int(spill_mb * MB), "numFailedTasks": failed,
    }


STAGES = [
    _stage(0, 1.0, 2.0, 0, 3),
    _stage(1, 0.5, 1.0, 3, 1, failed=1),
    _stage(2, 2.0, 4.0, 1, 0, spill_mb=2),
    _stage(3, 0, 0, 0, 0, status="SKIPPED"),
    _stage(4, 9.0, 9.0, 9, 9),
]


def test_aggregate_groups_attributes_reused_stage_once():
    agg = sm.aggregate_groups(JOBS, STAGES, ["a", "b"])
    a, b = agg["a"], agg["b"]
    assert a["jobs"] == 1 and b["jobs"] == 1
    assert a["cpu_s"] == pytest.approx(1.5) and b["cpu_s"] == pytest.approx(2.0)
    assert a["run_s"] == pytest.approx(3.0) and b["run_s"] == pytest.approx(4.0)
    assert a["shuffle_mb"] == pytest.approx(7.0) and b["shuffle_mb"] == pytest.approx(1.0)
    assert b["spill_mb"] == pytest.approx(2.0) and a["spill_mb"] == 0
    assert a["failed_tasks"] == 1 and b["failed_tasks"] == 0
    assert [s["stageId"] for s in b["stages"]] == [2]  # skipped stage 3 ran no task


def test_task_skew():
    assert sm.task_skew([]) == 0.0
    assert sm.task_skew([10, 10, 10, 10]) == 1.0
    assert sm.task_skew([10, 20, 30, 90]) == pytest.approx(90 / 25)
    assert sm.task_skew([5, 10, 50]) == pytest.approx(5.0)


class CannedRest(sm.SparkRest):
    def __init__(self, payloads):
        super().__init__("http://localhost:1", "app")
        self.payloads = payloads

    def get(self, path):
        key = path.split("?")[0]
        if key not in self.payloads:
            raise sm.MeasurementError(f"REST read {path!r} failed: no route")
        return json.loads(json.dumps(self.payloads[key]))


def test_settled_reads_and_fails_loudly():
    rest = CannedRest({"jobs": JOBS, "stages": STAGES})
    agg = sm.group_counters(rest, ["a", "b"], expect_jobs=2)
    assert agg["b"]["cpu_s"] == pytest.approx(2.0)
    running = [dict(JOBS[0], status="RUNNING")] + JOBS[1:]
    with pytest.raises(sm.MeasurementError, match="did not settle"):
        CannedRest({"jobs": running, "stages": STAGES}).settled({"a"}, 1, timeout_s=0.2)
    with pytest.raises(sm.MeasurementError, match="did not settle"):
        rest.settled({"a", "b"}, expect_jobs=3, timeout_s=0.2)
    with pytest.raises(sm.MeasurementError, match="failed"):
        CannedRest({"jobs": JOBS}).settled({"a"}, 1)
    with pytest.raises(sm.MeasurementError):
        sm.SparkRest(None, "app")


def test_task_durations_keep_successful_tasks():
    rest = CannedRest({"stages/2/0/taskList": [
        {"status": "SUCCESS", "duration": 12}, {"status": "FAILED", "duration": 99},
        {"status": "SUCCESS", "duration": 30},
    ]})
    assert rest.task_durations_ms(STAGES[2]) == [12.0, 30.0]


def test_peak_rss_reports_peak_and_read_errors():
    values = iter([(10.0, 0.0), (20.0, 10.0), (5.0, 15.0)] + [(1.0, 1.0)] * 1000)
    with sm.PeakRss(1, interval_s=0.001, read=lambda pid: next(values)) as rss:
        while rss.peak < 30.0:
            pass
    assert rss.result() == 30.0 and rss.peak_parts == (20.0, 10.0)

    def broken(pid):
        raise sm.MeasurementError("gone")

    with sm.PeakRss(1, interval_s=0.001, read=broken) as rss:
        pass
    with pytest.raises(sm.MeasurementError):
        rss.result()


def test_proc_tree_of_this_process():
    assert os.getpid() in sm.tree_pids(os.getpid())
    assert (os.getpid(), sm._stat(os.getpid())[19]) in sm.proc_cpu_s(os.getpid())
    assert sm.tree_rss_mb(os.getpid())[0] > 0


def test_tree_cpu_counts_exited_and_new_descendants():
    # root 1 with a worker (2) that was there before the block and exits
    # inside it, and one (3) that starts inside it, as the Python daemon's
    # workers do; pid 2 reused by a new process (other start time) is new
    snaps = iter([
        {(1, "0"): 10.0, (2, "5"): 4.0},                  # __enter__
        {(1, "0"): 12.0, (2, "5"): 6.0, (3, "9"): 1.0},   # samples
        {(1, "0"): 13.0, (3, "9"): 2.0, (2, "11"): 0.5},
    ] + [{(1, "0"): 15.0, (3, "9"): 2.5, (2, "11"): 0.5}] * 1000)
    with sm.TreeCpu(1, interval_s=0.001, read=lambda pid: next(snaps)) as cpu:
        while cpu.last.get((2, "11")) is None:
            pass
    own, rest = cpu.result()
    assert own == 5.0
    assert rest == (6.0 - 4.0) + 2.5 + 0.5


def test_tree_cpu_read_errors_and_missing_root():
    calls = iter([{(1, "0"): 1.0}])
    with sm.TreeCpu(1, interval_s=0.001, read=lambda pid: next(calls)) as cpu:
        while cpu.error is None:
            pass  # the next read raises StopIteration on the sampler
    with pytest.raises(sm.MeasurementError):
        cpu.result()

    with sm.TreeCpu(1, interval_s=10.0, read=lambda pid: {(2, "5"): 1.0}) as cpu:
        pass
    with pytest.raises(sm.MeasurementError):
        cpu.result()


# --- percentile / sample-count rule ------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(1) is None
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10000) == 99.9


def test_summarize():
    xs = [float(i) for i in range(1, 101)]
    s = stats.summarize(xs)
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["p90"] == pytest.approx(90.1)
    assert "p90" not in stats.summarize(xs[:20])
    assert stats.summarize([3.0]) == {"n": 1, "median": 3.0}
    with pytest.raises(ValueError):
        stats.median([])


# --- truth and recall ----------------------------------------------------------


def _doc(n: int, base: int, last: int | None = None) -> str:
    toks = [f"w{base + i:04d}" for i in range(n)]
    if last is not None:
        toks[-1] = f"w{last:04d}"
    return " ".join(toks)


def test_truth_and_recall_at_the_jaccard_bar():
    # Changing the last of n distinct tokens changes one of n-4 shingles:
    # J = (n-5)/(n-3).  n=13 -> 0.8 (at the bar), n=14 -> 0.818 (above),
    # n=12 -> 0.778 (just below).
    texts = {
        "at_a": _doc(13, 0), "at_b": _doc(13, 0, last=9000),
        "above_a": _doc(14, 100), "above_b": _doc(14, 100, last=9001),
        "below_a": _doc(12, 200), "below_b": _doc(12, 200, last=9002),
        "exact_a": _doc(20, 300), "exact_b": _doc(20, 300),
        "short_a": "w0001 w0002", "short_b": "w0001 w0002",
    }
    urls = sorted(texts)
    sets = T.shingle_sets([texts[u] for u in urls], 5)
    set_of = dict(zip(urls, sets))
    assert T.jaccard(set_of["at_a"], set_of["at_b"]) == 0.8
    assert T.jaccard(set_of["below_a"], set_of["below_b"]) == pytest.approx(7 / 9)
    truth = T.truth_pairs(urls, sets, 0.8)
    assert truth == {("at_a", "at_b"), ("above_a", "above_b"), ("exact_a", "exact_b")}

    clusters = {"at_a": "c1", "at_b": "c1", "above_a": "c2", "above_b": "c3",
                "exact_a": "c4", "exact_b": "c4", "below_a": "c5", "below_b": "c5"}
    assert T.recall(truth, clusters) == pytest.approx(2 / 3)
    del clusters["exact_b"]  # a singleton drops out of the cluster table
    assert T.recall(truth, clusters) == pytest.approx(1 / 3)

    emitted = [("at_a", "at_b"), ("below_a", "below_b"), ("short_a", "short_b")]
    assert T.false_positives(emitted, set_of, 0.8) == 2
    with pytest.raises(ValueError):
        T.recall(set(), clusters)


def test_prefix_filter_matches_brute_force():
    rng = random.Random(7)
    base = [set(rng.sample(range(60), rng.randint(1, 25))) for _ in range(40)]
    sets = []
    for s in base:  # near copies so some pairs sit around the bar
        sets.append(frozenset(s))
        t = set(s)
        for _ in range(rng.randint(0, 3)):
            t.discard(rng.choice(sorted(t))) if len(t) > 1 else None
            t.add(rng.randrange(60))
        sets.append(frozenset(t))
    urls = [f"u{i:03d}" for i in range(len(sets))]
    for threshold in (0.5, 0.7, 0.8, 0.9):
        brute = {
            (urls[i], urls[j])
            for i in range(len(sets)) for j in range(i + 1, len(sets))
            if sets[i] and sets[j] and T.jaccard(sets[i], sets[j]) >= threshold
        }
        assert T.truth_pairs(urls, sets, threshold) == brute


def test_digest_ignores_row_order():
    rows = [("a", 1), ("b", 2)]
    assert T.digest(rows) == T.digest(list(reversed(rows)))
    assert T.digest(rows) != T.digest([("a", 1), ("b", 3)])


# --- workload plumbing -----------------------------------------------------------


def test_split_by_url_hash_is_a_deterministic_partition():
    urls = [f"https://x/{i}" for i in range(103)]
    base, batches = split_by_url_hash(urls, 43, 4)
    assert len(base) == 43 and [len(b) for b in batches] == [15, 15, 15, 15]
    assert sorted(base + [i for b in batches for i in b]) == list(range(103))
    assert split_by_url_hash(list(urls), 43, 4) == (base, batches)


def test_closed_loop_minimum_runs_and_alternation():
    def once(k, traced):
        return Run(k=k, traced=traced)

    assert [r.traced for r in closed_loop(0.0, False, once)] == [False]
    assert [r.traced for r in closed_loop(0.0, True, once)] == [False, True]
    assert len(closed_loop(0.05, False, once)) > 2


# --- BENCHMARK.json ----------------------------------------------------------------


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == M.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == M.per_layer()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# --- parent / child comparison ---------------------------------------------------


def _result(value: float) -> str:
    line = {"correct": True, "attempted": 1, "failed": 0,
            "metrics": {"docs_per_s": {"value": value, "unit": "1/s"}}}
    return "report {}\n" + json.dumps(line) + "\n"


def test_compare_flags_a_regression_beyond_the_bound(tmp_path):
    from perfbench import compare

    spec = {"end_to_end": [{"name": "docs_per_s", "unit": "1/s", "better": "higher", "bound": 0.1}]}
    for side, values in (("parent", [100, 101, 99, 100]), ("child", [85, 86, 84, 85])):
        d = tmp_path / side
        d.mkdir()
        for seed, v in enumerate(values):
            (d / f"web_html_substring-{seed}.out").write_text(_result(v))
    rows = compare.compare(compare.load(str(tmp_path / "parent")), compare.load(str(tmp_path / "child")), spec)
    assert len(rows) == 1 and rows[0].endswith("worse") and "wins 0/4" in rows[0]
    assert compare.verdict([100, 101, 99, 100], [97, 98, 96, 97], "higher", 0.1) == "ok"
    assert compare.verdict([50, 100, 150, 100], [100, 100, 100, 100], "higher", 0.1) == "unresolved"

    (tmp_path / "child" / "web_html_substring-9.out").write_text(
        json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}) + "\n")
    with pytest.raises(ValueError, match="did not pass"):
        compare.load(str(tmp_path / "child"))
