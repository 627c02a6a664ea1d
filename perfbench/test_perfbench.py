"""Self-tests of the benchmark that need no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os

import pytest

from perfbench import stats
from perfbench.bench import END_TO_END, PER_LAYER, REPORTED, WORKLOAD_ONLY, WORKLOADS
from perfbench.inputs import Sizes, extend_rows, base_rows, strata_queries
from perfbench.tracing import Attribution, Span, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task(stage, run_ms, shuffle_read=0, shuffle_write=0, gc=0, spill=0, inp=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": inp, "Records Read": 1},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


# job 0: stage 0 writes a shuffle, stage 1 reads it (3 tasks, skewed);
# job 1 lists stage 1 again (skipped) and runs stage 2;
# job 2 is submitted after every span has closed
CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000,
     "Stage IDs": [0, 1], "Stage Infos": []},
    _task(0, 40, shuffle_write=2 * 2**20, inp=5 * 2**20, gc=7),
    _task(0, 50, shuffle_write=2 * 2**20, inp=5 * 2**20, gc=3),
    _task(1, 10, shuffle_read=1000, spill=300),
    _task(1, 20, shuffle_read=1000),
    _task(1, 60, shuffle_read=1000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_600,
     "Stage IDs": [1, 2], "Stage Infos": []},
    _task(2, 5, inp=4096),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_900},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_002_000,
     "Stage IDs": [3], "Stage Infos": []},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_002_100},
]

SPANS = [
    Span(0, "run", None, "r", 999.9, 1001.5),
    # opens 0.4 ms after job 0's truncated submission millisecond
    Span(1, "build_index", 0, "r", 1000.0004, 1000.55),
    Span(2, "batch", 0, "r", 1000.58, 1000.95),
    Span(3, "collect", 2, "r", 1000.59, 1000.95),
]


@pytest.fixture
def attribution():
    jobs = parse_event_log(json.dumps(e) for e in CANNED_LOG)
    return Attribution(SPANS, jobs)


def test_parse_assigns_tasks_to_the_first_job_listing_a_stage():
    jobs = parse_event_log(json.dumps(e) for e in CANNED_LOG)
    assert [j.id for j in jobs] == [0, 1, 2]
    assert [len(j.tasks) for j in jobs] == [5, 1, 0]
    assert jobs[0].submit == pytest.approx(1000.0)
    assert jobs[1].end == pytest.approx(1000.9)


def test_jobs_go_to_the_innermost_open_span(attribution):
    direct = {s.name: [j.id for j in attribution.direct[s.id]] for s in SPANS}
    assert direct == {"run": [], "build_index": [0], "batch": [], "collect": [1]}


def test_job_outside_every_span_is_dropped(attribution):
    assert all(2 not in [j.id for j in js] for js in attribution.direct.values())


def test_subtree_totals(attribution):
    build = attribution.totals(SPANS[1])
    assert build["jobs"] == 1 and build["tasks"] == 5
    assert build["shuffle_write_bytes"] == 4 * 2**20
    assert build["spill_bytes"] == 300
    assert build["gc_s"] == pytest.approx(0.010)
    batch = attribution.totals(SPANS[2])
    assert batch == {"jobs": 1, "tasks": 1, "input_bytes": 4096, "shuffle_read_bytes": 0,
                     "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
    assert attribution.totals(SPANS[0])["jobs"] == 2


def test_self_and_driver_time(attribution):
    run, build, batch, collect = SPANS
    # children cover 0.5496 + 0.37 of the run's 1.6 s
    assert attribution.self_time(run) == pytest.approx(1.6 - 0.5496 - 0.37)
    assert attribution.self_time(collect) == pytest.approx(collect.seconds)
    # job 0 runs 1000.0-1000.5: the build span is uncovered for 0.05 s
    assert attribution.driver_time(build) == pytest.approx(0.05)
    # job 1 runs 1000.6-1000.9 inside the 0.37 s batch span
    assert attribution.driver_time(batch) == pytest.approx(0.07)
    assert attribution.job_time(run) == pytest.approx(0.8)


def test_task_skew_uses_the_widest_shuffle_reading_stage(attribution):
    assert attribution.task_skew(SPANS[1]) == pytest.approx(60 / 20)
    assert attribution.task_skew(SPANS[2]) == 1.0  # no shuffle read


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 90) == 5
    assert stats.percentile(xs, 20) == 1
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,p", [(9, None), (19, None), (20, 50), (39, 50), (40, 75),
                                 (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_summary_reports_median_quartiles_and_count():
    s = stats.summary([1.0, 2.0, 3.0, 4.0, 100.0])
    assert s["median"] == 3.0 and s["n"] == 5
    assert s["q1"] <= s["median"] <= s["q3"]
    assert stats.summary([7.0]) == {"median": 7.0, "q1": 7.0, "q3": 7.0, "n": 1}


@pytest.mark.parametrize("name", ["setup_s", "query_one.p50_ms", "build.task_skew", "x", "9-a"])
def test_metric_name_grammar_accepts(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".a", "a b", "a/b", "é", "a" * 65])
def test_metric_name_grammar_rejects(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_every_metric_name_and_unit_is_well_formed():
    units = {**END_TO_END, **PER_LAYER, **REPORTED,
             **{k: u for k, (u, _) in WORKLOAD_ONLY.items()}}
    for name, unit in units.items():
        stats.check_name(name)
        stats.check_unit(unit)
    assert len(units) == len(END_TO_END) + len(PER_LAYER) + len(REPORTED) + len(WORKLOAD_ONLY)


def test_benchmark_json_matches_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in b["workloads"]) == sorted(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_inputs_are_seeded_and_extend_keys_are_fresh():
    sizes = Sizes(base_docs=30, n_queries=10, extend_rounds=2, extend_docs=15)
    base = base_rows(sizes, seed=3)
    assert base == base_rows(sizes, seed=3)
    assert base != base_rows(sizes, seed=4)
    batches = extend_rows(sizes, seed=3)
    keys = [r[:3] for r in base] + [r[:3] for b in batches for r in b]
    assert len(keys) == len(set(keys)) == 60
    # other seeds still give keys the base never had
    other = extend_rows(sizes, seed=4)
    assert not {r[:3] for r in base} & {r[:3] for b in other for r in b}


def test_strata_queries_follow_the_seed():
    df = {f"t{i}": i + 1 for i in range(300)}
    q = strata_queries(df, 50, seed=1)
    assert q == strata_queries(df, 50, seed=1)
    assert q != strata_queries(df, 50, seed=2)
    assert [i for i, _ in q] == list(range(50))
    assert all(1 <= len(t.split()) <= 4 for _, t in q)
