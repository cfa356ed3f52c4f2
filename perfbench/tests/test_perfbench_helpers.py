"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import spans  # noqa: E402


# -- median + highest percentile with >= 10 samples beyond it ---------------


def test_summarize_small_sample_has_only_the_median():
    s = spans.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None}


def test_summarize_needs_ten_samples_beyond_the_percentile():
    # 99 samples: p90 leaves 9 beyond it (not enough); p50 is the median
    assert spans.summarize(list(range(99)))["tail_pct"] is None
    # 100 samples: exactly 10 beyond p90, fewer than 10 beyond p95
    s = spans.summarize([float(v) for v in range(1, 101)])
    assert s["tail_pct"] == 90.0
    assert s["tail"] == 90.0
    assert s["p50"] == 50.5


def test_summarize_picks_the_highest_qualifying_percentile():
    s = spans.summarize([float(v) for v in range(1, 1001)])
    assert s["tail_pct"] == 99.0  # 10 beyond p99, 1 beyond p99.9
    assert s["tail"] == 990.0
    assert s["n"] == 1000


def test_summarize_empty():
    assert spans.summarize([])["n"] == 0


# -- self time with concurrent children --------------------------------------


def _span(sid, start, end, parent=None, name="x", layer="l", round_span=None):
    return spans.Span(id=sid, name=name, layer=layer, start=start, end=end,
                      parent=parent, round_span=round_span)


def test_self_time_counts_overlapping_children_once():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 5.0), _span(3, 2.0, 6.0), _span(4, 8.0, 9.0)]
    # covered: [1,6] ∪ [8,9] = 6 s → self 4 s (a plain sum would say -1)
    assert spans.self_time(parent, kids) == 4.0


def test_self_time_clips_children_to_the_parent():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, -3.0, 2.0), _span(3, 9.0, 12.0), _span(4, 20.0, 30.0)]
    assert spans.self_time(parent, kids) == 7.0


def test_union_length_nested_and_touching():
    assert spans.union_length([(0, 4), (1, 2), (4, 5), (7, 8)]) == 6
    assert spans.union_length([]) == 0


def test_tracer_links_pool_thread_spans_to_the_open_round():
    from concurrent.futures import ThreadPoolExecutor

    t = spans.Tracer()

    def write():
        return t.call("tables.append", "tables", lambda: None)

    def round_body():
        t.call("sparkutil.checkpoint", "sparkutil", lambda: None)
        with ThreadPoolExecutor(2) as ex:
            for f in [ex.submit(write), ex.submit(write)]:
                f.result()

    t.call("engine.run_round", "engine", round_body)
    (rnd,) = t.named("engine.run_round")
    kids = t.children(rnd)
    assert sorted(k.name for k in kids) == [
        "sparkutil.checkpoint", "tables.append", "tables.append"
    ]
    assert all(k.round_span == rnd.id for k in kids)


def test_wrap_records_caller_label_and_restores():
    class Cat:
        def overwrite(self, name, df):
            return (name, df)

    t = spans.Tracer()
    t.wrap(Cat, "overwrite", "tables.overwrite", "tables",
           label=lambda args, kw: args[1])

    def engine_step():
        return Cat().overwrite("frontier", 1)

    assert engine_step() == ("frontier", 1)
    (s,) = t.spans
    assert s.attrs == {"caller": "engine_step", "label": "frontier"}
    t.unwrap_all()
    Cat().overwrite("seen", 2)
    assert len(t.spans) == 1


# -- attributing event-log jobs to spans by job group -------------------------


def _events(*evs):
    return [json.dumps(e) for e in evs]


def _stage(sid, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid}, "Properties": props}


def test_event_log_tasks_are_attributed_by_job_group():
    log = _events(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-7"}},
        _stage(0, "span-7"), _stage(1, "span-7"),
        # job 1 reuses stage 1 (skipped) and runs stage 2 under no group
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2], "Properties": {}},
        _stage(2, None),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "span-99"}},
        _stage(3, "span-99"),
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 4000,
         "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "user-group"}},
        _stage(4, "user-group"),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 100, "Disk Bytes Spilled": 0,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 2**20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Failed": True}, "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 125}},
    )
    jobs, tasks, stage_group = spans.read_event_log(log)
    assert [j.submit for j in jobs] == [1.0, 2.0, 3.0, 4.0]
    assert [j.group for j in jobs] == ["span-7", None, "span-99", "user-group"]
    by_span = spans.attribute_tasks(tasks, stage_group, [_span(7, 0.0, 5.0)])
    # the stage-1 task counts once, for the job that ran it
    assert [t.stage for t in by_span[7]] == [1]
    # no group, an unknown span, and a foreign group are unattributed
    assert [t.stage for t in by_span[None]] == [2, 3, 4]

    t7 = spans.task_totals(by_span[7])
    assert t7["tasks"] == 1 and t7["task_s"] == 1.5 and t7["cpu_s"] == 1.0
    assert t7["shuffle_read_mb"] == 1.0 and t7["shuffle_write_mb"] == 2.0
    rest = spans.task_totals(by_span[None])
    assert rest["failed_tasks"] == 1 and rest["task_s"] == 0.875
    # jobs 1 and 2 of the window: their stages' tasks, stage 1 included
    window = spans.tasks_of_jobs(jobs[1:3], tasks)
    assert sorted(t.stage for t in window) == [1, 2, 3]


def test_job_group_is_set_per_thread_and_restored():
    class FakeContext:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeContext()
    t = spans.Tracer(sc)
    seen = []

    def inner():
        seen.append(sc.getLocalProperty(spans.JOB_GROUP_KEY))

    t.call("outer", "l", lambda: t.call("inner", "l", inner))
    outer, = t.named("outer")
    inner_span, = t.named("inner")
    assert seen == [f"span-{inner_span.id}"]
    assert spans.span_of_group(seen[0]) == inner_span.id
    assert sc.getLocalProperty(spans.JOB_GROUP_KEY) is None
    assert inner_span.parent == outer.id


# -- seeded inputs ------------------------------------------------------------


def test_seeded_inputs_are_reproducible_and_seed_dependent():
    a = corpus.documents_frame(seed=3)
    assert a.equals(corpus.documents_frame(seed=3))
    b = corpus.documents_frame(seed=4)
    assert not a["text"].equals(b["text"])
    # the same sf rows, only their doc_ids differ
    assert list(a["doc_id"]) == list(range(len(a))) == list(b["doc_id"])
    assert sorted(a["text"]) == sorted(b["text"])
    hosts = corpus.seeded_hosts(400, 20, seed=3)
    assert len(hosts) == 20 and hosts == corpus.seeded_hosts(400, 20, seed=3)
    assert hosts != corpus.seeded_hosts(400, 20, seed=4)


# -- BENCHMARK.json agrees with what the runs print -------------------------


def test_benchmark_json_names_match_the_code():
    import run
    import traced

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == traced.metric_units()
    e2e = {m["name"] for m in bench["end_to_end"]}
    assert e2e == {"items_per_s", "setup_s", "peak_rss_mb"}
