"""The benchmark's own arithmetic and bookkeeping; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_self_time_subtracts_direct_children():
    spans = [
        (1, "op", 0.0, 10.0, None),
        (2, "a", 1.0, 4.0, 1),
        (3, "a.inner", 2.0, 3.0, 2),
        (4, "b", 5.0, 9.0, 1),
    ]
    selfs = stats.self_times(spans)
    assert selfs == pytest.approx({1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [(1, "op", 0.0, 10.0, None), (2, "x", 1.0, 5.0, 1), (3, "y", 3.0, 7.0, 1),
             (4, "z", 6.5, 6.8, 1)]
    assert stats.self_times(spans)[1] == pytest.approx(4.0)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 32)]  # 31 samples
    value, pct, n = stats.tail(reversed(xs))
    assert (value, n) == (21.0, 31)
    assert pct == pytest.approx(100 * 21 / 31)
    assert sum(1 for x in xs if x > value) == stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [11, 12, 16, 40, 100])
def test_tail_is_the_highest_such_percentile(n):
    xs = [float(i) for i in range(n)]
    value, pct, _ = stats.tail(xs)
    assert sum(1 for x in xs if x > value) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100 * (n - stats.TAIL_BEYOND) / n)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * stats.TAIL_BEYOND)


def test_every_emitted_name_is_valid():
    names = (list(run.END_TO_END) + list(run.PER_LAYER)
             + [w["name"] for w in BENCH["workloads"]])
    assert stats.bad_names(names) == []
    assert all(stats.UNIT_RE.fullmatch(u) for u in [*run.END_TO_END.values(), *run.PER_LAYER.values()])
    assert len(set(names)) == len(names)
    assert stats.bad_names(["ok.name-1_x", "bad name", "", "-lead", "x" * 65]) == [
        "bad name", "", "-lead", "x" * 65]


def test_benchmark_json_matches_what_run_emits():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(run.workloads.WORKLOADS)
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


class FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_spans_nest_and_tag_jobs_with_the_innermost_span():
    sc = FakeContext()
    tr = tracing.Tracer(sc)
    tr.active = True
    tr.op = 7
    with tr.span("op"):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
        with tr.span("second"):
            pass
    by_name = {s[1]: s for s in tr.spans}
    assert by_name["inner"][4] == by_name["outer"][0]
    assert by_name["outer"][4] == by_name["op"][0]
    assert all(s[5] == 7 for s in tr.spans)
    groups = [v for _k, v in sc.props]
    assert groups[:3] == [str(by_name["op"][0]), str(by_name["outer"][0]), str(by_name["inner"][0])]
    assert groups[-1] is None  # no span open after the op
    selfs = stats.self_times([s[:5] for s in tr.spans])
    root = by_name["op"]
    assert sum(selfs.values()) == pytest.approx(root[3] - root[2])


def test_inactive_tracer_records_nothing():
    sc = FakeContext()
    tr = tracing.Tracer(sc)
    with tr.span("op"):
        tr.count("cache.hits")
    assert tr.spans == [] and sc.props == [] and not tr.counts


def test_counting_dict_counts_hits_builds_and_build_time():
    tr = tracing.Tracer(FakeContext())
    tr.active = True
    cache = tracing.CountingDict(tr, {"warm": 1})
    assert cache.get("warm") == 1
    assert cache.get("cold") is None
    cache["cold"] = 2
    cache["cold"] = 3  # overwrite is not a build
    assert tr.counts[0]["cache.hits"] == 1
    assert tr.counts[0]["cache.builds"] == 1
    assert tr.counts[0]["cache.build_s"] >= 0.0
    assert dict(cache) == {"warm": 1, "cold": 3}


def test_event_log_counters(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "5"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "5"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Properties": {}},
    ]
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    c = tracing.event_log_counters(tmp_path / "local-1")
    assert c["5"] == {"jobs": 1, "stages": 1, "tasks": 2, "task_run_s": 2.0,
                      "shuffle_read_bytes": 3, "shuffle_write_bytes": 30, "spill_bytes": 7}
    assert c[None]["jobs"] == 1


def test_app_event_log_picks_the_named_application(tmp_path):
    def write(name, app):
        (tmp_path / name).write_text("".join(json.dumps(e) + "\n" for e in [
            {"Event": "SparkListenerLogStart"},
            {"Event": "SparkListenerApplicationStart", "App Name": app},
            {"Event": "SparkListenerJobStart", "Properties": {}},
        ]))

    write("local-1", "gen_scale")
    write("local-2", "perfbench")
    assert tracing.app_event_log(tmp_path, "perfbench") == tmp_path / "local-2"
    write("local-3", "perfbench")
    with pytest.raises(RuntimeError):
        tracing.app_event_log(tmp_path, "perfbench")


def test_jvm_error_lines(tmp_path):
    log = tmp_path / "jvm.log"
    log.write_text(
        "26/10/17 04:32:02 ERROR DAGScheduler: Failed to update accumulator 1\n"
        "\tat org.apache.spark.scheduler.DAGScheduler.updateAccumulators\n"
        "26/10/17 04:32:02 WARN NativeCodeLoader: no native hadoop\n"
        '{"ts":"2026-10-17T04:32:02Z","level":"ERROR","msg":"boom"}\n'
        '{"ts":"2026-10-17T04:32:02Z","level":"WARN","msg":"an ERROR in text"}\n'
    )
    assert tracing.jvm_error_lines(log) == 2


def test_settle_waits_out_a_level_stretch_before_the_drop(monkeypatch):
    # readings of a registry_heavy run: level for two GCs, then the
    # ContextCleaner's blocks go
    monkeypatch.setattr(run, "MEM_GC_EVERY_S", 0.001)
    monkeypatch.setattr(run, "MEM_QUIET_S", 0.006)
    seq = iter([668.0, 668.0, 668.0, 627.0, 96.0] + [96.0] * 20)
    readings = run._settle(lambda: next(seq))
    assert min(readings) == 96.0
    assert len(readings) == 11  # stops once six intervals passed without a fall


def test_settle_stops_at_its_deadline(monkeypatch):
    monkeypatch.setattr(run, "MEM_GC_EVERY_S", 0.001)
    monkeypatch.setattr(run, "MEM_SETTLE_S", 0.05)
    falling = iter(range(10**6, 0, -10))
    readings = run._settle(lambda: float(next(falling)))
    assert 2 <= len(readings) < 1000
