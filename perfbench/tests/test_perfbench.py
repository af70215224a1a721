"""Self-tests of the benchmark's own arithmetic and output check.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

from run import LAKE
from stats import Span, self_times, stall_flags, tail, unattributed
from tracing import Tracer, is_layer, parse_dot, parse_value

HERE = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("n, pct", [(28, 64), (42, 76), (100, 90), (1000, 99)])
def test_tail_keeps_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)]
    value, got_pct, got_n = tail(values)
    assert (got_pct, got_n) == (pct, n)
    rank = math.ceil(pct / 100 * n)
    assert n - rank >= 10
    # one percentile higher would leave fewer than ten beyond
    assert pct == 99 or n - math.ceil((pct + 1) / 100 * n) < 10
    assert value == values[rank - 1]


def test_tail_of_few_samples_is_the_median():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50, 3)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("query", 0.0, 10.0, -1, 0),
        Span("plans.build", 1.0, 3.0, 0, 0),
        Span("exec.sink", 2.0, 5.0, 0, 0),  # overlaps its sibling
        Span("exec.sink", 7.0, 8.0, 0, 0),
        Span("plans.plan", 7.5, 7.75, 3, 0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.75, 0.25])


def test_unattributed_is_wall_minus_top_level_layer_spans():
    spans = [
        Span("query", 0.0, 6.0, -1, 0),  # not a layer: its children count
        Span("plans.build", 0.5, 1.5, 0, 0),
        Span("exec.sink", 2.0, 5.0, 0, 0),
        Span("plans.plan", 2.5, 3.0, 2, 0),  # under a layer span: no effect
        Span("nhl.dag", 7.0, 9.0, -1, 0),
    ]
    assert unattributed(10.0, spans, is_layer) == pytest.approx(4.0)


def test_each_traced_sample_reports_its_remainder():
    from worker import Run

    r = object.__new__(Run)
    r.tr = object.__new__(Tracer)
    r.tr.sample = 0
    r.tr.spans = [
        Span("query", 100.0, 104.0, -1, 0, "q"),
        Span("plans.build", 100.5, 101.0, 0, 0, "q", jobs=1),
        Span("exec.sink", 101.0, 103.0, 0, 0, "q", jobs=3),
    ]
    sample = {"wall_s": 5.0}
    zero = dict.fromkeys(
        ("stages", "tasks", "cpu_s", "shuffle_write_b", "spill_b", "gc_s"), 0.0
    )
    r.layer_metrics(sample, [], zero)
    layers = sample["layers"]
    assert layers["trace.unattributed_s"] == pytest.approx(2.5)
    assert layers["plans.build_s"] == pytest.approx(0.5)
    assert layers["plans.build_jobs"] == 1
    assert layers["exec.jobs"] == 4


def test_model_time_charges_unwritten_executions_to_the_next_write():
    from worker import _model_times

    spans = [
        Span("plans.build", 0.0, 1.0, -1, 0, "stg_games"),
        Span("plans.plan", 1.0, 1.5, -1, 0, "stg_games"),
        Span("nhl.dag", 0.0, 9.0, -1, 0),
    ]
    execs = [
        {"wall_s": 0.2, "path": None},  # e.g. a sampling job before a write
        {"wall_s": 1.0, "path": "/wh/stg_games"},
        {"wall_s": 0.5, "path": "/csv/dim_team"},  # an export, not a model
    ]
    got = _model_times(spans, [1.0, 0.5, 7.5], execs, "/wh/")
    assert got == pytest.approx({"stg_games": 2.7})


def test_stall_flag_marks_slow_anchor_or_idle_cores():
    walls = [10.0, 10.0, 10.0, 6.6]
    cpus = [30.0, 15.0, 29.0, 3.0]  # the last sample idles its cores
    anchors = [0.5, 0.5, 1.2, 0.5, 0.5]  # sample 1 and 2 border a slow anchor
    assert stall_flags(walls, cpus, anchors, 4) == [False, True, True, True]
    with pytest.raises(ValueError):
        stall_flags(walls, cpus, anchors[:-1], 4)


def test_stall_flag_judges_a_run_of_one_sample():
    assert stall_flags([6.6], [3.0], [0.5, 0.5], 4) == [True]
    assert stall_flags([36.0], [60.0], [0.5, 0.5], 4) == [False]


class _Tracker:
    def __init__(self, jobs):
        self.jobs = jobs

    def getJobIdsForGroup(self, group):
        return self.jobs.get(group, [])


class _Context:
    def __init__(self):
        self.jobs: dict[str, list[int]] = {}

    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return _Tracker(self.jobs)


def test_span_jobs_are_read_when_resolved_not_at_exit():
    """A job the status store records only after its span closed (the
    listener bus lags) is still counted once the caller resolves."""
    tr = Tracer(None, False)
    tr.enabled, tr._sc = True, _Context()
    with tr.span("nhl.dag"):
        with tr.span("plans.build", "stg_games"):
            pass
    tr._sc.jobs = {"perfbench-0": [1, 2], "perfbench-1": [3]}
    assert [s.jobs for s in tr.spans] == [0, 0]
    tr.resolve_jobs()
    assert [s.jobs for s in tr.spans] == [2, 1]


def test_metric_strings_parse_to_base_units():
    assert parse_value("1,000") == (1000.0, "")
    assert parse_value("5.8 KiB") == (5.8 * 1024, "B")
    assert parse_value("12 ms") == (pytest.approx(0.012), "s")
    assert parse_value("1.0 s") == (1.0, "s")
    dot = (
        '  10 [id="node10" labelType="html" label="<b>Scan parquet </b><br>'
        "<br>number of files read: 4<br>scan time total (min, med, max "
        "(stageId: taskId))<br>286 ms (59 ms, 64 ms, 100 ms (stage 2.0: "
        'task 8))<br>size of files read: 5.8 KiB<br>number of output rows: '
        '1,000" tooltip="FileScan parquet"];'
    )
    [(name, m)] = parse_dot(dot)
    assert name == "Scan parquet"
    assert m["number of files read"] == (4.0, "")
    assert m["scan time"] == (pytest.approx(0.286), "s")
    assert m["number of output rows"] == (1000.0, "")


@pytest.fixture(scope="module")
def spark():
    from nhl_data_pipeline_spark.session import get_spark

    return get_spark("perfbench-tests", cpus=2)


def test_result_hash_matches_the_parity_gate(spark):
    """One query at sf0.01: the benchmark's hash of the Spark result, the
    hash of the DuckDB oracle's result and the committed expected hash
    agree, and plans/parity.py calls the same pair a match."""
    from nhl_data_pipeline_spark.plans.parity import compare_query, duck_connection
    from nhl_data_pipeline_spark.plans.registry import all_queries
    from worker import frame_hash

    expected = json.loads((HERE / "expected_hashes.json").read_text())
    assert HERE / expected["lake"] == LAKE
    d = str(LAKE)
    name = "pricing_summary"
    spec = all_queries()[name]
    con = duck_connection(d)
    got = frame_hash(spec.fn(spark, d).toPandas())
    assert got == frame_hash(con.execute(spec.oracle).fetchdf())
    assert got == expected["queries"][name]["hash"]
    assert compare_query(spark, con, name, d).ok
