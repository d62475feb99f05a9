"""The benchmark's own arithmetic: percentile rule, self time, failure
shares and job-group attribution. No Spark needed.

    python -m pytest perfbench/tests -q
"""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.oracle import compare  # noqa: E402
from perfbench.stats import (  # noqa: E402
    attribute_jobs,
    failed_share,
    highest_reportable,
    latency_summary,
    percentile,
    reportable,
)
from perfbench.trace import Span, covered, parse_sql_metric, self_times, union_length  # noqa: E402


# ------------------------------------------------------- percentile rule
def test_p90_needs_ten_samples_beyond_it():
    assert not reportable(99, 90.0)
    assert reportable(100, 90.0)
    assert highest_reportable(99) == 50.0
    assert highest_reportable(100) == 90.0
    assert highest_reportable(1000) == 99.0
    assert highest_reportable(10_000) == 99.9


def test_median_needs_ten_samples_each_side():
    assert highest_reportable(19) is None
    assert highest_reportable(20) == 50.0


def test_latency_summary_reports_p90_only_with_enough_samples():
    few = latency_summary([float(i) for i in range(50)])
    assert set(few) == {"n", "p50"}
    many = latency_summary([float(i) for i in range(101)])
    assert many["p90"] == pytest.approx(90.0)
    assert many["p50"] == 50.0


def test_percentile_interpolates_like_numpy():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


# -------------------------------------------------------------- self time
def _span(i, parent, start, end, layer="x"):
    return Span(i, parent, "r", layer, f"s{i}", start, end)


def test_self_time_subtracts_children_once_even_when_they_overlap():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1 by one second
        _span(3, 1, 1.5, 2.0),  # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_children_outside_the_parent_are_clipped():
    assert covered((2.0, 5.0), [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(2.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


# ---------------------------------------------------------- failed_share
def test_failed_share_counts_wrong_outputs_and_errors():
    assert failed_share(["ok", "ok", "wrong", "error"]) == 0.5
    assert failed_share(["ok"]) == 0.0
    with pytest.raises(ValueError):
        failed_share([])


def test_a_fast_wrong_answer_is_a_failure():
    got = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]})
    want = pd.DataFrame({"v": [2.5, 1.0], "k": [2, 1]})
    assert compare(got, want)[0]  # order-insensitive, column order too
    assert not compare(got, want.assign(v=[2.5, 1.5]))[0]
    assert not compare(got.head(1), want)[0]
    assert not compare(got.rename(columns={"v": "w"}), want)[0]


def test_date_objects_match_datetime64_dates():
    import datetime as dt

    got = pd.DataFrame({"d": [dt.date(2024, 1, 2), dt.date(2024, 1, 1)]})
    want = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    assert compare(got, want)[0]
    assert not compare(got, want.assign(d=pd.to_datetime(["2024-01-01", "2024-01-03"])))[0]


def test_int_and_double_with_equal_values_compare_equal():
    assert compare(pd.DataFrame({"n": [3, 4]}), pd.DataFrame({"n": [4.0, 3.0]}))[0]


# ------------------------------------------------------ job attribution
def test_jobs_attribute_to_their_group():
    owner = attribute_jobs({"pb0": [0, 1], "pb1": [2]})
    assert owner == {0: "pb0", 1: "pb0", 2: "pb1"}


def test_a_job_in_two_groups_is_an_error_not_a_guess():
    with pytest.raises(ValueError):
        attribute_jobs({"pb0": [0, 1], "pb1": [1]})


def test_a_group_spark_opens_itself_attributes_to_the_running_call():
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx

    class Status:
        def set_group(self, group):
            self.group = group

    ctx = Ctx(spark=None, seed=0, seconds=0, tracer=Tracer(True), work="", status=Status())
    ctx.call("streaming", "append", lambda: ctx.adopt_group("run-id"))
    ctx.call("operators.ann", "search", lambda: None)
    append, search = ctx.tracer.spans
    assert ctx._groups == {"pb0": append, "run-id": append, "pb1": search}


# ------------------------------------------------------- status strings
@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("64.2 MiB", 64.2 * 1024 ** 2),
    ("11 ms", 0.011),
    ("total (min, med, max (stageId: taskId))\n133.0 B (0.0 B, 66.0 B, 67.0 B (stage 1.0: task 2))",
     133.0),
])
def test_sql_metric_strings_parse(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


# --------------------------------------------------------- oracle timeout
def test_a_slow_oracle_times_out_instead_of_passing(tmp_path):
    pytest.importorskip("duckdb")
    from perfbench.oracle import Oracle

    pd.DataFrame({"x": range(10)}).to_parquet(tmp_path / "t.parquet")
    oracle = Oracle(str(tmp_path), ["t"], str(tmp_path / "cache"), "fp", timeout_s=0.2)
    try:
        slow = "SELECT count(*) FROM range(100000000) a, range(100000) b WHERE a.range % 7 = b.range"
        assert oracle.run(slow) is None
        assert oracle.run("SELECT sum(x) AS s FROM t")["s"].tolist() == [45]
    finally:
        oracle.close()
