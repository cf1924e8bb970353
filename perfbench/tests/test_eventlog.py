"""Event-log parser against a small hand-written log.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import EventLog  # noqa: E402

CANNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "canned_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return EventLog.from_file(CANNED)


def test_labels_come_from_the_pass_property(log):
    assert log.labels() == ["warm-0"]


def test_task_and_stage_totals_cover_only_the_labelled_job(log):
    m = log.pass_metrics("warm-0")
    assert m["plans.jobs"] == 1
    assert m["plans.stages"] == 2  # the never-completed stage 5 is skipped
    assert m["plans.tasks"] == 4
    assert m["plans.executor_run_s"] == pytest.approx(0.5)
    assert m["plans.executor_cpu_s"] == pytest.approx(0.41)
    assert m["plans.gc_s"] == pytest.approx(0.008)
    assert m["operators.shuffle_write_bytes"] == 4000
    assert m["operators.shuffle_read_bytes"] == 4000
    assert m["operators.spill_bytes"] == 512


def test_python_udf_metrics_follow_plan_accumulator_ids(log):
    m = log.pass_metrics("warm-0")
    assert m["functions.python_total_s"] == pytest.approx(1.5)  # "1500" ms, a string
    assert m["functions.python_boot_s"] == pytest.approx(0.2)
    assert m["functions.python_init_s"] == pytest.approx(0.3)
    assert m["functions.bytes_to_python"] == 4096
    assert m["functions.bytes_from_python"] == 8192
    # the Project node's "number of output rows" (999) is not the UDF's
    assert m["functions.udf_rows"] == 40
    assert m["operators.exploded_spans"] == 50


def test_skew_is_max_over_median_of_the_udf_stage(log):
    # UDF stage 1 ran tasks of 100 and 300 ms: median 200, max 300
    assert log.pass_metrics("warm-0")["operators.task_skew"] == pytest.approx(1.5)


def test_unknown_label_reads_as_zero(log):
    m = log.pass_metrics("cold")
    assert m["plans.jobs"] == 0
    assert m["functions.python_total_s"] == 0
    assert m["operators.task_skew"] == 0
