"""Unit test of the event-log parser on a small recorded log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4 event log of one
context: under job group ``pb7`` a CSV header probe (job 0) and a
group-by over the CSV through the noop sink (jobs 1 and 2); then, with
no job group, a CSV-to-parquet write (job 3, 1000 rows written).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def span(sid, parent, layer, t0, t1, py4j0=0, py4j1=0):
    return {"sid": sid, "parent": parent, "layer": layer, "label": sid,
            "t0": t0, "t1": t1, "py4j0": py4j0, "py4j1": py4j1}


# pass (10 s) > exec span pb7 (6 s, 40 py4j calls) > nested exec pb8 (1 s)
# and a lazy builder pb9 (2 s); pb5 lies outside the pass.
SPANS = [
    span("pb5", None, "plans.exec", 0.0, 1.0, 0, 5),
    span("pb6", None, "bench.pass", 1.0, 11.0, 5, 60),
    span("pb7", "pb6", "plans.exec", 2.0, 8.0, 10, 50),
    span("pb8", "pb7", "plans.exec", 3.0, 4.0, 20, 30),
    span("pb9", "pb6", "functions", 8.0, 10.0, 50, 55),
]


@pytest.fixture(scope="module")
def log():
    return eventlog.parse_file(LOG, eventlog.EventLog())


def test_jobs_carry_their_group(log):
    assert log.job_group == {(0, 0): "pb7", (0, 1): "pb7", (0, 2): "pb7", (0, 3): None}
    assert log.job_metrics[(0, 3)]["output_rows"] == 1000
    # Job 2's first stage was skipped: only the result stage ran a task.
    assert log.job_metrics[(0, 2)]["tasks"] == 1


def test_layer_family_sums_jobs_under_the_roots(log):
    fams = eventlog.layer_family(SPANS, log, {"pb6"})
    ex = fams["plans.exec"]
    assert ex["calls"] == 2
    assert ex["wall_s"] == pytest.approx(6.0)  # pb8 nests in pb7: not counted twice
    assert ex["self_s"] == pytest.approx(6.0)  # 5 s of pb7 outside pb8, plus pb8's 1 s
    assert ex["py4j_calls"] == 40
    assert ex["jobs"] == 3
    assert ex["tasks"] == 3
    assert ex["task_run_s"] == pytest.approx((163 + 319 + 133) / 1e3)
    assert ex["input_bytes"] == 2 * 8338
    assert ex["shuffle_write_bytes"] == 9631
    assert ex["output_rows"] == 0  # the parquet write ran outside every span
    assert fams["bench.pass"]["jobs"] == 3  # jobs also count for enclosing layers
    assert fams["bench.pass"]["self_s"] == pytest.approx(10.0 - 6.0 - 2.0)
    assert fams["functions"]["jobs"] == 0
    assert "pb5" not in {s["sid"] for s in eventlog.subtree(SPANS, {"pb6"}).values()}


def test_csv_scan_bytes_follow_the_group(log):
    # The header probes scan text, not csv; the noop group-by planned one
    # 8338-byte csv scan under pb7; the parquet write had no group.
    assert eventlog.csv_bytes_under(SPANS, log, {"pb6"}) == 8338
    assert log.csv_scan_bytes[None] == 8338
