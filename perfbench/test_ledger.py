"""Ledger reader test on a small recorded event log.

``testdata/eventlog-small.jsonl`` is a Spark 4.1 event log of a local[2]
session, trimmed to the job, stage and task events the ledger reads. Its
four jobs ran under three job groups:

- ``g1:py`` — job 0, a ``mapInArrow`` pass to a noop sink (2 tasks);
- ``g2:agg`` — jobs 1 and 2, a ``groupBy().count()`` collect (shuffle);
- ``g3:fail`` — job 3, a query that raised (1 failed task).

Run with ``python3 -m pytest perfbench/test_ledger.py`` from the checkout
root, or directly with ``python3 perfbench/test_ledger.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ledger  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog-small.jsonl")
T0 = 1792207950000


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": sid.split(":")[-1], "start_ms": T0 + start, "end_ms": T0 + end, "parent": parent}


def _ledger(spans):
    return ledger.build_ledger(ledger.read_events(LOG), spans)


def test_job_groups_attribute_jobs_tasks_and_python_metrics():
    rows, unattributed = _ledger(
        [_span("g1:py", 2200, 5900), _span("g2:agg", 7200, 8000), _span("g3:fail", 8100, 8300)]
    )
    assert unattributed == 0
    py = rows["g1:py"]
    assert (py["jobs"], py["stages"], py["tasks"], py["tasks_failed"]) == (1, 1, 2, 0)
    assert py["run_ms"] == 2989 + 2990
    assert abs(py["cpu_ms"] - (614966009 + 223825370) / 1e6) < 1e-6
    assert py["gc_ms"] == 102
    assert (py["py_start_ms"], py["py_init_ms"], py["py_run_ms"]) == (1853 + 1866, 533 + 533, 2388 + 2400)
    assert (py["arrow_to_py_bytes"], py["arrow_from_py_bytes"]) == (16272 + 17376, 15888 + 16992)
    assert py["shuffle_write_bytes"] == 0
    # job 0 ran 5862 - 2273 = 3589 ms of the span's 3700 ms
    assert (py["wall_ms"], py["job_ms"], py["driver_ms"]) == (3700, 3589, 111)
    assert abs(py["task_max_over_median"] - 2990 / 2989.5) < 1e-9

    agg = rows["g2:agg"]
    # job 2's first stage reused job 1's shuffle output: skipped, no tasks
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
    assert agg["shuffle_write_bytes"] == 171 + 168
    assert agg["shuffle_read_bytes"] == 339
    assert agg["job_ms"] == (7554 - 7214) + (7921 - 7722)
    assert agg["driver_ms"] == 800 - agg["job_ms"]
    assert agg["py_run_ms"] == 0

    fail = rows["g3:fail"]
    assert (fail["jobs"], fail["tasks"], fail["tasks_failed"]) == (1, 1, 1)


def test_jobs_without_a_known_group_fall_back_to_the_enclosing_top_level_span():
    # ids match no job group: jobs 1 and 2 fall inside "outer"; a child span
    # never takes a job by time, and jobs 0 and 3 lie outside every span
    rows, unattributed = _ledger([_span("outer", 7100, 8000), _span("inner", 7150, 7990, parent="outer")])
    assert rows["outer"]["jobs"] == 2 and rows["outer"]["tasks"] == 3
    assert rows["inner"]["jobs"] == 0
    assert unattributed == 2


def test_union_of_job_intervals_is_clipped_to_the_span():
    assert ledger._union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert ledger._union_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert ledger._union_ms([], 0, 10) == 0


def test_event_log_settings_are_readable_by_the_ledger():
    conf = ledger.event_log_conf("/logs")
    assert conf["spark.eventLog.compress"] == "false"
    assert conf["spark.eventLog.rolling.enabled"] == "false"
    assert conf["spark.eventLog.dir"] == "file:///logs"


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
