"""Spark event-log ledger: per-span job, task, shuffle and Python numbers.

A traced run tags every call with ``SparkContext.setJobGroup(span_id)`` and
records the call's span (see ``spans.py``). After the session stops, this
module reads the uncompressed JSON-lines event log Spark wrote and sums, per
span, the jobs, stages and tasks attributed to it.

A job is attributed to the span whose id is its ``spark.jobGroup.id``.
Job groups are thread-local, so jobs submitted from a helper thread (the
package's ``run_jobs`` overlap) carry no group; those fall back to the
top-level span whose interval contains the job's submission time, which
is exact for a closed-loop client that makes one call at a time.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_to_py_bytes",
    "data returned from Python workers": "arrow_from_py_bytes",
}

# Session settings a traced run needs. Spark's default event-log codec is
# zstd, which no Python module here can read, and a rolling log splits one
# application over several files.
def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _zero_row() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "tasks_failed": 0,
        "run_ms": 0,
        "cpu_ms": 0.0,
        "gc_ms": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        **{v: 0 for v in PY_METRICS.values()},
    }


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def build_ledger(events, spans: list[dict]) -> tuple[dict[str, dict], int]:
    """One row per span id, and the number of jobs no span covers.

    ``spans`` are dicts with ``id``, ``start_ms``, ``end_ms`` (epoch ms) and
    ``parent`` (None for a top-level span). Each row carries the summed
    task metrics of the span's jobs, plus:

    - ``job_ms``: the union of the jobs' submit-to-completion intervals;
    - ``driver_ms``: span wall time minus ``job_ms``, the time the driver
      spent outside any Spark job (analysis, planning, py4j, collect);
    - ``task_max_over_median``: the slowest task of the span's busiest
      stage over that stage's median task run time.
    """
    by_id = {s["id"]: s for s in spans}
    top = sorted((s for s in spans if s.get("parent") is None), key=lambda s: s["start_ms"])
    job_span: dict[int, str] = {}
    job_iv: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    rows = {s["id"]: _zero_row() for s in spans}
    unattributed = 0

    def owner(job_id: int) -> dict | None:
        sid = job_span.get(job_id)
        return rows.get(sid) if sid else None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid, t = ev["Job ID"], ev["Submission Time"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group if group in by_id else None
            if sid is None:
                sid = next((s["id"] for s in top if s["start_ms"] <= t <= s["end_ms"]), None)
            if sid is None:
                unattributed += 1
                continue
            job_span[jid] = sid
            job_iv[jid] = [t, t]
            rows[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_job[st] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            row = owner(stage_job.get(info["Stage ID"], -1))
            if row is not None:
                row["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"], -1)
            row = owner(jid)
            if row is None:
                continue
            _add_task(row, ev)
            m = ev.get("Task Metrics") or {}
            stage_tasks[ev["Stage ID"]].append(m.get("Executor Run Time", 0))

    span_jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for jid, (start, end) in job_iv.items():
        span_jobs[job_span[jid]].append((start, end))
    span_stages: dict[str, list[int]] = defaultdict(list)
    for st, jid in stage_job.items():
        if jid in job_span and stage_tasks.get(st):
            span_stages[job_span[jid]].append(st)
    for sid, row in rows.items():
        s = by_id[sid]
        wall = s["end_ms"] - s["start_ms"]
        row["wall_ms"] = wall
        row["job_ms"] = _union_ms(span_jobs[sid], s["start_ms"], s["end_ms"])
        row["driver_ms"] = wall - row["job_ms"]
        busiest = max(span_stages[sid], key=lambda st: sum(stage_tasks[st]), default=None)
        if busiest is not None:
            times = stage_tasks[busiest]
            med = statistics.median(times)
            row["task_max_over_median"] = max(times) / med if med else 0.0
        else:
            row["task_max_over_median"] = 0.0
    return rows, unattributed


def _add_task(row: dict, ev: dict) -> None:
    row["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        row["tasks_failed"] += 1
    m = ev.get("Task Metrics") or {}
    row["run_ms"] += m.get("Executor Run Time", 0)
    row["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    row["gc_ms"] += m.get("JVM GC Time", 0)
    row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    row["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key and acc.get("Update") is not None:
            row[key] += int(acc["Update"])
