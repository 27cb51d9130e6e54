#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Spark runs as ``local[4]``. Inputs are
generated from ``--seed`` under ``perfbench/.work/<run id>/``, which is
removed on exit; a traced run leaves its spans and ledger rows in
``perfbench/.work/trace-<run id>.json``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` measures the end-to-end metrics with tracing off:

- ``setup_s``: launch the driver JVM and start the Spark session, generate
  the inputs, then make the workload's untimed warm-up passes.
- ``wall_s``: the median time of the passes made in ``--seconds``, and at
  least the workload's ``MIN_PASSES``.
- ``docs_per_s``: input documents of one pass over ``wall_s``.

``--trace 1`` starts the session with Spark's event log on (the start is
the ``session.start`` span), makes the untimed and timed passes of an
untraced run, all untraced and untimed, then the workload's extra layer
calls, then pairs of passes with the span tracer off and on until
``--seconds``: at least two pairs, the second in swapped order. It joins
the spans against the event log and prints the per-layer metrics, among
them ``trace.overhead_s`` (median traced minus median untraced pass time,
both with the event log on) and ``session.peak_rss_mb``: the peak summed
RSS of this process, the driver JVM and the Python workers during the
pairs, sampled from ``/proc``. A layer the workload does not call
reports 0.

Every pass's outputs are checked outside the timed region; the exit code is
1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "samu_ocr_extraction_poc_spark"
CORES = 4


class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    @staticmethod
    def _tree_rss(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [root_pid]
        page = os.sysconf("SC_PAGE_SIZE")
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Sessions:
    """Starts and stops the run's Spark session and its driver JVM."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, extra: dict[str, str] | None = None):
        from samu_ocr_extraction_poc_spark.session import get_spark

        self.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": f"{self.work}/tmp",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            **(extra or {}),
        }
        self.spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session, then end the driver JVM and wait for it. The
        JVM exits when its stdin closes; stopping the session has already
        stopped the Python workers."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def timed_passes(wl, spark, tracer, seconds: float, min_passes: int) -> tuple[list[float], list]:
    """Closed loop: passes back to back until ``seconds`` of pass time and
    at least ``min_passes`` passes."""
    times, outs = [], []
    while sum(times) < seconds or len(times) < min_passes:
        t0 = time.perf_counter()
        outs.append(wl.run_pass(spark, tracer))
        times.append(time.perf_counter() - t0)
    return times, outs


def check(wl, spark, outs: list, counts: list[int], sample: bool = False) -> None:
    """Check each pass's outputs, outside any timed region; with ``sample``,
    also run the workload's sampled check on the last pass."""
    if sample:
        counts[1] += wl.check_sample(spark, outs[-1])
    for out in outs:
        attempted, failed = wl.check_pass(spark, out)
        counts[0] += attempted
        counts[1] += failed
        wl.discard(out)


def run_untraced(wl, sessions, seconds: float, counts: list[int]) -> dict:
    from spans import Tracer

    tracer = Tracer("untraced", enabled=False)
    marks = [time.perf_counter()]
    spark = sessions.start()
    marks.append(time.perf_counter())
    wl.make_inputs()
    marks.append(time.perf_counter())
    outs = []
    for _ in range(wl.WARMUP_PASSES):
        outs.append(wl.run_pass(spark, tracer))
        marks.append(time.perf_counter())
    setup = marks[-1] - marks[0]
    check(wl, spark, outs, counts)
    times, outs = timed_passes(wl, spark, tracer, seconds, wl.MIN_PASSES)
    t0 = time.perf_counter()
    check(wl, spark, outs, counts, sample=True)
    wall = statistics.median(times)
    steps = [round(b - a, 2) for a, b in zip(marks, marks[1:])]
    print(f"{wl.name}: setup {setup:.2f} s (start, inputs, warm-up passes: {steps}), "
          f"passes {times}, checks {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    return {"wall_s": wall, "docs_per_s": wl.n_docs / wall, "setup_s": setup}


def run_traced(wl, sessions, seconds: float, counts: list[int], run_id: str) -> dict:
    import catalog
    import ledger
    from spans import Tracer

    log_dir = f"{wl.work}/eventlog"
    os.makedirs(log_dir)  # Spark fails at start-up if the directory is missing
    off, on = Tracer(run_id, enabled=False), Tracer(run_id, enabled=True)
    with on.span("session.start"):
        spark = sessions.start(ledger.event_log_conf(log_dir))
    wl.make_inputs()
    # Warm up past the passes an untraced run times: the first of them is
    # still much slower than the rest, which would favour the side it fell on.
    warm_up = wl.WARMUP_PASSES + wl.MIN_PASSES
    check(wl, spark, [wl.run_pass(spark, off) for _ in range(warm_up)], counts)
    wl.trace_layers(spark, on)
    # Pairs of passes, tracer off and on. The order within a pair swaps each
    # time and there are at least two pairs, so a session that still speeds
    # up steadily favours neither side.
    times: dict[bool, list[float]] = {False: [], True: []}
    outs = []
    with RssSampler() as rss:
        while sum(times[False] + times[True]) < seconds or len(times[True]) < 2:
            pair = (off, on) if len(times[True]) % 2 == 0 else (on, off)
            for tracer in pair:
                t0 = time.perf_counter()
                outs.append(wl.run_pass(spark, tracer))
                times[tracer.enabled].append(time.perf_counter() - t0)
    metrics = {name: 0.0 for name, *_ in catalog.per_layer()}
    metrics.update(wl.pass_metrics(spark, outs))
    check(wl, spark, outs, counts, sample=True)
    sessions.stop()  # flushes the event log
    (log_file,) = os.listdir(log_dir)
    rows, unattributed = ledger.build_ledger(ledger.read_events(f"{log_dir}/{log_file}"), on.spans)
    with open(f"{HERE}/.work/trace-{run_id}.json", "w") as f:
        json.dump({"spans": on.spans, "ledger": rows}, f)

    metrics["session.peak_rss_mb"] = rss.peak / 2**20
    metrics["session.start_s"] = rows[on.named("session.start")[0]["id"]]["wall_ms"] / 1000
    metrics["trace.overhead_s"] = statistics.median(times[True]) - statistics.median(times[False])
    metrics.update(wl.layer_metrics(on, rows))
    print(f"{wl.name}: passes {times}, {unattributed} jobs outside any span", file=sys.stderr)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers are launched by the JVM and must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import catalog
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    wl = WORKLOADS[args.workload](args.seed, work)
    sessions = Sessions(work)
    counts = [0, 0]
    try:
        if args.trace:
            values = run_traced(wl, sessions, args.seconds, counts, run_id)
        else:
            values = run_untraced(wl, sessions, args.seconds, counts)
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
    units = catalog.units()
    result = {
        "correct": counts[1] == 0,
        "attempted": counts[0],
        "failed": counts[1],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
