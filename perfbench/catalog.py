"""The benchmark's workloads and metrics, the one source for BENCHMARK.json.

``python3 perfbench/catalog.py`` prints the BENCHMARK.json this catalog
describes; ``run.py`` takes every metric's unit from here. Per-layer names
follow the package modules; README.md records which end-to-end metric each
should move, on which workload.
"""

from __future__ import annotations

import json

import inputs

RUN_SECONDS = 5

WORKLOADS = [
    ("extract", "the paper's job: scan, one mapInArrow extraction stage, partitioned write and "
                "lineage; Python and Arrow dominate, shuffle is nearly absent"),
    ("curate", "the dedup_apply contract query, then min-label connected components on tiny "
               "chains: shuffle-, join- and driver-planning-bound, with no Python stage"),
]

END_TO_END = [
    # name, unit, better, bound
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

CURATE_QUERIES = ("dedup_apply",)
LOOP_OPS = ("connected_components",)

PIPELINE = [
    ("extract_s", "s", "lower"),
    ("resumable_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("py_start_ms", "ms", "lower"),
    ("py_init_ms", "ms", "lower"),
    ("py_run_ms", "ms", "lower"),
    ("arrow_to_py_mb", "MB", "lower"),
    ("arrow_from_py_mb", "MB", "lower"),
    ("cpu_ms", "ms", "lower"),
    ("gc_ms", "ms", "lower"),
    ("output_mb", "MB", "lower"),
    ("task_max_over_median", "x", "lower"),
    ("tasks_failed", "count", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("sources.scan_s", "s", "lower"),
        ("sources.input_mb", "MB", "lower"),
    ]
    out += [(f"pipeline.{n}", u, b) for n, u, b in PIPELINE]
    for fam in inputs.FAMILIES:
        out += [(f"operators.doc_us.{fam}.{p}", "us", "lower") for p in ("p50", "p99")]
    out += [(f"operators.proc_us.{p}", "us", "lower") for p in ("p50", "p99", "max")]
    out.append(("operators.proc_sum_s", "s", "lower"))
    for q in CURATE_QUERIES:
        out += [
            (f"curate.{q}.s", "s", "lower"),
            (f"curate.{q}.jobs", "count", "lower"),
            (f"curate.{q}.driver_s", "s", "lower"),
            (f"curate.{q}.shuffle_mb", "MB", "lower"),
            (f"curate.{q}.spill_mb", "MB", "lower"),
            (f"curate.{q}.leaked_rdds", "count", "lower"),
        ]
    for op in LOOP_OPS:
        out += [
            (f"loops.{op}.s", "s", "lower"),
            (f"loops.{op}.rounds", "count", "lower"),
            (f"loops.{op}.jobs", "count", "lower"),
            (f"loops.{op}.driver_s", "s", "lower"),
            (f"loops.{op}.leaked_rdds", "count", "lower"),
        ]
    return out


def units() -> dict[str, str]:
    return {n: u for n, u, *_ in END_TO_END + per_layer()}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
