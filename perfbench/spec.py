"""What the benchmark measures: workloads, metrics and their units.

This module is the source of ``BENCHMARK.json`` at the repository root
(regenerate it with ``python3 perfbench/spec.py > BENCHMARK.json``; a
run refuses to start when the two differ). It also holds what that
file has no room for: the metrics printed only in the human-readable
report, and, for every per-layer metric, the end-to-end metric it
should move and the workload on which it should barely move.
"""

from __future__ import annotations

import json

# name -> why the workload exists (one line each, as in BENCHMARK.json)
WORKLOADS = {
    "cdc_cow": (
        "copy-on-write windows over an LSN-pruned tail log: the cow resolve, "
        "bucket rewrite and commit do the work; no compaction, no reads"
    ),
    "cdc_mor_serve": (
        "merge-on-read appends with compaction every 4 windows and point "
        "lookups, scans and changelog reads beside them; the cow resolve is bypassed"
    ),
}

# end-to-end metrics of the last output line: (name, unit, better, bound).
# Every workload reports every one of them; none can be 0. Besides set-up
# time, they are what the engine costs in memory, storage and I/O: the
# bytes Spark read, wrote and shuffled in the timed loop per committed
# event (the read, write and network traffic a user pays for on a
# cluster) and the bytes the live table holds per row. They depend only
# on the inputs and the code, so a shared host leaves them alone.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("read_bytes_per_event", "B/event", "lower", 0.05),
    ("write_bytes_per_event", "B/event", "lower", 0.05),
    ("shuffle_bytes_per_event", "B/event", "lower", 0.05),
    ("table_bytes_per_row", "B/row", "lower", 0.05),
]

# end-to-end metrics printed in the report only. Speed, in wall seconds
# (what a user waits) or in CPU seconds of the whole process tree less
# JIT compilation (what the work costs; hostinfo.tree_cpu): on a shared
# host both move with the other tenants' load. Ten runs of the same code
# spread by 15-65% of their median in wall time and by 14-16% in CPU
# time, which JIT compilation leaves out and steal does not reach but
# slower cores still inflate, so neither can carry a bound there; the
# steadiness mode summarises them for a claim made from paired runs.
# Then metrics that are 0 on a good run (so no relative bound exists),
# exist on one workload only, or need more samples than a run holds.
REPORT_ONLY = [
    ("ingest_events_per_s", "events/s", "all workloads; wall clock, committed events / timed loop"),
    ("window_s_p50", "s", "all workloads; wall clock, median window commit latency"),
    ("backfill_events_per_s", "events/s", "all workloads; wall clock, cold first load of the base"),
    ("ingest_cpu_ms_per_event", "ms/event", "all workloads; CPU of the timed loop per event"),
    ("window_cpu_s_p50", "s", "all workloads; median window CPU"),
    ("backfill_cpu_ms_per_event", "ms/event", "all workloads; CPU of the cold first load per event"),
    ("failed_ops_frac", "frac", "all workloads; 0 on a good run (carried by `failed`)"),
    ("oracle_mismatch_rows", "rows", "all workloads; 0 on a good run (carried by `correct`)"),
    ("window_s_tail", "s", "ingest workloads; highest percentile with 10 windows beyond it"),
    ("lookup_ms_p50", "ms", "cdc_mor_serve"),
    ("lookup_ms_tail", "ms", "cdc_mor_serve"),
    ("scan_s", "s", "cdc_mor_serve"),
    ("changelog_s", "s", "cdc_mor_serve"),
    ("queries_s_total", "s", "not measured: the queries workload is not part of this benchmark"),
    ("queries_s_geomean", "s", "not measured: the queries workload is not part of this benchmark"),
]

_COW, _MOR, _BOTH = "cdc_cow", "cdc_mor_serve", "cdc_cow, cdc_mor_serve"

# per-layer metrics of a traced run: (name, unit, better, moves, barely moves).
# A layer a workload does not run reports 0 there.
PER_LAYER = [
    ("session.start_s", "s", "lower", f"setup_s on {_BOTH}", "-"),
    ("setup.gen_s", "s", "lower", f"setup_s on {_BOTH}", "-"),
    ("jvm.gc_s", "s", "lower", f"peak_rss_mb, window_cpu_s_p50 on {_BOTH}", "-"),
    ("jvm.jit_cpu_s", "s", "lower",
     "no bounded metric: JIT compilation in the timed loop, left out of every CPU metric", "-"),
    ("trace.window_s_p50", "s", "lower",
     "traced window_s_p50; its gap to the untraced one is the tracing overhead", "-"),
    ("trace.window_cpu_s_p50", "s", "lower",
     "traced window_cpu_s_p50; its gap to the untraced one is the tracing overhead", "-"),
    ("cdc.runner.window.self_s", "s", "lower", f"window_cpu_s_p50 on {_BOTH}", "-"),
    ("cdc.runner.window.driver_s", "s", "lower",
     f"window_cpu_s_p50 on {_BOTH}, largest share on cdc_mor_serve", "-"),
    ("cdc.runner.window.executor_s", "s", "lower", f"window_cpu_s_p50 on {_BOTH}", "-"),
    ("cdc.runner.window.jobs", "count", "lower", f"window_cpu_s_p50 on {_BOTH}", "-"),
    ("cdc.runner.window.retries", "count", "lower", f"window_cpu_s_p50 on {_BOTH}", "-"),
    ("cdc.source.prune_s", "s", "lower", f"ingest_cpu_ms_per_event on {_BOTH}", "-"),
    ("cdc.source.files_kept_frac", "frac", "lower", f"ingest_cpu_ms_per_event on {_BOTH}", "-"),
    ("cdc.commitlog.s", "s", "lower", f"window_cpu_s_p50 on {_BOTH} (small everywhere)", "-"),
    ("lake.table.merge.s", "s", "lower", f"ingest_cpu_ms_per_event, window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.cpu_s", "s", "lower", f"ingest_cpu_ms_per_event, window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.self_s", "s", "lower", f"window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.driver_s", "s", "lower", f"window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.executor_s", "s", "lower", f"window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.gc_s", "s", "lower", f"window_cpu_s_p50 on {_COW}", _MOR),
    ("lake.table.merge.input_bytes", "bytes", "lower", f"read_bytes_per_event on {_COW}", _MOR),
    ("lake.table.merge.shuffle_write_bytes", "bytes", "lower", f"shuffle_bytes_per_event on {_COW}", _MOR),
    ("lake.table.merge.output_bytes", "bytes", "lower",
     f"write_bytes_per_event, table_bytes_per_row on {_COW}", _MOR),
    ("lake.table.merge.rows_written_per_event", "rows/event", "lower",
     f"ingest_cpu_ms_per_event on {_COW}", _MOR),
    ("lake.table.merge.touched_buckets_frac", "frac", "lower",
     f"ingest_cpu_ms_per_event on {_COW}", _MOR),
    ("lake.table.merge.noop_frac", "frac", "lower", f"ingest_cpu_ms_per_event on {_COW}", _MOR),
    ("lake.table.merge_mor.s", "s", "lower", f"window_cpu_s_p50 on {_MOR}", _COW),
    ("lake.table.merge_mor.cpu_s", "s", "lower", f"window_cpu_s_p50 on {_MOR}", _COW),
    ("lake.table.merge_mor.self_s", "s", "lower", f"window_cpu_s_p50 on {_MOR}", _COW),
    ("lake.table.merge_mor.shuffle_write_bytes", "bytes", "lower", f"shuffle_bytes_per_event on {_MOR}", _COW),
    ("lake.table.merge_mor.output_bytes", "bytes", "lower",
     f"write_bytes_per_event, table_bytes_per_row on {_MOR}", _COW),
    ("lake.table.merge_mor.delta_files", "count", "lower",
     f"lookup_ms_*, scan_s on {_MOR}", _COW),
    ("lake.table.compact.s", "s", "lower",
     f"window_s_tail, ingest_cpu_ms_per_event on {_MOR}", _COW),
    ("lake.table.compact.self_s", "s", "lower", f"window_s_tail on {_MOR}", _COW),
    ("lake.table.compact.cpu_s", "s", "lower", f"ingest_cpu_ms_per_event on {_MOR}", _COW),
    ("lake.table.compact.bytes_rewritten", "bytes", "lower",
     f"write_bytes_per_event, window_s_tail on {_MOR}", _COW),
    ("lake.table.compact.shuffle_write_bytes", "bytes", "lower",
     f"shuffle_bytes_per_event on {_MOR}", _COW),
    ("lake.table.lookup.s", "s", "lower", f"lookup_ms_* on {_MOR}", _COW),
    ("lake.table.lookup.cpu_s", "s", "lower", f"lookup_ms_*, ingest_cpu_ms_per_event on {_MOR}", _COW),
    ("lake.table.lookup.input_bytes", "bytes", "lower", f"read_bytes_per_event, lookup_ms_* on {_MOR}", _COW),
    ("lake.table.lookup.input_records", "count", "lower", f"lookup_ms_* on {_MOR}", _COW),
    ("lake.table.lookup.jobs", "count", "lower", f"lookup_ms_* on {_MOR}", _COW),
    ("lake.table.read.s", "s", "lower", f"scan_s on {_MOR}", _COW),
    ("lake.table.read.cpu_s", "s", "lower", f"scan_s, ingest_cpu_ms_per_event on {_MOR}", _COW),
    ("lake.table.read.input_bytes", "bytes", "lower", f"read_bytes_per_event, scan_s on {_MOR}", _COW),
    ("lake.table.read.shuffle_write_bytes", "bytes", "lower", f"shuffle_bytes_per_event, scan_s on {_MOR}", _COW),
    ("lake.table.read.records_read_per_row", "rows/row", "lower", f"scan_s on {_MOR}", _COW),
    ("lake.table.read_changes.s", "s", "lower", f"changelog_s on {_MOR}", _COW),
    ("lake.table.read_changes.input_bytes", "bytes", "lower", f"read_bytes_per_event, changelog_s on {_MOR}", _COW),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
UNITS.update({name: unit for name, unit, _ in REPORT_ONLY})

COMMAND = ["python3", "perfbench/run.py"]
# the least length of a run's timed phase, which runs whole cycles of
# windows; one cycle outlasts it on any host, so every run measures the
# same single cycle (10-25 s on a 4-core host)
RUN_SECONDS = 1


def benchmark_json() -> dict:
    """The contents of ``BENCHMARK.json``."""
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
