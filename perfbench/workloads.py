"""The two CDC workloads: seeded inputs, set-up, the timed closed loop,
the oracle check and the per-layer breakdown.

Both workloads bulk-load the same kind of base (a Zipf(1.1) transcript
change stream) and then tail a change log in fixed LSN windows through
``CdcRunner``. ``cdc_cow`` merges each window copy-on-write.
``cdc_mor_serve`` appends each window merge-on-read, compacts once a
cycle, and serves a point lookup after every window and a scan plus a
changelog read after every compaction.

The timed loop runs whole cycles of windows and reads the clock only
between cycles. A cycle outlasts the default ``--seconds`` on any host,
so every run measures the same window positions (the JVM is still
warming across them) and the same mix of appends and compactions, and
a mor run ends on a compacted table.

Every timed call is measured twice: in wall seconds, what a user
waits, and in CPU seconds of the whole process tree (client, driver
JVM, Python workers) less the JVM's JIT compilation, what the work
costs (``hostinfo.tree_cpu``). The bytes Spark reads, writes and
shuffles in the loop are summed from its status store.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import (
    CdcRunner,
    LsnRangedParquetSource,
    ManifestLog,
    OffsetLog,
)
from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_DICT_COLS,
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable

from .hostinfo import tree_cpu, work_cpu_s
from .oracle import LwwOracle
from .spans import Attribution, TracedProxy, Tracer, check_forwarding, collect_spark_work

BASE_EVENTS = 40_000
N_CONVS = BASE_EVENTS // 40
ZIPF_A = 1.1
BASE_SEED = 0
WINDOW_EVENTS = 4_000
CYCLE = {"cow": 5, "mor": 4}  # windows per cycle
MAX_WINDOWS = 1 + 20  # window 0 warms up; then 4 cow or 5 mor cycles
FILES_PER_WINDOW = 2
NUM_BUCKETS = 8
KEY_COLS = ["conv_id", "turn_idx"]

MODES = {"cdc_cow": "cow", "cdc_mor_serve": "mor"}
# Spark stage counters summed over the timed loop, by end-to-end metric
LOOP_BYTES = {
    "input_bytes": "read_bytes_per_event",
    "output_bytes": "write_bytes_per_event",
    "shuffle_write_bytes": "shuffle_bytes_per_event",
}

_ARROW_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("lsn", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def window_bounds(k: int) -> tuple[int, int]:
    lo = BASE_EVENTS + k * WINDOW_EVENTS
    return lo, lo + WINDOW_EVENTS - 1


def _write(pdf, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA, preserve_index=False), path)


def make_inputs(work: str, seed: int) -> dict:
    """Base and tail change files. The base, which every run loads first,
    is one fixed data set: its size sets the cost of every cow bucket
    rewrite, and drawing it from the seed moved the CPU of a run by a
    tenth from seed to seed. The seed draws the tail, the change log the
    timed loop applies. Tail files are cut in arrival order, which the
    generator keeps close to LSN order (10% of adjacent events swapped),
    so each file spans a narrow LSN range."""
    base_dir = os.path.join(work, "changes", "base")
    tail_dir = os.path.join(work, "changes", "tail")
    os.makedirs(base_dir)
    os.makedirs(tail_dir)
    base = generate_changes_pdf(BASE_EVENTS, N_CONVS, seed=BASE_SEED, zipf_a=ZIPF_A)
    _write(base, os.path.join(base_dir, "part-00000.parquet"))
    tail = generate_changes_pdf(
        WINDOW_EVENTS * MAX_WINDOWS, N_CONVS, seed=[seed, 1], zipf_a=ZIPF_A,
        lsn_start=BASE_EVENTS,
    )
    step = WINDOW_EVENTS // FILES_PER_WINDOW
    for i in range(0, len(tail), step):
        _write(tail.iloc[i : i + step], os.path.join(tail_dir, f"part-{i // step:05d}.parquet"))
    files = sorted(
        os.path.join(d, f) for d in (base_dir, tail_dir) for f in os.listdir(d)
    )
    return {"base_dir": base_dir, "tail_dir": tail_dir, "files": files}


def _new_table(path: str) -> LakeTable:
    return LakeTable.create(
        path, TRANSCRIPT_SCHEMA, key_cols=KEY_COLS, num_buckets=NUM_BUCKETS,
        dict_cols=TRANSCRIPT_DICT_COLS,
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _lookup_keys(seed: int):
    """Endless seeded sample of lookup keys: a hot conversation (Zipf
    head), a cold one (uniform over the upper half), an absent one."""
    rng = np.random.default_rng([seed, 2])
    while True:
        for kind in ("hot", "cold", "absent"):
            if kind == "hot":
                conv = (int(rng.zipf(ZIPF_A)) - 1) % N_CONVS
            elif kind == "cold":
                conv = int(rng.integers(N_CONVS // 2, N_CONVS))
            else:
                conv = N_CONVS + int(rng.integers(0, N_CONVS))
            yield f"conv_{conv:08d}", int(rng.integers(0, 50))


def _snapshot_bytes(table: LakeTable) -> int:
    snap = table.snapshot()
    total = 0
    for coll in ("files", "deltas", "tombstones"):
        for flist in (snap.get(coll) or {}).values():
            for f in flist:
                total += os.path.getsize(f if os.path.isabs(f) else os.path.join(table.path, f))
    return total


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11], "percentile": 100.0 * (n - 10) / n, "n": n}


class CdcWorkload:
    """One run of ``cdc_cow`` or ``cdc_mor_serve`` in an open session."""

    def __init__(self, spark, name: str, seed: int, work: str, trace: bool):
        self.spark = spark
        self.name = name
        self.mode = MODES[name]
        self.cycle = CYCLE[self.mode]
        self.seed = seed
        self.work = work
        self.tracer = Tracer(trace, work_cpu_s)
        self.record: dict = {"workload": name}

    # -------------------------------------------------------- set-up
    def setup(self) -> None:
        spark, work = self.spark, self.work
        t0 = time.perf_counter()
        self.inputs = make_inputs(work, self.seed)
        self.record["gen_s"] = time.perf_counter() - t0

        # backfill: the first load into the empty table, which also pays
        # for warming the JVM, as a first load on a fresh engine does
        t0, c0 = time.perf_counter(), work_cpu_s()
        table = self.table = _new_table(os.path.join(work, "table"))
        table.merge(spark.read.parquet(self.inputs["base_dir"]))
        self.record["backfill_s"] = time.perf_counter() - t0
        self.record["backfill_cpu_s"] = work_cpu_s() - c0

        # warm-up: one of every operation the timed loop makes
        t0 = time.perf_counter()
        self.offsets = OffsetLog(os.path.join(work, "offsets"))
        self.manifests = ManifestLog(os.path.join(work, "manifests"))
        self.source = LsnRangedParquetSource(spark, self.inputs["tail_dir"])
        CdcRunner(table, self.offsets, self.manifests, self.source, mode=self.mode).run_window(
            *window_bounds(0)
        )
        if self.mode == "mor":
            v0 = table.current_version()
            self._lookup(table, ("conv_00000000", 0), window_bounds(0)[1], record=False)
            table.compact(spark)
            table.expire_tombstones(spark, offsets=self.offsets)
            _noop(table.read(spark))
            _noop(table.read_changes(spark, v0))
        self.record["warm_s"] = time.perf_counter() - t0
        # the timed phase starts on a clean heap, not on set-up's garbage
        spark._jvm.java.lang.System.gc()

    # --------------------------------------------------------- timed
    def _lookup(self, table, key, hi: int, record: bool = True) -> float:
        conv_id, turn_idx = key
        with self.tracer.span("lake.table.lookup"):
            t0 = time.perf_counter()
            rows = (
                table.lookup(self.spark, conv_id=conv_id, turn_idx=turn_idx)
                .select("role", "text", "tool", F.unix_micros("ts").alias("ts_us"))
                .collect()
            )
            dt = time.perf_counter() - t0
        if record:
            self.lookups.append({"key": key, "hi": hi, "rows": [tuple(r) for r in rows]})
        return dt

    def _runner(self) -> CdcRunner:
        table, offsets, manifests, source = self.table, self.offsets, self.manifests, self.source
        if self.tracer.enabled:
            tr = self.tracer
            table = TracedProxy(table, tr, {
                "merge": lambda *a, **kw: (
                    "lake.table.merge_mor" if kw.get("mode") == "mor" else "lake.table.merge"
                ),
                "merge_prebucketed": "lake.table.merge_prebucketed",
                "compact": "lake.table.compact",
                "expire_tombstones": "lake.table.expire_tombstones",
            })
            offsets = TracedProxy(offsets, tr, dict.fromkeys(
                ("commit", "last_lsn", "resume_lsn"), "cdc.offsets"))
            manifests = TracedProxy(manifests, tr, dict.fromkeys(
                ("is_committed", "begin", "commit"), "cdc.manifests"))
            source = TracedProxy(source, tr, {"__call__": "cdc.source", "max_lsn": "cdc.source"})
            for proxy in (table, offsets, manifests, source):
                check_forwarding(proxy)
        return CdcRunner(
            table, offsets, manifests, source, mode=self.mode,
            compact_every=self.cycle if self.mode == "mor" else 0,
        )

    def run(self, seconds: float) -> None:
        spark, table, tr = self.spark, self.table, self.tracer
        runner = self._runner()
        keys = _lookup_keys(self.seed)
        self.lookups: list[dict] = []
        windows, window_cpu, lookup_s, scan_s, changelog_s = [], [], [], [], []
        attempted = failed = 0
        error = None
        last_hi = window_bounds(0)[1]
        cycle_version = table.current_version()
        self.loop_epoch = time.time()
        t_loop, (c_loop, jit_loop) = time.perf_counter(), tree_cpu()
        k = 1
        try:
            while k < MAX_WINDOWS:
                cycle_done = (k - 1) % self.cycle == 0
                if cycle_done and time.perf_counter() - t_loop >= seconds:
                    break
                lo, hi = window_bounds(k)
                attempted += 1
                with tr.span("cdc.runner.window", events=WINDOW_EVENTS, hi=hi):
                    t0, c0 = time.perf_counter(), work_cpu_s()
                    runner.run_window(lo, hi)
                    windows.append(time.perf_counter() - t0)
                    window_cpu.append(work_cpu_s() - c0)
                last_hi, k = hi, k + 1
                if self.mode != "mor":
                    continue
                attempted += 1
                lookup_s.append(self._lookup(table, next(keys), hi))
                if (k - 1) % self.cycle == 0:
                    attempted += 1
                    with tr.span("lake.table.read", hi=hi):
                        t0 = time.perf_counter()
                        _noop(table.read(spark))
                        scan_s.append(time.perf_counter() - t0)
                    attempted += 1
                    with tr.span("lake.table.read_changes"):
                        t0 = time.perf_counter()
                        _noop(table.read_changes(spark, cycle_version))
                        changelog_s.append(time.perf_counter() - t0)
                    cycle_version = table.current_version()
        except Exception as e:  # the run goes on to report the failure
            failed += 1
            error = f"{type(e).__name__}: {e}"
        loop_s, (cpu, jit) = time.perf_counter() - t_loop, tree_cpu()
        # every Spark stage since the loop began ran in the loop
        _jobs, stages = collect_spark_work(spark, self.loop_epoch)
        self.last_hi = last_hi
        self.record.update(
            loop_s=loop_s, loop_cpu_s=cpu - c_loop, loop_jit_cpu_s=jit - jit_loop,
            loop_bytes={k: sum(getattr(st, k) for st in stages) for k in LOOP_BYTES},
            window_s=windows, window_cpu_s=window_cpu,
            lookup_s=lookup_s, scan_s=scan_s,
            changelog_s=changelog_s, attempted=attempted, failed=failed, error=error,
            committed_events=WINDOW_EVENTS * len(windows),
        )

    # ----------------------------------------------------- after loop
    def check(self) -> None:
        """Oracle gate, outside the timed phase: the final table and
        every lookup against the DuckDB fold of the generated files."""
        t0 = time.perf_counter()
        check_dir = os.path.join(self.work, "check")
        (
            self.table.read(self.spark)
            .select("conv_id", "turn_idx", "role", "text", "tool",
                    F.unix_micros("ts").alias("ts_us"))
            .write.parquet(check_dir)
        )
        self.oracle = LwwOracle(self.inputs["files"])
        mismatches = self.oracle.table_mismatches(check_dir, self.last_hi)
        mismatches += self.oracle.lookup_mismatches(self.lookups)
        live_rows = self.oracle.live_rows(self.last_hi)
        # the intended route: each window reads a slice of the tail log
        kept, total = self.source.files_for(*window_bounds(1))
        if len(kept) >= total and self.record["error"] is None:
            self.record["error"] = "source pruning kept every tail file"
        self.record.update(
            oracle_mismatch_rows=mismatches,
            live_rows=live_rows,
            table_bytes=_snapshot_bytes(self.table),
            check_s=time.perf_counter() - t0,
        )

    def end_to_end(self, start_s: float, peak_rss_mb: float) -> dict:
        r = self.record
        med = statistics.median
        attempted = max(r["attempted"], 1)
        failed = attempted if r["oracle_mismatch_rows"] else r["failed"]
        events = max(r["committed_events"], 1)
        out = {name: r["loop_bytes"][k] / events for k, name in LOOP_BYTES.items()}
        out.update({
            "setup_s": start_s + r["gen_s"] + r["backfill_s"] + r["warm_s"],
            "peak_rss_mb": peak_rss_mb,
            "ingest_cpu_ms_per_event": 1000.0 * r["loop_cpu_s"] / events,
            "window_cpu_s_p50": med(r["window_cpu_s"]) if r["window_cpu_s"] else float("nan"),
            "table_bytes_per_row": r["table_bytes"] / max(r["live_rows"], 1),
            "backfill_cpu_ms_per_event": 1000.0 * r["backfill_cpu_s"] / BASE_EVENTS,
            "ingest_events_per_s": r["committed_events"] / r["loop_s"],
            "window_s_p50": med(r["window_s"]) if r["window_s"] else float("nan"),
            "backfill_events_per_s": BASE_EVENTS / r["backfill_s"],
            "failed_ops_frac": failed / attempted,
            "oracle_mismatch_rows": r["oracle_mismatch_rows"],
            "window_s_tail": tail_percentile(r["window_s"]),
        })
        if self.mode == "mor":
            ms = [1000.0 * s for s in r["lookup_s"]]
            out.update(
                lookup_ms_p50=med(ms) if ms else None,
                lookup_ms_tail=tail_percentile(ms),
                scan_s=med(r["scan_s"]) if r["scan_s"] else None,
                changelog_s=med(r["changelog_s"]) if r["changelog_s"] else None,
            )
        r["attempted"], r["failed"] = attempted, failed
        return out

    def per_layer(self, names: list[str]) -> dict:
        """Per-layer metrics of a traced run; a layer this workload does
        not run reports 0."""
        tr = self.tracer
        jobs, stages = collect_spark_work(self.spark, self.loop_epoch)
        at = Attribution(tr, jobs, stages)
        m = dict.fromkeys(names, 0.0)
        med = statistics.median

        def put(name, values):
            values = list(values)
            if values:
                m[name] = med(values)

        windows = tr.named("cdc.runner.window")
        put("trace.window_s_p50", (w.duration for w in windows))
        put("trace.window_cpu_s_p50", (w.cpu_s for w in windows))
        put("cdc.runner.window.self_s", (at.self_s(w) for w in windows))
        put("cdc.runner.window.driver_s", (at.driver_s(w) for w in windows))
        put("cdc.runner.window.executor_s", (at.stage_sum(w, "executor_s") for w in windows))
        put("cdc.runner.window.jobs", (len(at.jobs_in(w)) for w in windows))
        merge_names = ("lake.table.merge", "lake.table.merge_mor", "lake.table.merge_prebucketed")
        put("cdc.runner.window.retries", (
            max(0, sum(c.name in merge_names for c in w.children) - 1) for w in windows
        ))
        put("cdc.commitlog.s", (
            sum(s.duration for s in at.subtree(w) if s.name in ("cdc.offsets", "cdc.manifests"))
            for w in windows
        ))

        sources = [s for s in tr.named("cdc.source") if len(s.attrs["args"]) == 2]
        put("cdc.source.prune_s", (s.duration for s in sources))
        kept = []
        for s in sources:
            files, total = self.source.files_for(*s.attrs["args"])
            kept.append(len(files) / total)
        put("cdc.source.files_kept_frac", kept)

        for s in tr.named("lake.table.merge"):
            res, events = s.attrs["result"], s.parent.attrs["events"]
            rows = res.rows_inserted + res.rows_updated + res.rows_deleted + res.rows_noop + res.rows_dropped
            s.attrs.update(
                rows_written_per_event=at.stage_sum(s, "output_records") / events,
                touched_buckets_frac=len(res.touched_buckets) / NUM_BUCKETS,
                noop_frac=res.rows_noop / max(rows, 1),
            )
        for s in tr.named("lake.table.merge_mor"):
            snap = self.table.snapshot(s.attrs["result"].version)
            s.attrs["delta_files"] = sum(len(fl) for fl in (snap.get("deltas") or {}).values())
        for s in tr.named("lake.table.read"):
            s.attrs["live_rows"] = self.oracle.live_rows(s.attrs["hi"])

        derived = {
            "s": lambda s: s.duration,
            "cpu_s": lambda s: s.cpu_s,
            "self_s": at.self_s,
            "driver_s": at.driver_s,
            "executor_s": lambda s: at.stage_sum(s, "executor_s"),
            "gc_s": lambda s: at.stage_sum(s, "gc_s"),
            "input_bytes": lambda s: at.stage_sum(s, "input_bytes"),
            "input_records": lambda s: at.stage_sum(s, "input_records"),
            "output_bytes": lambda s: at.stage_sum(s, "output_bytes"),
            "bytes_rewritten": lambda s: at.stage_sum(s, "output_bytes"),
            "shuffle_write_bytes": lambda s: at.stage_sum(s, "shuffle_write_bytes"),
            "jobs": lambda s: len(at.jobs_in(s)),
            "records_read_per_row": lambda s: (
                at.stage_sum(s, "input_records") / max(s.attrs["live_rows"], 1)
            ),
        }
        for name in names:
            layer, _, metric = name.rpartition(".")
            if not layer.startswith("lake.table."):
                continue
            spans = tr.named(layer)
            fn = derived.get(metric) or (lambda s, metric=metric: s.attrs[metric])
            put(name, (fn(s) for s in spans))
        return m
