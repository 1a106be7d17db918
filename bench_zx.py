"""Measured datapoint: zero-exchange (pre-bucketed WAL) vs one-exchange
(window resolve) steady-state merge.

Regime: the 10^10-row steady state in miniature — a base built from
15/16 of the stream, then the 1/16 tail applied as one window. Paths:

  window      — ordinary merge(): batch + touched base ride ONE
                exchange (the round-3 plan);
  prebucketed — merge_prebucketed(): the tail is a bucketed WAL; batch
                dedup + full-outer join resolve with ZERO exchanges.
                The WAL's own bucketed write cost (the producer-side
                shuffle this design moves off the merge path) is
                reported separately as wal_write_sec.

Discipline per BENCH.md: subprocess isolation, file-backed output,
warmup from the same parquet source, best-of-N.

Usage: python bench_zx.py                    # 32M events, local[8]
       ZX_EVENTS=8000000 ZX_CPUS=32 python bench_zx.py
       ZX_MODE=fold python bench_zx.py       # delta-fold A/B
       ZX_MODE=loop ZX_EVENTS=100000000 python bench_zx.py
           # runner-loop operating point: 100M-row base, CdcRunner over
           # bucketed-WAL windows at base:batch 10:1 / 50:1 / 100:1,
           # plus a MOR+compact-cadence loop — sustained ev/s, not
           # single merges
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

EVENTS = int(os.environ.get("ZX_EVENTS", "32000000"))
CONVS = EVENTS // 40
CPUS = int(os.environ.get("ZX_CPUS", "8"))
REPEATS = int(os.environ.get("ZX_REPEATS", "2"))
NB = CPUS * 4


def _shuffle_bytes(spark) -> int:
    """Total shuffle-WRITE bytes of the application so far, from the
    local UI REST API — the actual wire-byte evidence for the
    zero-exchange claim (local wall-clock alone understates it: a
    single box shuffles through DRAM, a cluster through the network)."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete", timeout=10
        ) as r:
            stages = _json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def worker(path_kind: str, stream_dir: str, workdir: str) -> None:
    import uuid

    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
    from oregonwaterdataportal_etl_spark.lake import LakeTable, write_bucketed_wal
    from oregonwaterdataportal_etl_spark.session import get_spark

    spark = get_spark(
        app_name=f"zx-{path_kind}", master=f"local[{CPUS}]", shuffle_partitions=NB,
        extra_conf={"spark.ui.enabled": "true"},  # shuffle-byte evidence
    )
    run_id = uuid.uuid4().hex[:8]
    cut = int(EVENTS * 15 / 16)
    n_tail = EVENTS - cut
    changes = spark.read.parquet(stream_dir)

    table = LakeTable.create(
        os.path.join(workdir, f"t-{run_id}"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=NB,
    )
    # base build + plan warmup in one (same plan family as the timed run)
    table.merge(changes.filter(f"lsn < {cut}"))

    if path_kind in ("fold", "compactfirst"):
        # delta-fold A/B: a MOR window leaves pending deltas, then a
        # second window arrives as a bucketed WAL. "fold" absorbs the
        # deltas inside the zero-exchange merge (round-4 capability);
        # "compactfirst" pays a separate compact() pass first (the old
        # prerequisite). Timed section = everything needed to reach the
        # same fully-applied, delta-free table state.
        mid = (cut + EVENTS) // 2
        table.merge(changes.filter(f"lsn >= {cut} and lsn < {mid}"), mode="mor")
        wal_dir = os.path.join(workdir, f"wal-{run_id}")
        write_bucketed_wal(
            changes.filter(f"lsn >= {mid}"), wal_dir, NB, ["conv_id", "turn_idx"]
        )
        sb0 = _shuffle_bytes(spark)
        t0 = time.perf_counter()
        if path_kind == "compactfirst":
            table.compact(spark)
        res = table.merge_prebucketed(spark, wal_dir)
        sec = time.perf_counter() - t0
        n_rows = table.read(spark).count()
        assert not table.snapshot().get("deltas")
        print(json.dumps({
            "path": path_kind, "cpus": CPUS, "apply_sec": round(sec, 3),
            "events_per_sec": round((EVENTS - mid) / sec, 1), "rows": n_rows,
            "apply_shuffle_bytes": _shuffle_bytes(spark) - sb0,
        }))
        spark.stop()
        return
    if path_kind == "window":
        batch = changes.filter(f"lsn >= {cut}")
        sb0 = _shuffle_bytes(spark)
        t0 = time.perf_counter()
        res = table.merge(batch)
        sec = time.perf_counter() - t0
        extra = {"apply_shuffle_bytes": _shuffle_bytes(spark) - sb0}
    else:
        wal_dir = os.path.join(workdir, f"wal-{run_id}")
        t0 = time.perf_counter()
        write_bucketed_wal(
            changes.filter(f"lsn >= {cut}"), wal_dir, NB,
            ["conv_id", "turn_idx"],
        )
        wal_sec = time.perf_counter() - t0
        sb0 = _shuffle_bytes(spark)
        t0 = time.perf_counter()
        res = table.merge_prebucketed(spark, wal_dir)
        sec = time.perf_counter() - t0
        extra = {
            "wal_write_sec": round(wal_sec, 3),
            "apply_shuffle_bytes": _shuffle_bytes(spark) - sb0,
        }
    print(json.dumps({
        "path": path_kind, "cpus": CPUS, "apply_sec": round(sec, 3),
        "events_per_sec": round(n_tail / sec, 1),
        "rows": res.rows_inserted + res.rows_updated + res.rows_noop,
        **extra,
    }))
    spark.stop()


# loop-mode curve: base:batch ratio -> (windows per ratio). Applied in
# this order; the smallest batches run LAST, against the largest base —
# conservative for the 100:1 headline point.
LOOP_CURVE = [(10, 2), (50, 3), (100, 3)]
LOOP_MOR_WINDOWS = 6
LOOP_MOR_COMPACT_EVERY = 2


def loopgen(stream_dir: str, wal_root: str) -> None:
    """Base stream + per-ratio bucketed-WAL window batches + a MOR
    tail, all LSN-contiguous. Generation runs wide (local[32]); the
    bucket function is data-dependent, so WALs written here are valid
    for the local[8] loop worker."""
    from oregonwaterdataportal_etl_spark.cdc import generate_changes
    from oregonwaterdataportal_etl_spark.lake import write_bucketed_wal
    from oregonwaterdataportal_etl_spark.session import get_spark

    spark = get_spark(app_name="zx-loopgen", master="local[32]")
    generate_changes(
        spark, EVENTS, CONVS, seed=42, zipf_a=1.1, partitions=128
    ).write.mode("overwrite").parquet(stream_dir)
    lsn = EVENTS
    spec = {}
    for ratio, n_win in LOOP_CURVE:
        batch = EVENTS // ratio
        wal_dir = os.path.join(wal_root, f"r{ratio}")
        for _ in range(n_win):
            df = generate_changes(
                spark, batch, CONVS, seed=lsn, zipf_a=1.1, lsn_start=lsn,
                partitions=max(batch // 250_000, 8),
            )
            write_bucketed_wal(df, wal_dir, NB, ["conv_id", "turn_idx"])
            lsn += batch
        spec[str(ratio)] = {"batch": batch, "windows": n_win,
                            "lsn_hi": lsn - 1}
    mor_batch = EVENTS // 100
    wal_dir = os.path.join(wal_root, "mor")
    for _ in range(LOOP_MOR_WINDOWS):
        df = generate_changes(
            spark, mor_batch, CONVS, seed=lsn, zipf_a=1.1, lsn_start=lsn,
            partitions=max(mor_batch // 250_000, 8),
        )
        write_bucketed_wal(df, wal_dir, NB, ["conv_id", "turn_idx"])
        lsn += mor_batch
    spec["mor"] = {"batch": mor_batch, "windows": LOOP_MOR_WINDOWS,
                   "lsn_hi": lsn - 1}
    with open(os.path.join(wal_root, "spec.json"), "w") as f:
        json.dump(spec, f)
    spark.stop()


def loopworker(stream_dir: str, wal_root: str, workdir: str) -> None:
    """The steady-state operating point, measured through the REAL
    runner loop (offset log, manifests, footer-pruned windows,
    merge_prebucketed) — not isolated merges. One process, local[N]."""
    import uuid

    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner, ManifestLog, OffsetLog,
    )
    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
    from oregonwaterdataportal_etl_spark.cdc.source import BucketedWalSource
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.session import get_spark

    spark = get_spark(
        app_name="zx-loop", master=f"local[{CPUS}]", shuffle_partitions=NB,
        extra_conf={"spark.ui.enabled": "true"},
    )
    with open(os.path.join(wal_root, "spec.json")) as f:
        spec = json.load(f)
    run_id = uuid.uuid4().hex[:8]
    table = LakeTable.create(
        os.path.join(workdir, f"loop-{run_id}"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=NB,
    )
    t0 = time.perf_counter()
    table.merge(spark.read.parquet(stream_dir))
    base_sec = time.perf_counter() - t0
    base_rows = table.read(spark).count()
    out = {"base_build_sec": round(base_sec, 3), "base_rows": base_rows}

    manifests = ManifestLog(os.path.join(workdir, f"man-{run_id}"))
    next_lo = EVENTS
    for key in [str(r) for r, _ in LOOP_CURVE] + ["mor"]:
        s = spec[key]
        mode = "mor" if key == "mor" else "cow"
        src = BucketedWalSource(spark, os.path.join(wal_root, f"r{key}" if key != "mor" else "mor"))
        off = OffsetLog(os.path.join(workdir, f"off-{run_id}"), f"s-{key}")
        off.commit(next_lo - 1, "init")  # skip LSNs served by earlier curves
        runner = CdcRunner(
            table, off, manifests, src, mode=mode,
            compact_every=LOOP_MOR_COMPACT_EVERY if mode == "mor" else 0,
        )
        win_secs = []
        sb0 = _shuffle_bytes(spark)
        t0 = time.perf_counter()
        lo = next_lo
        while lo <= s["lsn_hi"]:
            hi = lo + s["batch"] - 1
            tw = time.perf_counter()
            runner.run_window(lo, hi)
            win_secs.append(round(time.perf_counter() - tw, 3))
            lo = hi + 1
        total = time.perf_counter() - t0
        events = s["batch"] * s["windows"]
        out[f"loop_{key}" if key == "mor" else f"loop_{key}to1"] = {
            "batch_events": s["batch"], "windows": s["windows"],
            "apply_sec": round(total, 3),
            "events_per_sec": round(events / total, 1),
            "window_secs": win_secs,
            "shuffle_bytes": _shuffle_bytes(spark) - sb0,
            **({"compact_every": LOOP_MOR_COMPACT_EVERY} if mode == "mor" else {}),
        }
        next_lo = s["lsn_hi"] + 1
    # 6 mor windows at compact_every=2 end on a compaction: clean state
    out["pending_delta_buckets"] = len(table.snapshot().get("deltas", {}))
    out["final_rows"] = table.read(spark).count()
    print(json.dumps(out))
    spark.stop()


def generate(stream_dir: str) -> None:
    from oregonwaterdataportal_etl_spark.cdc import generate_changes
    from oregonwaterdataportal_etl_spark.session import get_spark

    spark = get_spark(app_name="zx-gen", master="local[32]")
    generate_changes(
        spark, EVENTS, CONVS, seed=42, zipf_a=1.1, partitions=128
    ).write.mode("overwrite").parquet(stream_dir)
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "worker":
        worker(sys.argv[2], sys.argv[3], sys.argv[4])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "generate":
        generate(sys.argv[2])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "loopgen":
        loopgen(sys.argv[2], sys.argv[3])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "loopworker":
        loopworker(sys.argv[2], sys.argv[3], sys.argv[4])
        return

    workdir = tempfile.mkdtemp(prefix="bench_zx_")
    stream_dir = os.path.join(workdir, "stream")
    here = os.path.dirname(os.path.abspath(__file__))

    def run_stage(args: list[str]) -> str:
        tag = "_".join(args[:2]).replace("/", "_")
        out_path = os.path.join(workdir, f"out-{tag}.log")
        with open(out_path, "w") as out_f:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), *args],
                stdout=out_f, stderr=subprocess.DEVNULL, check=True, cwd=here,
                env={**os.environ, "ZX_EVENTS": str(EVENTS), "ZX_CPUS": str(CPUS)},
            )
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        return lines[-1] if lines else "{}"

    if os.environ.get("ZX_MODE") == "loop":
        import shutil

        try:
            wal_root = os.path.join(workdir, "wals")
            run_stage(["loopgen", stream_dir, wal_root])
            res = json.loads(
                run_stage(["loopworker", stream_dir, wal_root, workdir])
            )
            print(json.dumps({
                "metric": "zx_runner_loop_curve", "events": EVENTS,
                "cpus": CPUS, "num_buckets": NB, **res,
            }))
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        return

    run_stage(["generate", stream_dir])
    kinds = ("window", "prebucketed")
    metric = "zero_exchange_merge_ab"
    if os.environ.get("ZX_MODE") == "fold":
        kinds = ("compactfirst", "fold")
        metric = "zero_exchange_delta_fold_ab"
    out = {"metric": metric, "events": EVENTS,
           "tail_events": EVENTS - int(EVENTS * 15 / 16), "cpus": CPUS,
           "num_buckets": NB, "repeats": REPEATS}
    rows_ref = None
    for kind in kinds:
        runs = [
            json.loads(run_stage(["worker", kind, stream_dir, workdir]))
            for _ in range(REPEATS)
        ]
        best = min(runs, key=lambda r: r["apply_sec"])
        out[f"{kind}_apply_sec"] = best["apply_sec"]
        out[f"{kind}_events_per_sec"] = best["events_per_sec"]
        out[f"{kind}_all"] = [r["apply_sec"] for r in runs]
        out[f"{kind}_apply_shuffle_bytes"] = best.get("apply_shuffle_bytes")
        if "wal_write_sec" in best:
            out["wal_write_sec"] = best["wal_write_sec"]
        if rows_ref is None:
            rows_ref = best["rows"]
        assert rows_ref == best["rows"], "paths disagree on merged rows"
    if "window_apply_sec" in out:
        out["prebucketed_vs_window"] = round(
            out["window_apply_sec"] / out["prebucketed_apply_sec"], 3
        )
    else:
        out["fold_vs_compactfirst"] = round(
            out["compactfirst_apply_sec"] / out["fold_apply_sec"], 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
