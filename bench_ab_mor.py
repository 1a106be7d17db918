"""A/B: attribute the round-3 recorded MOR bulk-apply regression.

BENCH_r03 recorded cdc_mor_apply_sec 3.40s vs r02's 1.88s at sf-bench
conditions (2M events, local[32]) while the builder's own draws showed
~1.9-2.1s — either host-load noise or a real cost in the r3 delta-write
path. The only r3 changes on that path: (a) tie-break limb computation
+ persistence in the delta files, (b) nothing else; plus the
long-standing (c) full spark count() of the written delta files for the
rows_delta metric, which round 4 replaced with parquet-footer sums.

Three variants, each timed best-of-N in its OWN subprocess with
file-backed output (host-noise discipline from BENCH.md):

  fixed      — round-4 code (limbs computed+persisted, footer count)
  sparkcount — round-4 + the old spark count() job restored (≈ r3 code)
  nolimb     — round-4 with limb computation stubbed to nulls (≈ r2 code)

Regimes: bulk (full stream -> empty table, the regressed number) and
incr (10% tail onto the bulk-loaded table, the steady-state number).

Usage: python bench_ab_mor.py            # 2M events, local[32], N=3
       AB_EVENTS=32000000 AB_CPUS=8 AB_REPEATS=2 python bench_ab_mor.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

EVENTS = int(os.environ.get("AB_EVENTS", "2000000"))
CONVS = EVENTS // 40
CPUS = int(os.environ.get("AB_CPUS", "32"))
REPEATS = int(os.environ.get("AB_REPEATS", "3"))

from oregonwaterdataportal_etl_spark.cdc.changegen import (  # noqa: E402
    TRANSCRIPT_DICT_COLS as DICT_COLS,
)


def worker(variant: str, stream_dir: str, incr_dir: str, workdir: str) -> None:
    import uuid

    from pyspark.sql import functions as F

    import oregonwaterdataportal_etl_spark.lake.table as lt
    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.session import get_spark

    nb = max(CPUS, 16)
    spark = get_spark(
        app_name=f"ab-mor-{variant}", master=f"local[{CPUS}]", shuffle_partitions=nb
    )
    run_id = uuid.uuid4().hex[:8]

    def fresh(name):
        return LakeTable.create(
            os.path.join(workdir, f"{name}-{run_id}"),
            TRANSCRIPT_SCHEMA,
            key_cols=["conv_id", "turn_idx"],
            num_buckets=nb,
            dict_cols=DICT_COLS,
        )

    warm = fresh("warm")
    warm.merge(spark.read.parquet(stream_dir).limit(50_000), mode="mor")

    # variant patches AFTER warmup so plan compilation is identical
    if variant == "sparkcount":
        def spark_count(files_by_bucket):
            allf = [f for fl in files_by_bucket.values() for f in fl]
            if not allf:
                return {}
            return {"_": spark.read.parquet(*allf).count()}

        lt._rows_per_bucket = spark_count
    elif variant == "nolimb":
        lt.tiebreak_cols = lambda cols, family="xxhash64": F.lit(None).cast("long")

    table = fresh("table")
    changes = spark.read.parquet(stream_dir)
    t0 = time.perf_counter()
    res = table.merge(changes, mode="mor")
    bulk = time.perf_counter() - t0

    incr = spark.read.parquet(incr_dir)
    t0 = time.perf_counter()
    table.merge(incr, mode="mor")
    incr_sec = time.perf_counter() - t0
    print(json.dumps({
        "variant": variant, "cpus": CPUS,
        "bulk_sec": round(bulk, 3),
        "bulk_events_per_sec": round(EVENTS / bulk, 1),
        "incr_sec": round(incr_sec, 3),
        "incr_events_per_sec": round((EVENTS // 10) / incr_sec, 1),
        "rows_delta": res.rows_delta,
    }))
    spark.stop()


def generate(stream_dir: str, incr_dir: str) -> None:
    from oregonwaterdataportal_etl_spark.cdc import generate_changes
    from oregonwaterdataportal_etl_spark.session import get_spark

    spark = get_spark(app_name="ab-mor-gen", master="local[32]")
    generate_changes(
        spark, EVENTS, CONVS, seed=42, zipf_a=1.1, partitions=128
    ).write.mode("overwrite").parquet(stream_dir)
    generate_changes(
        spark, EVENTS // 10, CONVS, seed=43, zipf_a=1.1,
        lsn_start=EVENTS, partitions=32,
    ).write.mode("overwrite").parquet(incr_dir)
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "worker":
        worker(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "generate":
        generate(sys.argv[2], sys.argv[3])
        return

    workdir = tempfile.mkdtemp(prefix="bench_ab_mor_")
    stream_dir = os.path.join(workdir, "stream")
    incr_dir = os.path.join(workdir, "incr")
    here = os.path.dirname(os.path.abspath(__file__))

    def run_stage(args: list[str]) -> str:
        tag = "_".join(args[:2]).replace("/", "_")
        out_path = os.path.join(workdir, f"out-{tag}.log")
        with open(out_path, "w") as out_f:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), *args],
                stdout=out_f, stderr=subprocess.DEVNULL, check=True, cwd=here,
                env={**os.environ, "AB_EVENTS": str(EVENTS), "AB_CPUS": str(CPUS)},
            )
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        return lines[-1] if lines else "{}"

    run_stage(["generate", stream_dir, incr_dir])
    out = {"metric": "mor_apply_ab", "events": EVENTS, "cpus": CPUS,
           "repeats": REPEATS}
    rows_ref = None
    for variant in ("fixed", "sparkcount", "nolimb"):
        runs = [
            json.loads(run_stage(["worker", variant, stream_dir, incr_dir, workdir]))
            for _ in range(REPEATS)
        ]
        best = min(runs, key=lambda r: r["bulk_sec"])
        out[f"{variant}_bulk_sec"] = best["bulk_sec"]
        out[f"{variant}_bulk_events_per_sec"] = best["bulk_events_per_sec"]
        out[f"{variant}_incr_sec"] = min(r["incr_sec"] for r in runs)
        out[f"{variant}_all_bulk"] = [r["bulk_sec"] for r in runs]
        if rows_ref is None:
            rows_ref = best["rows_delta"]
        assert rows_ref == best["rows_delta"], "variants disagree on delta rows"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
