"""CDC engine benchmark.

One run: one workload in its own JVM on ``local[4]``, driven by one
single-threaded closed-loop client for whole cycles of windows until
``--seconds`` have passed, checked against an independent oracle. Run
from the repository root:

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 1 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` measures
the per-layer metrics instead. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a report with every metric by name and unit and the host
record. The full record of the run is written to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``.

Steadiness mode runs each workload k times, one run at a time, and
prints per metric the median, quartiles and spread, and with
``--trace both`` the tracing overhead on ``window_s_p50`` and
``window_cpu_s_p50``:

    python3 perfbench/run.py --steady 10 [--workload NAME] [--trace 0|1|both]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "oregonwaterdataportal_etl_spark"
OUT = ROOT / ".perfbench_out"
MASTER = "local[4]"
DRIVER_MEMORY = "1g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default=None)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="least length of the timed phase, which ends on a cycle boundary "
                        "(default: run_seconds of BENCHMARK.json)")
    p.add_argument("--trace", default="0", choices=["0", "1", "both"])
    p.add_argument("--steady", type=int, default=0, metavar="K",
                   help="run each workload K times (seeds seed..seed+K-1) and summarise")
    return p.parse_args(argv)


def start_session(work: Path):
    """A Spark session whose scratch space (local dirs, JVM and Python
    temp dirs, warehouse) lives under ``work``."""
    from oregonwaterdataportal_etl_spark.session import get_spark

    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: peak RSS then moves with what lives
            # off the heap, not with when the collector grows the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                # the JIT compiler threads live as long as the JVM, so
                # their CPU can be told apart from the work's (hostinfo)
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for span attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when this pipe closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One run in this process; returns (result line, full record)."""
    from perfbench import spec
    from perfbench.hostinfo import RssSampler, cpu_ticks, host_record, steal_frac

    t_run, ticks0 = time.perf_counter(), cpu_ticks()
    host = host_record(seed)
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t0
        try:
            from perfbench.workloads import CdcWorkload

            host["jdk"] = spark._jvm.java.lang.System.getProperty("java.version")
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            with RssSampler(jvm_pid) as rss:
                wl = CdcWorkload(spark, workload, seed, str(work / "data"), trace)
                wl.setup()
                gc0 = jvm_gc_s(spark)
                wl.run(seconds)
                gc_s = jvm_gc_s(spark) - gc0
                wl.check()
                layers = None
                if trace:
                    layers = wl.per_layer([name for name, *_ in spec.PER_LAYER])
                    layers.update({
                        "session.start_s": start_s,
                        "setup.gen_s": wl.record["gen_s"],
                        "jvm.gc_s": gc_s,
                        "jvm.jit_cpu_s": wl.record["loop_jit_cpu_s"],
                    })
            e2e = wl.end_to_end(start_s, rss.peak_mb)
        finally:
            t0 = time.perf_counter()
            stop_session(spark)
            host["stop_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host["loadavg_after"] = os.getloadavg()
    host["run_wall_s"] = time.perf_counter() - t_run
    host["cpu_steal_frac"] = steal_frac(ticks0, cpu_ticks())
    rec = wl.record
    correct = rec["error"] is None and e2e["oracle_mismatch_rows"] == 0
    chosen = layers if trace else {name: e2e[name] for name, *_ in spec.END_TO_END}
    result = {
        "correct": correct,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": spec.UNITS[k]} for k, v in chosen.items()},
    }
    full = {"host": host, "trace": trace, "seconds": seconds, "end_to_end": e2e,
            "per_layer": layers, "record": rec}
    return result, full


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, dict):  # a tail percentile
        return f"{v['value']:.6g} (p{v['percentile']:.1f} of n={v['n']})"
    return f"{v:.6g}" if isinstance(v, float) and math.isfinite(v) else str(v)


def report(workload: str, result: dict, full: dict) -> list[str]:
    from perfbench import spec

    e2e, rec = full["end_to_end"], full["record"]
    lines = [
        f"perfbench {workload} seed={full['host']['seed']} seconds={full['seconds']} "
        f"trace={int(full['trace'])} correct={result['correct']}",
        "host " + json.dumps(full["host"]),
    ]
    if rec["error"]:
        lines.append(f"error: {rec['error']}")
    lines.append("end-to-end:")
    for name, unit, *_ in spec.END_TO_END:
        lines.append(f"  {name:<24} {_fmt(e2e.get(name)):>28} {unit}")
    for name, unit, scope in spec.REPORT_ONLY:
        v = e2e.get(name)
        if name in ("window_s_tail", "lookup_ms_tail") and name in e2e and v is None:
            shown = "n/a (fewer than 11 samples)"
        elif name not in e2e:
            shown = "n/a"
        else:
            shown = _fmt(v)
        lines.append(f"  {name:<24} {shown:>28} {unit}  [{scope}]")
    if full["per_layer"]:
        lines.append("per-layer (median per call; 0 = layer not run here):")
        for name, unit, _better, moves, barely in spec.PER_LAYER:
            lines.append(
                f"  {name:<42} {_fmt(full['per_layer'][name]):>14} {unit:<10} "
                f"moves {moves}; barely {barely}"
            )
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ENGINE / "__init__.py").is_file():
        print(f"error: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    # import the engine and this package from the checkout
    sys.path[0] = str(ROOT)
    from perfbench import spec

    if json.loads((ROOT / "BENCHMARK.json").read_text()) != spec.benchmark_json():
        print("error: BENCHMARK.json differs from perfbench/spec.py; regenerate it "
              "with: python3 perfbench/spec.py > BENCHMARK.json", file=sys.stderr)
        return 2
    if args.workload is not None and args.workload not in spec.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(spec.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(spec.RUN_SECONDS)
    if args.steady:
        from perfbench.steady import steady

        return steady(args)
    if args.workload is None or args.trace == "both":
        print("error: a single run needs --workload and --trace 0|1", file=sys.stderr)
        return 2

    result, full = run_once(args.workload, args.seed, args.seconds, args.trace == "1")
    OUT.mkdir(exist_ok=True)
    path = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(full, indent=1, default=str))
    print("\n".join(report(args.workload, result, full)))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
