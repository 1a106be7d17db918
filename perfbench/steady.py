"""Steadiness mode: run each workload k times, one run at a time, and
summarise every metric across the runs."""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

from perfbench import spec
from perfbench.run import OUT, ROOT
from perfbench.workloads import tail_percentile

# speed metrics of the report, summarised beside the bounded ones
REPORTED = ("ingest_events_per_s", "window_s_p50", "backfill_events_per_s",
            "ingest_cpu_ms_per_event", "window_cpu_s_p50", "backfill_cpu_ms_per_event")


def _one(workload: str, seed: int, seconds: float, trace: str) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{' '.join(cmd)} printed no result:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_frac": (q3 - q1) / med if med else float("nan"),
        "range_frac": (max(values) - min(values)) / med if med else float("nan"),
    }


def steady(args) -> int:
    workloads = [args.workload] if args.workload else list(spec.WORKLOADS)
    traces = ["0", "1"] if args.trace == "both" else [args.trace]
    bounds = {name: bound for name, _u, _b, bound in spec.END_TO_END}
    bad = 0
    for w in workloads:
        medians = {}
        for t in traces:
            values: dict[str, list[float]] = {}
            pooled = {"window_s": [], "lookup_s": []}
            walls, steal = [], []
            reported: dict[str, list[float]] = {name: [] for name in REPORTED}
            for i in range(args.steady):
                seed = args.seed + i
                res = _one(w, seed, args.seconds, t)
                ok = res["correct"] and res["failed"] == 0
                bad += not ok
                print(f"# {w} trace={t} seed={seed} correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}", flush=True)
                for name, m in res["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
                full = json.loads((OUT / f"{w}-seed{seed}-trace{t}.json").read_text())
                walls.append(full["host"]["run_wall_s"])
                steal.append(full["host"]["cpu_steal_frac"])
                for k in pooled:
                    pooled[k] += full["record"][k]
                if t == "0":
                    for name in REPORTED:
                        reported[name].append(full["end_to_end"][name])
            print(f"{w} trace={t} runs={args.steady} run wall s: median "
                  f"{statistics.median(walls):.1f}, max {max(walls):.1f}; cpu steal: "
                  f"median {statistics.median(steal):.1%}, max {max(steal):.1%}")
            print(f"  {'metric':<42} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
                  f"{'range/med':>9}  bound")
            for name, vals in list(values.items()) + [(n, v) for n, v in reported.items() if v]:
                s = summarise(vals)
                medians[name] = s["median"]
                bound = bounds.get(name) if t == "0" else None
                verdict = ""
                if bound is not None:
                    verdict = f"{bound:<5} " + (
                        "steady" if s["iqr_frac"] < bound / 3 else
                        "within" if s["iqr_frac"] <= bound else "WIDE")
                print(f"  {name:<42} {s['median']:>12.6g} {s['q1']:>12.6g} {s['q3']:>12.6g} "
                      f"{s['iqr_frac']:>8.3f} {s['range_frac']:>9.3f}  {verdict}", flush=True)
            # a run holds too few windows for a tail; pool them across runs
            for label, vals, scale in (("window_s_tail", pooled["window_s"], 1.0),
                                       ("lookup_ms_tail", pooled["lookup_s"], 1000.0)):
                tail = tail_percentile([scale * v for v in vals])
                if tail:
                    print(f"  {label} pooled over runs: {tail['value']:.6g} at "
                          f"p{tail['percentile']:.1f} of n={tail['n']}")
        for name in ("window_s_p50", "window_cpu_s_p50"):
            untraced, traced = medians.get(name), medians.get(f"trace.{name}")
            if len(traces) == 2 and untraced and traced is not None:
                print(f"{w} tracing overhead on {name}: {traced / untraced - 1:+.3%}")
    return 1 if bad else 0
