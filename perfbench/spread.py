#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads etl_sync query_mix \\
        --seeds 1 2 3 4 5 6 7 8 9 10 [--trace 0 1] [--out perfbench/baseline/x.json]

For every workload and trace setting, runs ``run.py`` once per seed, one
run at a time, and reports for each metric its median and the distance
between its first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median. With both trace settings, also reports the
tracing overhead: the traced median of ``trace.wall_s`` against the
untraced median of ``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                         timeout=900, check=False)
    elapsed = time.perf_counter() - t
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = elapsed
    return result


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", nargs="+", type=int, default=[0])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(f"{os.path.dirname(HERE)}/BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    summary: dict = {}
    for w in args.workloads:
        for trace in args.trace:
            runs = []
            for seed in args.seeds:
                r = run_once(w, seed, seconds, trace)
                runs.append({"seed": seed, **r})
                print(f"{w} trace={trace} seed={seed} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} "
                      f"elapsed={r['elapsed_s']:.1f}s", flush=True)
            metrics = {}
            for name in runs[0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r in runs]
                if len(vals) >= 2:
                    med, sp = spread(vals)
                else:
                    med, sp = vals[0], float("nan")
                metrics[name] = {"median": med, "spread": sp,
                                 "unit": runs[0]["metrics"][name]["unit"], "values": vals}
                bound = bounds.get(name) if trace == 0 else None
                flag = ""
                if bound is not None and name != "setup_s":
                    flag = "ok" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
                print(f"  {name:<44} median {med:>12.6g} {metrics[name]['unit']:<6} "
                      f"spread {sp:7.2%} {flag}", flush=True)
            summary.setdefault(w, {})[f"trace{trace}"] = {
                "metrics": metrics,
                "elapsed_s": [r["elapsed_s"] for r in runs],
                "all_correct": all(r["correct"] for r in runs),
            }
        both = summary[w]
        if "trace0" in both and "trace1" in both:
            plain = both["trace0"]["metrics"]["wall_s"]["median"]
            traced = both["trace1"]["metrics"]["trace.wall_s"]["median"]
            both["tracing_overhead"] = {"untraced_wall_s": plain, "traced_wall_s": traced,
                                        "overhead": traced / plain - 1.0}
            print(f"  tracing overhead {traced / plain - 1.0:+.2%} "
                  f"(traced {traced:.3f}s vs untraced {plain:.3f}s)", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
