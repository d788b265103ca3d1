#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {etl_sync,query_mix} \\
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. Set-up (Spark session, registry import,
input staging, warm-up) is timed as ``setup_s``; then the workload runs
timed passes until ``--seconds`` have passed and at least its
``min_passes`` ran, and checks every output outside the timed interval.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points and prints the per-layer metrics instead.
Every metric is printed by name with its unit, then the last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Each run also writes ``result.json``, ``spans.json`` and
``layers.txt`` to its own directory under ``perfbench/runs/``.

``--smoke`` runs a fixed, small version of the workload for the
benchmark's own tests: one timed pass (four increments for
``etl_sync``, on a 1500-row source) and no time limit.

A run that cannot import the engine exits with status 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

# Metrics printed with --trace 0, on every workload (BENCHMARK.json end_to_end).
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_s", "s"),
    ("peak_rss_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit (BENCHMARK.json per_layer)."""
    from workloads import PHASES, QUERY_MIX, STREAM_GATES

    names = [
        ("api.full_copy_s", "s"), ("api.bucketize_s", "s"),
        ("api.sync_self_s", "s"), ("api.sync_jobs", "count"),
        ("io.partial_merge_s", "s"), ("io.buckets_touched", "count"),
        ("io.rows_written", "count"), ("io.bytes_written", "bytes"),
        ("io.files_written", "count"), ("io.read_bucketed_s", "s"),
        ("io.live_generations", "count"), ("io.dest_files", "count"),
        ("operators.watermark_get_s", "s"), ("operators.watermark_set_s", "s"),
        ("operators.watermark_files", "count"),
        ("meta.load_info_save_s", "s"), ("meta.load_log_files", "count"),
        ("checkpointing.materialize_calls", "count"), ("checkpointing.materialize_s", "s"),
    ]
    for q in QUERY_MIX:
        names += [(f"q.{q}.wall_s", "s"), (f"q.{q}.jobs", "count")]
    names += [("stream.batches", "count"), ("stream.input_rows", "count")]
    names += [(f"stream.{ph}_s", "s") for ph in PHASES]
    names += [("stream.state_rows", "count"), ("stream.state_mem_bytes", "bytes")]
    names += [(f"g.{g}.wall_s", "s") for g in STREAM_GATES]
    names += [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.driver_s", "s"), ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"), ("spark.input_bytes", "bytes"),
        ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"), ("spark.python_worker_cpu_s", "s"),
        ("trace.wall_s", "s"), ("trace.reconcile_max_err", "ratio"),
    ]
    return names


class Ctx:
    """What a workload needs from the run: session, tracer, dirs, sizes."""

    def __init__(self, args, run_dir):
        self.seed = args.seed
        self.run_dir = run_dir
        self.data_dir = f"{run_dir}/data"
        self.work_dir = f"{run_dir}/work"
        import gen

        self.etl_rows = gen.SIZES["orders"] if args.smoke else gen.ETL_ROWS
        self.spark = None
        self.tracer = None


def start_spark(run_dir: str):
    """The engine's own session factory on local[4], with every temporary
    path kept inside the run directory."""
    from fastetl_spark.session import get_spark

    tmp = f"{run_dir}/tmp"
    spark = get_spark(
        "perfbench",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            # A fixed, pre-touched heap: peak RSS then moves with memory
            # outside the heap, not with when the JVM chose to grow it.
            # C1 only: a run is too short for C2 to settle; with C2 the
            # pass walls kept falling pass over pass and run medians
            # spread 15% across seeds, with C1 they settle within a few.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
            "spark.local.dir": f"{run_dir}/spark-local",
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
        proc.kill()
        proc.wait()


# --- per-layer metrics -------------------------------------------------------


def layer_table(w, tracer) -> tuple[dict, list[str]]:
    """Per-layer metrics: for each, the median over timed passes of its
    value within one pass; set-up spans give the full-copy and bucketize
    figures, end-of-run state gives the file and generation counts."""
    from workloads import PHASES, median

    spans = tracer.spans
    top_of = {}
    for s in spans:
        top_of[s.idx] = s.idx if s.parent is None else top_of[s.parent]
    by_idx = {s.idx: s for s in spans}
    passes: dict[int, dict[str, float]] = {}
    problems = []
    max_err = 0.0
    for s in spans:
        top = by_idx[top_of[s.idx]]
        p = top.attrs.get("pass_no", -1)
        if p < 0:
            continue
        acc = passes.setdefault(p, {})

        def add(k, v):
            acc[k] = acc.get(k, 0) + v

        n = s.name
        if s.parent is None:
            sp = s.attrs["spark"]
            for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                add(f"spark.{k}", sp[k])
            add("spark.driver_s", s.wall - sp["jobs_union_s"])
            add("spark.python_worker_cpu_s", s.attrs["py_cpu_s"])
            add("trace.wall_s", s.wall)
            if n.startswith("q."):
                add(f"{n}.wall_s", s.wall)
                add(f"{n}.jobs", sp["jobs"])
            if n.startswith("g."):
                add(f"{n}.wall_s", s.wall)
                for e in s.attrs.get("progress", []):
                    add("stream.batches", 1)
                    add("stream.input_rows", e["input_rows"])
                    for ph in PHASES:
                        add(f"stream.{ph}_s", e["ms"].get(ph, 0) / 1000.0)
                for key in ("state_rows", "state_mem_bytes"):
                    add(f"stream.{key}", max([e[key] for e in s.attrs.get("progress", [])] or [0]))
            if n.startswith("etl.sync."):
                add("io.bytes_written", s.attrs["bytes_written"])
                add("io.files_written", s.attrs["files_written"])
            # reconcile: the subtree's self times must add up to the wall
            sub = [x for x in spans if top_of[x.idx] == s.idx]
            err = abs(sum(x.attrs["self_s"] for x in sub) - s.wall) / s.wall if s.wall else 0.0
            max_err = max(max_err, err)
            if err > 0.10:
                problems.append(f"{n}: self times {sum(x.attrs['self_s'] for x in sub):.3f}s "
                                f"vs wall {s.wall:.3f}s")
        elif n == "api.sync":
            add("api.sync_self_s", s.attrs["self_s"])
            add("api.sync_jobs", s.attrs["spark"]["jobs"])
        elif n == "io.partial_merge":
            add("io.partial_merge_s", s.wall)
            add("io.buckets_touched", s.attrs.get("buckets_touched", 0))
            add("io.rows_written", s.attrs.get("rows_written", 0))
        elif n == "io.read_bucketed":
            add("io.read_bucketed_s", s.wall)
        elif n in ("operators.watermark_get", "operators.watermark_set", "meta.load_info_save"):
            add(f"{n}_s", s.wall)
        elif n == "checkpointing.materialize":
            add("checkpointing.materialize_calls", 1)
            add("checkpointing.materialize_s", s.wall)
    table = {}
    for name, _ in per_layer_names():
        table[name] = median([acc.get(name, 0) for acc in passes.values()]) if passes else 0
    for s in spans:
        if s.name in ("api.full_copy", "api.bucketize"):
            table[f"{s.name}_s"] = s.wall
    end = getattr(w, "end_state", {})
    table["io.live_generations"] = end.get("live_generations", 0)
    table["io.dest_files"] = end.get("dest_files", 0)
    table["operators.watermark_files"] = end.get("watermark_files", 0)
    table["meta.load_log_files"] = end.get("load_log_files", 0)
    table["trace.reconcile_max_err"] = max_err
    return table, problems


# --- main ------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_sync", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = f"{HERE}/runs/{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{run_dir}/tmp"
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        import fastetl_spark.session  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    import tracing as tr
    from workloads import WORKLOADS

    ctx = Ctx(args, run_dir)
    spark = ctx.spark = start_spark(run_dir)
    try:
        from fastetl_spark import registry

        registry.load_all()
        ctx.tracer = tr.Tracer(spark, on=bool(args.trace))
        ctx.tracer.install()
        w = WORKLOADS[args.workload](ctx)
        t_session = time.perf_counter() - T_START
        # Input staging is repeated and its median taken, so set-up time
        # is steadier than one staging would make it.
        stage_walls = []
        for i in range(1 if args.smoke else SETUP_REPEATS):
            d = f"{run_dir}/stage{i}"
            t = time.perf_counter()
            w.stage(d)
            stage_walls.append(time.perf_counter() - t)
        os.rename(d, ctx.data_dir)
        for i in range(len(stage_walls) - 1):
            shutil.rmtree(f"{run_dir}/stage{i}")
        t = time.perf_counter()
        w.setup()
        setup_s = t_session + statistics.median(stage_walls) + (time.perf_counter() - t)

        t_timed = time.perf_counter()
        n_passes = 0
        if args.smoke:
            for p in range(w.smoke_passes):
                w.run_pass(p)
                n_passes += 1
        else:
            while n_passes < w.min_passes or time.perf_counter() - t_timed < args.seconds:
                w.run_pass(n_passes)
                n_passes += 1
        timed_s = time.perf_counter() - t_timed
        e2e = w.finish()
        e2e["setup_s"] = setup_s
        e2e["session_s"] = t_session
        e2e["peak_rss_mb"] = tr.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        e2e["fail_ratio"] = w.failed / max(w.attempted, 1)
        e2e["passes"] = n_passes
        e2e["timed_s"] = timed_s

        ctx.tracer.uninstall()
        ctx.tracer.resolve()
        layers, reconcile_problems = layer_table(w, ctx.tracer) if args.trace else ({}, [])
    finally:
        stop_spark(spark)

    units = dict(END_TO_END)
    units.update({"fail_ratio": "ratio", "rows_per_s": "rows/s", "write_amp": "ratio",
                  "space_amp": "ratio", "passes": "count"})
    lines = [f"workload {args.workload} seed {args.seed} trace {args.trace} "
             f"passes {n_passes} attempted {w.attempted} failed {w.failed} "
             f"run_dir {os.path.relpath(run_dir, ROOT)}"]
    for k in sorted(e2e):
        if k.endswith(("_pct", "_n")):
            continue
        unit = units.get(k, "s" if k.endswith("_s") else "")
        extra = ""
        if k.endswith("_tail_s"):
            pct = e2e.get(k[:-2] + "_pct")
            n = e2e.get(k[: -len("_tail_s")] + "_n")
            extra = f"  (p{pct:.1f}, n={n})" if pct is not None else f"  (n={n}: fewer than 11 samples)"
        lines.append(f"  {k:<26} {e2e[k]:>14.6g} {unit}{extra}")
    layer_units = dict(per_layer_names())
    for k in layers:
        lines.append(f"  {k:<44} {layers[k]:>14.6g} {layer_units[k]}")
    for prob in w.problems + reconcile_problems:
        lines.append(f"  PROBLEM {prob}")
    report = "\n".join(lines)

    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_names()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    result = {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }
    with open(f"{run_dir}/result.json", "w") as f:
        json.dump({**result, "end_to_end": e2e, "layers": layers,
                   "problems": w.problems + reconcile_problems,
                   "checks": w.checks,
                   "ops": [{"name": o["name"], "pass": o["pass"], "wall": o["wall"],
                            **o["rec"].attrs} for o in w.ops],
                   "args": vars(args)}, f, indent=1, default=str)
    with open(f"{run_dir}/spans.json", "w") as f:
        json.dump(ctx.tracer.dump(), f, default=str)
    with open(f"{run_dir}/layers.txt", "w") as f:
        f.write(report + "\n")
    for sub in ("data", "work", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(f"{run_dir}/{sub}", ignore_errors=True)
    print(report)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
