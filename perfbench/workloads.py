"""The benchmark's two workloads.

Each workload stages seeded inputs, warms up (untimed, part of set-up),
then runs timed *passes* until the run's time is up, and checks every
output outside the timed interval. One client drives the engine in a
closed loop: the next operation starts when the previous one returned.

- ``etl_sync``: full copy, bucketize, then one seeded increment per pass
  through ``Engine.sync`` into a 64-bucket destination, each followed by
  a read-back of the destination.
- ``query_mix``: one pass runs a fixed list of registered queries, each
  into a noop sink, then drains a fixed list of ``availableNow``
  streaming gates, with a listener collecting per-batch progress.
"""

from __future__ import annotations

import math
import os
import statistics

import gen
from check import Oracles, replay_matches, spark_digest

# Each pass must stay short enough for several passes to fit one run;
# the lists keep one or more queries of each family the workload exists
# to measure: one-pass relational and cleaning, fixpoint loops (the
# materialize-heavy path), all-pairs top-k, and Python workers.
QUERY_MIX = (
    "q1_pricing_summary",
    "pagerank_link_graph",
    "mutual_margin_pairs",
    "heavy_hitters_exhaustive",
)
# A stateful dedup drained to a noop sink: state store and commit log.
# One gate only: a gate pass costs about 3.5 s of mostly fixed cost, and
# the foreachBatch merge gate's batch times varied too much pass to pass
# to settle within the passes a run can afford.
STREAM_GATES = ("streaming_late_dedup",)
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float | None]:
    """The value at the highest percentile that has at least ten samples
    beyond it, and that percentile; (nan, None) below eleven samples."""
    n = len(xs)
    if n < 11:
        return float("nan"), None
    pct = 100.0 * (1.0 - 10.0 / n)
    k = max(0, math.ceil(pct / 100.0 * n) - 1)
    return sorted(xs)[k], pct


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


class Workload:
    """Shared bookkeeping: operations attempted and failed, problems."""

    name = ""
    min_passes = 0  # each workload sets its own
    smoke_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.ops: list[dict] = []  # operations that returned
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.checks: list[dict] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def op(self, name: str, pass_no: int, fn):
        """Run one operation in a span; a raising operation counts as failed."""
        self.attempted += 1
        with self.tracer.span(name, pass_no=pass_no) as rec:
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - a failed operation is a measured outcome
                rec.attrs["error"] = f"{type(e).__name__}: {e}"[:500]
                out = None
        if "error" in rec.attrs:
            self.fail(f"{name} (pass {pass_no}): {rec.attrs['error']}")
        else:
            self.ops.append({"name": name, "pass": pass_no, "wall": rec.wall, "rec": rec})
        return rec, out

    @property
    def timed(self) -> list[dict]:
        """Operations of the timed passes (warm-up ones have pass -1)."""
        return [o for o in self.ops if o["pass"] >= 0]

    def by_pass(self) -> list[list[float]]:
        """The operation walls of each timed pass, in pass order."""
        passes: dict[int, list[float]] = {}
        for o in self.timed:
            passes.setdefault(o["pass"], []).append(o["wall"])
        return [passes[p] for p in sorted(passes)]


# --- query_mix -------------------------------------------------------------


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Per-batch progress of every streaming query, in arrival order."""

        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            self.events.append({"run_id": str(event.runId), "started": True})

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "run_id": str(p.runId),
                "batch": p.batchId,
                "ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


class QueryMix(Workload):
    """One pass runs every query of QUERY_MIX into a noop sink, then
    drains every gate of STREAM_GATES, with a listener collecting the
    gates' per-batch progress."""

    name = "query_mix"
    # A pass takes 7-10 s on a 4-core host, so three passes outlast
    # --seconds and every run times the same work: a run of three passes
    # and one of four would take medians over different passes, and the
    # passes differ systematically (the gate's second drain is slower).
    min_passes = 3

    def stage(self, data_dir: str) -> None:
        gen.write_tables(data_dir, self.ctx.seed)

    def setup(self) -> None:
        from fastetl_spark import registry

        self.data = self.ctx.data_dir
        names = QUERY_MIX + STREAM_GATES
        self.fns = {q: self.tracer.wrap_callable(registry.QUERIES[q], q) for q in names}
        self.oracles = Oracles(self.data, gen.TABLES)
        self.oracle_sql = {q: registry.ORACLES.get(q) for q in names}
        self.listener = make_listener()
        self.spark.streams.addListener(self.listener)
        self.run_pass(-1)  # warm-up: every output is collected and checked

    def _check(self, name: str, got: str) -> None:
        sql = self.oracle_sql[name]
        want = self.oracles.digest(name, sql) if sql is not None else None
        self.checks.append({"op": name, "output": got, "oracle": want})
        if want is None:  # no oracle: rows-only, as the engine's own harness checks it
            if got.startswith("0:"):
                self.fail(f"{name}: empty output")
        elif got != want:
            self.fail(f"{name}: output {got} != oracle {want}")

    def _drained(self) -> list[dict]:
        """Wait for the listener bus, then take the events since the last call."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = self.listener.events[:]
        del self.listener.events[: len(out)]
        return out

    def _query(self, q: str, collect: bool):
        df = self.fns[q](self.spark, self.data)
        if collect:
            return spark_digest(df)
        df.write.format("noop").mode("overwrite").save()
        return None

    def _drain(self, g: str):
        df = self.fns[g](self.spark, self.data)
        df.write.format("noop").mode("overwrite").save()
        return df

    def run_pass(self, p: int) -> None:
        """Queries into a noop sink (collected and checked in the warm-up
        pass), then gates, whose drained output is checked every pass
        after the operation has returned."""
        for q in QUERY_MIX:
            _, digest = self.op(f"q.{q}", p, lambda q=q: self._query(q, p < 0))
            if digest is not None:
                self._check(q, digest)
        for g in STREAM_GATES:
            rec, df = self.op(f"g.{g}", p, lambda g=g: self._drain(g))
            events = self._drained()
            rec.attrs["progress"] = [e for e in events if "batch" in e]
            rec.run_ids = sorted({e["run_id"] for e in events})
            if df is not None:
                self._check(g, spark_digest(df))

    def finish(self) -> dict:
        self.oracles.close()
        walls: dict[str, list[float]] = {}
        for o in self.timed:
            walls.setdefault(o["name"], []).append(o["wall"])
        meds = {k: median(v) for k, v in walls.items()}
        gates = [o for o in self.timed if o["name"].startswith("g.")]
        batches = [e for o in gates for e in o["rec"].attrs.get("progress", [])]
        trig = [e["ms"].get("triggerExecution", 0) / 1000.0 for e in batches]
        t_val, t_pct = tail(trig)
        drain = sum(o["wall"] for o in gates)
        # Whole passes, not per-operation medians: the host's speed drifts
        # by tens of percent within a run, and the median of a pass's sum
        # or geometric mean moves less than a median of three samples of
        # one operation does.
        passes = self.by_pass()
        return {
            "wall_s": median([sum(p) for p in passes]),
            "op_s": median([geomean(p) for p in passes]),
            "query_geomean_s": geomean([v for k, v in meds.items() if k.startswith("q.")]),
            "rows_per_s": sum(e["input_rows"] for e in batches) / drain if drain else float("nan"),
            "microbatch_p50_s": median(trig),
            "microbatch_tail_s": t_val,
            "microbatch_tail_pct": t_pct,
            "microbatch_n": len(trig),
        }


# --- etl_sync --------------------------------------------------------------


def tree_files(*roots: str) -> dict[str, tuple]:
    """path -> (size, inode, mtime_ns) for every file under the roots."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and files that are new or changed between two snapshots."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)


class EtlSync(Workload):
    name = "etl_sync"
    key = "o_orderkey"
    # The warm-up increment carries deletions, so every sync path has run
    # once before timing; six passes then hold five trickles (two of them
    # deleting) and a bulk, so the median pass and the median trickle rest
    # on five or six samples. A pass takes 3.5-5 s on a 4-core host, so
    # six outlast --seconds and every run times the same increments.
    min_passes = 6
    # --smoke: the warm-up and four increments, one of each kind in turn
    smoke_passes = 4

    def stage(self, data_dir: str) -> None:
        os.makedirs(data_dir, exist_ok=True)
        gen.write_etl_source(f"{data_dir}/orders_src.parquet", self.ctx.seed, self.ctx.etl_rows)

    def setup(self) -> None:
        from fastetl_spark.api import Engine

        work = self.ctx.work_dir
        self.src = f"{self.ctx.data_dir}/orders_src.parquet"
        self.dest = f"{work}/dest"
        self.log_dir = f"{work}/load_log"
        self.wm_dir = f"{work}/watermarks"
        self.landing = f"{work}/landing"
        os.makedirs(self.landing, exist_ok=True)
        self.engine = Engine(self.spark, load_log_path=self.log_dir, watermark_store_path=self.wm_dir)
        self.incs = gen.Increments(self.ctx.seed, self.ctx.etl_rows)
        self.applied: list[tuple[str, list[int]]] = []
        self.op("etl.full_copy", -1, lambda: self.engine.full_copy(
            {"path": self.src}, {"path": self.dest}, table_name="orders"))
        self.op("etl.bucketize", -1, lambda: self.engine.bucketize(
            self.dest, [self.key], gen.N_BUCKETS))
        self.run_pass(-1)  # warm-up increment; the first sync also seeds the watermark store

    def run_pass(self, p: int) -> None:
        from pyspark.sql import functions as F

        from fastetl_spark.io import bucketed

        inc = self.incs.next()
        path = f"{self.landing}/inc_{inc['index']:05d}.parquet"
        gen.write_parquet(inc["rows"], path)
        deleted = inc["deleted_keys"]
        dels = (
            self.spark.createDataFrame([(k,) for k in deleted], f"{self.key} long")
            if deleted else None
        )
        roots = (self.dest, self.log_dir, self.wm_dir)
        before = tree_files(*roots)
        rec, _ = self.op(f"etl.sync.{inc['kind']}", p, lambda: self.engine.sync(
            {"path": path}, {"path": self.dest}, keys=[self.key],
            watermark_col="updated_at", deleted_keys=dels, table_name="orders"))
        after = tree_files(*roots)
        rec.attrs["bytes_written"], rec.attrs["files_written"] = written(before, after)
        rec.attrs["input_bytes"] = os.path.getsize(path)
        rec.attrs["input_rows"] = inc["rows"].num_rows + len(deleted)
        self.applied.append((path, deleted))

        sample = self.incs.sample_keys(inc["index"])

        def read_back():
            d = bucketed.read_bucketed(self.spark, self.dest)
            n = d.count()
            hit = (
                d.filter(F.col(self.key).isin(sample))
                .agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*d.columns)))
                .first()
            )
            return n, hit[0], hit[1]

        _, got = self.op("etl.read", p, read_back)
        if got is not None:
            if got[0] != inc["live_rows"] or got[1] != len(sample):
                self.fail(
                    f"read-back after increment {inc['index']}: {got[0]} rows, "
                    f"{got[1]} sampled keys; expected {inc['live_rows']} and {len(sample)}"
                )

    def finish(self) -> dict:
        from fastetl_spark.io import bucketed

        final = bucketed.read_bucketed(self.spark, self.dest)
        ok, detail = replay_matches(self.src, self.applied, final.toArrow(), self.key)
        self.attempted += 1
        if not ok:
            self.fail(f"destination != DuckDB replay: {detail}")
        fresh = f"{self.ctx.work_dir}/fresh"
        final.write.mode("overwrite").parquet(fresh)
        fresh_bytes = sum(v[0] for v in tree_files(fresh).values())
        end_files = tree_files(self.dest, self.log_dir, self.wm_dir)
        self.end_state = {
            "dest_files": sum(1 for p in end_files if p.startswith(self.dest + "/")),
            "load_log_files": sum(1 for p in end_files if p.startswith(self.log_dir + "/")),
            "watermark_files": sum(1 for p in end_files if p.startswith(self.wm_dir + "/")),
            "live_generations": len(bucketed.list_generations(self.spark, self.dest)) or 1,
        }
        syncs = [o for o in self.timed if o["name"].startswith("etl.sync.")]
        trickle = [o["wall"] for o in syncs if o["name"] == "etl.sync.trickle"]
        bulk = [o["wall"] for o in syncs if o["name"] == "etl.sync.bulk"]
        reads = [o["wall"] for o in self.timed if o["name"] == "etl.read"]
        t_val, t_pct = tail(trickle)
        in_bytes = sum(o["rec"].attrs["input_bytes"] for o in syncs)
        in_rows = sum(o["rec"].attrs["input_rows"] for o in syncs)
        sync_wall = sum(o["wall"] for o in syncs)
        return {
            "wall_s": median([sum(p) for p in self.by_pass()]),
            "op_s": median(trickle),
            "rows_per_s": in_rows / sync_wall if sync_wall else float("nan"),
            "trickle_sync_p50_s": median(trickle),
            "trickle_sync_tail_s": t_val,
            "trickle_sync_tail_pct": t_pct,
            "trickle_sync_n": len(trickle),
            "bulk_sync_p50_s": median(bulk),
            "bulk_sync_n": len(bulk),
            "read_after_sync_p50_s": median(reads),
            "write_amp": sum(o["rec"].attrs["bytes_written"] for o in syncs) / in_bytes,
            "space_amp": sum(v[0] for v in end_files.values()) / fresh_bytes,
        }


WORKLOADS = {w.name: w for w in (EtlSync, QueryMix)}
