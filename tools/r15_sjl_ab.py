#!/usr/bin/env python
"""Interleaved same-session A/B for streaming_join_late_attribution.

OLD = the r14 form: before staging, the late-cross-batch mass assert
replays batch filtering over the raw inputs (watermark line, kept-set
filter, interval SELF-join between kept purchases and kept clicks,
count). NEW = the working tree: the same assert derived from the
drained join output (batch tag recomputed from event time — a pure
function of the fixed cuts), one aggregation over the small result.
Both run the FULL streaming drain; both run in ONE Spark session,
alternating, best-of-N (PERF.md #50/#53 methodology).

Usage: python tools/r15_sjl_ab.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def old_streaming_join_late_attribution(spark, sf_dir):
    """r14 form: eager batch replay + interval self-join mass assert."""
    import datetime

    from pyspark.sql import functions as F

    from fastetl_spark.io.readers import read_table
    from fastetl_spark.streaming.stream_ops import (
        _LATE_CUT_LO,
        _LATE_CUT_TAIL,
        _SJL_WINDOW_H,
        _SJL_WM_DAYS,
        _SML_CARVE_HI,
        _SML_CARVE_LO,
        _SML_CUT_MID,
        _drain_to_memory,
        _scratch_root,
        _stage_slices,
    )

    root = _scratch_root(sf_dir, "stream_join_late")
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts").cast("timestamp")).alias("tss"),
    )
    slice_no = (
        F.when(
            (F.col("tss") < F.lit(_LATE_CUT_LO).cast("timestamp"))
            | (F.col("tss") >= F.lit(_LATE_CUT_TAIL).cast("timestamp"))
            | (
                (F.col("tss") >= F.lit(_SML_CARVE_LO).cast("timestamp"))
                & (F.col("tss") < F.lit(_SML_CARVE_HI).cast("timestamp"))
            ),
            2,
        )
        .when(F.col("tss") < F.lit(_SML_CUT_MID).cast("timestamp"), 0)
        .otherwise(1)
    )
    base = ev.withColumn("b", slice_no)
    wm = base.filter(F.col("b") == 0).agg(
        F.max(F.when(F.col("event_type") == "click", F.col("tss"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("tss"))).alias("mp"),
    ).head()
    assert wm["mc"] is not None and wm["mp"] is not None
    l2 = min(wm["mc"], wm["mp"]) - datetime.timedelta(days=_SJL_WM_DAYS)
    kept = base.filter((F.col("b") < 2) | (F.col("tss") > F.lit(l2)))
    kp = kept.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("tss").alias("pt"), F.col("b").alias("bp")
    )
    kc = kept.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("tss").alias("ct"), F.col("b").alias("bc")
    )
    cross = kp.join(
        kc,
        (F.col("pu") == F.col("cu"))
        & (F.col("ct") <= F.col("pt"))
        & (F.col("ct") >= F.col("pt") - F.expr(f"INTERVAL {_SJL_WINDOW_H} HOURS"))
        & (
            ((F.col("bp") == 2) & (F.col("bc") < 2))
            | ((F.col("bc") == 2) & (F.col("bp") < 2))
        ),
    ).count()
    assert cross > 0
    staged = base.select("event_id", "user_id", "event_type", "tss")
    stream = _stage_slices(staged, root, slice_no)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("tss").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{_SJL_WM_DAYS} days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("tss").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{_SJL_WM_DAYS} days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {_SJL_WINDOW_H} HOURS
            """
        ),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    return _drain_to_memory(joined, "st_sjl_", "append")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from fastetl_spark.registry import QUERIES, load_all
    from fastetl_spark.session import get_spark

    load_all()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "r15-sjl-ab", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    new_fn = QUERIES["streaming_join_late_attribution"]
    # warm-up + identity check (the drain is eager; collect is small)
    new_rows = sorted(map(tuple, new_fn(spark, SF_DIR).collect()))
    old_rows = sorted(
        map(tuple, old_streaming_join_late_attribution(spark, SF_DIR).collect())
    )
    assert new_rows == old_rows, "A/B variants disagree!"
    print(f"rows identical: {len(new_rows)} pairs")

    walls = {"old": [], "new": []}
    for _ in range(reps):
        for tag, fn in (
            ("old", old_streaming_join_late_attribution),
            ("new", new_fn),
        ):
            spark.sparkContext.setJobDescription(f"sjl:{tag}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            walls[tag].append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    la1 = round(os.getloadavg()[0], 1)
    o, n = min(walls["old"]), min(walls["new"])
    print(f"old best-of-{reps}: {o:.3f}s  all={[round(t,3) for t in walls['old']]}")
    print(f"new best-of-{reps}: {n:.3f}s  all={[round(t,3) for t in walls['new']]}")
    print(f"speedup {o / n:.2f}x  la1={la1}")
    spark.stop()


if __name__ == "__main__":
    main()
