"""Scaling probe: replicate the real tables in-plan and time five
operator families at 1x/4x/16x data to show how wall-clock grows.
Evidence for the 100 TB design questions: does the partial agg carry
the shuffle? does the join scale with its inputs, not its output
skew? does top-k prune map-side? does the partition-safe shift avoid
the single-partition collapse? Output rewrites SCALING.md.

Usage: python tools/scale_probe.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def replicate(df, mult):
    m, out = 1, df
    while m < mult:
        out = out.union(out)
        m *= 2
    return out


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from baloo_spark.plans.ordinal import with_boundary_shifts
    from baloo_spark.session import get_session
    spark = get_session("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    def agg_q1(m):
        flt = replicate(li, m).filter(F.col("l_shipdate") <= "1998-09-02")
        return (flt.groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
                     F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))),
                     F.count(F.lit(1))))

    def join_shuffle(m):
        # both sides replicated: a genuine two-sided shuffle join at
        # 16x (the orders side outgrows the broadcast threshold)
        return (replicate(li, m).join(replicate(orders, m), F.col(
            "l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.sum("l_extendedprice"), F.count(F.lit(1))))

    def window_topk(m):
        w = replicate(orders, m)
        from pyspark.sql import Window
        win = (Window.partitionBy("o_custkey")
               .orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        return (w.withColumn("rk", F.row_number().over(win))
                .filter(F.col("rk") <= 2))

    def shift(m):
        # partition-safe global shift (boundary-carry scheme): the
        # naive lag-over-global-order plan would collapse to ONE
        # partition and flatline at 16x
        w = replicate(li.select("l_orderkey", "l_extendedprice"), m)
        return with_boundary_shifts(w, {"__shift__": "l_extendedprice"},
                                    1, order_by=None)

    def prefix_sum(m):
        # global running sum through the parallel prefix scan — the
        # naive `sum() OVER (ORDER BY)` comparison is timed separately
        # below because it cannot scale past one partition
        from baloo_spark.plans.ordinal import with_prefix_aggs
        w = replicate(li.select("l_orderkey", "l_extendedprice"), m)
        return with_prefix_aggs(
            w, {"rsum": (F.col("l_extendedprice"), "sum")},
            [F.col("l_orderkey").asc()])

    def profile_fused(m):
        from baloo_spark.operators.text import text_profile
        return text_profile(replicate(docs, m), include_repetition=True)

    def chunk_pack(m):
        from baloo_spark.operators.chunking import (chunk_documents,
                                                    pack_chunks)
        ch = chunk_documents(replicate(docs, m), chunk_tokens=64,
                             overlap=8)
        return pack_chunks(ch, budget_tokens=512, n_buckets=64)

    def contamination(m):
        from pyspark.sql import functions as F
        from baloo_spark.operators.text import contamination_check
        d = replicate(docs, m)
        bench = docs.where(F.col("doc_id") % 20 == 0)  # fixed-size side
        return contamination_check(d, bench, n=5)

    families = [
        ("agg (TPC-H q1 shape)", agg_q1,
         "map-side partial agg carries the shuffle at 6 groups "
         "regardless of input rows; only the scan scales"),
        ("join lineitem⋈orders + agg", join_shuffle,
         "hash-partitioned shuffle join: both exchanges scale with "
         "input, partial agg keeps the final stage tiny"),
        ("window top-k per group", window_topk,
         "WindowGroupLimit prunes to <=2 rows per group BEFORE the "
         "exchange - shuffle stays proportional to groups, not rows"),
        ("global shift (boundary-carry)", shift,
         "per-partition lag + kilobyte edge-row carry; no "
         "single-partition collapse at any multiple"),
        ("global running sum (prefix scan)", prefix_sum,
         "partition-local scans + per-partition totals combined on "
         "the driver; contrast with the naive global window below"),
        ("text profile + repetition (fused)", profile_fused,
         "single-scan projection (quality/lang-id/repetition in one "
         "pass): zero shuffles, scales with scan+CPU only"),
        ("chunk + pack into 512-token bins", chunk_pack,
         "narrow posexplode then ONE shuffle on the hash-bucket key "
         "into 64 independent Arrow-batched packers - parallelism "
         "fixed by n_buckets, per-packer work scales with its slice"),
        ("contamination vs fixed benchmark", contamination,
         "benchmark gram set stays broadcast-sized while the corpus "
         "side grows: probe-side scan + one doc_id agg scale, the "
         "broadcast does not"),
    ]

    lines = ["# Scaling probe (tools/scale_probe.py)", "",
             f"Operator families over replicated {sf} tables,",
             "steady-state (min of 3 warm runs) wall-clock on "
             "local[32]:", ""]
    for name, fn, why in families:
        lines.append(f"## {name}")
        lines.append("")
        for mult in (1, 4, 16):
            df = fn(mult)
            df.write.format("noop").mode("overwrite").save()  # warm
            dt = float("inf")  # min of 3: robust to JIT/GC hiccups
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = min(dt, time.perf_counter() - t0)
            n = "{:,}".format(df.count()) if mult == 1 else ""
            lines.append(f"- {mult}x: {dt:.2f}s" +
                         (f"  (1x output = {n} rows)" if n else ""))
            print(name, lines[-1])
        lines += ["", f"_{why}_", ""]

    # EWM decayed-carry scan: construction is partly EAGER (layout
    # checkpoint + ends pass + driver carry), so the operator is
    # rebuilt inside the timing loop — a fixed-DF re-save would only
    # re-run the final emit pass and mismeasure
    from baloo_spark.plans.ordinal import with_ewm_stats_multi
    lines += ["## ewm mean (decayed-carry scan, alpha=0.1)", ""]
    for mult in (1, 4, 16):
        base = replicate(li.select("l_orderkey", "l_extendedprice"),
                         mult).localCheckpoint()
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = with_ewm_stats_multi(
                base, {"v": ("l_extendedprice", "l_extendedprice",
                             ("mean",))}, 0.1,
                [F.col("l_orderkey").asc()])
            out.write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s (full operator incl. "
                     "eager layout+ends construction)")
        print("ewm", lines[-1])
    lines += ["", "_the EWM recurrence is not a prefix sum (closed "
              "form overflows r^-t): two mapInPandas passes over one "
              "frozen range layout + an n_partitions driver carry — "
              "pandas' C ewm kernel per partition, no global window, "
              "no per-row Python. Scales with the two scans; the "
              "driver carry is n_partitions tuples regardless of "
              "rows_", ""]

    # r10: fused multi-stat time rolling (agg_pairs). Rebuilt inside
    # the loop like ewm — the prefix layout localCheckpoints eagerly
    # at construction. Replicated stamps are perturbed so stamp
    # density (not the duplicate-tie path) is what scales; 4x/16x
    # exceed the 200k broadcast cap, exercising the union-carry
    # as-of face (the 100 TB shape).
    lines += ["## fused time-roll agg_pairs (sum+count+corr, '2h')",
              ""]
    import baloo_spark as _bl
    ev_p = spark.read.parquet(f"{sf}/events.parquet") \
        .select("ts", "value", "user_id")
    for mult in (1, 4, 16):
        w = replicate(ev_p, mult)
        w = w.withColumn(
            "ts", F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + (F.monotonically_increasing_id() % 997))) \
            .withColumn("v2",
                        F.col("value") * 0.5 + F.col("user_id")) \
            .localCheckpoint()
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            d = _bl.DataFrame.from_spark(w).sort_values("ts") \
                .set_index("ts")
            out = d.rolling("2h", min_periods=1).agg_pairs({
                "sv": ("sum", "value"), "nv": ("count", "value"),
                "cv": ("corr", "value", "v2")}).to_spark()
            out.write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s (full operator incl. "
                     "eager layout construction)")
        print("agg_pairs", lines[-1])
    lines += ["", "_every requested sum/mean/count/cov/corr from ONE "
              "prefix pass + ONE as-of lookup; each additional stat "
              "adds prefix specs to the same two passes instead of a "
              "new two-pass scheme (one pandas-shaped .corr() call "
              "costs ~13 scheduling-bound driver jobs at sf0.1 — "
              "fixed per CALL, so fusing removes whole passes, not "
              "just jobs). Above the 200k-row broadcast cap the "
              "subtrahend lookup is the partition-safe union-carry "
              "as-of join_", ""]

    # r6: the two new ewm scans share the identical two-pass shape —
    # probe that the extra carried state (affine-map coefficients for
    # adjust=False; the q/d2 sums for var) doesn't change the scaling.
    # r7 (VERDICT r6 #5): the seven-sums PAIRWISE scan (cov/corr —
    # seven doubles + a joint validity mask per partition carry) and
    # the adjust=False kernel-state perturbation scan (17 doubles per
    # tag: means, three covs, sum_wt2, correction sums) get the same
    # 1x/4x/16x evidence.
    from baloo_spark.plans.ordinal import (with_ewm_noadjust_stats,
                                           with_ewm_stats_multi)
    px = ("l_extendedprice", "l_extendedprice")
    for title, fn, note in (
        ("ewm mean adjust=False (affine-map carry)",
         lambda b: with_ewm_noadjust_stats(
             b, {"v": (*px, ("mean",))}, 0.1,
             [F.col("l_orderkey").asc()]),
         "_same two passes; the carry adds three scalars per "
         "partition (pre-first-obs decay, first obs value, ln prod "
         "p_i) — still kilobytes at thousands of partitions_"),
        ("ewm var (four-decayed-sums scan)",
         lambda b: with_ewm_stats_multi(
             b, {"v": (*px, ("var",))}, 0.1,
             [F.col("l_orderkey").asc()]),
         "_same two passes; num/den/q/d2 are four doubles per "
         "partition in the carry, and the per-row work is four "
         "pandas C-kernel calls per batch instead of two_"),
        ("ewm cov (seven-sums pairwise scan)",
         lambda b: with_ewm_stats_multi(
             b, {"p": ("l_extendedprice", "l_quantity", ("cov",))},
             0.1, [F.col("l_orderkey").asc()]),
         "_same two passes over ONE layout carrying both columns; "
         "the carry is seven doubles + counts per partition and the "
         "per-row work is seven C-kernel calls over the joint "
         "validity mask — the constant factor rises, the shape "
         "(two scans + n_partitions driver carry) does not_"),
        ("ewm var adjust=False (kernel-state perturbation carry)",
         lambda b: with_ewm_noadjust_stats(
             b, {"v": ("l_extendedprice", "l_extendedprice",
                       ("var",))}, 0.1,
             [F.col("l_orderkey").asc()]),
         "_same two passes; the carry is 17 doubles per tag "
         "(means, three covs, sum_wt2, factored correction sums) "
         "and the per-row work is five C-kernel calls plus the "
         "bounded cumulative-sum corrections — no per-row Python, "
         "no global window, driver state stays n_partitions-sized_")):
        lines += [f"## {title}", ""]
        for mult in (1, 4, 16):
            base = replicate(
                li.select("l_orderkey", "l_extendedprice",
                          "l_quantity"),
                mult).localCheckpoint()
            dt = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn(base).write.format("noop").mode("overwrite").save()
                dt = min(dt, time.perf_counter() - t0)
            lines.append(f"- {mult}x: {dt:.2f}s (full operator incl. "
                         "eager layout+ends construction)")
            print(title, lines[-1])
        lines += ["", note, ""]

    # r8 (VERDICT r7 #5): the GROUPED noadjust face rides
    # applyInPandas per group — probe the many-small-groups regime
    # (per-group Arrow overhead is the cost that the global scan
    # doesn't pay) and document the crossover vs the global scan.
    from baloo_spark.core.frame import DataFrame as BlFrame
    lines += ["## grouped ewm var adjust=False (batched "
              "mapInPandas kernel; many small groups)", ""]
    n_groups = li.select("l_orderkey").distinct().count()
    for mult in (1, 4, 16):
        base = replicate(
            li.select("l_orderkey", "l_linenumber",
                      "l_extendedprice"), mult).localCheckpoint()
        rows = base.count()
        bf = BlFrame._make(base, [],
                           ["l_orderkey", "l_extendedprice"],
                           [("l_linenumber", True)])
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = bf.groupby("l_orderkey") \
                .ewm(alpha=0.1, adjust=False).var()
            out.to_spark().write.format("noop").mode("overwrite") \
                .save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s ({rows:,} rows over "
                     f"{n_groups:,} groups, ~{rows // n_groups} "
                     "rows/group)")
        print("grouped noadjust", lines[-1])
    lines += ["", "_one explicit repartition on the group key "
              "(exempt from AQE's BYTE-sized coalescing, which "
              "serialized 147k tiny groups onto a few tasks — "
              "53.6s measured pre-fix), sortWithinPartitions for "
              "group contiguity, then pandas' Cython GROUPED ewm "
              "kernel over whole Arrow batches inside mapInPandas "
              "— many groups per Python call, with a straddling "
              "group held over to the next batch. The per-group "
              "applyInPandas face measured 13.8s at 1x on this "
              "workload (per-group Arrow + pandas-object overhead "
              "is ~ms and GROUP-COUNT-bound); the batched kernel "
              "is bounded by per-ROW C-kernel work instead, the "
              "same cost model as the global scan. Per-group state "
              "is O(1), no group exceeds one task, the shape "
              "survives 1000 executors. Use the grouped face only "
              "when the query semantics are per-key; never route a "
              "global EWM through a synthetic single group (one "
              "task, no parallelism)._", ""]

    # r8: the global rolling ORDER-statistic pass (min/max/median/
    # quantile don't decompose into prefix scans) — one frozen range
    # layout, a (window-1)-rows-per-partition donor collect, pandas'
    # C rolling kernels inside one mapInPandas with the carry
    # prepended. Probe both a small and a large window: the carry
    # grows linearly with the window, the per-row kernel work does
    # not (pandas rolling median is O(log w) per row).
    from baloo_spark.plans.ordinal import with_rolling_locals
    for title, win in (("global rolling median w=8 (local-carry "
                        "mapInPandas)", 8),
                       ("global rolling median w=512 (local-carry "
                        "mapInPandas)", 512)):
        lines += [f"## {title}", ""]
        for mult in (1, 4, 16):
            base = replicate(
                li.select("l_orderkey", "l_extendedprice"),
                mult).localCheckpoint()
            dt = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                out = with_rolling_locals(
                    base, {"__med__": "l_extendedprice"}, win,
                    "median", [F.col("l_orderkey").asc()])
                out.write.format("noop").mode("overwrite").save()
                dt = min(dt, time.perf_counter() - t0)
            lines.append(f"- {mult}x: {dt:.2f}s (layout + donor "
                         "collect + kernel pass)")
            print(title, lines[-1])
        lines += ["", "_driver carry is n_partitions x (w-1) values "
                  "— bounded by construction and guarded "
                  "(max_carry_cells names the per-group Window "
                  "alternative past the budget). Unlike the EWM "
                  "carries there is no recurrence to merge: the "
                  "prepended tail reproduces the global answer "
                  "exactly, so the pass is one layout, one bounded "
                  "collect, one Arrow scan — the same two-job shape "
                  "as the prefix scans, with the window parameter "
                  "only changing the collect width_", ""]

    # r8: the time-DECAY ewm (segmented-anchor scan) — same events
    # replication; the segment count scales with span/halflife, the
    # carry stays three scalars per partition
    from baloo_spark.plans.ordinal import with_ewm_mean_times_multi
    lines += ["## time-decay ewm mean (halflife=30min over "
              "events.ts; segmented-anchor scan)", ""]
    ev_td = spark.read.parquet(f"{sf}/events.parquet")
    for mult in (1, 4, 16):
        base = replicate(ev_td.select("ts", "value"),
                         mult).localCheckpoint()
        rows = base.count()
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = with_ewm_mean_times_multi(
                base, {"v": "value"}, "ts", 30 * 60 * 1e6,
                [F.col("ts").asc()])
            out.write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s ({rows:,} rows)")
        print("time-decay ewm", lines[-1])
    lines += ["", "_two mapInPandas passes over one frozen layout; "
              "per-partition state is (num, den, t_last) and the "
              "carry folds through the analytic 2^(-dt/hl) decay, "
              "so driver state is n_partitions x 3 scalars at any "
              "timestamp irregularity — the same shape as the "
              "fixed-alpha ewm scans_", ""]

    # r8: the time-OFFSET rolling window (prefix pass + as-of join)
    # — events carries real timestamps; replicate and widen the
    # window so the as-of right side (distinct stamps) grows with
    # the data
    lines += ["## time-offset rolling sum ('2h' over events.ts; "
              "prefix + as-of join)", ""]
    ev0 = spark.read.parquet(f"{sf}/events.parquet")
    from baloo_spark.core.frame import DataFrame as BlFrame2
    for mult in (1, 4, 16):
        base = replicate(ev0.select("ts", "value"),
                         mult).localCheckpoint()
        rows = base.count()
        bf = BlFrame2.from_spark(base).sort_values("ts") \
            .set_index("ts")
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = bf["value"].rolling("2h", min_periods=1).sum()
            out.to_spark().write.format("noop").mode("overwrite") \
                .save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s ({rows:,} rows)")
        print("time rolling", lines[-1])
    lines += ["", "_window_agg(i) = prefix(i) - prefix(as-of "
              "t_i - offset): one prefix pass plus one as-of join, "
              "both partition-safe two-pass schemes — no range "
              "self-join (quadratic candidates), no per-row Python, "
              "no single-partition window. The as-of right side is "
              "one row per distinct stamp, range-partitioned like "
              "any as-of; driver state stays n_partitions-sized_",
              ""]

    # r9: resample upsampling (ffill) — bucket grid generated
    # distributed + ONE as-of join; the per-iteration rebuild pays
    # the duplicate-stamp gate job, so dedupe stamps first
    lines += ["## resample('90s').ffill() upsampling (distributed "
              "grid + one as-of join)", ""]
    for mult in (1, 4, 16):
        # synthetic DISTINCT stamps (a replicate would dedupe right
        # back to the base stamp set): 7s apart, so both the source
        # rows AND the 90s grid span grow with mult
        base = (spark.range(100_000 * mult).select(
            F.timestamp_micros(F.col("id") * F.lit(7_000_000))
            .alias("ts"),
            (F.col("id") % 97).cast("double").alias("value"))
            .localCheckpoint())
        rows = base.count()
        bf = BlFrame2.from_spark(base)
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = bf.resample("90s", on="ts").ffill()
            out.to_spark().write.format("noop").mode("overwrite") \
                .save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s ({rows:,} source rows, "
                     f"~{rows * 7 // 90:,} grid labels)")
        print("resample ffill", lines[-1])
    lines += ["", "_the bucket-label grid is spark.range arithmetic "
              "(only the two boundary stamps touch the driver) and "
              "the fill is the engine's partition-safe as-of join — "
              "no per-label loop, no single-partition reindex. The "
              "grid row count scales with the SPAN/freq, not the "
              "source rows, so a year of 1s labels is 31M "
              "distributed rows; duplicate-stamp detection is one "
              "limit-1 hash-agg gate_", ""]

    # interpolate: ONE fused layout pass (with_interp_neighbors_multi):
    # construction is partly eager like EWM, so the operator is
    # rebuilt inside the timing loop
    lines += ["## interpolate (fused single-layout neighbor pass)", ""]
    for mult in (1, 4, 16):
        base = replicate(
            li.select("l_orderkey",
                      F.when(F.col("l_quantity") > 5,
                             F.col("l_extendedprice"))
                      .alias("v")), mult).localCheckpoint()
        bf = BlFrame._make(base, [], ["l_orderkey", "v"],
                           [("l_orderkey", True)])
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = bf["v"].interpolate()
            out.to_spark().write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        lines.append(f"- {mult}x: {dt:.2f}s (fused single-layout "
                     "pass)")
        print("interp", lines[-1])
    lines += ["", "_linear fill between nearest non-null neighbors: "
              "ONE range layout serves the dense position and both "
              "(position, value) donors — forward and backward "
              "carries are RUNNING window frames over the same "
              "partitioning (the reversed-order second sort stays "
              "in-partition, no exchange; a current->unboundedFollowing "
              "frame with first() would be O(n^2) per partition), one "
              "per-partition stats collect, one broadcast join. The "
              "naive dense-ordinal + two ffill layouts measured 30s "
              "at 16x; this is ~3x faster and linear_", ""]

    # the anti-pattern, measured once for contrast: the same running
    # sum as a naive unpartitioned window — ALL rows through ONE task
    from pyspark.sql import Window
    w16 = replicate(li.select("l_orderkey", "l_extendedprice"), 16)
    wspec = (Window.orderBy(F.col("l_orderkey").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
    naive = w16.withColumn("rsum", F.sum("l_extendedprice").over(wspec))
    naive.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    naive.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    lines += ["## the naive alternative, for contrast",
              "",
              f"- `sum() OVER (ORDER BY ...)` with no partition at "
              f"16x: {dt:.2f}s — every row through ONE task. On "
              "local[32] both plans share one machine so the wall-"
              "clock gap is modest; the structural difference is "
              "what matters at cluster scale: the naive window holds "
              "ALL rows in a single task's sort buffer (OOM at real "
              "data sizes, zero parallelism), while the prefix scan "
              "keeps per-task state bounded by one partition and "
              "ships n_partitions scalars to the driver.", ""]
    print("naive global window 16x:", f"{dt:.2f}s")

    # skew probe: one synthetic hot key holds 30% of all rows.
    # Scalar aggs are skew-immune (map-side combine) — the case that
    # bites is list-building aggregation, where the hot reducer
    # otherwise receives its full 30% share of elements.
    from baloo_spark.plans.skew import salted_groupby
    hot16 = replicate(
        li.select(
            F.when((F.col("l_orderkey") % 10) < 3, 0)
            .otherwise(F.col("l_orderkey") % 1000 + 1).alias("k"),
            F.col("l_extendedprice").alias("v")), 16)
    n_rows = hot16.count()
    plain = (hot16.groupBy("k")
             .agg(F.collect_list("v").alias("vs"))
             .select("k", F.size("vs").alias("n")))
    salted = salted_groupby(hot16, "k", {"v": "collect_list"},
                            salt=32) \
        .select("k", F.size("v_collect_list").alias("n"))
    times = {}
    for name, df in (("plain", plain), ("salted", salted)):
        df.write.format("noop").mode("overwrite").save()  # warm
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times[name] = dt = min(dt, time.perf_counter() - t0)
    # reducer-load division, measured exactly: max rows any single
    # reduce-side group holds (= the hot task's input)
    max_plain = hot16.groupBy("k").count() \
        .agg(F.max("count")).first()[0]
    from pyspark.sql import functions as F2
    max_salted = (hot16.withColumn(
        "__salt__", (F2.rand(seed=42) * 32).cast("int"))
        .groupBy("k", "__salt__").count()
        .agg(F2.max("count")).first()[0])
    # scalar-agg immunity, for contrast: same hot key, plain sum
    scal = hot16.groupBy("k").agg(F.sum("v"), F.count(F.lit(1)))
    scal.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    scal.write.format("noop").mode("overwrite").save()
    dt_scal = time.perf_counter() - t0
    lines += [
        "## skew: hot key = 30% of rows (16x lineitem, "
        f"{n_rows:,} rows)", "",
        f"- collect_list plain groupBy: {times['plain']:.2f}s — max "
        f"single-reducer group = {max_plain:,} rows "
        f"({100.0 * max_plain / n_rows:.0f}% of the table through "
        "ONE task's list state)",
        f"- collect_list salted_groupby(salt=32): "
        f"{times['salted']:.2f}s — max (key, salt) group = "
        f"{max_salted:,} rows (hot load divided ~32x; merge "
        "flattens 32 partial lists per key)",
        f"- scalar sum/count on the same hot key, plain groupBy: "
        f"{dt_scal:.2f}s — skew-IMMUNE: map-side partial agg "
        "collapses the hot key to one row per map task before the "
        "shuffle, so salting scalar aggs buys nothing (and costs a "
        "second shuffle). salted_groupby is the fallback for "
        "list/set-building aggs only.", "",
        "_Reading the numbers: locally the salted form is SLOWER — "
        f"{max_plain:,} doubles (~20 MB) in one task is trivial on "
        "one machine, so the extra shuffle dominates. The division "
        "is what matters at scale: per-task state is bounded by "
        "group/salt instead of group, so the hot group that would "
        "OOM one executor (or straggle the stage) at 1000x data "
        "becomes 32 bounded tasks. Salting is insurance you buy "
        "with a second shuffle — use it when a key's share of the "
        "data exceeds what one task can hold, not by default._", ""]
    print("skew probe:", times, "max group", max_plain, "->",
          max_salted)

    # embedding near-pairs probe: replicas get DISTINCT ids and a
    # perturbed first component (otherwise replication manufactures
    # exact-duplicate megaclusters — the documented reason exact
    # dedup runs before ANY near-dup pass). With the plane count
    # FIXED, LSH candidate counts grow ~n^2/2^planes — the knob is
    # planes ~ log2(n): raising 8 -> 12 at 16x restores the 1x
    # per-bucket density. Both measured below.
    from baloo_spark.operators.dedup import embedding_near_pairs
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    def repl_emb(m):
        # every component jittered by a deterministic +-0.3 hash
        # offset (component scale is ~0.1): signatures scramble
        # uniformly across replicas. A single-component shift looks
        # simpler but collapses each replica into a couple of
        # buckets (the shifted component dominates every plane dot)
        # — manufactured pathological skew, not a scaling signal.
        parts = [emb.select("vec_id", "embedding")]
        for i in range(1, m):
            parts.append(emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                F.expr(f"transform(embedding, (x, j) -> "
                       f"CAST(x + (CAST(pmod(xxhash64(j, {i}), 601) "
                       f"AS DOUBLE) - 300D) / 1000D AS FLOAT))")
                .alias("embedding")))
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    np_lines = ["## embedding near-pairs (hyperplane-blocked "
                "self-join)", ""]
    for mult, planes, seeds in ((1, 8, None), (16, 8, None),
                                (16, 12, None), (16, 12, [0, 1])):
        df = embedding_near_pairs(repl_emb(mult), threshold=0.99,
                                  planes=planes, seeds=seeds)
        df.write.format("noop").mode("overwrite").save()  # warm
        dt = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = embedding_near_pairs(repl_emb(mult), threshold=0.99,
                                      planes=planes, seeds=seeds)
            df.write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        tag = f", seeds={seeds}" if seeds else ""
        np_lines.append(f"- {mult}x, planes={planes}{tag}: {dt:.2f}s")
        print("near_pairs", np_lines[-1])
    np_lines += ["",
                 "_Candidates scale ~n^2/2^planes at FIXED planes — "
                 "the 16x/planes=8 row pays that quadratic candidate "
                 "growth by design. The production knob is planes ~ "
                 "log2(n): planes=12 at 16x restores the 1x "
                 "per-bucket density and the runtime drops back "
                 "toward linear. The r4 rewrite streams candidates "
                 "through a checkpointed signature self-join, so "
                 "growth lands in streamed join work, never in "
                 "single collect_list rows (the old 2 GB-row "
                 "hazard). The r5 multi-seed union (the recall "
                 "amplifier) costs ~linear in the seed count — all "
                 "signatures ride one checkpoint, each family joins "
                 "independently, and the pair-dedup shuffle is the "
                 "width of one family's output — while the miss "
                 "probability decays exponentially (0.74 -> 0.99 "
                 "recall with 3 seeds in the pytest fixture)._", ""]
    lines += [""] + np_lines

    # layout probe (VERDICT r4 Next #5a): spread() must be a no-op on
    # a scan already backed by >= defaultParallelism files (the 100 TB
    # case — thousands of parquet files), and fire only on
    # under-partitioned scans (the single-file export case).
    import shutil
    import tempfile
    from baloo_spark.plans.layout import spread
    tmp = tempfile.mkdtemp(prefix="spread_probe_")
    try:
        target = spark.sparkContext.defaultParallelism
        li.repartition(64).write.mode("overwrite") \
            .parquet(f"{tmp}/wide")
        li.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/narrow")
        wide = spark.read.parquet(f"{tmp}/wide")
        narrow = spark.read.parquet(f"{tmp}/narrow")
        wide_noop = spread(wide) is wide          # identity => no-op
        narrow_fired = spread(narrow) is not narrow
        n_wide = len(wide.inputFiles())
        n_narrow = len(narrow.inputFiles())
        agg = lambda d: (d.groupBy("l_returnflag")
                         .agg(F.sum("l_extendedprice")))
        t_narrow, t_spread = {}, {}
        for name, d, store in (("as-is", narrow, t_narrow),
                               ("spread", spread(narrow), t_spread)):
            q = agg(d)
            q.write.format("noop").mode("overwrite").save()
            dt = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                q.write.format("noop").mode("overwrite").save()
                dt = min(dt, time.perf_counter() - t0)
            store["t"] = dt
        lines += [
            "## layout: spread() fires only when the scan is narrow",
            "",
            f"- {n_wide}-file scan (>= target {target}): spread() "
            f"returned the SAME DataFrame object — no repartition, "
            f"no-op verified = {wide_noop}. At 100 TB every scan is "
            "this case: thousands of files, spread costs nothing. "
            "(r5: checkpointed/cached relations report zero files; "
            "spread now falls back to the physical partition count "
            "so a wide checkpoint is a no-op too — pinned by "
            "tests/test_plans.py::test_spread_noop_on_wide_"
            "checkpoint.)",
            f"- {n_narrow}-file scan: spread() fired "
            f"(= {narrow_fired}) and repartitioned to {target}; the "
            "probe agg over the single-file scan runs "
            f"{t_narrow['t']:.2f}s as-is vs {t_spread['t']:.2f}s "
            "after spread on local[32] — locally spread LOSES on "
            "this query, and that is the honest reading: a 600k-row "
            "aggregate is sub-second on one core, so the repartition "
            "shuffle is pure overhead (same verdict as the salting "
            "probe). spread() pays off only when per-core work "
            "downstream is heavy (minutes of UDF/codec work behind a "
            "one-file scan serializes the whole job); that is why "
            "the library applies it inside the heavy document "
            "operators, not on every scan — and why the >= target "
            "file-count no-op above matters: at real scale it never "
            "fires at all.", ""]
        print("spread probe: wide no-op", wide_noop,
              "narrow fired", narrow_fired, t_narrow, t_spread)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # bucketed-join probe (VERDICT r4 Next #5b): pay the shuffle once
    # at write time, then join 16x lineitem⋈orders with ZERO Exchange
    # in the executed plan, vs the same data as plain parquet going
    # through the usual two-sided shuffle join.
    from baloo_spark.plans.bucketing import bucketed_join, write_bucketed
    li16 = replicate(li, 16).select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice")
    or16 = replicate(orders, 16).select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus")
    t0 = time.perf_counter()
    write_bucketed(li16, "li16_bkt", "orderkey", buckets=32)
    write_bucketed(or16, "or16_bkt", "orderkey", buckets=32)
    t_write = time.perf_counter() - t0
    tmp2 = tempfile.mkdtemp(prefix="bucket_probe_")
    try:
        li16.write.mode("overwrite").parquet(f"{tmp2}/li")
        or16.write.mode("overwrite").parquet(f"{tmp2}/or")
        pl_li = spark.read.parquet(f"{tmp2}/li")
        pl_or = spark.read.parquet(f"{tmp2}/or")

        def post(j):
            return (j.groupBy("o_orderstatus")
                    .agg(F.sum("l_extendedprice"), F.count(F.lit(1))))

        # big-table path: at 16x the orders side is past the broadcast
        # threshold anyway; pinning it off keeps the probe
        # deterministic (same reasoning as test_scale_patterns'
        # no-Exchange assertion)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bkt = post(bucketed_join(spark, "li16_bkt", "or16_bkt",
                                 "orderkey"))
        shf = post(pl_li.join(pl_or, "orderkey"))
        bkt_plan = bkt._jdf.queryExecution().executedPlan().toString()
        n_exch_bkt = bkt_plan.count("Exchange")
        t_each = {}
        for name, q in (("bucketed", bkt), ("shuffled", shf)):
            q.write.format("noop").mode("overwrite").save()
            dt = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                q.write.format("noop").mode("overwrite").save()
                dt = min(dt, time.perf_counter() - t0)
            t_each[name] = dt
        shf_plan = shf._jdf.queryExecution().executedPlan().toString()
        n_exch_shf = shf_plan.count("Exchange")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        lines += [
            "## bucketed join: 16x lineitem⋈orders with zero join-side Exchange",
            "",
            f"- one-time bucketed write of both sides (32 buckets on "
            f"the join key, sorted): {t_write:.1f}s — this is the "
            "shuffle, paid once at ingest",
            f"- bucketed join + agg: {t_each['bucketed']:.2f}s — "
            f"executed plan has {n_exch_bkt} Exchange total: the "
            "7-group partial agg only; ZERO on either join input "
            "(both scans feed the SortMergeJoin co-located)",
            f"- same data as plain parquet, shuffle join + agg: "
            f"{t_each['shuffled']:.2f}s — {n_exch_shf} Exchanges "
            "(both join inputs re-shuffled on the key, every query, "
            "forever)", "",
            "_The local[32] delta understates the win: here the "
            "'shuffle' is an in-memory copy on one machine. On a "
            "1000-executor cluster the shuffled plan moves BOTH "
            "tables across the network per query, while the bucketed "
            "plan reads matching buckets side by side — for a fact "
            "table joined daily, bucketing converts an O(table) "
            "network cost per query into zero._", ""]
        print("bucket probe:", t_each, "exchanges",
              n_exch_bkt, "vs", n_exch_shf, "write", round(t_write, 1))
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS li16_bkt")
        spark.sql("DROP TABLE IF EXISTS or16_bkt")

    # ---- grouped window fusion: .agg / agg_pairs on ONE Window
    # node (r11) ----------------------------------------------------
    import baloo_spark as bl
    ev = spark.read.parquet(f"{sf}/events.parquet")
    per_g = (ev.where(F.col("user_id") % 7 == 0)
             .groupBy("event_type", "ts")
             .agg(F.avg("value").alias("av"),
                  F.sum("value").alias("v"))
             .localCheckpoint())
    n_pg = per_g.count()
    bgt = bl.DataFrame.from_spark(per_g).sort_values("ts")

    def _groll():
        return bgt.groupby("event_type").rolling("2h",
                                                 min_periods=1)

    def run_fused():
        return _groll().agg_pairs(
            {"cnt": ("count", "v"), "sv": ("sum", "v"),
             "cv": ("corr", "av", "v")}).to_spark().count()

    def run_unfused():
        return (_groll().count().to_spark().count()
                + _groll().sum().to_spark().count()
                + _groll().agg_pairs(
                    {"cv": ("corr", "av", "v")}).to_spark().count())

    tf = tu = float("inf")
    for _ in range(3):
        t0 = time.time(); run_fused(); tf = min(tf, time.time() - t0)
        t0 = time.time(); run_unfused(); tu = min(tu, time.time() - t0)
    plan_f = (_groll().agg_pairs(
        {"cnt": ("count", "v"), "sv": ("sum", "v"),
         "cv": ("corr", "av", "v")})
        .to_spark()._jdf.queryExecution().executedPlan().toString())
    n_win = sum(1 for ln in plan_f.splitlines()
                if "Window [" in ln and "row_number" not in ln)
    lines += [
        "## grouped window fusion: .agg / agg_pairs ride ONE "
        "Window node (r11)", "",
        f"groupby(event_type).rolling('2h') over the "
        f"{n_pg:,}-row distinct-stamp pre-agg (sf0.1 events, "
        "1-in-7 users), three statistics (count, sum, pairwise "
        "corr), best-of-3 warm:", "",
        f"- fused `agg_pairs({{cnt, sv, cv}})`: {tf:.2f}s — "
        f"{n_win} stats Window node in the executed plan; every "
        "statistic is an extra expression on the same frame "
        "(plan-asserted in tests/test_group.py::"
        "test_grouped_window_agg_faces_r11)",
        f"- unfused (count() + sum() + corr-only agg_pairs, three "
        f"calls): {tu:.2f}s — three full group-key shuffle+sort "
        "passes", "",
        "_Locally the gap is scheduling/sort overhead; at cluster "
        "scale the structural difference dominates: each unfused "
        "statistic re-shuffles the WHOLE table on the group key, "
        "so a k-statistic feature pipeline pays k table-wide "
        "exchanges where the fused face pays one. The JVM "
        "`.agg(['sum','mean','var',...])` face fuses the same way "
        "(Catalyst folds every moment into one "
        "windowspecdefinition); order statistics "
        "(median/rank/skew/...) route the whole request through "
        "ONE batched mapInPandas pass — one kernel call per "
        "DISTINCT statistic inside each Arrow batch, still one "
        "shuffle total._", ""]
    print("grouped fusion probe:", round(tf, 2), "vs", round(tu, 2),
          "windows", n_win)

    with open("SCALING.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
