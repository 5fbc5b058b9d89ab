"""Physical-plan quality tests: the 100 TB contract.

Correctness says the answer is right; these say the PLAN is right —
pushdown reaches the scan, small sides broadcast, aggregations are
one shuffle, nothing collapses to a single partition. A regression
here is a scale bug even when all value tests stay green.
"""

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as e
    return e


def test_filter_pushdown_reaches_scan(spark, bl):
    li = bl.read_parquet(f"{SF}/lineitem.parquet")
    out = li[li["l_quantity"] > 10][["l_quantity", "l_discount"]]
    p = plan_of(out.to_spark())
    assert "GreaterThan(l_quantity,10.0)" in p          # predicate pushdown
    assert "struct<l_quantity:double,l_discount:double>" in p  # column pruning


def test_q1_single_shuffle(spark, entry):
    p = plan_of(entry.queries()["q1_pricing_summary"](spark, SF))
    # partial + final hash agg over ONE exchange; scan filter pushed
    assert p.count("Exchange") == 1
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_merge_broadcasts_small_side(spark, entry):
    p = plan_of(entry.queries()["merge_inner_left"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sort_head_is_topk_not_full_sort(spark, entry):
    p = plan_of(entry.queries()["sort_nlargest"](spark, SF))
    # orderBy().limit() must plan as distributed top-k, not global sort
    assert "TakeOrderedAndProject" in p


def test_sessions_window_is_user_partitioned(spark, entry):
    p = plan_of(entry.queries()["events_sessions"](spark, SF))
    # lag/cumsum windows partitioned by user_id: no single-partition
    # collapse anywhere in the plan
    assert "SinglePartition" not in p


def test_groupby_has_partial_aggregation(spark, entry):
    p = plan_of(entry.queries()["groupby_stats"](spark, SF))
    # map-side combine: HashAggregate appears before AND after exchange
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex] or "HashAggregate" in p
    assert p.count("HashAggregate") >= 2


def test_dedup_exact_is_one_shuffle(spark):
    from baloo_spark.operators.dedup import exact_duplicates
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(exact_duplicates(docs))
    # one hash-partitioned exchange on the fingerprint (AQE may add
    # coalesce reads but no second shuffle)
    assert p.count("Exchange hashpartitioning") <= 1


def test_brute_topk_broadcasts_queries(spark):
    from baloo_spark.operators.similarity import brute_force_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(brute_force_topk(emb.filter("vec_id < 5"),
                                 emb.filter("vec_id >= 5"), k=3))
    # corpus must NOT shuffle for scoring; queries broadcast
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_slice_no_global_single_partition_sort(spark, entry):
    p = plan_of(entry.queries()["positional_ops"](spark, SF))
    # dense-ordinal path uses range partitioning + pid-local windows,
    # never a global Window over SinglePartition
    assert "Window" not in p or "SinglePartition" not in p


def test_shift_no_single_partition_window(bl, spark):
    # Series.shift uses the boundary-carry scheme (pid-local window +
    # broadcast carry join) — never Exchange SinglePartition
    import numpy as np
    df = bl.DataFrame({"k": np.arange(100), "v": np.arange(100) * 1.0})
    s = df.sort_values("k")["v"]
    for p in (s.shift(1), s.shift(-2), s.diff(1)):
        plan = plan_of(p._sdf)
        assert "Exchange SinglePartition" not in plan
        assert "Window" not in plan or "SinglePartition" not in plan


def test_multimodal_stats_prune_payload(spark):
    from baloo_spark.operators.multimodal import media_stats, to_media_table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(media_stats(to_media_table(docs)))
    tail = p.split("ReadSchema")[-1]
    assert "payload" not in tail[:300]


def test_ngram_jaccard_default_has_no_cross_join(spark):
    # prefix filtering must keep the default (no block_col) call an
    # equi-join: a cartesian/nested-loop here is the textbook
    # all-pairs scale-killer
    from baloo_spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(ngram_jaccard_pairs(docs, n=3, threshold=0.4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    # prefix filtering (PPJoin Lemma 1) must reproduce the all-pairs
    # result exactly — compare against a brute-force cross join on a
    # small slice
    from pyspark.sql import functions as F
    from baloo_spark.operators.dedup import ngram_jaccard_pairs, _shingled
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    sh = _shingled(docs, "text", "doc_id", 3, "char")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    allp = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) \
        / F.size(F.array_union("sh_a", "sh_b"))
    want = {(r["id_a"], r["id_b"]): r["j"]
            for r in allp.select("id_a", "id_b",
                                 F.round(jac, 6).alias("j"))
            .where(F.col("j") >= 0.3).collect()}
    assert got == want


def test_text_profile_single_scan_no_joins(spark):
    # the fused text profile must stay ONE scan + projections: no
    # joins, no shuffles (the whole point of fusing the four families)
    from baloo_spark.operators.text import text_profile
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(text_profile(docs))
    assert "Join" not in plan
    # spread() (plans/layout.py) may prepend ONE RoundRobinPartitioning
    # exchange to balance a single-row-group scan; the invariant that
    # matters is NO KEYED exchange (hash/range) — the operator's own
    # logic moves no data by key.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Scan parquet") == 1
    assert "ReadSchema" in plan


def test_ngram_jaccard_never_cartesian(spark):
    # VERDICT r1 #3: the default must plan an equi-join, not a
    # cartesian product / broadcast nested loop
    from baloo_spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(ngram_jaccard_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_noop_on_wide_checkpoint(spark):
    """r5: spread() must not re-shuffle a checkpointed frame that
    already has >= target partitions — operators fed a shared
    localCheckpoint (the one-scan slot pattern) were paying a
    corpus-sized Exchange per call because a checkpoint reports zero
    input files."""
    from baloo_spark.plans.layout import spread
    d = spark.range(0, 10000)
    target = spark.sparkContext.defaultParallelism
    wide = d.repartition(target).localCheckpoint()
    assert spread(wide) is wide                    # no-op, same object
    narrow = d.coalesce(1).localCheckpoint()
    out = spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target    # still widens


def test_runtime_bloom_filter_join_pruning(spark):
    """r5: Spark's runtime Bloom-filter semi-join reduction is ON in
    the engine session (spark.sql.optimizer.runtime.bloomFilter.
    enabled) — a selective dim filter injects a bloom_filter_agg that
    prunes the fact scan before the shuffle. Locally the 10 GB
    application-side threshold never trips, so the test lowers it to
    pin the mechanism the 100 TB path relies on."""
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet") \
        .where("o_totalprice > 350000")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr = "spark.sql.optimizer.runtime.bloomFilter." \
          "applicationSideScanSizeThreshold"
    prev_thr = spark.conf.get(thr)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(thr, "0")
    try:
        j = li.join(orders, li.l_orderkey == orders.o_orderkey) \
            .groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert j.count() >= 0          # and it still executes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(thr, prev_thr)


def test_pivot_table_plan_one_agg_exchange(spark, bl):
    """pivot_table: the distinct pivot values are collected once
    driver-side and passed explicitly, so the PLAN has no extra
    distinct job — exactly Spark's two-phase pivot (pre-aggregate on
    (index, pivot key), then pivot on index: both Exchanges KEYED,
    nothing single-partition), scan pruned to the three referenced
    columns."""
    orders = bl.read_parquet(f"{SF}/orders.parquet")
    pt = orders.pivot_table(values="o_totalprice",
                            index="o_orderpriority",
                            columns="o_orderstatus", aggfunc="mean")
    p = plan_of(pt.to_spark())
    assert p.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in p
    assert "o_orderkey" not in p.split("ReadSchema")[1][:200]
    assert "struct<o_orderstatus:string,o_totalprice:double," \
        "o_orderpriority:string>" in p


def test_stack_plan_no_shuffle(spark, bl):
    """stack is a narrow generator: posexplode, zero Exchanges."""
    li = bl.read_parquet(f"{SF}/lineitem.parquet")
    st = li[["l_quantity", "l_discount"]].stack()
    p = plan_of(st.to_spark())
    assert "Exchange" not in p
    assert "Generate" in p          # posexplode


def test_interpolate_plan_no_global_window(spark, bl):
    """interpolate composes from the boundary-carry machinery: every
    window is partitioned by __pid__ — no unpartitioned
    (single-task) window anywhere in the plan."""
    li = bl.read_parquet(f"{SF}/lineitem.parquet")
    s = li["l_extendedprice"].where(li["l_quantity"] > 5).interpolate()
    p = plan_of(s.to_spark())
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        assert "__pid__" in m.group(1), m.group(0)


def test_frame_ewm_single_range_layout(spark, bl, monkeypatch):
    """r7 (VERDICT r6 #6): DataFrame.ewm over k columns must build
    exactly ONE frozen range layout — the multi-column fusion is the
    difference between 1 and k repartitionByRange + sort +
    checkpoint passes (the exact regression class r5 caught in
    interpolate: 3 layouts -> 1 cut 16x-scale time 30s -> 11s). The
    layout's checkpoint hides its Exchange from the final plan, so
    the invariant is pinned at the _range_layout call site; the
    emitted plan must also stay free of single-partition collapses.

    r11 update: the layout dropped its explicit partition count so
    AQE sizes the range exchange (kilobyte inputs coalesce to 1
    partition, large inputs keep spark.sql.shuffle.partitions). A
    coalesced-to-1 tiny layout is therefore EXPECTED here; the
    scale invariant is pinned by (a) no forced Exchange
    SinglePartition in the plan and (b) the same layout distributing
    across spark.sql.shuffle.partitions when AQE coalescing is
    disabled — i.e. the count is AQE-derived, not hard-coded."""
    from baloo_spark.plans import ordinal

    calls = {"n": 0}
    real = ordinal._range_layout

    def counting(sdf, order_by):
        calls["n"] += 1
        return real(sdf, order_by)

    li = bl.read_parquet(f"{SF}/lineitem.parquet")
    three = li.sort_values(["l_orderkey", "l_linenumber"])[
        ["l_quantity", "l_extendedprice", "l_discount"]]
    for kw, stat in (({}, "var"), ({}, "mean"),
                     ({"adjust": False}, "var"),
                     ({"adjust": False}, "mean")):
        calls["n"] = 0
        monkeypatch.setattr(ordinal, "_range_layout", counting)
        try:
            out = getattr(three.ewm(alpha=0.4, **kw), stat)()
            sdf = out.to_spark()
        finally:
            monkeypatch.setattr(ordinal, "_range_layout", real)
        assert calls["n"] == 1, \
            f"ewm({kw}).{stat} built {calls['n']} range layouts " \
            "for 3 columns — the fused scan must build exactly one"
        p = plan_of(sdf)
        assert "Exchange SinglePartition" not in p
        assert sdf.rdd.getNumPartitions() >= 1
    # the Series faces run the same fused scans: one layout each
    ser = three["l_extendedprice"]
    for label, build in (
            ("ewm().mean", lambda: ser.ewm(alpha=0.4).mean()),
            ("ewm().var", lambda: ser.ewm(alpha=0.4).var()),
            ("ewm(adjust=False).mean",
             lambda: ser.ewm(alpha=0.4, adjust=False).mean())):
        calls["n"] = 0
        monkeypatch.setattr(ordinal, "_range_layout", counting)
        try:
            sdf = build().to_spark()
        finally:
            monkeypatch.setattr(ordinal, "_range_layout", real)
        assert calls["n"] == 1, \
            f"Series.{label} built {calls['n']} range layouts"
        assert "Exchange SinglePartition" not in plan_of(sdf)
    # scale-adaptivity: with AQE coalescing off, the SAME build must
    # honor spark.sql.shuffle.partitions (no hard-coded count)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        sdf = three.ewm(alpha=0.4).mean().to_spark()
        assert sdf.rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, old)


def test_fixed_window_fused_single_layout(spark, bl, monkeypatch):
    """Every fixed-window moment, ``agg_pairs`` and the Series pair
    statistics build exactly ONE range layout: the window engine's
    fused prefix source (core/window._fixed_source: prefixes and
    their window-ago twins from one layout and one collect; sem takes
    the local-carry pass, also one layout) — never the old
    with_prefix_aggs + with_boundary_shifts composition, which paid a
    second layout. Two columns with nulls on both sides of the
    partition boundaries (AQE coalescing off, so the layout keeps
    spark.sql.shuffle.partitions), checked against pandas."""
    import numpy as np
    import pandas as pd

    from baloo_spark.plans import ordinal

    real = ordinal._range_layout
    calls = {"n": 0}

    def counting(sdf, order_by):
        calls["n"] += 1
        return real(sdf, order_by)

    def no_shift(*a, **k):
        raise AssertionError("fixed window took with_boundary_shifts")

    rng = np.random.default_rng(23)
    n = 150
    x = rng.normal(size=n)
    y = 0.5 * x + rng.normal(size=n)
    x[rng.random(n) < 0.15] = np.nan
    y[rng.random(n) < 0.15] = np.nan
    x[40:47] = np.nan                      # a null run over a boundary
    key = np.array([f"k{i:04d}" for i in rng.permutation(n)])
    pdf = pd.DataFrame({"k": key, "x": x, "y": y}).sort_values("k") \
        .reset_index(drop=True)
    df = bl.DataFrame({"k": key, "x": x, "y": y}).sort_values("k")
    p5 = pdf[["x", "y"]].rolling(5, min_periods=2)
    cases = [(f"rolling(5, min_periods=2).{st}",
              lambda st=st: getattr(df.rolling(5, min_periods=2), st)()
              .to_pandas()[["x", "y"]],
              getattr(p5, st)()[["x", "y"]])
             for st in ("sum", "mean", "count", "var", "std", "sem")]
    r5 = pdf["x"].rolling(5)
    cases += [
        ("rolling(5).agg_pairs",
         lambda: df.rolling(5).agg_pairs(
             {"s": ("sum", "x"), "c": ("cov", "x", "y"),
              "r": ("corr", "x", "y")}).to_pandas()[["s", "c", "r"]],
         pd.DataFrame({"s": r5.sum(), "c": r5.cov(pdf["y"]),
                       "r": r5.corr(pdf["y"])})),
        ("Series.rolling(5).cov",
         lambda: df["x"].rolling(5).cov(df["y"]).to_pandas(),
         r5.cov(pdf["y"])),
        ("Series.rolling(5).corr",
         lambda: df["x"].rolling(5).corr(df["y"]).to_pandas(),
         r5.corr(pdf["y"])),
    ]
    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        for label, run, want in cases:
            calls["n"] = 0
            monkeypatch.setattr(ordinal, "_range_layout", counting)
            monkeypatch.setattr(ordinal, "with_boundary_shifts", no_shift)
            try:
                got = run()
            finally:
                monkeypatch.undo()
            assert calls["n"] == 1, \
                f"{label} built {calls['n']} range layouts, expected 1"
            np.testing.assert_allclose(
                np.asarray(got, dtype=float),
                np.asarray(want, dtype=float), rtol=1e-9, atol=1e-9,
                equal_nan=True, err_msg=label)
    finally:
        spark.conf.set(aqe, old)


def _sorted_ordered_ops(bl):
    """A 2000-row frame sorted by a shuffled key, its pandas twin, and
    the four ordered Series ops whose emit windows partition by
    ``__pid__``: (label, baloo op, pandas answer)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 2000
    k = rng.permutation(n)
    x = rng.normal(size=n)
    x[rng.random(n) < 0.05] = np.nan
    df = bl.DataFrame({"k": k, "x": x}).sort_values("k")
    ps = pd.Series(x[np.argsort(k)])
    return [
        ("rolling(50).std", lambda: df["x"].rolling(50).std(),
         ps.rolling(50).std()),
        ("expanding().mean", lambda: df["x"].expanding().mean(),
         ps.expanding().mean()),
        ("cumsum", lambda: df["x"].cumsum(), ps.cumsum()),
        ("shift(5)", lambda: df["x"].shift(5), ps.shift(5)),
    ]


def test_sorted_ordered_ops_plan_no_pid_exchange(spark, bl):
    """A sorted frame's range layout declares its partitioning by
    ``__pid__`` (plans/ordinal._declared_layout), so the emit pass of
    rolling, expanding, cumsum and shift re-shuffles nothing: no
    ``Exchange hashpartitioning(__pid__`` in the executed plan, with
    AQE coalescing on and off (several layout partitions), and the
    answers match pandas."""
    import numpy as np

    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(aqe)
    try:
        for coalesce in ("true", "false"):
            spark.conf.set(aqe, coalesce)
            for label, run, want in _sorted_ordered_ops(bl):
                got = run()
                assert "Exchange hashpartitioning(__pid__" \
                    not in plan_of(got._sdf), (label, coalesce)
                np.testing.assert_allclose(
                    got.to_pandas().to_numpy(dtype=float),
                    want.to_numpy(dtype=float), rtol=1e-9, atol=1e-9,
                    equal_nan=True, err_msg=f"{label} {coalesce}")
    finally:
        spark.conf.set(aqe, old)


def test_declared_layouts_are_truthful(spark):
    """Every layout that declares a partitioning holds what it says:
    partition i holds exactly the rows with ``__pid__ = i``, in the
    row order their ``__mid__`` stamps give (re-stamping the frozen
    rows reproduces every ``__mid__``). Range layouts over a parquet
    scan and over a pandas-built frame declare; the ingest layout
    (no order) of a 5-row pandas frame must not, since the optimizer
    folds its stamps into the local relation as partition 0."""
    import pandas as pd
    from pyspark.sql import functions as F

    from baloo_spark.core.utils import spark_df_from_pandas
    from baloo_spark.plans import ordinal

    def declared(lay):
        part = lay._jdf.queryExecution().analyzed().outputPartitioning()
        return part.getClass().getSimpleName() == "RangePartitioning"

    def violations(lay):
        return lay.where(
            (F.spark_partition_id() != F.col("__pid__"))
            | (F.monotonically_increasing_id() != F.col("__mid__"))
        ).count()

    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    pdf = pd.DataFrame({"k": [5, 3, 9, 1, 7, 2, 8], "x": [1.0] * 7})
    tiny = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0, 5.0]})
    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(aqe)
    try:
        for coalesce in ("true", "false"):
            spark.conf.set(aqe, coalesce)
            layouts = [
                ("parquet by key", li,
                 [F.col("l_extendedprice"), F.col("l_orderkey")]),
                ("pandas by key", spark_df_from_pandas(spark, pdf),
                 [F.col("k")]),
                ("pandas ingest", spark_df_from_pandas(spark, tiny), None),
            ]
            for label, sdf, order_by in layouts:
                lay = ordinal._range_layout(sdf, order_by)
                assert declared(lay) == (order_by is not None), \
                    (label, coalesce)
                if declared(lay):
                    assert violations(lay) == 0, (label, coalesce)
    finally:
        spark.conf.set(aqe, old)


def test_undeclared_layout_fallback(spark, bl, monkeypatch):
    """If the JVM re-wrap fails, the layout falls back to the plain
    checkpoint with ONE warning for any number of layouts, and every
    answer is identical to the declared path's."""
    import warnings

    import numpy as np

    from baloo_spark.plans import ordinal

    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        ops = _sorted_ordered_ops(bl)
        want = {label: run().to_pandas().to_numpy(dtype=float)
                for label, run, _ in ops}

        def broken(ck):
            raise RuntimeError("no LogicalRDD here")

        monkeypatch.setattr(ordinal, "_declared_layout", broken)
        monkeypatch.setattr(ordinal, "_UNDECLARED_WARNED", False)
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            got = {}
            for label, run, _ in ops:
                res = run()
                assert "Exchange hashpartitioning(__pid__" \
                    in plan_of(res._sdf), label
                got[label] = res.to_pandas().to_numpy(dtype=float)
        ours = [w for w in seen if "declare their partitioning"
                in str(w.message)]
        assert len(ours) == 1, [str(w.message) for w in ours]
        for label in want:
            np.testing.assert_array_equal(got[label], want[label],
                                          err_msg=label)
    finally:
        spark.conf.set(aqe, old)
