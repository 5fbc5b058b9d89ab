"""Scale-safe ordered operations: dense row ordinals, global running
aggregates, shifts, rolling windows and EWM scans.

The reference's arrays are positional (SURVEY.md §1.4): slicing,
head/tail, iloc and RangeIndex all need a stable 0..n-1 row position,
and cumsum/shift/ffill/rolling/ewm need the global row order. A naive
Spark translation is ``agg() OVER (ORDER BY ...)`` — which shuffles
the entire table into ONE partition and dies at 100 TB.

Every scheme here is instead the same two-pass partition-carry scan:

1. ``_range_layout``: (optionally) range-partition + sort within
   partitions by the order keys, so partition i holds a contiguous,
   globally ordered slice; stamp row ids (``monotonically_increasing_id``,
   increasing within each partition) and partition ids, and freeze the
   layout with a localCheckpoint so both passes see it identically.
   A range-partitioned layout then declares what it is —
   ``RangePartitioning([__pid__ ASC], n)`` and the ordering
   ``[__pid__ ASC, __mid__ ASC]`` — so the ``partitionBy("__pid__")``
   windows and ``groupBy("__pid__")`` totals of both passes plan no
   exchange and no sort (a checkpoint alone reports
   ``UnknownPartitioning`` under AQE);
2. pass 1: one collect of each partition's END state — kilobytes at
   thousands of partitions;
3. ONE driver fold, ``_pid_fold``: walk the ends in partition-id
   (= global) order — reversed for lead and backward walks — with the
   scheme's associative merge; the acc before a partition is its
   exclusive carry;
4. pass 2: each partition merges its carry into partition-local work
   (a pid-partitioned window, or a ``mapInPandas``), so no stage ever
   collapses to one partition.

The schemes differ only in their end state and merge:

- ``with_prefix_aggs`` (kinds ``sum``, ``count``, ``prod``, ``min``,
  ``max`` and ``last``, the newest non-null value): partition totals,
  merged per kind with None as the identity; ``with_dense_ordinal`` is
  its exclusive running count of rows;
- the k-row edge walk (``_edge_runs``) behind ``with_boundary_shifts``,
  ``with_prefix_aggs_shifted`` and ``with_rolling_locals``: each
  partition's k donor values nearest its boundary, merged by
  ``(acc + vals)[-k:]``;
- ``with_interp_neighbors_multi``: row counts plus the nearest non-null
  (position, value) from each side;
- the EWM families, on ``_carry_scan``.

Every table built on the driver between the passes (partition
offsets, boundary carries, prefix carries, the iloc gather list) goes
to Spark through ``local_table``: one Arrow table that plans as a
``LocalRelation``, never through a Python worker. The row-list
``createDataFrame`` would run ``parallelize`` plus a pickled
PythonRDD stage for a table of a few rows.

Recurrences that are not prefix sums — the EWM families — run both
passes as ``mapInPandas`` on ONE carry-scan driver, ``_carry_scan``:

1. freeze one range layout (``_range_layout``) over the input plus the
   family's helper columns;
2. pass 1: each partition folds its non-empty batches into ``fresh()``
   with ``scan(batch, state, False)`` and emits its end state as one
   row with its partition id;
3. collect those n_partitions rows and fold them with
   ``_pid_fold(ends, combine, fresh())``;
4. pass 2: each partition seeds its state with its carry on its first
   batch and appends the columns that ``scan(batch, state, True)``
   returns; helper columns are dropped.

A family supplies only ``fresh`` (a flat list of floats: the
zero-carry state, which is also the exported end tuple), the batch
kernel ``scan`` (mutates the state, returns {column: array}),
``combine`` (returns a new list; may raise, before pass 2), and its
output column names. Every call pays one layout, one ends collect and
one emit pass, for any number of columns.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORD_COL = "__ord__"
# fresh positional column for slice/iloc/tail: NEVER reuse ORD_COL
# positions after a filter — surviving rows keep their original
# (now sparse) ordinals, which are labels, not positions
POS_COL = "__pos__"


def _as_col(c):
    return F.col(c) if isinstance(c, str) else c


def local_table(spark, rows, schema) -> DataFrame:
    """A Spark DataFrame holding driver-built ``rows`` (tuples in
    ``schema`` order; ``schema`` is a StructType or a DDL string),
    shipped as one Arrow table: a ``LocalRelation`` in the plan (a
    JVM-side Arrow RDD above
    ``spark.sql.execution.arrow.localRelationThreshold``), never a
    Python-worker job. Every value goes through
    ``schema.toInternal`` first, so a naive ``TimestampType`` datetime
    is read in the driver's local zone exactly as the row-list
    ``createDataFrame`` reads it, nested timestamps included."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = (list(zip(*(schema.toInternal(r) for r in rows)))
            or [()] * len(schema.fields))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)


def _pid_fold(ends: dict, merge, acc, reverse: bool = False):
    """The driver fold under every two-pass scheme: visit each
    partition's end state ``ends[pid]`` in partition-id (= global)
    order, descending with ``reverse`` (the lead and backward walks),
    folding ``acc = merge(acc, end)`` from the given ``acc``. Returns
    ({pid: the partition's exclusive carry, i.e. the acc before it},
    the acc after the last partition)."""
    carries = {}
    for pid in sorted(ends, reverse=reverse):
        carries[pid] = acc
        acc = merge(acc, ends[pid])
    return carries, acc


def _skip_nulls(merges: list):
    """A merge of end tuples, ``merges[i]`` at position i, where None
    is every merge's identity: an empty or all-null partition
    contributes nothing."""
    return lambda acc, end: tuple(
        a if e is None else e if a is None else m(a, e)
        for m, a, e in zip(merges, acc, end))


def _edge_runs(runs: dict, k: int, reverse: bool = False) -> dict:
    """The k-row edge walk: ``runs[pid]`` lists a partition's donor
    values nearest-its-boundary LAST in walk order (its last rows for
    a forward walk; its first rows, reversed, for a ``reverse`` one).
    Returns pid -> the at most k values just beyond the partition's
    boundary, in the same order. Every carried value is within k rows
    of its own partition's edge, so k donors per partition suffice,
    even when partitions hold fewer than k rows."""
    return _pid_fold(runs, lambda acc, vals: (acc + vals)[-k:], [],
                     reverse)[0]


def _donor_runs(rows: list, rn: str, k: int, names: list) -> dict:
    """pid -> the ``names`` tuples of the collected donor ``rows``
    whose boundary rank ``rn`` is at most k, farthest from the
    boundary first (the order :func:`_edge_runs` takes)."""
    runs: dict = {}
    for r in sorted(rows, key=lambda r: -r[rn]):
        if r[rn] <= k:
            runs.setdefault(r["__pid__"], []).append(
                tuple(r[n] for n in names))
    return runs


def _edge_carry(sdf: DataFrame, runs: dict, k: int, reverse: bool,
                edge_w, types: dict) -> DataFrame:
    """``sdf`` plus ``__ern__`` (row_number over ``edge_w``: the rank
    from the boundary the carry crosses) and the carry columns
    ``types`` (name -> type), set on the k edge rows: the r-th edge
    row takes the value k-r+1 rows beyond the boundary. The carry is
    a ``local_table`` of at most n_partitions x k rows, broadcast."""
    from pyspark.sql import types as T

    rows = [(int(pid), r, *run[len(run) - k + r - 1])
            for pid, run in _edge_runs(runs, k, reverse).items()
            for r in range(max(1, k - len(run) + 1), k + 1)]
    carry = local_table(sdf.sparkSession, rows, T.StructType(
        [T.StructField("__pid__", T.IntegerType()),
         T.StructField("__ern__", T.IntegerType())]
        + [T.StructField(n, t) for n, t in types.items()]))
    return (sdf.withColumn("__ern__", F.row_number().over(edge_w))
            .join(F.broadcast(carry), ["__pid__", "__ern__"], "left"))


def with_boundary_shifts(sdf: DataFrame, cols: dict, periods: int,
                         order_by: list | None = None) -> DataFrame:
    """Partition-safe global shift of SEVERAL columns by the same
    ``periods`` in one pass: ``cols`` maps out_name -> Column/name.

    The naive plan — ``lag() OVER (ORDER BY ...)`` with no partition —
    collapses the table into one partition. Here the window is
    partitioned by physical partition id (all work stays local) and
    only the |periods| rows at each partition boundary take their
    value from a *carry list* built on the driver by the k-row edge
    walk (:func:`_edge_carry`) from every partition's |periods| edge
    rows — n_partitions x |periods| rows by construction, kilobytes
    even at thousands of partitions. Two jobs, no data-sized shuffle
    beyond the (optional) range layout, no Python worker, identical
    results to the global window.
    All columns share the layout, the donor collect, and the carry
    join — callers shifting N columns (e.g. the global rolling
    window's prefix pair) pay ONE pass, not N.

    ``order_by``: sort expressions defining the global order; None
    keeps the current layout order (ingest order), mirroring
    :func:`with_dense_ordinal`.
    """
    prepared = {o: _as_col(c) for o, c in cols.items()}
    if periods == 0:
        out = sdf
        for o, c in prepared.items():
            out = out.withColumn(o, c)
        return out
    k = abs(periods)
    sv = {o: f"__sv_{o}__" for o in prepared}
    sdf = _range_layout(sdf.select("*", *[c.alias(sv[o])
                                          for o, c in prepared.items()]),
                        order_by)

    fwd = periods > 0
    w_in = Window.partitionBy("__pid__").orderBy(F.col("__mid__").asc())
    w_out = Window.partitionBy("__pid__").orderBy(F.col("__mid__").desc())
    # edge rows (donor in another partition): the first k rows of each
    # partition for lag, the last k for lead; donors: the k rows
    # nearest the *other* boundary
    edge_w, donor_w = (w_in, w_out) if fwd else (w_out, w_in)
    donors = (sdf.withColumn("__drn__", F.row_number().over(donor_w))
              .where(F.col("__drn__") <= k)
              .select("__pid__", "__drn__", *sv.values()).collect())
    out = _edge_carry(
        sdf, _donor_runs(donors, "__drn__", k, list(sv.values())), k,
        not fwd, edge_w,
        {f"__cv_{o}__": sdf.schema[sv[o]].dataType for o in prepared})
    for o in prepared:
        local = (F.lag(sv[o], periods).over(w_in) if fwd
                 else F.lead(sv[o], -periods).over(w_in))
        out = out.withColumn(
            o, F.when(F.col("__ern__") <= k, F.col(f"__cv_{o}__"))
            .otherwise(local))
    return out.drop("__pid__", "__mid__", "__ern__",
                    *[f"__cv_{o}__" for o in prepared], *sv.values())


def with_dense_ordinal(sdf: DataFrame, order_by: list | None = None,
                       name: str = ORD_COL) -> DataFrame:
    """Return ``sdf`` with a dense 0..n-1 long column ``name``: the
    exclusive running row count in the global order.

    ``order_by``: list of pyspark Columns (or column names) defining
    the global order; None = current ingest/partition order.
    """
    return with_prefix_aggs(sdf, {name: (F.lit(1), "count")}, order_by,
                            inclusive=False)


def _range_layout(sdf: DataFrame, order_by: list | None) -> DataFrame:
    """Shared first pass of every two-pass scheme: (optionally)
    range-partition + sort by the order keys so partition i holds a
    contiguous globally-ordered slice, stamp row/partition ids, and
    freeze the layout both passes must agree on (Spark gives no
    cross-job determinism guarantee otherwise).

    The freeze is a localCheckpoint, not persist(): persist() leaked
    one cached plan per positional op for the session's lifetime
    (never unpersisted), while checkpoint blocks are freed by the
    ContextCleaner when the DataFrame is garbage-collected. Not
    fault-tolerant to executor loss — an ephemeral positional op
    re-runs from source on failure, which is the right trade.

    With ``order_by``, :func:`_declared_layout` re-wraps the checkpoint
    to declare its partitioning by ``__pid__`` and its ``(__pid__,
    __mid__)`` ordering, so later pid-partitioned windows and
    aggregates shuffle and sort nothing; the stamps ran after the
    range exchange, in the checkpoint RDD's own partitions, so the
    claim holds. Without ``order_by`` the plain checkpoint is
    returned: over a pandas-built frame (a ``LocalRelation``) the
    optimizer's ``ConvertToLocalRelation`` evaluates the stamps on the
    driver as partition 0 while the scan spreads the rows over several
    partitions. If the re-wrap fails, the plain checkpoint is returned
    and the first failure warns."""
    if order_by:
        # no explicit partition count (r11): REPARTITION_BY_COL is
        # AQE-coalescible, so a kilobyte-sized input lands in one
        # partition (one task per two-pass job instead of 32) while
        # large inputs keep spark.sql.shuffle.partitions — the
        # scale-adaptive layout; an explicit n is exempt from AQE
        # coalescing and pinned 32 tasks on every tiny window table.
        sdf = (sdf.repartitionByRange(*order_by)
               .sortWithinPartitions(*order_by))
    # eager=False (r12): every caller's pass 1 (totals/donors/ends
    # collect) is the first consumer and materializes the blocks in
    # its own job — same frozen layout for both passes, one fewer
    # eager job/pass per scheme
    ck = (sdf.withColumn("__mid__", F.monotonically_increasing_id())
          .withColumn("__pid__", F.spark_partition_id())
          .localCheckpoint(eager=False))
    if not order_by:
        return ck
    try:
        return _declared_layout(ck)
    except Exception as exc:  # internal JVM API: any failure falls back
        global _UNDECLARED_WARNED
        if not _UNDECLARED_WARNED:
            _UNDECLARED_WARNED = True
            warnings.warn(
                f"range layouts cannot declare their partitioning on "
                f"this Spark ({type(exc).__name__}: {exc}); ordered ops "
                f"re-shuffle each layout by __pid__", RuntimeWarning,
                stacklevel=3)
        return ck


# set once the first failed re-wrap has warned
_UNDECLARED_WARNED = False


def _declared_layout(ck: DataFrame) -> DataFrame:
    """``ck`` (a localCheckpoint whose partition i holds exactly the
    rows with ``__pid__ = i``, in ascending ``__mid__``) re-wrapped in
    a ``LogicalRDD`` that declares ``RangePartitioning([__pid__ ASC],
    n)`` and the ordering ``[__pid__ ASC, __mid__ ASC]``. Range, never
    hash: a shuffled join does not take a range partitioning of more
    than one partition as co-partitioned with its other side, so it
    still exchanges both, while a declared hash partitioning would
    claim a hash placement the rows do not have. ``LogicalRDD`` and
    ``classic.Dataset.ofRows`` are internal APIs; any failure here
    raises to :func:`_range_layout`."""
    jvm = ck.sparkSession._jvm
    jsession = ck.sparkSession._jsparkSession
    lp = ck._jdf.queryExecution().analyzed()
    order = ck.sortWithinPartitions("__pid__", "__mid__") \
        ._jdf.queryExecution().analyzed().order()
    part = jvm.org.apache.spark.sql.catalyst.plans.physical \
        .RangePartitioning(order.take(1), lp.rdd().getNumPartitions())
    opt = jvm.scala.Option
    lrdd = jvm.org.apache.spark.sql.execution.LogicalRDD(
        lp.output(), lp.rdd(), part, order, False, opt.apply(None),
        jsession, opt.apply(lp.stats()), opt.apply(None))
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jsession, lrdd),
        ck.sparkSession)


def _add(a, b):
    """The JVM's non-ANSI ``+``: integers wrap at 64 bits, as numpy's
    int64 cumsum does."""
    s = a + b
    return (s + 2 ** 63) % 2 ** 64 - 2 ** 63 if isinstance(s, int) else s


def _nullsafe(op):
    return lambda loc, pre: F.when(pre.isNull(), loc).otherwise(
        F.when(loc.isNull(), pre).otherwise(op(loc, pre)))


# per prefix kind: the partition-local running aggregate, the driver
# merge of two non-null partition ends (None is every kind's
# identity), and pass 2's merge of the local running value with the
# partition's carry
_PREFIX_LOCAL = {
    "sum": F.sum, "count": F.count, "prod": F.product,
    "min": F.min, "max": F.max,
    "last": lambda c: F.last(c, ignorenulls=True),
}
_PREFIX_MERGE = {
    "sum": _add, "count": _add, "prod": lambda a, b: a * b,
    "min": min, "max": max, "last": lambda a, b: b,
}
_PREFIX_COMBINE = {
    "sum": _nullsafe(lambda loc, pre: loc + pre),
    "count": lambda loc, pre: loc + F.coalesce(pre, F.lit(0)),
    "prod": _nullsafe(lambda loc, pre: loc * pre),
    "min": F.least, "max": F.greatest, "last": F.coalesce,
}


def _prefix_merged(o: str, kind: str, w):
    """Pass 2 of the prefix schemes: the running ``kind`` aggregate of
    ``__v_{o}__`` over the partition-local window ``w``, merged with
    the partition's carry ``__p_{o}__``."""
    return _PREFIX_COMBINE[kind](
        _PREFIX_LOCAL[kind](F.col(f"__v_{o}__")).over(w),
        F.col(f"__p_{o}__"))


def with_prefix_aggs(sdf: DataFrame, specs: dict, order_by: list | None,
                     inclusive: bool = True,
                     return_stats: bool = False):
    """Partition-safe GLOBAL running aggregates (parallel prefix scan).

    ``specs``: {out_name: (value Column/name, kind)} with kind in
    {'sum','count','prod','min','max','last'} — the associative
    aggregates; 'last' is the most recent non-null value (the
    carry-forward behind global as-of joins and un-keyed ffill), and
    running mean/var/std compose from the others (sum/sum² /count are
    all prefix sums). For each spec the output column holds the
    running aggregate over all rows up to (and, if ``inclusive``,
    including) the current row in the global ``order_by`` order.
    Integer sums wrap at 64 bits, as the JVM's and numpy's do.

    The naive plan — ``agg OVER (ORDER BY ...)`` with no partition —
    collapses to ONE partition. Here: (1) partition-local running
    aggregates via a pid-partitioned window, (2) per-partition TOTALS
    (one row per partition) collected and prefix-combined on the
    driver — n_partitions scalars, kilobytes at thousands of
    partitions — (3) shipped back as a ``local_table`` (an Arrow
    LocalRelation, no Python worker), broadcast-joined and merged
    into the local scans.
    Identical results, no data-sized single-partition stage.
    """
    from pyspark.sql import types as T

    prepared = {o: (_as_col(c), kind) for o, (c, kind) in specs.items()}
    sdf = _range_layout(
        sdf.select("*", *[c.alias(f"__v_{o}__")
                          for o, (c, _) in prepared.items()]),
        order_by)

    def total(o, kind):
        v = F.col(f"__v_{o}__")
        # 'last': the non-null value at the partition's largest row id
        # (deterministic, unlike a groupBy last)
        return (F.max_by(v, F.when(v.isNotNull(), F.col("__mid__")))
                if kind == "last" else _PREFIX_LOCAL[kind](v))

    totals = sdf.groupBy("__pid__").agg(*[
        total(o, kind).alias(f"__p_{o}__")
        for o, (_, kind) in prepared.items()])
    carries, acc = _pid_fold(
        {r[0]: tuple(r[1:]) for r in totals.collect()},
        _skip_nulls([_PREFIX_MERGE[k] for _, k in prepared.values()]),
        (None,) * len(prepared))
    pre_df = local_table(
        sdf.sparkSession, [(int(p), *c) for p, c in carries.items()],
        T.StructType([T.StructField(f.name, f.dataType)
                      for f in totals.schema]))

    w = (Window.partitionBy("__pid__").orderBy(F.col("__mid__").asc())
         .rowsBetween(Window.unboundedPreceding,
                      0 if inclusive else -1))
    out = sdf.join(F.broadcast(pre_df), "__pid__").withColumns({
        o: _prefix_merged(o, kind, w) for o, (_, kind) in prepared.items()})
    out = out.drop("__pid__", "__mid__",
                   *[f"__v_{o}__" for o in prepared],
                   *[f"__p_{o}__" for o in prepared])
    if return_stats:
        # the fold's final acc holds each spec's GLOBAL total — pass 1
        # already paid for it, so callers get e.g. the row count (a
        # 'count' spec's total) for free, with no extra job
        return out, dict(zip(prepared, acc))
    return out


def with_prefix_aggs_shifted(sdf: DataFrame, specs: dict, window: int,
                             order_by: list | None) -> DataFrame:
    """Fused GLOBAL prefix aggregates PLUS their ``window``-row-ago
    twins — the building blocks of a trailing rolling window
    (rolling(i) = prefix(i) - prefix(i - window)) — from ONE range
    layout and ONE donor collect.

    ``specs`` is :func:`with_prefix_aggs`'s mapping restricted to the
    kinds a rolling difference needs ({'sum', 'count'} — min/max do
    not decompose and go through :func:`with_rolling_locals`). Each
    ``out_name`` gains a sibling ``out_name[:-2] + 'w__'`` holding
    the merged prefix ``window`` rows earlier in the global order
    (NULL before the global edge), exactly what the old composition
    ``with_boundary_shifts(with_prefix_aggs(...), window)`` produced
    while paying a SECOND repartitionByRange + sort + checkpoint of
    the whole table and a second driver collect.

    One collect serves both passes: the donor query evaluates the
    partition-LOCAL prefix windows for the last ``window`` rows of
    every partition; the drn==1 row's local prefix IS the partition
    total, so the driver folds the cross-partition offsets from the
    same rows, merges donors to GLOBAL prefixes with the same merge
    (IEEE double adds match the JVM's), and walks the boundary carry
    exactly like with_boundary_shifts.
    """
    from pyspark.sql import types as T

    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    prepared = {}
    for out_name, (col, kind) in specs.items():
        if kind not in ("sum", "count"):
            raise ValueError(
                f"with_prefix_aggs_shifted supports sum/count, got "
                f"{kind!r} (min/max do not decompose; use "
                f"with_rolling_locals)")
        prepared[out_name] = (_as_col(col), kind)

    sdf = _range_layout(
        sdf.select("*", *[c.alias(f"__v_{o}__")
                          for o, (c, _) in prepared.items()]),
        order_by)

    w = Window.partitionBy("__pid__").orderBy(F.col("__mid__").asc())
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    desc_w = Window.partitionBy("__pid__").orderBy(
        F.col("__mid__").desc())
    # ONE collect: local prefixes at each partition's last `window`
    # rows (drn==1 == the partition total)
    names = [f"__p_{o}__" for o in prepared]
    donors = (sdf.select("__pid__", "__mid__", *[
        _PREFIX_LOCAL[kind](F.col(f"__v_{o}__")).over(run).alias(n)
        for n, (o, (_, kind)) in zip(names, prepared.items())])
        .withColumn("__drn__", F.row_number().over(desc_w))
        .where(F.col("__drn__") <= window)
        .select("__pid__", "__drn__", *names))
    types = {n: donors.schema[n].dataType for n in names}
    tails = _donor_runs(donors.collect(), "__drn__", window, names)
    merge = _skip_nulls([_PREFIX_MERGE[k] for _, k in prepared.values()])
    offsets, _ = _pid_fold({p: r[-1] for p, r in tails.items()}, merge,
                           (None,) * len(prepared))

    off_df = local_table(
        sdf.sparkSession, [(int(p), *c) for p, c in offsets.items()],
        T.StructType([T.StructField("__pid__", T.IntegerType())]
                     + [T.StructField(n, t) for n, t in types.items()]))
    # the edge walk carries the donors' GLOBAL prefixes (pass 2's merge)
    out = _edge_carry(
        sdf, {p: [merge(offsets[p], v) for v in r]
              for p, r in tails.items()},
        window, False, w,
        {f"__cv_{o}__": types[n] for o, n in zip(prepared, names)}) \
        .join(F.broadcast(off_df), "__pid__", "left")
    # merged prefixes first (a later select may lag a plain column,
    # never a window expression)
    out = out.select("*", *[_prefix_merged(o, kind, run).alias(o)
                            for o, (_, kind) in prepared.items()])
    out = out.withColumns({
        o[:-2] + "w__": F.when(F.col("__ern__") <= window,
                               F.col(f"__cv_{o}__"))
        .otherwise(F.lag(F.col(o), window).over(w)) for o in prepared})
    return out.drop("__pid__", "__mid__", "__ern__", *names,
                    *[f"__v_{o}__" for o in prepared],
                    *[f"__cv_{o}__" for o in prepared])


def _geo(k: int, rr: float):
    """Geometric partial sums S_t = 1 + rr + ... + rr^(t-1) and decays
    rr^t for t = 1..k: pandas' ewm mean M0 times S is the decayed sum
    num_t = sum_j rr^(t-j) * z_j, and an incoming carry c contributes
    c * rr^t."""
    t1 = np.arange(1, k + 1, dtype=np.float64)
    S = np.ones(k) if rr == 0 else (1 - rr ** t1) / (1 - rr)
    return S, rr ** t1


def _k(z, a: float):
    """pandas' C ewm(adjust=True) mean kernel over one array."""
    import pandas as pd
    return pd.Series(z).ewm(alpha=a, adjust=True,
                            min_periods=0).mean().to_numpy()


def _carry_scan(sdf: DataFrame, order_by: list | None, inputs: dict,
                fresh, scan, combine, out_cols: list) -> DataFrame:
    """The two-pass carry driver of every EWM family; the contract is
    in the module docstring."""
    import pandas as pd
    from pyspark.sql import types as T

    sdf = _range_layout(
        sdf.select("*", *[c.alias(n) for n, c in inputs.items()]),
        order_by)
    ends_schema = T.StructType(
        [T.StructField("__pid__", T.IntegerType())]
        + [T.StructField(f"__e{j}__", T.DoubleType())
           for j in range(len(fresh()))])

    def _ends(it):
        state, pid = fresh(), None
        for b in it:
            if len(b):
                pid = int(b["__pid__"].iloc[0])
                scan(b, state, False)
        if pid is not None:
            yield pd.DataFrame([[pid, *map(float, state)]],
                               columns=ends_schema.names)

    # Arrow ships NaN as NULL: restore it before the fold
    nan = float("nan")
    ends = {int(r[0]): [nan if v is None else v for v in r[1:]]
            for r in sdf.select("__pid__", *inputs)
            .mapInPandas(_ends, ends_schema).collect()}
    carries, _ = _pid_fold(ends, combine, fresh())

    def _emit(it):
        state = None
        for b in it:
            if len(b):
                if state is None:
                    state = list(carries.get(int(b["__pid__"].iloc[0]),
                                             fresh()))
                yield b.assign(**scan(b, state, True))

    out_schema = T.StructType(
        list(sdf.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in out_cols])
    return (sdf.mapInPandas(_emit, out_schema)
            .drop("__pid__", "__mid__", *inputs))


def _pair_inputs(specs: dict, ok_stats: tuple):
    """Validate ``tag -> (x, y, stats)`` specs and name their double
    helper columns: returns (inputs, {tag: (x_name, y_name)},
    {tag: stats}) — plain values the executor closures can capture
    (the specs hold Columns, which do not pickle). A tag whose x and
    y are the same column reads one helper for both."""
    inputs, cols, stats = {}, {}, {}
    for t, (cx, cy, sts) in specs.items():
        stats[t] = tuple(sts)
        bad = [s for s in sts if s not in ok_stats]
        if bad:
            raise ValueError(f"unsupported ewm stats: {bad}")
        xn = yn = f"__ex_{t}__"
        inputs[xn] = _as_col(cx).cast("double")
        if not (cx is cy or (isinstance(cx, str) and cx == cy)):
            yn = f"__ey_{t}__"
            inputs[yn] = _as_col(cy).cast("double")
        cols[t] = (xn, yn)
    return inputs, cols, stats


def _xy(b, names):
    x = b[names[0]].to_numpy(dtype=np.float64)
    return x, (x if names[1] == names[0]
               else b[names[1]].to_numpy(dtype=np.float64))


# the decayed sums an adjust=True tag can carry, in state order: the
# weighted x, y, xy, x^2, y^2, the weight den = sum(w), and the
# debias term d2 = sum(w^2), which decays with r^2
_ADJ_SUMS = ("x", "y", "xy", "xx", "yy", "w", "w2")
_ADJ_SAME = {"y": "x", "xy": "xx", "yy": "xx"}


def with_ewm_stats_multi(sdf: DataFrame, specs: dict, alpha: float,
                         order_by: list | None, min_periods: int = 0,
                         ignore_na: bool = False,
                         bias: bool = False) -> DataFrame:
    """Partition-safe GLOBAL ``ewm(adjust=True)`` statistics for ANY
    number of column pairs from ONE range layout.

    ``specs`` maps tag -> (x_col, y_col, stats). ``sum``, ``mean``,
    ``var`` and ``std`` describe x (pass the same column twice);
    ``cov`` and ``corr`` pair x with y. Outputs
    ``__ewm_<stat>_<tag>__``.

    Every adjust=True moment is a ratio of fixed-weight decayed sums
    over the tag's observations (joint null mask for pairs):
    sum = num; mean = num/den; var (bias=False) = den^2/(den^2 - d2)
    * (sum(w x^2)/den - mean^2); cov likewise with sum(w x y); corr is
    the biased ratio (the debias factor cancels). A tag carries only
    the sums its stats read, so a mean-only tag runs just the num/den
    kernels. The recurrence num_t = x_t + r num_{t-1} (r = 1 - alpha)
    has no prefix-sum form (the closed form needs r^-t, which
    overflows within ~700 rows), so local sums come from pandas' C
    kernel via num_t = M0_t * S_t (:func:`_geo`) and the carry merges
    as carry * r^steps + end; d2 is the den of an ewm with
    alpha2 = 1 - r^2 and decays with r^2. ``ignore_na=True`` decays
    per observation: the kernels run on the null-compacted
    subsequence and the sums forward-fill across nulls. Where den
    degenerates to 0 after an observation (alpha == 1, or r^k
    underflow over a long null run) pandas carries the last mean
    forward, so the last mean rides the carry too.
    """
    import pandas as pd

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    inputs, cols, stats = _pair_inputs(
        specs, ("sum", "mean", "var", "std", "cov", "corr"))
    r = 1.0 - alpha
    # per tag: the sums its stats read, and where its state starts;
    # state = [rows] + per tag [<sums>, obs, last_mean]
    sums, base, at = {}, {}, 1
    for t, sts in stats.items():
        need = {"x", "w"}
        if {"var", "std"} & set(sts):
            need |= {"xx", "w2"}
        if "cov" in sts:
            need |= {"y", "xy", "w2"}
        if "corr" in sts:
            need |= {"y", "xy", "xx", "yy"}
        if bias:
            need.discard("w2")
        if cols[t][0] == cols[t][1]:
            need = {_ADJ_SAME.get(c, c) for c in need}
        sums[t] = [c for c in _ADJ_SUMS if c in need]
        base[t] = at
        at += len(sums[t]) + 2

    def fresh():
        st = [0.0] * at
        for t in stats:
            st[base[t] + len(sums[t]) + 1] = float("nan")
        return st

    def _decayed(x, y, mask, names, inc):
        """Per-row decayed sums ``names`` seeded with ``inc``."""
        if ignore_na:
            idx = np.flatnonzero(mask)
            x, y, w = x[idx], y[idx], None
            k = len(idx)
        else:
            w = mask.astype(np.float64)
            x, y = np.where(mask, x, 0.0), np.where(mask, y, 0.0)
            k = len(mask)
        S, e = _geo(k, r)
        pick = {"x": x, "y": y}
        out = []
        for c, c0 in zip(names, inc):
            if c == "w2":
                S2, e2 = _geo(k, r * r)
                v = (S2 if w is None else _k(w, 1.0 - r * r) * S2) \
                    + c0 * e2
            elif c == "w":
                v = (S if w is None else _k(w, alpha) * S) + c0 * e
            else:
                z = pick[c[0]] * pick[c[1]] if len(c) == 2 else pick[c]
                v = _k(z, alpha) * S + c0 * e
            if ignore_na:
                # nulls neither decay nor add terms: forward-fill,
                # and leading nulls keep the incoming sum
                full = np.full(len(mask), np.nan)
                full[idx] = v
                v = pd.Series(full).ffill().to_numpy()
                v[np.isnan(v)] = c0
            out.append(v)
        return out

    mp = max(min_periods, 1)

    def scan(b, st, emit):
        out = {}
        for t, sts in stats.items():
            x, y = _xy(b, cols[t])
            mask = ~(np.isnan(x) | np.isnan(y))
            o, names = base[t], sums[t]
            n = len(names)
            vals = _decayed(x, y, mask, names, st[o:o + n])
            st[o:o + n] = [v[-1] for v in vals]
            cnt = st[o + n] + np.cumsum(mask)
            st[o + n] = cnt[-1]
            v = dict(zip(names, vals))
            if cols[t][0] == cols[t][1]:
                v.update({a: v.get(c) for a, c in _ADJ_SAME.items()})
            den = v["w"]
            with np.errstate(invalid="ignore", divide="ignore"):
                mx = np.where(den > 0, v["x"] / den, np.nan)
                if "mean" in sts:
                    mean = pd.Series(mx).ffill().to_numpy()
                    mean[np.isnan(mean)] = st[o + n + 1]
                    st[o + n + 1] = mean[-1]
                if not emit:
                    continue
                gate = cnt >= mp
                for s in sts:
                    if s == "sum":
                        res = v["x"]
                    elif s == "mean":
                        res = mean
                    elif s in ("var", "std"):
                        res = np.maximum(v["xx"] / den - mx * mx, 0.0)
                        # sum-of-squares cancellation leaves ~1e-14
                        # relative residue on constant windows where
                        # pandas' recurrence keeps exact 0
                        res[res < 1e-12 * np.abs(v["xx"] / den)] = 0.0
                    else:
                        my = v["y"] / den
                        res = v["xy"] / den - mx * my
                        if s == "corr":
                            cc = np.sqrt(
                                np.maximum(v["xx"] / den - mx * mx, 0.0)
                                * np.maximum(v["yy"] / den - my * my,
                                             0.0))
                            # zero variance on either side: NaN, never
                            # +-inf from a cancellation residue
                            res = np.where(cc > 0, res / cc, np.nan)
                    if s in ("var", "std", "cov") and not bias:
                        # relative singularity test: den^2 - d2 is
                        # zero at one obs only up to fp noise of the
                        # M0*S roundtrip
                        dd = den * den - v["w2"]
                        res = np.where(dd > 1e-12 * den * den,
                                       den * den / dd * res, np.nan)
                    if s == "std":
                        res = np.sqrt(res)
                    ok = gate if s in ("sum", "mean") else gate & (den > 0)
                    out[f"__ewm_{s}_{t}__"] = np.where(ok, res, np.nan)
        st[0] += len(b)
        return out

    def combine(acc, e):
        out = list(acc)
        for t in stats:
            o, names = base[t], sums[t]
            n = len(names)
            # decay steps: rows, or this tag's observations (ignore_na)
            steps = e[o + n] if ignore_na else e[0]
            for j, c in enumerate(names):
                out[o + j] = acc[o + j] * (
                    r * r if c == "w2" else r) ** steps + e[o + j]
            out[o + n] = acc[o + n] + e[o + n]
            if not np.isnan(e[o + n + 1]):
                out[o + n + 1] = e[o + n + 1]
        return out

    return _carry_scan(sdf, order_by, inputs, fresh, scan, combine,
                       [f"__ewm_{s}_{t}__" for t, sts in stats.items()
                        for s in sts])


def with_ewm_noadjust_stats(sdf: DataFrame, specs: dict, alpha: float,
                            order_by: list | None,
                            min_periods: int = 0,
                            ignore_na: bool = False,
                            bias: bool = False) -> DataFrame:
    """Partition-safe GLOBAL ``ewm(adjust=False)`` statistics —
    ``mean``/``var``/``std``/``cov``/``corr`` — for ANY number of
    column pairs from ONE range layout.

    ``specs`` maps tag -> (x_col, y_col, stats tuple); mean/var/std
    pass the same column twice. Outputs ``__ewmna_<stat>_<tag>__``.

    adjust=False is pandas' recursive form y_t = (1-a)*y_{t-1} + a*x_t
    and renormalizes at every observation (the ewmcov kernel resets
    old_wt to 1), so unlike adjust=True these moments are NOT
    fixed-weight decayed sums. The carry is instead the kernel's full
    state (mean_x, mean_y, cov, sum_wt2, old_wt) and each observation
    applies a contraction:

    - zero-carry per-batch values come from pandas' C kernel
      (``ewm(adjust=False).mean/cov/var(bias=True)``); the zero-carry
      debias track v = sum_wt2/sum_wt^2 comes from the bias=True /
      bias=False ratio of a synthetic strictly-increasing series
      with the same null pattern (the ratio depends only on the gap
      structure, and the kernel's recurrence form keeps it exact).
      A mean-only tag runs just the mean kernel;
    - an incoming carry (m_x, m_y, c.., v, w) folds in at the batch's
      first observation (Moebius merge A = r^gap * w), producing
      perturbations delta_m = p*(m_in - x1), gamma (cov merge), and
      nu = v_first - 1;
    - the perturbations propagate through later observations as
      m_t = m0_t + P_t*delta, v_t = v0_t + P_t^2*nu, and
      c_t = c0_t + P_t*(gamma + dx*SY_t + dy*SX_t + dx*dy*SP_t),
      where P_t = prod(rho_i) over observations after the first
      (rho_i = r^gap/(r^gap+alpha)) and SX/SY/SP are bounded
      cumulative sums — the position weights cancel analytically
      (X_i/P_i collapses to (1-rho_i)*(m0_{i-1} - x_i)), so nothing
      overflows. Pass 1 exports, per partition, the zero-carry end
      state plus the map coefficients (pre-first-obs steps, first
      observation, ln P, SX/SY/SP), which is all the driver needs to
      fold partitions;
    - the merge formulas are FACTORED so a constant history yields
      exact zeros (dx = p*(m_in-x1), gamma = A*c_in/w +
      Dx*Dy*(A*s^2+alpha*p^2)/w): constant windows keep pandas'
      exact-0 variance and NaN corr with no clamp at all.

    The debias test is pandas' own ``denominator > 0`` (exact), not a
    relative threshold — pandas divides even at D ~ 1e-16 after long
    gaps. Known divergence: after a gap long enough that r^gap is
    ~1e-50, pandas' kernel variance is dominated by the cancellation
    residue of (cur - mean) (~(eps*|x|)^2, observed 4.9e-32 where the
    true moment is 1.4e-52); the factored carry here computes the
    exact tiny moment instead, so corr at such singular points can
    disagree with pandas' artifact. Reference: the reference engine
    has no ewm at all (pandas-parity extension).
    """
    import math as _math
    import pandas as pd

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    inputs, cols, stats = _pair_inputs(
        specs, ("mean", "var", "std", "cov", "corr"))
    r = 1.0 - alpha
    tags = list(stats)
    moments = {t: any(s != "mean" for s in sts)
               for t, sts in stats.items()}

    # per-tag state layout:
    # 0 mx, 1 my, 2 cxy, 3 cxx, 4 cyy, 5 v, 6 w, 7 cnt, 8 has_obs,
    # 9 pre_steps, 10 x1, 11 y1, 12 lnPi, 13 SX, 14 SY, 15 SP,
    # 16 no_obs_steps; the driver carry is fields 0-8
    W = 17
    nan = float("nan")
    _FRESH = [nan, nan, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0,
              0.0, nan, nan, 0.0, 0.0, 0.0, 0.0, 0.0]

    def fresh():
        return _FRESH * len(tags)

    def _m_merge(st, x1v, y1v, A):
        """Fold incoming (m, c, v, w) into the first observation;
        factored so constant histories give EXACT zero perturbations."""
        w_ = A + alpha
        p_, s_ = A / w_, alpha / w_
        Dx, Dy = st[0] - x1v, st[1] - y1v
        dx, dy = p_ * Dx, p_ * Dy
        coef = (A * s_ * s_ + alpha * p_ * p_) / w_
        gxy = (A * st[2]) / w_ + Dx * Dy * coef
        gxx = (A * st[3]) / w_ + Dx * Dx * coef
        gyy = (A * st[4]) / w_ + Dy * Dy * coef
        nu = (st[5] * A * A + alpha * alpha) / (w_ * w_) - 1.0
        return dx, dy, gxy, gxx, gyy, nu, p_

    def _tag_scan(x, y, st, summarize, moments):
        """Advance one tag's state across one batch; returns per-row
        (mx, my, cxy, cxx, cyy, v, cnt)."""
        L = len(x)
        mask = ~(np.isnan(x) | np.isnan(y))
        obs = np.flatnonzero(mask)
        k = len(obs)
        cnt = st[7] + np.cumsum(mask)
        if k == 0:
            rows = [np.full(L, st[j]) for j in range(6)]
            if not ignore_na:
                st[6] *= r ** L
                if not st[8]:
                    st[9] += L
                    st[16] += L
            return (*rows, cnt)
        if ignore_na:
            d = np.ones(k)
        else:
            d = np.empty(k)
            d[0] = obs[0] + 1.0
            d[1:] = np.diff(obs).astype(np.float64)
        xm = np.where(mask, x, np.nan)
        kw = dict(alpha=alpha, adjust=False, ignore_na=ignore_na,
                  min_periods=0)
        sxm = pd.Series(xm)
        mx0 = sxm.ewm(**kw).mean().to_numpy()
        if y is x:
            my0 = mx0
        else:
            sym = pd.Series(np.where(mask, y, np.nan))
            my0 = sym.ewm(**kw).mean().to_numpy()
        if not moments:
            # mean only: the moment tracks ride along unread
            cxy0 = cxx0 = cyy0 = np.zeros(L)
            v0 = np.ones(L)
        else:
            cxx0 = sxm.ewm(**kw).var(bias=True).to_numpy()
            if y is x:
                cyy0, cxy0 = cxx0, cxx0.copy()
            else:
                cyy0 = sym.ewm(**kw).var(bias=True).to_numpy()
                cxy0 = sxm.ewm(**kw).cov(sym, bias=True).to_numpy()
            # bias=True cov is 0.0 from the first obs (kernel cov
            # state); pandas surfaces NaN pre-min_periods — normalize
            seen = np.cumsum(mask) > 0
            for c0 in ((cxy0, cxx0) if y is x else (cxy0, cxx0, cyy0)):
                c0[seen & np.isnan(c0)] = 0.0
            ssy = pd.Series(np.where(mask, np.arange(L, dtype=np.float64),
                                     np.nan))
            vb = ssy.ewm(**kw).var(bias=True).to_numpy()
            vu = ssy.ewm(**kw).var(bias=False).to_numpy()
            with np.errstate(invalid="ignore", divide="ignore"):
                v0 = 1.0 - vb / vu
            v0[obs[0]] = 1.0
            v0 = pd.Series(v0).ffill().to_numpy()
        with np.errstate(divide="ignore"):
            rho = r ** d / (r ** d + alpha)
        i0 = obs[0]
        if np.isnan(st[0]):
            if not st[8]:
                st[9] += (i0 + 1.0) if not ignore_na else 1.0
                st[10], st[11] = x[i0], y[i0]
            dx = dy = gxy = gxx = gyy = nu = 0.0
            first_lp = None
        else:
            A = (r ** (d[0] if not ignore_na else 1.0)) * st[6]
            dx, dy, gxy, gxx, gyy, nu, p_ = _m_merge(
                st, x[i0], y[i0], A)
            first_lp = np.log(p_) if p_ > 0 else -np.inf
        had_prior = bool(st[8])
        lnPi_in = st[12]
        pre_mx, pre_my = st[0], st[1]
        st[8] = 1.0
        lnp = np.zeros(L)
        with np.errstate(divide="ignore"):
            lnp[obs[1:]] = np.log(rho[1:])
        cl = np.cumsum(lnp)
        Pi = np.exp(cl)
        SX_t = np.zeros(L)
        SY_t = np.zeros(L)
        SP_t = np.zeros(L)
        if k > 1:
            o2 = obs[1:]
            omr = 1.0 - rho[1:]
            sx = np.zeros(L)
            sy = np.zeros(L)
            sp = np.zeros(L)
            sx[o2] = omr * (mx0[obs[:-1]] - x[o2])
            sy[o2] = omr * (my0[obs[:-1]] - y[o2])
            sp[o2] = np.exp(cl[obs[:-1]]) * omr
            SX_t = np.cumsum(sx)
            SY_t = np.cumsum(sy)
            SP_t = np.cumsum(sp)
        mx_t = mx0 + Pi * dx
        my_t = my0 + Pi * dy
        cxy_t = cxy0 + Pi * (gxy + dx * SY_t + dy * SX_t
                             + dx * dy * SP_t)
        cxx_t = cxx0 + Pi * (gxx + 2 * dx * SX_t + dx * dx * SP_t)
        cyy_t = cyy0 + Pi * (gyy + 2 * dy * SY_t + dy * dy * SP_t)
        v_t = v0 + Pi * Pi * nu
        for arr, j in ((mx_t, 0), (my_t, 1), (cxy_t, 2), (cxx_t, 3),
                       (cyy_t, 4), (v_t, 5)):
            arr[:i0] = st[j]
        if summarize:
            # partition-level correction sums: one term per obs after
            # the partition's first, on the zero-state trajectory the
            # ends pass computes; P_{i-1} is the PARTITION product
            if first_lp is not None and had_prior:
                rho_f = np.exp(first_lp)
                st[13] += (1.0 - rho_f) * (pre_mx - x[i0])
                st[14] += (1.0 - rho_f) * (pre_my - y[i0])
                st[15] += np.exp(lnPi_in) * (1.0 - rho_f)
                base_ln = lnPi_in + first_lp
            else:
                base_ln = lnPi_in
            if k > 1:
                o2 = obs[1:]
                omr = 1.0 - rho[1:]
                st[13] += float(np.sum(omr * (mx_t[obs[:-1]] - x[o2])))
                st[14] += float(np.sum(omr * (my_t[obs[:-1]] - y[o2])))
                st[15] += float(np.sum(
                    np.exp(base_ln + cl[obs[:-1]]) * omr))
            if first_lp is not None:
                st[12] += first_lp
            st[12] += float(np.sum(lnp[obs[1:]]))
        last = obs[-1]
        st[0], st[1] = mx_t[last], my_t[last]
        st[2], st[3], st[4] = cxy_t[last], cxx_t[last], cyy_t[last]
        st[5] = v_t[last]
        st[6] = r ** (L - 1 - last) if not ignore_na else 1.0
        st[7] += k
        return mx_t, my_t, cxy_t, cxx_t, cyy_t, v_t, cnt

    mp = max(min_periods, 1)

    def scan(b, state, emit):
        out = {}
        for ti, (t, sts) in enumerate(stats.items()):
            x, y = _xy(b, cols[t])
            st = state[ti * W:(ti + 1) * W]
            mx, my, cxy, cxx, cyy, v, cnt = _tag_scan(
                x, y, st, not emit, moments[t])
            state[ti * W:(ti + 1) * W] = st
            if not emit:
                continue
            gate = cnt >= mp
            with np.errstate(invalid="ignore", divide="ignore"):
                D = 1.0 - v
                for s in sts:
                    if s == "mean":
                        val = mx
                    elif s == "corr":
                        den = np.sqrt(np.maximum(cxx, 0.0)
                                      * np.maximum(cyy, 0.0))
                        val = np.where(den > 0, cxy / den, np.nan)
                    else:
                        val = (np.maximum(cxx, 0.0) if s != "cov"
                               else cxy)
                        if not bias:
                            val = np.where(D > 0, val / D, np.nan)
                        if s == "std":
                            val = np.sqrt(val)
                    out[f"__ewmna_{s}_{t}__"] = np.where(gate, val,
                                                         np.nan)
        return out

    def _combine(acc, ends):
        """Per-tag carry merge: acc = the (mx, my, cxy, cxx, cyy, v,
        w, cnt) carry; ends = one partition's 17 exported fields."""
        if not ends[8]:
            if not ignore_na:
                return acc[:6] + [acc[6] * r ** ends[16], acc[7]]
            return acc
        if _math.isnan(acc[0]):
            return ends[:8]
        A = (r ** ends[9]) * acc[6]
        dx, dy, gxy, gxx, gyy, nu, _p = _m_merge(acc, ends[10],
                                                 ends[11], A)
        P = _math.exp(ends[12])
        SX, SY, SP = ends[13], ends[14], ends[15]
        return [ends[0] + P * dx,
                ends[1] + P * dy,
                ends[2] + P * (gxy + dx * SY + dy * SX + dx * dy * SP),
                ends[3] + P * (gxx + 2 * dx * SX + dx * dx * SP),
                ends[4] + P * (gyy + 2 * dy * SY + dy * dy * SP),
                ends[5] + P * P * nu,
                ends[6], acc[7] + ends[7]]

    def combine(acc, e):
        out = []
        for ti in range(len(tags)):
            c = _combine(acc[ti * W:ti * W + 8], e[ti * W:(ti + 1) * W])
            out += c + [0.0 if _math.isnan(c[0]) else 1.0] + _FRESH[9:]
        return out

    return _carry_scan(sdf, order_by, inputs, fresh, scan, combine,
                       [f"__ewmna_{s}_{t}__" for t, sts in stats.items()
                        for s in sts])


def with_ewm_mean_times_multi(sdf: DataFrame, values: dict,
                              time_col, halflife_us: float,
                              order_by: list | None,
                              min_periods: int = 0) -> DataFrame:
    """Partition-safe GLOBAL time-decay EWM mean (pandas
    ``ewm(halflife=Timedelta, times=...).mean()``) for ANY number of
    value columns over ONE layout: the weight of an observation
    decays with its actual STAMP distance, 0.5^(dt/hl), not its row
    distance. ``values`` maps tag -> Column; outputs
    ``__ewmt_<tag>__``.

    ROW-ORDER semantics, like pandas: decay deltas follow the
    ``order_by`` row sequence, and times need NOT be monotonic in
    it (a past-dated row simply carries weight > 1 relative to its
    predecessor — the signed analytic fold is the same algebra).
    Null stamps raise ValueError (pandas raises for NaT too); pass 1
    counts them and the driver fold raises before pass 2.

    The decayed sums are computed with a SEGMENTED anchor trick
    instead of pandas' fixed-alpha kernel: within a segment whose time
    span is < 50 halflives, num0_i = u_i * cumsum(x_j/u_j) with
    u = 2^(-(t-anchor)/hl) is exact to double precision (terms
    beyond 50 bits are below the accumulator's resolution — the
    same loss the sequential kernel has); segments chain through
    the ANALYTIC time-decay fold num_i += 2^(-(t_i-t_in)/hl)*num_in,
    which is also how the driver folds the partition end states and
    how partition carries merge in pass 2 — three scalars per tag per
    partition at any timestamp irregularity. NaN rows keep their
    weightless pandas semantics; a row whose total weight decays into
    the DENORMAL range forward-fills the last mean (the ratio num/den
    is invariant under pure decay, and a ~1e-322 denominator keeps
    two mantissa bits — observed emitting -5/7 for -0.706 before the
    guard), mirroring the adjust=True scan's last-mean carry.
    """
    import pandas as pd

    if halflife_us <= 0:
        raise ValueError(
            f"halflife must be positive, got {halflife_us}")
    hl = float(halflife_us)
    tags = list(values)
    inputs = {f"__ev_{t}__": _as_col(c).cast("double")
              for t, c in values.items()}
    inputs["__et__"] = F.unix_micros(
        _as_col(time_col).cast("timestamp")).cast("double")

    NEG = -1.0e300

    def fresh():
        # [t_last, null stamps] + per tag [num, den, cnt, last_mean]
        return [NEG, 0.0] + [0.0, 0.0, 0.0, float("nan")] * len(tags)

    span = 50.0 * hl

    def _segments(t):
        """Cut [0, L) into runs whose STAMP RANGE stays under 50
        halflives — the precision bound of the anchor trick. Rows
        arrive in ROW order (pandas computes decay deltas in row
        order, times need not be monotonic), so the general cut
        rule is the running max-min span; sorted stamps take the
        one-searchsorted-per-segment fast path. The chunked
        accumulates keep the general scan ~O(L) for locally
        near-monotonic data."""
        L = len(t)
        segs = []
        i = 0
        if L and bool(np.all(t[1:] >= t[:-1])):
            while i < L:
                j = max(int(np.searchsorted(t, t[i] + span,
                                            side="left")), i + 1)
                segs.append((i, j))
                i = j
            return segs
        CH = 4096
        while i < L:
            j, mx, mn = i, -np.inf, np.inf
            while j < L:
                k = min(j + CH, L)
                rm = np.maximum.accumulate(t[j:k])
                rn = np.minimum.accumulate(t[j:k])
                if mx > -np.inf:
                    rm = np.maximum(rm, mx)
                    rn = np.minimum(rn, mn)
                over = np.nonzero(rm - rn > span)[0]
                if len(over):
                    j += int(over[0])
                    break
                mx, mn = float(rm[-1]), float(rn[-1])
                j = k
            j = max(j, i + 1)
            segs.append((i, j))
            i = j
        return segs

    mp = max(min_periods, 1)

    def scan(b, st, emit):
        t = b["__et__"].to_numpy(dtype=np.float64)
        st[1] += float(np.isnan(t).sum())
        segs = _segments(t)
        out = {}
        for ti, tg in enumerate(tags):
            o = 2 + 4 * ti
            x = b[f"__ev_{tg}__"].to_numpy(dtype=np.float64)
            w = np.where(np.isnan(x), 0.0, 1.0)
            m = np.where(np.isnan(x), 0.0, x)
            num = np.empty(len(t))
            den = np.empty(len(t))
            n_in, d_in, t_in = st[o], st[o + 1], st[0]
            for (i, j) in segs:
                seg = slice(i, j)
                bb = (t[seg] - t[i]) / hl
                u = np.exp2(-bb)
                inv = np.exp2(bb)
                dk = (np.exp2(-(t[seg] - t_in) / hl)
                      if t_in > NEG else np.zeros(j - i))
                num[seg] = u * np.cumsum(m[seg] * inv) + dk * n_in
                den[seg] = u * np.cumsum(w[seg] * inv) + dk * d_in
                n_in, d_in, t_in = num[j - 1], den[j - 1], t[j - 1]
            cnt = st[o + 2] + np.cumsum(w)
            st[o], st[o + 1], st[o + 2] = n_in, d_in, cnt[-1]
            with np.errstate(invalid="ignore", divide="ignore"):
                # a row with an observation has den >= 1; den below
                # that only happens on NaN rows, where the true
                # output IS the previous mean (the ratio is
                # invariant under pure decay). Denormal-range dens
                # corrupt the ratio, so below 1e-250 forward-fill.
                y = np.where((den > 1e-250) & (cnt > 0), num / den,
                             np.nan)
            y = pd.Series(y).ffill().to_numpy()
            y[np.isnan(y)] = st[o + 3]
            st[o + 3] = y[-1]
            if emit:
                out[f"__ewmt_{tg}__"] = np.where(cnt >= mp, y, np.nan)
        st[0] = t[-1]
        return out

    def combine(acc, e):
        if e[1]:
            # pandas raises for NaT stamps too ("Cannot convert NaT
            # values to integer"); a NaN stamp would silently poison
            # the segment scan
            raise ValueError(
                "ewm(times=...): the times column has null stamp(s); "
                "pandas raises for NaT times too — drop or fill them "
                "first")
        t_end, acc_t = e[0], acc[0]
        # np.exp2, not 2.0**: times may run BACKWARD across a
        # partition boundary (row-order semantics), and a large
        # positive exponent must saturate to inf like the kernel
        # does, not raise OverflowError
        dk = (float(np.exp2(-(t_end - acc_t) / hl))
              if acc_t > NEG and t_end > NEG else 0.0)
        out = [t_end if t_end > NEG else acc_t, 0.0]
        for o in range(2, len(acc), 4):
            out += [e[o] + dk * acc[o], e[o + 1] + dk * acc[o + 1],
                    acc[o + 2] + e[o + 2],
                    acc[o + 3] if np.isnan(e[o + 3]) else e[o + 3]]
        return out

    return _carry_scan(sdf, order_by, inputs, fresh, scan, combine,
                       [f"__ewmt_{tg}__" for tg in tags])


def with_interp_neighbors_multi(sdf: DataFrame, values: dict,
                                order_by) -> DataFrame:
    """Everything linear interpolation needs from ONE range layout,
    for ANY number of columns at once: a dense global position
    ``__ip__`` plus per-tag ``__v_{t}__`` (the value),
    ``__iprev_{t}__`` / ``__inext_{t}__`` (nearest previous/next
    non-null (position, value) structs).

    Design (and why): the naive composition — with_dense_ordinal +
    a 'last' prefix scan forward + backward, PER COLUMN — pays three
    range layouts (repartition+sort+checkpoint each) and three
    driver round-trips per column; measured 30s at 16x sf0.1 where
    this fused pass is one layout, one Window stage, ONE
    per-partition stats collect, and one broadcast join for every
    column together. Both carries are RUNNING frames
    (unboundedPreceding -> current): Spark streams those in O(n),
    while a (current -> unboundedFollowing) frame with first()
    re-scans the tail per row — O(n^2), measured 4.5s -> 118s at 1x.
    The backward carry therefore runs over the SAME partitioning
    with the order reversed: a second in-partition sort, no
    exchange. Driver state stays n_partitions rows regardless of
    row count or column count.
    """
    tags = list(values)
    lay = _range_layout(
        sdf.select("*", *[c.alias(f"__v_{t}__")
                          for t, c in values.items()]), order_by)
    w = Window.partitionBy("__pid__").orderBy(F.col("__mid__").asc())
    wd = (Window.partitionBy("__pid__")
          .orderBy(F.col("__mid__").desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    lay = lay.withColumn("__rn__", F.row_number().over(w))

    def nn(t):
        v = F.col(f"__v_{t}__")
        return F.when(v.isNotNull(),
                      F.struct(F.col("__rn__").alias("p"),
                               v.alias("v")))

    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    for t in tags:
        lay = (lay
               .withColumn(f"__pl_{t}__",
                           F.last(nn(t), ignorenulls=True).over(wrun))
               .withColumn(f"__nl_{t}__",
                           F.last(nn(t), ignorenulls=True).over(wd)))

    # one job: per-partition row count + edge donors per column
    # (struct ordering is lexicographic; rn is unique per partition,
    # so max/min pick the last/first non-null row)
    aggs = [F.count(F.lit(1)).alias("n")]
    for t in tags:
        aggs += [F.max(nn(t)).alias(f"l_{t}"),
                 F.min(nn(t)).alias(f"f_{t}")]
    by_pid = {r["__pid__"]: r
              for r in lay.groupBy("__pid__").agg(*aggs).collect()}
    offsets, _ = _pid_fold({p: r["n"] for p, r in by_pid.items()}, _add, 0)

    def ends(side):
        # pid -> per tag the (global position, value) donor, or None
        def donor(p, s):
            return None if s is None else (offsets[p] + s["p"] - 1,
                                           float(s["v"]))
        return {p: tuple(donor(p, r[f"{side}_{t}"]) for t in tags)
                for p, r in by_pid.items()}

    newer = _skip_nulls([_PREFIX_MERGE["last"]] * len(tags))
    pre, _ = _pid_fold(ends("l"), newer, (None,) * len(tags))
    suf, _ = _pid_fold(ends("f"), newer, (None,) * len(tags), True)
    rows = [(int(p), int(offsets[p]),
             *[v for a, b in zip(pre[p], suf[p])
               for v in (*(a or (None, None)), *(b or (None, None)))])
            for p in by_pid]

    spark = lay.sparkSession
    schema = ["__pid__ INT", "__off__ LONG"]
    for t in tags:
        schema += [f"__pp_{t}__ LONG", f"__pv_{t}__ DOUBLE",
                   f"__np_{t}__ LONG", f"__nv_{t}__ DOUBLE"]
    fill = local_table(spark, rows, ", ".join(schema))
    out = lay.join(F.broadcast(fill), "__pid__")

    def glob(local, fill_p, fill_v):
        s = F.col(local)
        return F.when(
            s.isNotNull(),
            F.struct((F.col("__off__") + s["p"] - 1).alias("p"),
                     s["v"].cast("double").alias("v"))) \
            .otherwise(F.when(
                F.col(fill_p).isNotNull(),
                F.struct(F.col(fill_p).alias("p"),
                         F.col(fill_v).alias("v"))))

    out = out.withColumn("__ip__", F.col("__off__") + F.col("__rn__") - 1)
    drop = ["__off__", "__rn__", "__mid__", "__pid__"]
    for t in tags:
        out = (out
               .withColumn(f"__iprev_{t}__",
                           glob(f"__pl_{t}__", f"__pp_{t}__",
                                f"__pv_{t}__"))
               .withColumn(f"__inext_{t}__",
                           glob(f"__nl_{t}__", f"__np_{t}__",
                                f"__nv_{t}__")))
        drop += [f"__pl_{t}__", f"__nl_{t}__", f"__pp_{t}__",
                 f"__pv_{t}__", f"__np_{t}__", f"__nv_{t}__"]
    return out.drop(*drop)


# pandas Rolling methods servable by the local-carry pass below, and
# the kwargs each accepts (anything else is rejected loudly)
_ROLL_LOCAL_STATS = {
    "min": (), "max": (), "median": (),
    "quantile": ("q", "interpolation"),
    "skew": (), "kurt": (), "sem": ("ddof",), "rank": ("method", "pct"),
    "apply": ("func", "raw", "args", "kwargs"),
}
# prefix-decomposable stats admitted ONLY via center=True (trailing
# flavors stay on the JVM prefix scans)
_ROLL_CENTER_EXTRA = {
    "sum": (), "mean": (), "count": (),
    "var": ("ddof",), "std": ("ddof",),
}


def with_rolling_locals(sdf: DataFrame, cols: dict, window: int,
                        stat: str, order_by: list | None = None,
                        min_periods: int | None = None,
                        center: bool = False,
                        max_carry_cells: int = 20_000_000,
                        **stat_kwargs) -> DataFrame:
    """Partition-safe GLOBAL fixed-window rolling statistics that do
    NOT decompose into prefix scans — min/max/median/quantile/skew/
    kurt/sem/rank/apply (and, for ``center=True``, the prefix family
    too) — from ONE frozen range layout, one bounded donor collect,
    and one Arrow pass running pandas' C rolling kernels.

    ``cols`` maps out_name -> value Column/name (cast to double);
    every output shares the layout, the donor collect, and the single
    mapInPandas pass. Outputs are double, NULL where pandas yields
    NaN (min_periods gating included — pandas semantics throughout,
    since pandas computes the window itself).

    Unlike the EWM carries there is NO recurrence to merge: a
    trailing window of size ``window`` sees at most the ``window-1``
    globally-preceding rows, so prepending each partition's carry
    (those rows' values, accumulated across short partitions on the
    driver exactly like :func:`with_boundary_shifts`) and dropping
    the warmup positions reproduces the global answer EXACTLY — NaN
    positions still occupy window slots because the carry ships the
    raw values, NaNs included.

    ``center=True`` windows span [i-w//2, i+(w-1)//2] (pandas'
    LEFT-heavy split), so the carry runs BOTH directions — each partition gets
    its h1 globally-preceding and h2 globally-following values — and
    the kernel pass buffers h2 rows of lookahead before emitting;
    truncated windows at the global edges fall out naturally because
    the carries hold exactly the rows that exist.

    Driver state is n_partitions x (window-1) x n_cols scalars —
    bounded by construction and guarded by ``max_carry_cells``; past
    the guard the error names the per-group Window alternative
    (grouped rolling partitions by key and needs no carry at all).
    """
    import pandas as pd
    from pyspark.sql import types as T

    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    ok = dict(_ROLL_LOCAL_STATS)
    if center:
        ok.update(_ROLL_CENTER_EXTRA)
    if stat not in ok:
        raise ValueError(
            f"unsupported local-carry rolling stat {stat!r}; "
            f"supported: {sorted(ok)}")
    bad = [kw for kw in stat_kwargs if kw not in ok[stat]]
    if bad:
        raise TypeError(f"rolling.{stat}() got unexpected kwargs {bad}")
    mp = window if min_periods is None else min_periods
    outs = list(cols)
    vnames = {o: f"__rl_{i}__" for i, o in enumerate(outs)}
    vlist = list(vnames.values())
    sel = [_as_col(c).cast("double")
           .alias(vnames[o]) for o, c in cols.items()]
    lay = _range_layout(sdf.select("*", *sel), order_by)

    # pandas' center split is LEFT-heavy for even windows:
    # window spans [i - w//2, i + (w-1)//2]
    h2 = (window - 1) // 2 if center else 0       # right context
    h1 = (window // 2) if center else window - 1  # left context
    carry_pre: dict = {}
    carry_post: dict = {}
    if h1 > 0 or h2 > 0:
        n_parts = lay.rdd.getNumPartitions()
        cells = (h1 + h2) * n_parts * len(outs)
        if cells > max_carry_cells:
            raise ValueError(
                f"rolling {stat} carry would hold ~{cells} "
                f"driver-side values (window={window} x {n_parts} "
                f"partitions x {len(outs)} columns); use "
                f"groupby(...).rolling (per-group windows need no "
                f"cross-partition carry) or raise max_carry_cells")
        desc_w = Window.partitionBy("__pid__") \
            .orderBy(F.col("__mid__").desc())
        asc_w = Window.partitionBy("__pid__") \
            .orderBy(F.col("__mid__").asc())
        sel_rn = lay.withColumn("__drn__", F.row_number().over(desc_w))
        if h2 > 0:
            sel_rn = sel_rn.withColumn("__arn__",
                                       F.row_number().over(asc_w))
            cond = (F.col("__drn__") <= h1) | (F.col("__arn__") <= h2)
            keep = ["__pid__", "__drn__", "__arn__"]
        else:
            cond = F.col("__drn__") <= h1
            keep = ["__pid__", "__drn__"]
        donors = sel_rn.where(cond).select(*keep, *vlist).collect()
        # the h1 values before each partition and (the reverse walk,
        # read back in global order) the h2 values after it
        carry_pre = _edge_runs(_donor_runs(donors, "__drn__", h1, vlist),
                               h1)
        if h2 > 0:
            carry_post = {p: r[::-1] for p, r in _edge_runs(
                _donor_runs(donors, "__arn__", h2, vlist), h2,
                True).items()}

    out_schema = T.StructType(
        list(lay.schema)
        + [T.StructField(o, T.DoubleType()) for o in outs])

    def _kernel(vals: "pd.DataFrame", lo: int, n: int,
                assign_to: "pd.DataFrame"):
        for o in outs:
            roll = vals[vnames[o]].rolling(
                window, min_periods=mp, center=center)
            res = getattr(roll, stat)(**stat_kwargs)
            assign_to[o] = res.iloc[lo:lo + n].to_numpy(dtype="float64")

    def gen_trailing(batches):
        tail = None
        for pdf in batches:
            if not len(pdf):
                continue
            if tail is None:
                pre = carry_pre.get(int(pdf["__pid__"].iloc[0]), [])
                tail = pd.DataFrame(pre, columns=vlist,
                                    dtype="float64")
            vals = pd.concat([tail[vlist], pdf[vlist]],
                             ignore_index=True)
            _kernel(vals, len(tail), len(pdf), pdf)
            tail = vals.iloc[len(vals) - h1:] if h1 else vals.iloc[:0]
            yield pdf

    def gen_center(batches):
        ctx = None          # last h1 raw values before `pending`
        pending = None      # rows buffered for h2 rows of lookahead
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if ctx is None:
                pid = int(pdf["__pid__"].iloc[0])
                pre = carry_pre.get(pid, [])
                ctx = pd.DataFrame(pre, columns=vlist, dtype="float64")
            pending = (pdf if pending is None
                       else pd.concat([pending, pdf],
                                      ignore_index=True))
            if len(pending) > h2:
                emit_n = len(pending) - h2
                vals = pd.concat([ctx, pending[vlist]],
                                 ignore_index=True)
                emit = pending.iloc[:emit_n].copy()
                _kernel(vals, len(ctx), emit_n, emit)
                lo = (max(0, len(ctx) + emit_n - h1) if h1
                      else len(vals))
                ctx = vals.iloc[lo:len(ctx) + emit_n]
                pending = pending.iloc[emit_n:].reset_index(drop=True)
                yield emit
        if pending is not None and len(pending):
            post = pd.DataFrame(carry_post.get(pid, []),
                                columns=vlist, dtype="float64")
            vals = pd.concat([ctx, pending[vlist], post],
                             ignore_index=True)
            out = pending.copy()
            _kernel(vals, len(ctx), len(pending), out)
            yield out

    out = lay.mapInPandas(gen_center if center else gen_trailing,
                          out_schema)
    return out.drop("__mid__", "__pid__", *vlist)
