"""Temporal join operators Spark lacks as built-ins: as-of and range.

The reference has only equi sort-merge join (SURVEY.md §2.3,
weld_joins.py:76-107); these are engine extensions expressed as
compositions of existing DataFrame ops — no mapPartitions, no
custom physical operators — so Catalyst/AQE still plan them.

Scale design:

- **as-of**: the classic union + partitioned carry-forward trick.
  Tag both sides, union, and per partition-key run a
  last-non-null window ordered by time. ONE shuffle on the by-key
  (same as any grouped op); no per-row probing, no range explosion.
- **range**: bucketize both sides by floor(ts / width) and equi-join
  each left bucket against its 3 neighboring right buckets, then
  filter the exact predicate. Turns an inequality join (which Spark
  would plan as a broadcast-nested-loop) into an equi shuffle join
  with bounded fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _secs(c, dtype):
    """Fractional-second epoch (timestamps) / pass-through (numerics)
    as double. ``unix_timestamp`` truncates to whole seconds, which
    breaks nearest tie-breaking, tolerance edges, and range-predicate
    boundaries on sub-second data. TIMESTAMP_NTZ (what a raw parquet
    read can surface) cannot cast to double directly — reinterpret as
    TIMESTAMP first (the session TZ is pinned UTC, so the shift is
    constant and distances are preserved). Numeric ``on`` columns
    pass straight through the double cast, so both temporal joins
    accept them interchangeably."""
    if dtype == "timestamp_ntz":
        c = c.cast("timestamp")
    return c.cast("double")


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str | list | None = None, right_cols: list | None = None,
              suffix: str = "_right", tolerance: int | None = None,
              direction: str = "backward",
              allow_exact_matches: bool = True,
              nearest_ties: str = "earlier") -> DataFrame:
    """For each left row, attach the matching right row on ``on``
    (inclusive), matching ``by`` keys:

    - ``direction='backward'`` (default): most recent right row with
      ``right.on <= left.on``;
    - ``'forward'``: first right row with ``right.on >= left.on`` —
      the time-reversed carry (same plan, descending order);
    - ``'nearest'``: whichever of the two is closer in time; both
      carries share one shuffle in the keyed path (two window sorts
      over the same partitioning). ``nearest_ties`` picks the
      exact-midpoint winner: ``'earlier'`` (default — pandas
      merge_asof's rule) or ``'later'`` (pandas reindex/resample
      ``method='nearest'`` — the two pandas APIs genuinely differ,
      probe wave 21).

    ``tolerance``: optional max distance in seconds — right rows
    farther than that are treated as no-match (NULL), like pandas
    merge_asof; for 'nearest' the tolerance is applied per candidate
    BEFORE choosing, so an out-of-tolerance closer row never shadows
    an in-tolerance farther one. ``allow_exact_matches=False`` makes
    the comparison strict (``<`` / ``>``), pandas-style. ``on`` may
    be a timestamp or any numeric column (distance math casts to
    double either way).

    Scale: with ``by`` keys the carry window partitions on them (one
    shuffle, state per key). With NO ``by`` keys each carry goes
    through the ``'last'`` kind of
    :func:`~baloo_spark.plans.ordinal.with_prefix_aggs`
    — range-partitioned by time, partition-local carry windows, and a
    one-row-per-partition boundary table prefix-carried on the driver
    — so a global as-of never collapses to a single partition.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be 'backward', 'forward' or "
                         f"'nearest', got {direction!r}")
    if nearest_ties not in ("earlier", "later"):
        raise ValueError(f"nearest_ties must be 'earlier' or "
                         f"'later', got {nearest_ties!r}")
    by = [by] if isinstance(by, str) else list(by or [])
    right_cols = right_cols or [c for c in right.columns
                                if c != on and c not in by]

    l = left.withColumn("__src__", F.lit(1))
    r = right.select(*by, on, *right_cols).withColumn("__src__", F.lit(0))
    # positional tiebreak for DUPLICATE right timestamps: pandas
    # merge_asof resolves them by input order — last occurrence wins
    # backward, first wins forward. Without an explicit ordinal the
    # window order among equal (on, __src__) rows is partition-layout
    # dependent (nondeterministic winner). monotonically_increasing_id
    # follows scan order: deterministic per source, no shuffle.
    r = r.withColumn("__rpos__", F.monotonically_increasing_id())
    for c in right_cols:
        r = r.withColumnRenamed(c, c + suffix)
    unioned = l.unionByName(r, allowMissingColumns=True)

    def _carry(df, asc, pfx):
        """Carry the latest (asc) / next (desc) right values into
        ``pfx``-prefixed columns plus ``pfx + 'rts'`` (the matched
        right timestamp). Equal-timestamp handling rides on the
        source tiebreak: right rows before left => inclusive match
        (pandas allow_exact_matches=True); left before right =>
        strict inequality."""
        src = (F.col("__src__").asc() if allow_exact_matches
               else F.col("__src__").desc())
        # ascending carry (backward): last duplicate must land
        # closest to the left row => __rpos__ asc; descending carry
        # (forward): FIRST duplicate must land closest => desc.
        # Left rows have NULL __rpos__; they carry nothing, so their
        # relative order within a (on, __src__) group is immaterial.
        rpos = (F.col("__rpos__").asc_nulls_last() if asc
                else F.col("__rpos__").desc_nulls_last())
        ob = [F.col(on).asc() if asc else F.col(on).desc(), src, rpos]
        vals = {f"__{pfx}_{c}__": F.when(F.col("__src__") == 0,
                                         F.col(c + suffix))
                for c in right_cols}
        vals[f"__{pfx}rts__"] = F.when(F.col("__src__") == 0, F.col(on))
        if by:
            w = Window.partitionBy(*by).orderBy(*ob) \
                .rowsBetween(Window.unboundedPreceding, 0)
            # all carries in ONE select => a single Window node (the
            # sequential-withColumn form left one Window per column)
            return df.select(
                "*", *[F.last(e, ignorenulls=True).over(w).alias(name)
                       for name, e in vals.items()])
        from ..plans.ordinal import with_prefix_aggs
        return with_prefix_aggs(
            df, {n: (e, "last") for n, e in vals.items()}, ob)

    on_type = dict(unioned.dtypes).get(on)

    def secs(c):
        return _secs(c, on_type)

    if direction in ("backward", "forward"):
        pfx = "b" if direction == "backward" else "f"
        carried = _carry(unioned, direction == "backward", pfx)
        out = carried.filter(F.col("__src__") == 1).drop("__src__")
        rts = F.col(f"__{pfx}rts__")
        keep = rts.isNotNull()
        if tolerance is not None:
            keep = keep & (F.abs(secs(F.col(on)) - secs(rts))
                           <= tolerance)
        for c in right_cols:
            out = out.withColumn(
                c + suffix,
                F.when(keep, F.col(f"__{pfx}_{c}__")))
        out = out.withColumn("matched_" + on, F.when(keep, rts))
        return out.drop(f"__{pfx}rts__", "__rpos__",
                        *[f"__{pfx}_{c}__" for c in right_cols])

    # nearest: both carries; the keyed path shares the shuffle (two
    # sorts over one hash partitioning — Catalyst plans one Exchange)
    carried = _carry(_carry(unioned, True, "b"), False, "f")
    out = carried.filter(F.col("__src__") == 1).drop("__src__")
    t = secs(F.col(on))
    b_ok = F.col("__brts__").isNotNull()
    f_ok = F.col("__frts__").isNotNull()
    if tolerance is not None:
        b_ok = b_ok & ((t - secs(F.col("__brts__"))) <= tolerance)
        f_ok = f_ok & ((secs(F.col("__frts__")) - t) <= tolerance)
    bdist = t - secs(F.col("__brts__"))
    fdist = secs(F.col("__frts__")) - t
    use_b = b_ok & (~f_ok | (bdist <= fdist
                             if nearest_ties == "earlier"
                             else bdist < fdist))
    for c in right_cols:
        out = out.withColumn(
            c + suffix,
            F.when(use_b, F.col(f"__b_{c}__"))
            .when(f_ok, F.col(f"__f_{c}__")))
    out = out.withColumn(
        "matched_" + on,
        F.when(use_b, F.col("__brts__")).when(f_ok, F.col("__frts__")))
    return out.drop("__brts__", "__frts__", "__rpos__",
                    *[f"__b_{c}__" for c in right_cols],
                    *[f"__f_{c}__" for c in right_cols])


def range_join(left: DataFrame, right: DataFrame, on: str = "ts",
               by: str | list | None = None, lower: float = 0,
               upper: float = 3600, right_cols: list | None = None,
               suffix: str = "_right") -> DataFrame:
    """All (left, right) pairs with ``lower <= right.on - left.on <=
    upper`` (seconds), matching ``by`` keys — bucketed equi-join, not
    a nested loop.

    ``on`` may be a timestamp (exact fractional-second epoch math via
    the shared :func:`_secs` helper — the same contract as
    :func:`asof_join`, no whole-second truncation) or any numeric
    column, and ``lower``/``upper`` may be fractional.

    Bucket width = the range span; each left row probes ceil(span/
    width)+1 = 2 buckets, so the join fans out x2, not xN. The width
    is floored at 1e-6 so sub-microsecond spans cannot push bucket
    ids past double's exact-integer range (epoch/1e-6 ≈ 1.7e15 <
    2^53) — narrower spans just mean a few more candidates per
    bucket, never a wrong pair.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    right_cols = right_cols or [c for c in right.columns
                                if c != on and c not in by]
    width = max(float(upper) - float(lower), 1e-6)

    le = left.withColumn("__e__", _secs(F.col(on),
                                        dict(left.dtypes).get(on)))
    re_ = right.select(*by, on, *right_cols) \
        .withColumn("__re__", _secs(F.col(on),
                                    dict(right.dtypes).get(on))) \
        .withColumn("__bkt__", F.floor(F.col("__re__") / width))
    for c in right_cols + [on]:
        re_ = re_.withColumnRenamed(c, c + suffix)

    # left probes the two buckets its window [e+lower, e+upper] spans
    probes = F.array(F.floor((F.col("__e__") + lower) / width),
                     F.floor((F.col("__e__") + upper) / width))
    le = le.withColumn("__bkt__", F.explode(F.array_distinct(probes)))

    cond = [le["__bkt__"] == re_["__bkt__"]] + \
        [le[b] == re_[b] for b in by]
    joined = le.join(re_, cond).drop("__bkt__")
    delta = F.col("__re__") - F.col("__e__")
    out = (joined.filter((delta >= lower) & (delta <= upper))
           .drop("__e__", "__re__"))
    # drop duplicated by-columns from the right side
    for b in by:
        out = out.drop(re_[b])
    return out
