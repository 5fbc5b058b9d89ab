"""One window engine: rolling, expanding, time-offset rolling, EWM and
time-decay EWM over a list of value columns of a DataFrame.

In baloo a DataFrame is an ordered dict of Series sharing one index
(SURVEY.md §1.1), so a Series window and a one-column frame window are
the same computation. ``DataFrame.rolling/expanding/ewm`` run the
engine over their numeric columns; ``Series.rolling/expanding/ewm``
lift the Series into a one-column frame by projection
(:class:`SeriesWindow`) and unwrap the result. Every column of one call
shares one pass.

A rolling window's kind picks two things only:

- its **prefix source**, which computes the prefix specs and returns
  the frame plus ``S(name, zero)``, the windowed value of a spec:
  fixed window -> ``with_prefix_aggs_shifted`` (prefixes and their
  window-ago twins from one layout and one collect; ``center=True``
  pairs use one centered ``with_rolling_locals`` sum pass instead),
  expanding -> ``with_prefix_aggs``, time offset ->
  :func:`_time_roll_multi` (a prefix pass plus an as-of lookup);
- its **fallback for order statistics**: the bounded local-carry pass
  (``with_rolling_locals``) for a fixed window (it also serves every
  centered moment, and the fixed-window sem, which costs one action
  job fewer there than on the prefix source), the budgeted
  single-partition pandas pass (:meth:`Rolling._pandas_pass`) for
  expanding and time windows. Expanding min/max are prefix aggregates
  and expanding skew/kurt are prefix sums of centered powers.

Everything else is written once: the moment stats (``_MOMENTS``),
cov/corr (:func:`_pair_expr`), ``agg``, ``agg_pairs``, the order-stat
dispatch, the budgeted pandas pass and the centered-rank tail.
``core/groupby.py``'s grouped windows build their moments and pairs
from the same ``_MOMENTS`` and ``_pair_expr``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..plans.ordinal import (ORD_COL, POS_COL, _as_col, with_prefix_aggs,
                             with_prefix_aggs_shifted, with_rolling_locals)
from . import series as _series
from .frame import DataFrame
from .ordering import order_exprs
from .series import _LIFT, Series

# budget of the single-partition pandas pass (global expanding and
# time-offset order statistics): rows x columns per call
_PANDAS_PASS_MAX_ROWS = 10_000_000
# the second column of a lifted Series pair (the first is _LIFT)
_LIFT_Y = "__lift_y__"


def _gated(e, gate, mp: int):
    """``e`` where ``gate`` reaches min_periods ``mp``, NULL below."""
    return F.when(gate >= mp, e) if mp > 0 else e


def _ss(s, c, q):
    """Centered sum of squares from the power sums; the tiny negative
    residue of fp cancellation clamps to 0 (a constant window is var
    0)."""
    return F.greatest(q - s * s / c, F.lit(0.0))


def _sem(s, c, q, ddof):
    """pandas' WINDOW sem is sample-std / sqrt(n - ddof): the numerator
    stays ddof=1 whatever ``ddof`` is (probed on expanding, rolling and
    time rolling; unlike the scalar Series.sem). At n == ddof pandas
    divides a finite sample std by sqrt(0): +inf when the window
    varies, NaN when it is constant ([1,2] ddof=2 -> inf, [5,5] ddof=2
    -> NaN)."""
    num = _ss(s, c, q)
    return (F.when((c > 1) & (c > ddof),
                   F.sqrt(num / (c - 1)) / F.sqrt(c - ddof))
            .when((c > 1) & (c == ddof) & (num > 0), F.lit(float("inf"))))


# stat -> (builder(s, c, q, ddof), min_periods floor(mp, ddof), gate).
# s, q: windowed sum and sum of squares of the non-null values, c:
# their count. The gate is the non-null count, except count(), which
# pandas gates on rows present (window fullness). An all-null window
# sums to 0, like pandas.
_MOMENTS = {
    "sum": (lambda s, c, q, d: F.coalesce(s, F.lit(0.0)),
            lambda mp, d: mp, "obs"),
    "mean": (lambda s, c, q, d: s / c, lambda mp, d: max(mp, 1), "obs"),
    "count": (lambda s, c, q, d: c, lambda mp, d: mp, "rows"),
    "var": (lambda s, c, q, d: F.when(c > d, _ss(s, c, q) / (c - d)),
            lambda mp, d: max(mp, d + 1), "obs"),
    "std": (lambda s, c, q, d: F.when(c > d,
                                      F.sqrt(_ss(s, c, q) / (c - d))),
            lambda mp, d: max(mp, d + 1), "obs"),
    "sem": (_sem, lambda mp, d: max(mp, 2), "obs"),
}
_NEED_SQ = ("var", "std", "sem")


def _pair_expr(n, sx, sy, sxy, sxx, syy, stat: str, ddof: int = 1):
    """cov/corr from windowed sums over the JOINTLY valid pairs (n pairs;
    sxx/syy are read by corr only). PINNED divergence (COVERAGE.md
    r10): a zero-variance side yields NaN. pandas' kernel there divides
    its own roundoff (Σxy - ΣxΣy/n, exactly 0 in real arithmetic) by
    the zero std and emits a noise-signed ±inf — found live on
    events.parquet (a constant user_id window); the sign is
    unreproducible by construction."""
    if stat == "cov":
        return F.when(n > ddof, (sxy - sx * sy / n) / (n - ddof))
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    return F.when((n > 1) & (vx > 0) & (vy > 0),
                  (sxy - sx * sy / n) / F.sqrt(vx * vy))


def _row_order(df):
    """Sort expressions of ``df``'s logical order (ingest ordinals when
    it has none), or None for the current layout."""
    sdf = df._sdf
    order = order_exprs(df._order or [], sdf.columns)
    if not order and ORD_COL in sdf.columns:
        order = [F.col(ORD_COL).asc()]
    return order or None


def _replaced(df, out, exprs: dict):
    """``df``'s columns read from ``out`` (one row per source row), each
    key of ``exprs`` replaced by its Column; the data columns become
    the keys. Dropping every other column of ``out`` drops the
    source's helpers. An order column that ``exprs`` overwrites keeps
    its source values under a reserved name and the order points
    there, so the rows stay in the source's order."""
    keep = {c: f"__ord_{c}__" for c, _ in df._order or () if c in exprs}
    sel = [exprs[c].alias(c) if c in exprs else F.col(c)
           for c in df._sdf.columns]
    sel += [F.col(c).alias(k) for c, k in keep.items()]
    order = df._order and [(keep.get(c, c), a) for c, a in df._order]
    return DataFrame._make(out.select(*sel), df._index_cols, list(exprs),
                           order)


def _dt_index_col(index_cols, sdf):
    return next(
        (c for c in reversed(list(index_cols))
         if c in sdf.columns
         and sdf.schema[c].dataType.typeName()
         in ("timestamp", "timestamp_ntz", "date")), None)


def _offset_us(window):
    """Microseconds of a time-offset window ('2h', a timedelta), or
    None for a row count."""
    import datetime as _dt
    if isinstance(window, str):
        from .datetimes import freq_to_us
        us = freq_to_us(window)
    elif isinstance(window, _dt.timedelta):
        us = int(window.total_seconds() * 1_000_000)
    else:
        return None
    if us <= 0:
        raise ValueError(f"window offset must be positive, got {window!r}")
    return us


def _ewm_decay(com, span, halflife, alpha, adjust: bool, times):
    """pandas' EWM decay spellings -> ``(alpha, None)``, or
    ``(None, halflife Timedelta)`` for the time-decay flavor (``times``
    given or a Timedelta/offset ``halflife``): exactly one of com/span/
    halflife/alpha, alpha = 1/(1+com) = 2/(span+1) =
    1-exp(-ln2/halflife). Shared by the frame and grouped faces."""
    import datetime as _dt
    import math

    import pandas as pd
    if times is not None or isinstance(
            halflife, (str, _dt.timedelta, pd.Timedelta)):
        # pandas defines only the adjust=True mean here
        if halflife is None or any(
                v is not None for v in (com, span, alpha)):
            raise ValueError(
                "ewm(times=...) takes halflife (a Timedelta or "
                "offset string) and no other decay spelling")
        if not adjust:
            raise NotImplementedError(
                "ewm(times=..., adjust=False) is not supported "
                "(pandas refuses it too)")
        return None, pd.Timedelta(halflife)
    if sum(v is not None for v in (com, span, halflife, alpha)) != 1:
        raise ValueError(
            "pass exactly one of com, span, halflife, alpha")
    if com is not None:
        alpha = 1.0 / (1.0 + com)
    elif span is not None:
        alpha = 2.0 / (span + 1.0)
    elif halflife is not None:
        alpha = 1.0 - math.exp(-math.log(2.0) / halflife)
    return float(alpha), None


# ------------------------------------------------------ prefix sources


def _fixed_source(sdf, specs: dict, window: int, order):
    """Fixed-window prefix source: every prefix AND its window-ago twin
    from ONE range layout and ONE collect (with_prefix_aggs_shifted);
    the window value is prefix(i) - prefix(i - window)."""
    out = with_prefix_aggs_shifted(sdf, specs, window, order)

    def S(o, zero=0.0):
        return F.col(o) - F.coalesce(F.col(o[:-2] + "w__"), F.lit(zero))
    return out, S


def _tr_driver_prefix_face(sdf, tcol, specs: dict, window_us: int):
    """ONE-JOB fast face of :func:`_time_roll_multi` for bounded
    DISTINCT-STAMP inputs: collect (t, spec values) once (bounded by
    the broadcast cap via limit), compute every prefix column AND its
    as-of ``_right`` twin with numpy on the driver (sequential float64
    cumsum — the same accumulation order as the single-slice running
    window), broadcast the per-stamp arrays, and attach them in one
    mapInPandas keyed by the stamp.

    Replaces the general scheme's ~8 scheduling-bound driver jobs
    (range-layout sampling + checkpoint + totals collect + prefix
    window + broadcast-lookup collect) with ONE bounded collect —
    measured 2.5s -> sub-second on the events_window per-stamp legs
    at sf0.1. Returns the joined-equivalent frame (same helper column
    names and types as the general path: 'count' specs LONG, 'sum'
    specs nullable DOUBLE, all ``_right`` twins nullable DOUBLE) or
    ``None`` when a precondition fails — more rows than the budget, a
    NULL stamp, or duplicate stamps (whose positional tie rule needs
    the general scheme). The input plan is evaluated twice (bounded
    collect + the exec pass); the callers feed pre-aggregated,
    checkpoint-backed tables where that re-evaluation is a cheap
    cached read."""
    import pandas as pd
    from pyspark.sql import types as T

    budget = _series._TR_BROADCAST_MAX_ROWS
    # free probe at scale (r12): when the plan carries a row-count
    # hint (stamped by faces that already counted, e.g. __len__) and
    # it exceeds the budget, skip the bounded collect entirely — on
    # an over-budget input the probe is one wasted job per call
    hint = getattr(sdf, "_baloo_nrows", None)
    if hint is not None and hint > budget:
        return None
    micros = F.unix_micros(F.col(tcol).cast("timestamp"))
    sel = [micros.alias("__t__")] + [
        _as_col(c).cast("double").alias(f"__v{i}__")
        for i, (c, _) in enumerate(specs.values())]
    rows = sdf.select(sel).limit(budget + 1).collect()
    n = len(rows)
    if n == 0 or n > budget:
        return None
    t_list = [r["__t__"] for r in rows]
    if any(t is None for t in t_list):
        return None
    t_arr = np.array(t_list, dtype=np.int64)
    order = np.argsort(t_arr, kind="stable")
    t_sorted = t_arr[order]
    if n > 1 and bool(np.any(t_sorted[1:] <= t_sorted[:-1])):
        return None  # duplicate stamps: positional tie rule
    # sums carry (values, null_mask) so genuine NaN data stays NaN
    # (F.sum PROPAGATES NaN but SKIPS NULL — r12 aligns the numpy
    # replay with the JVM aggregates: null rows add 0 and don't
    # count, NaN rows poison the running sum and DO count, and the
    # pre-first-observation head is NULL, not NaN)
    prefixes: dict = {}
    for i, (k, (_, kind)) in enumerate(specs.items()):
        raw = [r[i + 1] for r in rows]
        valid = ~np.array([x is None for x in raw])[order]
        pc = np.cumsum(valid).astype(np.int64)
        if kind == "count":
            prefixes[k] = (pc, None)
        else:
            v = np.array([0.0 if x is None else x for x in raw],
                         dtype=np.float64)[order]
            prefixes[k] = (np.cumsum(np.where(valid, v, 0.0)), pc == 0)
    # as-of subtrahend: last stamp <= t - offset (window open-left)
    ix = np.searchsorted(t_sorted, t_sorted - int(window_us),
                         side="right") - 1
    miss = ix < 0
    safe = np.clip(ix, 0, None)
    rights = {}
    for k, (arr, msk) in prefixes.items():
        rv = arr[safe].astype(np.float64)
        rmask = miss.copy() if msk is None else (miss | msk[safe])
        rights[f"{k}_right"] = (rv, rmask)
    bcast = sdf.sparkSession.sparkContext.broadcast(
        (t_sorted, prefixes, rights))
    left = sdf.withColumn("__t__", micros)
    fields = list(left.schema.fields)
    for k, (_, msk) in prefixes.items():
        fields.append(T.StructField(
            k, T.DoubleType() if msk is not None else T.LongType()))
    for k in rights:
        fields.append(T.StructField(k, T.DoubleType()))
    out_schema = T.StructType(fields)

    def gen(batches):
        b_t, b_p, b_r = bcast.value
        nn = len(b_t)
        for pdf in batches:
            if not len(pdf):
                continue
            probe = pdf["__t__"].to_numpy(dtype=np.int64)
            pos = np.searchsorted(b_t, probe)
            # the exec pass re-evaluates the input plan; a stamp the
            # bounded collect never saw (non-deterministic source)
            # would silently read an adjacent row's prefix — validate
            # instead of corrupting (r12, clip guards pos == n too)
            pos = np.clip(pos, 0, nn - 1)
            if not bool(np.all(b_t[pos] == probe)):
                raise RuntimeError(
                    "time-roll driver face: executor saw a stamp the "
                    "bounded collect did not — non-deterministic "
                    "input plan; use a checkpointed source")
            for k, (arr, msk) in b_p.items():
                col = arr[pos]
                if msk is None:
                    pdf[k] = col
                else:
                    pdf[k] = pd.arrays.FloatingArray(
                        col.astype(np.float64), msk[pos])
            for k, (rv, rmask) in b_r.items():
                pdf[k] = pd.arrays.FloatingArray(rv[pos].copy(),
                                                 rmask[pos])
            yield pdf

    return left.mapInPandas(gen, out_schema)


def _tr_broadcast_lookup(left, out, micros, keys: list):
    """Broadcast face of the time-roll as-of subtrahend (see
    :func:`_time_roll_multi`): collect the positionally-last prefix
    per distinct stamp (one job), broadcast the sorted arrays, and
    resolve every probe with numpy searchsorted inside one
    mapInPandas — appends ``<k>_right`` DOUBLE columns, NULL when
    the probe precedes every stamp (same contract as the
    union-carry asof path)."""
    import pandas as pd
    from pyspark.sql import types as T

    rows = (out.groupBy(micros.alias("__tw__"))
            .agg(F.max_by(F.struct(*[F.col(k) for k in keys]),
                          F.col("__pr__")).alias("__s__"))
            .select("__tw__", *[F.col(f"__s__.{k}").alias(k)
                                for k in keys])
            .collect())
    rows.sort(key=lambda r: r["__tw__"])
    rt = np.array([r["__tw__"] for r in rows], dtype=np.int64)
    rv = {k: np.array([np.nan if r[k] is None else float(r[k])
                       for r in rows], dtype=np.float64)
          for k in keys}
    bcast = left.sparkSession.sparkContext.broadcast((rt, rv))
    out_schema = T.StructType(
        list(left.schema.fields)
        + [T.StructField(f"{k}_right", T.DoubleType())
           for k in keys])

    def gen(batches):
        b_rt, b_rv = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            probes = pdf["__tw__"].to_numpy(dtype=np.int64)
            ix = np.searchsorted(b_rt, probes, side="right") - 1
            miss = ix < 0
            safe = np.clip(ix, 0, None)
            for k in keys:
                v = b_rv[k][safe]
                # Float64 masked array: misses AND null prefixes
                # (NaN-coded) both surface as SQL NULL, matching
                # the join path's unmatched/NULL semantics
                arr = pd.array(v, dtype="Float64")
                arr[miss] = pd.NA
                pdf[f"{k}_right"] = arr
            yield pdf

    return left.mapInPandas(gen, out_schema)


def _time_roll_multi(sdf, tcol, order, specs: dict, window_us: int):
    """Time-offset prefix source: every prefix spec over ONE pass + ONE
    as-of lookup for all of them at once; returns (frame, S).
    window(i) = prefix(i) - prefix(as-of t_i - offset); the
    strictly-increasing row prefix (``__pr__``, always added) picks
    the positionally LAST duplicate stamp, reproducing pandas' j <= i
    tie rule.

    The subtrahend lookup has two faces, chosen by the row count the
    prefix pass's own totals already produced (free, no extra job):
    under ``_TR_BROADCAST_MAX_ROWS`` the per-distinct-stamp prefix
    table collects to the driver and broadcasts, and each partition
    resolves its probes with one numpy searchsorted — no union
    re-layout, no second two-pass scheme (the general as-of path paid
    ~9 scheduling-bound driver jobs on tiny inputs); above it the
    partition-safe union-carry
    :func:`~baloo_spark.operators.joins.asof_join` runs, the 100 TB
    shape. Bounded distinct-stamp inputs skip the distributed prefix
    scheme altogether (:func:`_tr_driver_prefix_face`)."""
    from ..operators.joins import asof_join
    specs = {"__pr__": (F.lit(1), "count"), **specs}
    j = _tr_driver_prefix_face(sdf, tcol, specs, window_us)
    if j is None:
        out, totals = with_prefix_aggs(sdf, specs, order,
                                       return_stats=True)
        n_rows = int(totals.get("__pr__") or 0)
        micros = F.unix_micros(F.col(tcol).cast("timestamp"))
        left = out.withColumn("__tw__", micros - F.lit(int(window_us)))
        if n_rows <= _series._TR_BROADCAST_MAX_ROWS:
            j = _tr_broadcast_lookup(left, out, micros, list(specs))
        else:
            right = (out.groupBy(micros.alias("__tw__"))
                     .agg(F.max_by(F.struct(*[F.col(k) for k in specs]),
                                   F.col("__pr__")).alias("__s__"))
                     .select("__tw__", *[F.col(f"__s__.{k}").alias(k)
                                         for k in specs]))
            j = asof_join(left, right, on="__tw__",
                          right_cols=list(specs))

    def S(o, zero=0.0):
        return F.col(o) - F.coalesce(F.col(f"{o}_right"), F.lit(zero))
    return j, S


# --------------------------------------------------- centered-rank tail


def _center_rank_tail(n, w, mp, valid_tail, raw, pct):
    """Per-position carried-tail values for center-rank (r11).

    pandas' center-rank kernel carries the last trailing RAW rank
    once the source exhausts; each carried row ``i`` is re-gated on
    the truncated window ``[i + h2 - w + 1, n-1]``'s valid count vs
    ``min_periods`` (NaN below it — note the even-window origin is
    one LEFT of the odd form's ``i - h2``), and under ``pct=True``
    re-normalized by that shrinking count (values may exceed 1.0 —
    pandas parity). Fuzz-verified 2000/2000 vs pandas in r11 across
    (n, w, mp, method, pct, NaN density).

    ``valid_tail``: validity flags of the last ``min(w, n)`` source
    rows. ``raw``: the carried raw (non-pct) trailing rank at
    ``n-1``, or None/NaN. Returns values (float or None) for
    positions ``max(0, n - h2) .. n-1``.
    """
    h2 = (w - 1) // 2
    k = len(valid_tail)
    sfx = np.concatenate(
        [np.cumsum(np.asarray(valid_tail,
                              dtype=np.int64)[::-1])[::-1], [0]])
    raw_nan = raw is None or raw != raw
    vals = []
    for i in range(max(0, n - h2), n):
        lo = max(i + h2 - w + 1, 0)
        cnt = int(sfx[max(lo - (n - k), 0)])
        if cnt < mp or cnt == 0 or raw_nan:
            vals.append(None)
        else:
            vals.append(raw / cnt if pct else raw)
    return vals


def _tail_fill_expr(vals, zone_lo):
    """Column expression filling tail positions ``zone_lo + j`` with
    ``vals[j]`` — a single literal when the values are uniform, an
    array-literal ``element_at`` gather otherwise (≤ h2 entries,
    bounded by the window size)."""
    if len(set(vals)) <= 1:
        v0 = vals[0] if vals else None
        return (F.lit(None).cast("double") if v0 is None
                else F.lit(float(v0)))
    arr = F.array(*[F.lit(None).cast("double") if v is None
                    else F.lit(float(v)) for v in vals])
    return F.element_at(
        arr, (F.col(POS_COL) - F.lit(zone_lo) + 1).cast("int"))


# ------------------------------------------------------------ .agg


def _bind_positional(pairs):
    """Column-bind (name, Series) outputs POSITIONALLY — fresh
    dense positions on each output's own order, joined on position.
    Window outputs of one frame share source row order by
    construction; binding by index label (the previous shape)
    silently mis-aligned and deduped on duplicate-label indexes
    (probe r10)."""
    if not pairs:
        raise ValueError("no results")       # pandas' empty-agg error
    if len({str(n) for n, _ in pairs}) < len(pairs):
        raise ValueError(
            "duplicate output names in .agg; engine columns are "
            "uniquely named — use a dict to alias each statistic")
    name0, s0 = pairs[0]
    out, _ = s0._ordered_sdf(str(name0))
    for name, sr in pairs[1:]:
        r, _ = sr._ordered_sdf("__wa_tmp__")
        out = out.join(
            r.select(POS_COL, F.col("__wa_tmp__").alias(str(name))),
            POS_COL, "left")
    idx = [c for c in s0._index_cols if c in out.columns]
    return DataFrame._make(out, idx, [str(n) for n, _ in pairs],
                           [(POS_COL, True)])


def _frame_window_agg(self, func):
    """pandas ``.agg`` on a FRAME window object (probe wave 20
    found the face missing): a str delegates to the named statistic
    over every column; a dict {col: stat} column-binds one
    statistic per named column (str values only — list values would
    need MultiIndex columns); a list of statistics emits pandas'
    (col, stat) MultiIndex columns flattened to their string
    spelling ``str((col, stat))``, col-major, the same convention
    as the multi-column unstack. Each DISTINCT statistic is one
    frame-wide pass (the convenience face, not a fused plan); the
    bind is positional (:func:`_bind_positional`)."""
    if isinstance(func, str):
        return getattr(self, func)()
    if isinstance(func, dict):
        items = list(func.items())
        for c, st in items:
            if not isinstance(st, str):
                raise ValueError(
                    "frame window .agg dict values must be single "
                    "statistic names (a list per column would need "
                    "MultiIndex columns); got "
                    f"{st!r} for {c!r}")
        stats = {}
        for _, st in items:
            if st not in stats:
                stats[st] = getattr(self, st)()
        return _bind_positional(
            [(c, stats[st][c]) for c, st in items])
    results = [(st, getattr(self, st)()) for st in func]
    cols = list(results[0][1]._data_cols)
    return _bind_positional(
        [(str((c, st)), res[c])
         for c in cols for st, res in results])


# ------------------------------------------------------------ engines


class Rolling:
    """Fixed-size, expanding and time-offset windows over the value
    columns ``cols`` of ``df`` (see the module docstring).

    ``window``: a row count (trailing fixed window; ``center=True``
    spans pandas' LEFT-heavy [i-w//2, i+(w-1)//2]), None (expanding,
    from the first row) or a time offset ('2h', a timedelta) over the
    datetime index: rows j <= i with t_j in (t_i - offset, t_i],
    pandas' closed='right' semantics including the positional tie
    rule for duplicate stamps. Like pandas, a time-offset frame must
    already be time-sorted (pandas raises on a non-monotonic index;
    here the window order is (t, row order), which equals the row
    order for monotonic input).

    NaN rows occupy window positions but the aggregates skip them;
    ``min_periods`` counts non-null rows, except ``count()``, which
    pandas gates on rows present. It defaults to the window size for
    a fixed window and to 1 otherwise."""

    def __init__(self, df, cols, window, min_periods: int | None = None,
                 center: bool = False):
        self._us = _offset_us(window)
        if self._us is not None:
            if center:
                raise ValueError("offset windows have no center=")
            kind, mp = "time", 1
        elif window is None:
            if center:
                raise ValueError("expanding windows have no center=")
            kind, mp = "expanding", 1
            if min_periods is not None and min_periods < 0:
                raise ValueError(
                    f"min_periods must be >= 0, got {min_periods}")
        else:
            if window <= 0:
                raise ValueError(f"window must be positive, got {window}")
            kind, mp = "fixed", window
        self._df = df
        self._cols = list(cols)
        self._kind = kind
        self._window = window
        self._center = bool(center)
        self._mp = mp if min_periods is None else min_periods

    def _tcol(self):
        df = self._df
        tcol = _dt_index_col(df._index_cols, df._sdf)
        if tcol is None:
            raise TypeError(
                "rolling with a time offset needs a datetime index "
                f"level; index levels are {list(df._index_cols)!r}")
        return tcol

    def _order(self):
        order = _row_order(self._df) or []
        if self._kind == "time":
            order = [F.col(self._tcol()).asc()] + order
        return order or None

    def _source(self, specs: dict):
        """This kind's prefix source over ``specs`` ({name: (Column,
        'sum'|'count'|'min'|'max')}): (frame, S), S(name, zero) the
        windowed value of a spec."""
        sdf, order = self._df._sdf, self._order()
        if self._kind == "time":
            return _time_roll_multi(sdf, self._tcol(), order, specs,
                                    self._us)
        if self._kind == "expanding":
            return (with_prefix_aggs(sdf, specs, order),
                    lambda o, zero=0.0: F.col(o))
        if self._center:
            # centered windows: the SAME windowed sums from one
            # centered "sum" local pass (one layout, one two-sided
            # carry); a count spec sums its validity flags
            cols = {o: (F.when(c.isNotNull(), F.lit(1.0))
                        if kind == "count" else c)
                    for o, (c, kind) in specs.items()}
            out = with_rolling_locals(sdf, cols, self._window, "sum",
                                      order, 0, center=True)
            return out, lambda o, zero=0.0: F.coalesce(F.col(o),
                                                       F.lit(float(zero)))
        return _fixed_source(sdf, specs, self._window, order)

    def _fused(self, plans, ddof: int = 1):
        """Every requested output from ONE prefix source. ``plans``:
        [(out, stat, x, y)] with stat a ``_MOMENTS`` key of column x,
        'cov'/'corr' of columns x and y, or (expanding only, where
        they are prefix aggregates) 'min'/'max'. Returns (frame,
        {out: Column})."""
        specs = {}
        for _, stat, x, y in plans:
            if stat in ("cov", "corr"):
                t = f"p_{x}_{y}"
                both = F.col(x).isNotNull() & F.col(y).isNotNull()
                mx = F.when(both, F.col(x).cast("double"))
                my = F.when(both, F.col(y).cast("double"))
                specs.setdefault(f"__pc_{t}x__", (mx, "count"))
                specs.setdefault(f"__ps_{t}x__", (mx, "sum"))
                specs.setdefault(f"__ps_{t}y__", (my, "sum"))
                specs.setdefault(f"__ps_{t}xy__", (mx * my, "sum"))
                if stat == "corr":
                    specs.setdefault(f"__pq_{t}x__", (mx * mx, "sum"))
                    specs.setdefault(f"__pq_{t}y__", (my * my, "sum"))
                continue
            t = f"c_{x}"
            v = F.col(x).cast("double")
            specs.setdefault(f"__pc_{t}__", (F.col(x), "count"))
            if stat in ("min", "max"):
                specs.setdefault(f"__p{stat}_{t}__", (F.col(x), stat))
            elif stat == "count":
                specs.setdefault("__pr__", (F.lit(1), "count"))
            else:
                specs.setdefault(f"__ps_{t}__", (v, "sum"))
                if stat in _NEED_SQ:
                    specs.setdefault(f"__pq_{t}__", (v * v, "sum"))
        out, S = self._source(specs)
        mp = self._mp
        exprs = {}
        for name, stat, x, y in plans:
            if stat in ("cov", "corr"):
                t = f"p_{x}_{y}"
                n = S(f"__pc_{t}x__", 0).cast("double")
                sq = stat == "corr"
                e = _pair_expr(
                    n, S(f"__ps_{t}x__"), S(f"__ps_{t}y__"),
                    S(f"__ps_{t}xy__"), S(f"__pq_{t}x__") if sq else None,
                    S(f"__pq_{t}y__") if sq else None, stat, ddof)
                e = _gated(e, n, max(mp, 1))
            elif stat in ("min", "max"):
                e = _gated(F.col(f"__p{stat}_c_{x}__"),
                           F.col(f"__pc_c_{x}__"), max(mp, 1))
            else:
                build, floor, gate = _MOMENTS[stat]
                c = S(f"__pc_c_{x}__", 0).cast("long")
                s = S(f"__ps_c_{x}__") if stat != "count" else None
                q = S(f"__pq_c_{x}__") if stat in _NEED_SQ else None
                g = S("__pr__", 0).cast("long") if gate == "rows" else c
                e = _gated(build(s, c, q, ddof), g, floor(mp, ddof))
            exprs[name] = e.cast("double")
        return out, exprs

    def _moment(self, stat: str, ddof: int = 1):
        if self._center or (stat == "sem" and self._kind == "fixed"):
            # centered moments and the fixed-window sem: pandas' own
            # kernels on the local pass (for sem it costs one action
            # job fewer than the prefix source, whose emit pass
            # broadcasts its offsets table in a job of its own)
            return self._order_stat(
                stat, **({"ddof": ddof} if stat in _NEED_SQ else {}))
        out, exprs = self._fused([(c, stat, c, None) for c in self._cols],
                                 ddof)
        return _replaced(self._df, out, exprs)

    def sum(self):
        return self._moment("sum")

    def mean(self):
        return self._moment("mean")

    def count(self):
        return self._moment("count")

    def var(self, ddof: int = 1):
        return self._moment("var", ddof)

    def std(self, ddof: int = 1):
        return self._moment("std", ddof)

    def sem(self, ddof: int = 1):
        return self._moment("sem", ddof)

    def min(self, max_rows: int | None = None):
        return self._order_stat("min", max_rows)

    def max(self, max_rows: int | None = None):
        return self._order_stat("max", max_rows)

    def median(self, max_rows: int | None = None):
        return self._order_stat("median", max_rows)

    def quantile(self, q: float = 0.5, interpolation: str = "linear",
                 max_rows: int | None = None):
        return self._order_stat("quantile", max_rows, q=q,
                                interpolation=interpolation)

    def skew(self, max_rows: int | None = None):
        return self._order_stat("skew", max_rows)

    def kurt(self, max_rows: int | None = None):
        return self._order_stat("kurt", max_rows)

    kurtosis = kurt

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False, max_rows: int | None = None):
        kw = {"method": method, "pct": pct}
        if not ascending:
            kw["ascending"] = False
        if self._center:
            return self._center_rank(kw)
        return self._order_stat("rank", max_rows, **kw)

    def apply(self, func, raw: bool = False, args=(), kwargs=None,
              max_rows: int | None = None):
        """Arbitrary per-window callable (pandas ``.apply``): the
        closure ships to the executors and pandas evaluates the
        windows — the honest slow path; prefer the named
        statistics."""
        return self._order_stat("apply", max_rows, func=func, raw=raw,
                                args=args, kwargs=kwargs or {})

    def _order_stat(self, stat: str, max_rows: int | None = None, **kw):
        """Statistics that are not a window difference of prefix sums.
        Fixed windows ride ONE bounded local-carry pass
        (plans/ordinal.with_rolling_locals: one frozen range layout,
        a (window-1)-rows-per-partition carry, pandas' C kernels in
        one Arrow pass). Expanding min/max are prefix aggregates and
        expanding skew/kurt prefix sums of centered powers; every
        other expanding or time-window statistic is the budgeted
        single-partition pandas pass."""
        cols = self._cols
        if self._kind == "fixed":
            outs = {f"__ro_{c}__": F.col(c) for c in cols}
            out = with_rolling_locals(self._df._sdf, outs, self._window,
                                      stat, self._order(), self._mp,
                                      center=self._center, **kw)
            return _replaced(self._df, out,
                             {c: F.col(f"__ro_{c}__") for c in cols})
        if self._kind == "expanding" and stat in ("min", "max"):
            out, exprs = self._fused([(c, stat, c, None) for c in cols])
            return _replaced(self._df, out, exprs)
        if self._kind == "expanding" and stat in ("skew", "kurt"):
            return self._centered_powers(stat)
        out = self._pandas_pass([(c, c, stat) for c in cols], kw,
                                max_rows, stat)
        return _replaced(self._df, out, {c: F.col(c) for c in cols})

    def _centered_powers(self, stat: str):
        """Bias-corrected expanding skew (Fisher-Pearson, NaN below 3
        observations) or excess kurtosis (the (n+1)g2+6 correction,
        NaN below 4) from prefix sums of the CENTERED powers: one
        scalar pre-agg of every column's global mean plus one prefix
        pass, distributed, no row budget. Skew/kurt are
        shift-invariant, so centering keeps the third/fourth powers
        near zero instead of ~mean^4 — without it the sum-of-powers
        identities cancel catastrophically on large-mean data (prices
        ~1e5 -> x^4 ~ 1e20 per row)."""
        df, cols = self._df, self._cols
        k = 3 if stat == "skew" else 4
        mus = df._sdf.agg(*[F.avg(F.col(c).cast("double")).alias(f"m{i}")
                            for i, c in enumerate(cols)]).first()
        specs = {}
        for i, c in enumerate(cols):
            y = F.col(c).cast("double") - F.lit(
                float(mus[i]) if mus[i] is not None else 0.0)
            specs[f"__pc_{c}__"] = (F.col(c), "count")
            pw = y
            for p in range(1, k + 1):
                specs[f"__p{p}_{c}__"] = (pw, "sum")
                pw = pw * y
        out, _ = self._source(specs)
        exprs = {}
        for c in cols:
            n = F.col(f"__pc_{c}__").cast("double")
            s1, s2, s3 = (F.col(f"__p{p}_{c}__") for p in (1, 2, 3))
            m = s1 / n
            m2 = F.greatest(s2 / n - m * m, F.lit(0.0))
            if stat == "skew":
                m3 = s3 / n - 3 * m * s2 / n + 2 * m * m * m
                g = (m3 / F.pow(m2, 1.5)) * (F.sqrt(n * (n - 1)) / (n - 2))
                # pandas' window kernels special-case EXACT zero
                # variance (a constant window) as skew 0.0 — near-zero
                # variance stays NaN (their eps threshold)
                zero = 0.0
            else:
                s4 = F.col(f"__p4_{c}__")
                m4 = (s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n
                      - 3 * m * m * m * m)
                g = (((n + 1) * (m4 / (m2 * m2) - 3) + 6) * (n - 1)
                     / ((n - 2) * (n - 3)))
                # ... and emit -3.0 (the raw excess of a point mass,
                # uncorrected) for exact zero variance
                zero = -3.0
            e = F.when(n >= k, F.when(m2 > 0, g)
                       .otherwise(F.when(m2 == 0, F.lit(zero))))
            exprs[c] = _gated(e, n, max(self._mp, k)).cast("double")
        return _replaced(df, out, exprs)

    def _pandas_pass(self, outs, kw: dict, max_rows: int | None,
                     stat: str):
        """The budgeted single-partition pandas pass of expanding and
        time windows: row i needs its FULL history (expanding; no
        bounded carry exists) or a window that is not a difference of
        prefixes (time), so one count job checks rows x columns
        against ``max_rows`` (default ``_PANDAS_PASS_MAX_ROWS``) and
        one ordered partition runs pandas' C kernel once per distinct
        statistic — pandas supplies the duplicate-stamp positional tie
        rule. ``outs``: [(out name, value column, statistic)]; each
        out becomes a double column of the returned frame. Above the
        budget the error names the distributed alternatives."""
        import pandas as pd
        from pyspark.sql import types as T

        sdf = self._df._sdf
        src = list(dict.fromkeys(c for _, c, _ in outs))
        budget = (int(max_rows) if max_rows is not None
                  else _PANDAS_PASS_MAX_ROWS)
        n = sdf.count()
        if n * max(len(src), 1) > budget:
            shape = (f"{n} rows" if len(src) <= 1
                     else f"{n} rows x {len(src)} columns")
            if stat == "agg":
                head = ("time-offset rolling agg with order statistics "
                        "runs as")
                alt = ("request only "
                       f"{'/'.join(_MOMENTS)} (the fused prefix-pass "
                       "family), or use groupby(...).rolling(...)")
            elif self._kind == "time":
                head = (f"time-offset rolling {stat} does not decompose "
                        "into prefix + as-of, so this face is")
                alt = (f"use groupby(...).rolling('2h').{stat}() (a "
                       "per-group RANGE frame) or resample")
            else:
                head = (f"global expanding {stat} needs the full history "
                        "per row (no bounded carry exists), so this face "
                        "is")
                alt = ("use a fixed rolling window, or "
                       f"groupby(...).expanding().{stat}() (groups are "
                       "local)")
            raise ValueError(
                f"{head} a budgeted single-partition pandas pass: "
                f"{shape} exceed max_rows={budget}. Raise max_rows=, "
                f"{alt}")
        tcol = self._tcol() if self._kind == "time" else None
        order = self._order()
        lay = sdf.repartition(1)
        if order:
            lay = lay.sortWithinPartitions(*order)
        names = [nm for nm, _, _ in outs]
        dbl = T.DoubleType()
        schema = T.StructType(
            [T.StructField(f.name, dbl) if f.name in names else f
             for f in sdf.schema.fields]
            + [T.StructField(nm, dbl) for nm in names
               if nm not in sdf.columns])
        mp, us = self._mp, self._us

        def gen(batches):
            chunks = [b for b in batches if len(b)]
            if not chunks:
                return
            allb = pd.concat(chunks, ignore_index=True)
            sub = allb[src].astype("float64")
            if us is None:
                win = sub.expanding(mp)
            else:
                sub.index = pd.DatetimeIndex(pd.to_datetime(allb[tcol]))
                win = sub.rolling(pd.Timedelta(us, unit="us"),
                                  min_periods=max(mp, 1))
            res = {st: getattr(win, st)(**kw)
                   for st in dict.fromkeys(st for _, _, st in outs)}
            for nm, c, st in outs:
                allb[nm] = res[st][c].to_numpy()
            yield allb[schema.names]

        return lay.mapInPandas(gen, schema)

    def _center_rank(self, kw: dict):
        """pandas' center rank IS the shifted trailing rank: center
        only moves the window bounds (output[i] = trailing_rank[i +
        h2]); once the source exhausts, the kernel CARRIES its last
        RAW rank — each carried tail row re-gated on the TRUNCATED
        window's valid count vs min_periods (r11 fix: with the default
        mp = window every truncated row is NaN) and, under pct=True,
        re-normalized by that shrinking count (values may exceed 1.0
        — pandas parity); see :func:`_center_rank_tail`. One bounded
        source-tail validity fetch (≤ w rows, skipped when mp ≥ w) and
        one bounded tail-rank fetch feed the ≤ h2 literals per
        column."""
        h2 = (self._window - 1) // 2
        base = Rolling(self._df, self._cols, self._window,
                       self._mp).rank(**kw)
        if not h2:
            return base
        pct = kw["pct"]
        shifted = base.shift(-h2)
        n = len(self._df)
        w, mp = self._window, self._mp
        zone_lo = max(0, n - h2)
        if not n or mp > w - 1:
            col_vals = {c: [None] * (n - zone_lo) for c in self._cols}
        else:
            src_tail = self._df.tail(min(w, n)).to_pandas()
            tails = base.tail(1).to_pandas().iloc[0].to_dict()
            col_vals = {}
            for c in self._cols:
                valid = src_tail[c].notna().to_numpy()
                tv = tails.get(c)
                raw = (None if tv is None or tv != tv
                       else (round(float(tv) * int(valid.sum()) * 2) / 2
                             if pct else float(tv)))
                col_vals[c] = _center_rank_tail(n, w, mp, valid, raw, pct)
        sdf = shifted._ordered_sdf()
        for c in self._cols:
            sdf = sdf.withColumn(
                c, F.when(F.col(POS_COL) >= F.lit(zone_lo),
                          _tail_fill_expr(col_vals[c], zone_lo))
                .otherwise(F.col(c)))
        return DataFrame._make(sdf, shifted._index_cols,
                               shifted._data_cols, [(POS_COL, True)])

    def agg_pairs(self, specs: dict, ddof: int = 1):
        """ENGINE EXTENSION (no pandas equivalent): every requested
        per-column sum/mean/count AND pairwise cov/corr from ONE
        prefix source — for the time window one prefix pass + one
        as-of lookup, for the fixed window one fused layout —
        regardless of statistic count. pandas (and this engine's
        pandas-shaped faces) pay one full scheme per call; at small
        inputs each call is driver-job-latency-bound (~13 scheduling
        jobs measured at sf0.1), and at scale each is a full extra
        scan. Pair stats use pandas' pairwise-complete masking and
        the zero-variance NaN pin (:func:`_pair_expr`). No center=
        face (the trailing decomposition is the point). The grouped
        face is ``df.groupby(k).rolling(...).agg_pairs``; the Series
        face gates to here (pairs need column NAMES).

        ``specs``: {out_name: ('sum'|'mean'|'count', col)
                    | ('cov'|'corr', xcol, ycol)}.
        Result: the source's non-value columns plus one column per
        spec, source row order kept."""
        if self._center:
            raise ValueError("agg_pairs has no center= face")
        df = self._df
        plans = []
        for name, spec in specs.items():
            if name in df._index_cols:
                raise ValueError(
                    f"output {name!r} collides with an index level")
            kind = spec[0]
            if kind in ("sum", "mean", "count"):
                df._check_cols([spec[1]])
                plans.append((name, kind, spec[1], None))
            elif kind in ("cov", "corr"):
                df._check_cols([spec[1], spec[2]])
                plans.append((name, kind, spec[1], spec[2]))
            else:
                raise ValueError(
                    f"unknown statistic {kind!r}; pass "
                    "'sum'/'mean'/'count' or 'cov'/'corr'")
        out, exprs = self._fused(plans, ddof)
        keep = [c for c in df._sdf.columns
                if c not in self._cols and c not in exprs]
        kept_data = [c for c in df._data_cols if c in keep]
        return DataFrame._make(
            out.select(*keep, *[e.alias(n) for n, e in exprs.items()]),
            df._index_cols, kept_data + list(exprs), df._order)

    def _pair(self, stat: str, ddof: int = 1):
        """cov/corr of the first value column with the second (the
        Series face's pair frame)."""
        x, y = self._cols
        out, exprs = self._fused([(x, stat, x, y)], ddof)
        return _replaced(self._df, out, exprs)

    def _agg_columns(self, items):
        """Series ``.agg`` of the single value column: [(name, stat)]
        as named columns of ONE pass when every statistic is in the
        moment family (plus min/max for expanding windows, where
        they are prefix aggregates) — instead of one full two-pass
        scheme per statistic (the r10 fusion lesson). Any order
        statistic in a time-window request routes the WHOLE request
        through one budgeted pandas pass (pandas' own ``.agg`` aligns
        per row, so duplicate stamps bind correctly). Returns None
        when neither applies (the caller binds one statistic per
        pass)."""
        df, c = self._df, self._cols[0]
        fusable = set(_MOMENTS) | (
            {"min", "max"} if self._kind == "expanding" else set())
        if not self._center and all(isinstance(st, str) and st in fusable
                                    for _, st in items):
            out, exprs = self._fused([(n, st, c, None) for n, st in items])
        elif self._kind == "time":
            for _, st in items:
                if not isinstance(st, str):
                    raise TypeError(
                        f".agg statistics must be names, got {st!r}")
            out = self._pandas_pass([(n, c, st) for n, st in items], {},
                                    None, "agg")
            exprs = {n: F.col(n) for n, _ in items}
        else:
            return None
        keys = (set(df._index_cols) | {o for o, _ in df._order or []}
                | {ORD_COL})
        keep = [k for k in df._sdf.columns if k in keys and k not in exprs]
        return DataFrame._make(
            out.select(*keep, *[e.alias(n) for n, e in exprs.items()]),
            df._index_cols, list(exprs), df._order)

    agg = aggregate = _frame_window_agg


class Ewm:
    """Exponentially weighted windows over the value columns ``cols``
    of ``df``: ``.mean() .sum() .var() .std()`` with decay ``com``/
    ``span``/``halflife``/``alpha`` (exactly one; pandas conversions
    alpha = 1/(1+com) = 2/(span+1) = 1-exp(-ln2/halflife)), both
    ``adjust`` flavors (``sum`` is adjust=True-only — pandas refuses
    the combination too); or, with ``times`` or a Timedelta/offset
    ``halflife``, the time-decay mean, weights 0.5^(dt/halflife) over
    the stamp distances (``times`` a column name, or None for the
    datetime index level).

    The EWM recurrence is NOT a prefix sum (its closed form overflows
    r^-t), so every column shares ONE two-pass decayed carry scan of
    plans/ordinal (with_ewm_stats_multi for adjust=True's decayed
    sums, with_ewm_noadjust_stats for the recursive streaming-EMA
    form, with_ewm_mean_times_multi for time decay; each column keeps
    its own null mask and carry): one range layout and two
    mapInPandas passes, never a global window, never one pass per
    column."""

    def __init__(self, df, cols, com=None, span=None, halflife=None,
                 alpha=None, min_periods: int = 0, adjust: bool = True,
                 ignore_na: bool = False, times=None):
        self._df = df
        self._cols = list(cols)
        self._mp = min_periods
        self._ignore_na = ignore_na
        self._adjust = bool(adjust)
        self._times = times
        self._alpha, hl = _ewm_decay(com, span, halflife, alpha, adjust,
                                     times)
        self._hl_us = None if hl is None else hl.value / 1000.0

    def _scan(self, pairs: dict, stat: str, bias: bool = False):
        """One stat for every tag -> (x, y) pair through ONE fused
        scan: with_ewm_stats_multi (adjust=True's decayed sums) or
        with_ewm_noadjust_stats (adjust=False's kernel-state carry —
        the renormalizing recurrence is not a fixed-weight decayed
        sum). Returns the frame and its output-column template
        (``% tag``)."""
        from ..plans.ordinal import (with_ewm_noadjust_stats,
                                     with_ewm_stats_multi)
        if self._hl_us is not None:
            raise NotImplementedError(
                f"{stat} is not implemented with times (pandas refuses "
                "it too); use .mean()")
        if self._adjust:
            scan, pre = with_ewm_stats_multi, "ewm"
        elif stat == "sum":
            raise NotImplementedError(
                "ewm(adjust=False).sum() is not supported "
                "(pandas refuses it too); use adjust=True")
        else:
            scan, pre = with_ewm_noadjust_stats, "ewmna"
        out = scan(self._df._sdf,
                   {t: (x, y, (stat,)) for t, (x, y) in pairs.items()},
                   self._alpha, _row_order(self._df), self._mp,
                   self._ignore_na, bias=bias)
        return out, f"__{pre}_{stat}_%s__"

    def _stat(self, stat: str, bias: bool = False):
        if not self._cols:
            raise ValueError("ewm needs at least one numeric column")
        out, tmp = self._scan({c: (c, c) for c in self._cols}, stat, bias)
        return _replaced(self._df, out,
                         {c: F.col(tmp % c) for c in self._cols})

    def _time_mean(self):
        from ..plans.ordinal import with_ewm_mean_times_multi
        df = self._df
        sdf = df._sdf
        times = self._times
        if times is None or times is True:
            times = _dt_index_col(df._index_cols, sdf)
            if times is None:
                raise TypeError(
                    "ewm(times=...) needs a times column name or a "
                    "datetime index level")
        elif times not in sdf.columns:
            raise KeyError(times)
        cols = [c for c in self._cols if c != times]
        # ROW order, not times order: pandas computes decay deltas in
        # row sequence even when times run backward (probe:
        # times=[Jan1, Jan3, Jan2] -> [1.0, 1.8, 2.142857]); the
        # scan's signed analytic fold handles non-monotonic stamps
        out = with_ewm_mean_times_multi(
            sdf, {c: F.col(c) for c in cols}, times, self._hl_us,
            _row_order(df), self._mp)
        return _replaced(df, out, {c: F.col(f"__ewmt_{c}__") for c in cols})

    def mean(self):
        if self._hl_us is not None:
            return self._time_mean()
        return self._stat("mean")

    def sum(self):
        return self._stat("sum")

    def var(self, bias: bool = False):
        return self._stat("var", bias=bias)

    def std(self, bias: bool = False):
        return self._stat("std", bias=bias)

    def _pair(self, stat: str, bias: bool = False):
        """cov/corr of the first value column with the second: the
        same scan over the pair; observations need BOTH sides
        non-null, like pandas."""
        x, y = self._cols
        out, tmp = self._scan({x: (x, y)}, stat, bias)
        return _replaced(self._df, out, {x: F.col(tmp % x)})

    def _agg_columns(self, items):
        return None

    agg = aggregate = _frame_window_agg


def _times_column(times, sdf, lineage=()):
    """ewm(times=...): the natural pandas spelling ``times=df["t"]``
    resolves to its backing column when the Series is selected from
    this same frame (the stamp values ARE that column, row for row);
    a foreign Series would need a positional re-alignment join whose
    cost hides badly inside a decay scan — name the string spelling
    instead."""
    if not isinstance(times, Series):
        return times
    nm = times.name
    if ((times._sdf is sdf or id(times._sdf) in lineage)
            and isinstance(nm, str) and nm in sdf.columns):
        return nm
    raise TypeError(
        "ewm(times=...) takes a column NAME (or a Series "
        "selected from this same frame); pass "
        f"times={nm!r} as a string" if isinstance(nm, str)
        else "ewm(times=...) takes a column NAME or a "
        "Series selected from this same frame")


class SeriesWindow:
    """Series face of every window: the Series is lifted into a
    one-column frame by projection only (:meth:`Series._as_frame` —
    no dense ordinal, no job), the engine runs over that column, and
    each frame result unwraps to a Series named like ``sr``
    (:meth:`Series._unwrap`, which tags a result in the source order
    for the DataFrame.__setitem__ adopt fast path)."""

    def __init__(self, sr, engine, **params):
        self._sr = sr
        self._engine = lambda frame, cols: engine(frame, cols, **params)
        self._win = self._engine(sr._as_frame(), [_LIFT])

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        stat = getattr(self._win, name)
        return lambda *args, **kw: self._sr._unwrap(stat(*args, **kw),
                                                 same_rows=True)

    def agg(self, func):
        """pandas ``.agg``: a str delegates to the named statistic; a
        list/dict returns one column per statistic — fused into one
        pass by the engine where it can (:meth:`Rolling._agg_columns`),
        else one pass per statistic bound POSITIONALLY
        (:func:`_bind_positional`)."""
        if isinstance(func, str):
            return getattr(self, func)()
        items = (list(func.items()) if isinstance(func, dict)
                 else [(f, f) for f in func])
        if not items:
            raise ValueError("no results")
        if len({str(n) for n, _ in items}) < len(items):
            raise ValueError(
                "duplicate output names in .agg; engine columns "
                "are uniquely named — use a dict to alias each "
                "statistic")
        items = [(str(n), st) for n, st in items]
        out = self._win._agg_columns(items)
        if out is not None:
            return out
        return _bind_positional([(n, getattr(self, st)())
                                 for n, st in items])

    aggregate = agg

    def agg_pairs(self, specs=None, ddof: int = 1):
        """Deliberate gate (r11): pair statistics need TWO columns,
        which a single Series cannot name — use the frame face
        (``df.rolling('2h').agg_pairs({...: ('corr', x, y)})``) or
        the grouped face (``df.groupby(k).rolling('2h')
        .agg_pairs``); single-column moment fusion is ``.agg``."""
        raise NotImplementedError(
            "agg_pairs needs column NAMES for its pair statistics; "
            "use the frame face df.rolling(offset).agg_pairs({...}) "
            "or df.groupby(k).rolling(...).agg_pairs({...}) — for "
            "single-column moment fusion use .agg(['sum','mean',...])"
        )

    def _pair(self, other, stat: str, **kw):
        """cov/corr with another Series over a two-column frame with
        each face's alignment: the same plan for same-frame pairs;
        otherwise fresh positions joined (rolling windows — the
        engine's default-RangeIndex contract, the position becomes the
        window order) or the standard pairwise alignment (EWM)."""
        if not isinstance(other, Series):
            raise TypeError(
                f"expected Series, got {type(other).__name__}")
        sr = self._sr
        if isinstance(self._win, Ewm):
            sdf, a, b = sr._pair_sdf(other)
            on = [c for c in sr._index_cols if c in other._index_cols]
            idx = on or [POS_COL]
            order = res_order = [(k, True) for k in idx]
        elif other._sdf is sr._sdf:
            sdf, a, b = sr._sdf, sr._colexpr, other._colexpr
            idx, order, res_order = sr._index_cols, sr._order, sr._order
        else:
            lo, _ = sr._ordered_sdf("__pa__")
            ro, rb = other._ordered_sdf("__pb__")
            sdf = lo.join(ro.select(POS_COL, rb), POS_COL, "inner")
            a, b = F.col("__pa__"), F.col("__pb__")
            idx = [c for c in sr._index_cols if c in sdf.columns]
            order, res_order = [(POS_COL, True)], sr._order
        pair = DataFrame._make(sdf.withColumns({_LIFT: a, _LIFT_Y: b}), idx,
                               [_LIFT, _LIFT_Y], order)
        res = self._engine(pair, [_LIFT, _LIFT_Y])._pair(stat, **kw)
        return Series._make(res._sdf, F.col(_LIFT), idx, sr.name,
                            res_order)

    def cov(self, other, **kw):
        return self._pair(other, "cov", **kw)

    def corr(self, other):
        return self._pair(other, "corr")
