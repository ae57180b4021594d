"""Event-time windowed aggregation — batch form (SURVEY §2.13/§7).

The reference has NO streaming/window operators (SURVEY §2.13); these
are the greenfield extension for the `events` table. Each operator is
expressed so the *same* semantics run in three ways:

- batch DataFrame (here) — verifiable against a SQL oracle,
- Structured Streaming (lakeapi_spark/streaming/pipeline.py) — same
  window assignment driven by ``F.window`` + watermarks,
- plain SQL (the oracle strings in queries.py).

Window starts are emitted as epoch seconds (BIGINT) rather than
timestamps to sidestep the tz-aware-vs-naive Arrow mismatch between
Spark and the DuckDB oracle.

Scale notes: tumbling/sliding are single-shuffle groupBys on
(bucket, key) — partial aggregation happens map-side; sliding
materializes windows/step rows per event via explode (factor 2 here),
which beats a range self-join at any scale. Sessionization uses one
window spec per user — the shuffle is by user_id, skew-safe under AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _epoch(ts: Column) -> Column:
    """Floor-to-second epoch, matching CAST(floor(epoch(ts)) AS BIGINT)."""
    return F.unix_timestamp(ts).cast("long")


def tumbling(
    df: DataFrame,
    ts_col: str,
    width_s: int,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling window: one bucket per event."""
    start = (F.floor(_epoch(F.col(ts_col)) / width_s) * width_s).alias("window_start")
    return df.groupBy(start, *keys).agg(*aggs)


def sliding(
    df: DataFrame,
    ts_col: str,
    width_s: int,
    step_s: int,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding window via bucket explosion: each event lands in
    width/step buckets (k = base, base-1, ... ). Equivalent to Spark's
    ``F.window(ts, width, step)`` but with epoch-seconds output."""
    if width_s % step_s:
        raise ValueError("width must be a multiple of step")
    n = width_s // step_s
    base = F.floor(_epoch(F.col(ts_col)) / step_s)
    starts = F.array(*[(base - k) * step_s for k in range(n)])
    return (
        df.withColumn("window_start", F.explode(starts))
        .filter(
            (_epoch(F.col(ts_col)) >= F.col("window_start"))
            & (_epoch(F.col(ts_col)) < F.col("window_start") + width_s)
        )
        .groupBy("window_start", *keys)
        .agg(*aggs)
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap_s: int,
    order_tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same user exceeds ``gap_s``.

    Emits one row per event with a per-user ``session_id`` ordinal.
    ``order_tiebreak`` must make the per-user ordering total (equal
    timestamps would otherwise make session boundaries nondeterministic).
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(order_tiebreak))
    e = _epoch(F.col(ts_col))
    prev = F.lag(e).over(w)
    new_session = F.when(prev.isNull() | ((e - prev) > gap_s), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(
    df: DataFrame, ts_col: str, user_col: str, gap_s: int, order_tiebreak: str
) -> DataFrame:
    e = _epoch(F.col(ts_col))
    return (
        sessionize(df, ts_col, user_col, gap_s, order_tiebreak)
        .groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(e).alias("session_start"),
            F.max(e).alias("session_end"),
        )
    )


def scd2_collapse(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak: str,
) -> DataFrame:
    """Collapse an observation stream into SCD Type-2 validity ranges:
    consecutive observations of the same ``attr_col`` value per key
    become one row with ``(valid_from, valid_to, is_current, n_obs)``,
    where ``valid_to`` is the next version's ``valid_from`` (half-open
    range) and NULL on the current version. This is the
    dimension-history builder a lakehouse runs over a change stream
    before serving point-in-time joins.

    Spelling is gaps-and-islands: a change flag (null-safe — a NULL
    attribute is a distinct tracked value, not a wildcard) feeds a
    running sum that numbers versions per key; one aggregate per
    version closes the ranges via ``lead``. Timestamps are emitted as
    epoch seconds (tz-naive-safe for the oracle hash).

    Scale shape: both window passes and the final aggregate partition
    by ``key_col`` — ONE exchange covers all three; no self-join, no
    range join. ``tiebreak`` must make the per-key order total or
    version boundaries are nondeterministic.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak))
    prev = F.lag(F.col(attr_col)).over(w)
    first_row = F.row_number().over(w) == 1
    changed = F.when(
        first_row | ~F.col(attr_col).eqNullSafe(prev), 1
    ).otherwise(0)
    numbered = df.withColumn(
        "_ver",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    e = _epoch(F.col(ts_col))
    versions = numbered.groupBy(key_col, "_ver").agg(
        F.min_by(F.col(attr_col), F.struct(F.col(ts_col), F.col(tiebreak))).alias(
            "attr_value"
        ),
        F.min(e).alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    wv = Window.partitionBy(key_col).orderBy("_ver")
    return versions.select(
        F.col(key_col),
        F.col("_ver").cast("long").alias("version"),
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_obs",
    )


def gapfill_locf(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    bucket_s: int,
    agg: Column,
    value_name: str,
) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward:
    aggregate into ``bucket_s``-second buckets per key, generate the
    DENSE bucket spine between each key's first and last bucket, and
    fill empty buckets with the latest preceding value. Returns
    (key_col, bucket, is_gap, filled_value).

    The LOCF fill is the gaps-and-islands spelling (running COUNT of
    non-null values partitions rows into islands led by their one
    non-null row; MAX over the island broadcasts it) — pure window
    functions, portable to any engine, no IGNORE NULLS dependency.

    Scale shape: the bucket aggregation is one shuffle with map-side
    partial agg; the spine explode emits span/bucket_s rows per key —
    exactly the output size, nothing transient is bigger; spine and
    actuals join on (key, bucket) and the two window passes partition
    by key, so one exchange covers them. Spine length per key is
    bounded by that key's observed span — pick bucket_s accordingly
    (a year at 1 s buckets is 31M rows per key by DEFINITION of the
    dense output, not an implementation artifact)."""
    b = (F.floor(_epoch(F.col(ts_col)) / bucket_s) * bucket_s).cast("long")
    actual = df.groupBy(
        F.col(key_col).alias("_key"), b.alias("bucket")
    ).agg(agg.alias(value_name))
    bounds = actual.groupBy("_key").agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    spine = bounds.select(
        "_key",
        F.explode(F.sequence("_mn", "_mx", F.lit(bucket_s))).alias("bucket"),
    )
    j = spine.join(actual, ["_key", "bucket"], "left")
    wcum = (
        Window.partitionBy("_key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = j.withColumn("_grp", F.count(value_name).over(wcum))
    fill = F.max(value_name).over(Window.partitionBy("_key", "_grp"))
    return g.select(
        F.col("_key").alias(key_col),
        "bucket",
        F.col(value_name).isNull().alias("is_gap"),
        fill.alias("filled_value"),
    )


def twap(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Time-weighted average value per key: each observation holds
    until the next one (LOCF step function), so the average weights
    every value by how LONG it was in force — the standard TWAP/uptime
    aggregation where a plain AVG would over-count bursts. Keys with
    one observation (zero total duration) are dropped. Weighted terms
    accumulate in DECIMAL so the result is engine-exact.

    One window pass (lead) and one aggregate, both partitioned by
    ``key_col`` — a single exchange."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col))
    e = _epoch(F.col(ts_col))
    dur = (F.lead(e).over(w) - e).cast("long")
    terms = df.withColumn("_dur", dur).filter(F.col("_dur").isNotNull())
    v = F.col(value_col).cast("double")
    return (
        terms.groupBy(key_col)
        .agg(
            F.sum((v * F.col("_dur")).cast("decimal(28,10)")).alias("_num"),
            F.sum("_dur").alias("duration_s"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .filter(F.col("duration_s") > 0)
        .select(
            F.col(key_col),
            F.round(
                (F.col("_num").cast("double") / F.col("duration_s")) + 0.0,
                round_digits,
            ).alias("twap_value"),
            "duration_s",
            "n_obs",
        )
    )


def gapfill_linear(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    bucket_s: int,
    agg: Column,
    value_name: str,
    round_digits: int = 4,
) -> DataFrame:
    """Linear-interpolation twin of :func:`gapfill_locf`: empty buckets
    between two observations get the straight-line value
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` instead
    of a carried-forward step. Returns (key_col, bucket, is_gap,
    filled_value).

    Both bracketing observations come from the gaps-and-islands
    spelling run twice — a running COUNT of non-null values ascending
    (island led by the PREVIOUS observation at the island's MIN bucket)
    and descending (led by the NEXT observation at its MAX bucket) —
    so, like the LOCF fill, it needs no IGNORE NULLS support. Every gap
    bucket is interior to the per-key spine (the spine spans each key's
    first..last observation), so both brackets always exist.

    Scale shape: identical to LOCF — one bucket aggregation shuffle,
    a spine explode sized exactly like the output, and window passes
    all partitioned by key (one exchange). The interpolation itself is
    a fixed IEEE expression over the bracket columns, engine-exact
    after rounding."""
    b = (F.floor(_epoch(F.col(ts_col)) / bucket_s) * bucket_s).cast("long")
    actual = df.groupBy(
        F.col(key_col).alias("_key"), b.alias("bucket")
    ).agg(agg.alias(value_name))
    bounds = actual.groupBy("_key").agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    spine = bounds.select(
        "_key",
        F.explode(F.sequence("_mn", "_mx", F.lit(bucket_s))).alias("bucket"),
    )
    j = spine.join(actual, ["_key", "bucket"], "left")
    wup = (
        Window.partitionBy("_key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wdn = (
        Window.partitionBy("_key")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = j.withColumn("_gp", F.count(value_name).over(wup)).withColumn(
        "_gn", F.count(value_name).over(wdn)
    )
    ip = Window.partitionBy("_key", "_gp")
    nw = Window.partitionBy("_key", "_gn")
    g = (
        g.withColumn("_pv", F.max(value_name).over(ip))
        .withColumn("_pb", F.min("bucket").over(ip))
        .withColumn("_nv", F.max(value_name).over(nw))
        .withColumn("_nb", F.max("bucket").over(nw))
    )
    # Interpolate in EXACT integer arithmetic: bracket values scale to
    # integer units (10^value_scale), the weighted numerator and the
    # half-up rounding to `round_digits` stay in 64-bit integers, and
    # only the final /10^round_digits touches floats. A float-path
    # interpolation ties at the rounding digit whenever the gap length
    # divides the value delta neatly (an 8-bucket gap between 2-decimal
    # values lands on x.xxxx5 EXACTLY) and engines break such ties
    # through different round implementations — integers cannot tie.
    value_scale = 10 ** 2
    out_scale = 10 ** round_digits
    g = (
        g.withColumn("_pvc", F.round(F.col("_pv") * value_scale, 0).cast("long"))
        .withColumn("_nvc", F.round(F.col("_nv") * value_scale, 0).cast("long"))
        .withColumn("_k", (F.col("bucket") - F.col("_pb")).cast("long"))
        .withColumn("_m", (F.col("_nb") - F.col("_pb")).cast("long"))
        .withColumn(
            "_num",
            F.col("_pvc") * (F.col("_m") - F.col("_k")) + F.col("_nvc") * F.col("_k"),
        )
        # round-half-up of (_num * out_scale / value_scale) / _m without
        # leaving integers: floor((2a + b) / (2b)) for a/b, a >= 0
        .withColumn(
            "_r",
            # guarded: non-gap rows are their own island leader (_m = 0)
            # and never read _r — but ANSI mode would still error on the
            # division, so the CASE keeps them NULL
            F.expr(
                f"CASE WHEN _m > 0 THEN (2 * _num * {out_scale // value_scale} + _m)"
                " div (2 * _m) END"
            ),
        )
    )
    fill = F.when(
        F.col(value_name).isNotNull(), F.col(value_name)
    ).otherwise(F.col("_r").cast("double") / out_scale)
    return g.select(
        F.col("_key").alias(key_col),
        "bucket",
        F.col(value_name).isNull().alias("is_gap"),
        (fill + 0.0).alias("filled_value"),
    )


def ewma_halflife(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    order_tiebreak: str,
    window: int = 8,
    value_scale: int = 100,
    digits: int = 4,
) -> DataFrame:
    """Per-key exponentially weighted moving average with alpha = 1/2
    (one-observation half-life) over the trailing ``window``
    observations — the smoothing primitive behind rate dashboards and
    drift baselines. Returns (key_col, e, ewma) with e the epoch
    second of the observation.

    Engine-exact by construction: alpha = 1/2 makes every weight a
    power of two, the value quantizes to integer units
    (``value_scale`` = 10^decimals), and numerator
    sum(x_lag * 2^(W-1-lag)) and denominator sum(2^(W-1-lag) over
    present lags) are exact 64-bit integer sums — only the final
    division touches floats. Spelled as W LAG columns over ONE
    key-partitioned ordered window (single exchange, no self-join, no
    per-key state); W is a compile-time constant so the plan stays in
    whole-stage codegen."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    xv = F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long")
    lags = [F.lag(xv, lag).over(w) for lag in range(window)]
    num = None
    den = None
    for lag, lv in enumerate(lags):
        wt = 1 << (window - 1 - lag)
        term = F.coalesce(lv * wt, F.lit(0))
        pres = F.when(lv.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = pres if den is None else den + pres
    ewma = F.round(
        num.cast("double") / den.cast("double") / F.lit(float(value_scale)),
        digits,
    )
    return df.select(
        F.col(key_col),
        _epoch(F.col(ts_col)).alias("e"),
        (ewma + 0.0).alias("ewma"),
    )


def growth_accounting(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    resurrect_gap_days: int = 7,
) -> DataFrame:
    """Daily active-user growth accounting: every (user, active day)
    is NEW (first day ever), RETAINED (also active within the last
    ``resurrect_gap_days`` days) or RESURRECTED (returning after a
    longer absence) — the product-analytics decomposition of a DAU
    curve. Returns (day, n_active, n_new, n_retained, n_resurrected)
    with day = floor(epoch/86400), calendar-free so any engine bins
    identically.

    Shape: the corpus collapses to distinct (user, day) in one
    partial-agg shuffle; classification is one lag over the per-user
    day sequence (second keyed exchange); the final rollup is
    day-domain-sized. Nothing is ever driver-side and no window spans
    more than one user's active days."""
    day = F.floor(_epoch(F.col(ts_col)) / 86400).cast("long")
    ud = df.select(F.col(user_col).alias("u"), day.alias("day")).distinct()
    w = Window.partitionBy("u").orderBy("day")
    prev = F.lag("day").over(w)
    cls = (
        F.when(prev.isNull(), F.lit("new"))
        .when(F.col("day") - prev <= resurrect_gap_days, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    return (
        ud.withColumn("cls", cls)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("cls") == "new", 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0)).alias(
                "n_retained"
            ),
            F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0)).alias(
                "n_resurrected"
            ),
        )
    )


def _balance_reduce_keys(keys, deltas):
    """One (key, n_events, final_balance, n_floored) row per key
    segment of a KEY-SORTED (keys, deltas) pair — the vectorized
    reset-cumsum core of :func:`running_balance_floor`."""
    import numpy as np
    import pandas as pd

    out_k, out_n, out_b, out_f = [], [], [], []
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys)]))
    for s, e in zip(starts, ends):
        d = deltas[s:e]
        cs = np.cumsum(d)
        b = cs - np.minimum(np.minimum.accumulate(cs), 0)
        prev = np.concatenate(([np.int64(0)], b[:-1]))
        out_k.append(keys[s])
        out_n.append(e - s)
        out_b.append(int(b[-1]))
        out_f.append(int((prev + d < 0).sum()))
    return pd.DataFrame(
        {
            "_k": np.asarray(out_k, dtype=np.int64),
            "n_events": np.asarray(out_n, dtype=np.int64),
            "final_balance": np.asarray(out_b, dtype=np.int64),
            "n_floored": np.asarray(out_f, dtype=np.int64),
        }
    )


def _balance_kernel(batches):
    """mapInPandas generator over one partition's key-sorted batches:
    reduces complete key segments per batch and carries the trailing
    key's rows into the next batch (Arrow may slice a key across
    batches). Tested directly with adversarial splits in
    tests/test_operators_unit.py."""
    import numpy as np

    carry_k = carry_d = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        keys = pdf["_k"].to_numpy(dtype=np.int64)
        deltas = pdf["_d"].to_numpy(dtype=np.int64)
        if carry_k is not None:
            keys = np.concatenate((carry_k, keys))
            deltas = np.concatenate((carry_d, deltas))
        last = keys[-1]
        cut = np.searchsorted(keys, last, side="left")
        carry_k, carry_d = keys[cut:], deltas[cut:]
        if cut:
            yield _balance_reduce_keys(keys[:cut], deltas[:cut])
    if carry_k is not None and len(carry_k):
        yield _balance_reduce_keys(carry_k, carry_d)


def running_balance_floor(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    delta_col: str,
) -> DataFrame:
    """Floor-clamped running balance per key: b_i = max(0, b_{i-1} +
    delta_i) over the key's events in (ts, tiebreak) order — the
    wallet/credit-ledger recurrence (spend can't take a balance
    negative). Returns one row per key:
    (key, n_events, final_balance, n_floored). Integer (long) keys and
    deltas.

    This recurrence is NOT window-expressible (each step depends on the
    clamped previous step), so it runs in Python — but shaped for
    scale: ONE repartition by key + sortWithinPartitions, then a
    mapInPandas kernel that processes a whole partition's keys per
    Arrow batch (NOT applyInPandas, whose per-group pandas
    materialization costs ~1 ms x |keys|), carrying the trailing key
    across batch boundaries (:func:`_balance_kernel`). Inside, the
    chain is VECTORIZED via the reset-cumsum identity
    ``b_i = cs_i - min(0, min_{j<=i} cs_j)`` (prefix sums + a running
    minimum per key segment), all int64, so a recursive-CTE SQL oracle
    reproduces it exactly."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    # the kernel closes over module-level helpers; executors can't
    # import lakeapi_spark (driver-only sys.path), so ship the module
    # by value — the sources/dv.py pattern
    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
            F.col(delta_col).cast("long").alias("_d"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_ts", "_tb")
    )
    out_schema = "_k long, n_events long, final_balance long, n_floored long"
    return staged.mapInPandas(_balance_kernel, schema=out_schema).withColumnRenamed(
        "_k", key_col
    )


def _ses_reduce_keys(keys, xs, alpha_num: int):
    """One (key, n_events, ses_final) row per key segment of a
    KEY-SORTED (keys, xs) pair — the sequential core of
    :func:`exp_smooth_final`. The recursion runs on int64 micro-units
    with integer division (s = (a*x + (1000-a)*s) DIV 1000), so a
    recursive-CTE SQL oracle replays it bit-exactly — no float-round
    dialect to reconcile."""
    import numpy as np
    import pandas as pd

    beta = 1000 - alpha_num
    out_k, out_n, out_s = [], [], []
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys)]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        s = int(seg[0])
        for x in seg[1:]:
            s = (alpha_num * int(x) + beta * s) // 1000
        out_k.append(keys[st])
        out_n.append(en - st)
        out_s.append(s)
    return pd.DataFrame(
        {
            "_k": np.asarray(out_k, dtype=np.int64),
            "n_events": np.asarray(out_n, dtype=np.int64),
            "ses_final": np.asarray(out_s, dtype=np.int64),
        }
    )


def _holt_reduce_keys(keys, xs, alpha_num: int, gamma_num: int):
    """Per-key rows (key, n_events, level, trend, sae) for Holt LINEAR
    smoothing with a one-step backtest in the same pass: l_1 = x_1,
    b_1 = 0, then

        f_t = l_{t-1} + b_{t-1}                       (forecast)
        l_t = (a*x_t + (1000-a)*f_t) FLOORDIV 1000
        b_t = (g*(l_t - l_{t-1}) + (1000-g)*b_{t-1}) FLOORDIV 1000

    all int64 micro-units with TRUNCATING (toward-zero) division —
    DuckDB's integer // truncates ((-7)//2 = -3) while Python's floors
    (-4), and the trend register goes negative, so the kernel spells
    the division explicitly to match the SQL oracle (measured: the
    floor spelling diverged by a few micro-units per negative-trend
    step). sae accumulates |x_t - f_t| for t >= 2."""
    import numpy as np
    import pandas as pd

    def tdiv(a: int, b: int) -> int:  # C/DuckDB-style toward-zero
        return a // b if a >= 0 else -((-a) // b)

    abeta = 1000 - alpha_num
    gbeta = 1000 - gamma_num
    out_k, out_n, out_l, out_b, out_e = [], [], [], [], []
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys)]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        lvl, trd, sae = int(seg[0]), 0, 0
        for x in seg[1:]:
            f = lvl + trd
            sae += abs(int(x) - f)
            new_l = tdiv(alpha_num * int(x) + abeta * f, 1000)
            trd = tdiv(gamma_num * (new_l - lvl) + gbeta * trd, 1000)
            lvl = new_l
        out_k.append(keys[st])
        out_n.append(en - st)
        out_l.append(lvl)
        out_b.append(trd)
        out_e.append(sae)
    return pd.DataFrame(
        {
            "_k": np.asarray(out_k, dtype=np.int64),
            "n_events": np.asarray(out_n, dtype=np.int64),
            "level": np.asarray(out_l, dtype=np.int64),
            "trend": np.asarray(out_b, dtype=np.int64),
            "sae": np.asarray(out_e, dtype=np.int64),
        }
    )


def _holt_kernel_factory(alpha_num: int, gamma_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=np.int64)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            last = keys[-1]
            cut = np.searchsorted(keys, last, side="left")
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _holt_reduce_keys(keys[:cut], xs[:cut], alpha_num, gamma_num)
        if carry_k is not None and len(carry_k):
            yield _holt_reduce_keys(carry_k, carry_x, alpha_num, gamma_num)

    return kernel


def holt_smooth_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    x_col: str,
    alpha_num: int = 300,
    gamma_num: int = 100,
) -> DataFrame:
    """Per-key Holt linear (level + trend) smoothing with the one-step
    backtest in the same sequential pass — the trend-aware upgrade of
    :func:`exp_smooth_final`/:func:`exp_smooth_backtest` for series
    that drift (a flat SES lags a trending series by construction;
    Holt's forecast l + b does not). Same plan shape and determinism
    contract: one repartition+sort, whole-partition kernel,
    batch-boundary key carry, recursive-CTE-replayable integer math
    (toward-zero division, matching SQL dialects' integer //).
    Returns (key, n_events, level, trend, sae) in int64
    micro-units."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_ts", "_tb")
    )
    out_schema = "_k long, n_events long, level long, trend long, sae long"
    return staged.mapInPandas(
        _holt_kernel_factory(alpha_num, gamma_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


def _ses_backtest_reduce_keys(keys, xs, alpha_num: int):
    """Per-key rows (key, n_events, n_pred, sae) for the SES one-step
    BACKTEST: walking the same truncating integer recursion as
    :func:`_ses_reduce_keys`, each step t >= 2 is forecast by the
    PRE-UPDATE level s_{t-1}, and sae accumulates |x_t - s_{t-1}| in
    int64 micro-units — rolling-origin evaluation for free, because
    flat SES's one-step forecast IS its running level. Keys with a
    single event have nothing to forecast and drop."""
    import numpy as np
    import pandas as pd

    beta = 1000 - alpha_num
    out_k, out_n, out_p, out_e = [], [], [], []
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys)]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        if en - st < 2:
            continue
        s = int(seg[0])
        sae = 0
        for x in seg[1:]:
            sae += abs(int(x) - s)
            s = (alpha_num * int(x) + beta * s) // 1000
        out_k.append(keys[st])
        out_n.append(en - st)
        out_p.append(en - st - 1)
        out_e.append(sae)
    return pd.DataFrame(
        {
            "_k": np.asarray(out_k, dtype=np.int64),
            "n_events": np.asarray(out_n, dtype=np.int64),
            "n_pred": np.asarray(out_p, dtype=np.int64),
            "sae": np.asarray(out_e, dtype=np.int64),
        }
    )


def _ses_backtest_kernel_factory(alpha_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=np.int64)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            last = keys[-1]
            cut = np.searchsorted(keys, last, side="left")
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _ses_backtest_reduce_keys(keys[:cut], xs[:cut], alpha_num)
        if carry_k is not None and len(carry_k):
            yield _ses_backtest_reduce_keys(carry_k, carry_x, alpha_num)

    return kernel


def exp_smooth_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    x_col: str,
    alpha_num: int = 300,
) -> DataFrame:
    """Rolling-origin one-step backtest of the per-key SES forecaster:
    at every step the CURRENT level forecasts the next observation, and
    the absolute errors accumulate — (key, n_events, n_pred, sae) in
    exact int64 micro-units, MAE = sae/n_pred left to the caller's
    precision policy. Same plan shape and determinism contract as
    :func:`exp_smooth_final` (one repartition+sort, whole-partition
    kernel, batch-boundary key carry, recursive-CTE-replayable)."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_ts", "_tb")
    )
    out_schema = "_k long, n_events long, n_pred long, sae long"
    return staged.mapInPandas(
        _ses_backtest_kernel_factory(alpha_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


def _ses_kernel_factory(alpha_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=np.int64)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            last = keys[-1]
            cut = np.searchsorted(keys, last, side="left")
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _ses_reduce_keys(keys[:cut], xs[:cut], alpha_num)
        if carry_k is not None and len(carry_k):
            yield _ses_reduce_keys(carry_k, carry_x, alpha_num)

    return kernel


def exp_smooth_final(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    x_col: str,
    alpha_num: int = 300,
) -> DataFrame:
    """Per-key simple exponential smoothing, final level: s_1 = x_1,
    s_t = (alpha_num*x_t + (1000-alpha_num)*s_{t-1}) DIV 1000 over the
    key's rows in (ts, tiebreak) order, all int64 micro-units — the
    one-number-per-entity trend memory (flat SES forecast) behind
    spend prediction and anomaly baselines.

    Like :func:`running_balance_floor`, the recurrence is inherently
    sequential (the multiplicative decay has no clamped-cumsum closed
    form once each step truncates), so it runs in Python — same scale
    shape: ONE repartition by key + sortWithinPartitions, a
    mapInPandas kernel over whole partitions (never per-group pandas),
    trailing-key carry across Arrow batches. The integer recursion is
    the determinism contract: a recursive CTE replays it exactly."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_ts", "_tb")
    )
    out_schema = "_k long, n_events long, ses_final long"
    return staged.mapInPandas(
        _ses_kernel_factory(alpha_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


def _hw_reduce_keys(keys, xs, alpha_num: int, gamma_num: int, season_num: int):
    """Per-key rows (key, n_events, level, trend, s0..s6, sae) for
    ADDITIVE Holt-Winters smoothing with period 7 and the one-step
    backtest in the same pass. Zero-init seasonal states (l_1 = x_1,
    b_1 = 0, s_j = 0 — the first season learns in place, a fully
    replayable contract), position-based seasonality (step t uses
    slot (t-1) % 7), and for t >= 2:

        sd  = s[(t-1) % 7]
        f_t = l + b + sd                               (forecast)
        l'  = (a*(x_t - sd) + (1000-a)*(l + b))   TDIV 1000
        b'  = (g*(l' - l)   + (1000-g)*b)         TDIV 1000
        s[(t-1)%7] = (c*(x_t - l') + (1000-c)*sd) TDIV 1000

    all int64 micro-units with TRUNCATING (toward-zero) division —
    the same DuckDB `//` contract as :func:`_holt_reduce_keys` (level
    deltas and trend go negative). sae accumulates |x_t - f_t|."""
    import numpy as np
    import pandas as pd

    def tdiv(a: int, b: int) -> int:  # C/DuckDB-style toward-zero
        return a // b if a >= 0 else -((-a) // b)

    abeta = 1000 - alpha_num
    gbeta = 1000 - gamma_num
    cbeta = 1000 - season_num
    rows = []
    n = len(keys)
    change = np.ones(n, dtype=bool)
    change[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(change)
    ends = np.concatenate((starts[1:], [n]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        lvl, trd, sae = int(seg[0]), 0, 0
        s = [0] * 7
        for i, x in enumerate(seg[1:]):
            slot = (i + 1) % 7
            sd = s[slot]
            f = lvl + trd + sd
            sae += abs(int(x) - f)
            new_l = tdiv(alpha_num * (int(x) - sd) + abeta * (lvl + trd), 1000)
            trd = tdiv(gamma_num * (new_l - lvl) + gbeta * trd, 1000)
            s[slot] = tdiv(season_num * (int(x) - new_l) + cbeta * sd, 1000)
            lvl = new_l
        rows.append((keys[st], en - st, lvl, trd, *s, sae))
    return pd.DataFrame(
        rows,
        columns=["_k", "n_events", "level", "trend",
                 "s0", "s1", "s2", "s3", "s4", "s5", "s6", "sae"],
    )


def _hw_kernel_factory(alpha_num: int, gamma_num: int, season_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=object)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            # carry the trailing run of the last key (order-agnostic,
            # works for string keys unlike searchsorted)
            last = keys[-1]
            cut = len(keys)
            while cut > 0 and keys[cut - 1] == last:
                cut -= 1
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _hw_reduce_keys(
                    keys[:cut], xs[:cut], alpha_num, gamma_num, season_num
                )
        if carry_k is not None and len(carry_k):
            yield _hw_reduce_keys(
                carry_k, carry_x, alpha_num, gamma_num, season_num
            )

    return kernel


def holt_winters_backtest(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    alpha_num: int = 300,
    gamma_num: int = 100,
    season_num: int = 300,
) -> DataFrame:
    """Per-key ADDITIVE Holt-Winters (level + trend + 7-slot seasonal)
    smoothing with the rolling-origin one-step backtest in the same
    sequential pass — the seasonality-aware top rung of the
    SES -> Holt ladder (a Holt forecast lags weekly-periodic series by
    the seasonal amplitude; HW's l + b + s_dow does not). Same plan
    shape and determinism contract as :func:`holt_smooth_backtest`:
    one repartition+sort, whole-partition Arrow kernel with
    batch-boundary key carry, recursive-CTE-replayable integer math
    (toward-zero division). ``order_col`` must totally order each
    key's series (e.g. the day). Returns (key, n_events, level,
    trend, s0..s6, sae) in int64 micro-units."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(order_col).alias("_o"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_o")
    )
    out_schema = (
        "_k string, n_events long, level long, trend long, "
        "s0 long, s1 long, s2 long, s3 long, s4 long, s5 long, s6 long, sae long"
    )
    return staged.mapInPandas(
        _hw_kernel_factory(alpha_num, gamma_num, season_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


_HWM_SCALE = 1_000_000  # seasonal factors stored as millionths (1.0 == 1e6)


def _tdiv(a: int, b: int) -> int:
    """C/DuckDB-style toward-zero integer division for any signs."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _hwm_reduce_keys(keys, xs, alpha_num: int, gamma_num: int, season_num: int):
    """Per-key rows (key, n_events, level, trend, s0..s6, sae) for
    MULTIPLICATIVE Holt-Winters (period 7) with the one-step backtest
    in the same pass — the retail-seasonality twin of
    :func:`_hw_reduce_keys`: weekday effect scales WITH the level
    (a store doing 2x volume has 2x the Saturday bump), so the
    seasonal state is a RATIO, stored in integer millionths
    (s == 1_000_000 means factor 1.0). Identity-init seasonals
    (s_j = 1e6 — the first season learns in place), l_1 = x_1,
    b_1 = 0, and for t >= 2 with slot = (t-1) % 7:

        sd  = s[slot]
        f_t = (l + b) * sd                          TDIV 1e6
        des = x_t * 1e6                             TDIV sd   (0 if sd = 0)
        l'  = (a*des + (1000-a)*(l + b))            TDIV 1000
        b'  = (g*(l' - l) + (1000-g)*b)             TDIV 1000
        rat = x_t * 1e6                             TDIV l'   (0 if l' = 0)
        s[slot] = (c*rat + (1000-c)*sd)             TDIV 1000

    All integer math with toward-zero division (the DuckDB ``//``
    contract), exact-Python-int intermediates (the x*1e6 products
    exceed int64 around x ~ 9e12 micro-units; the recursive-CTE
    oracle stays in BIGINT, so callers keep x below that — the
    shipped query's daily micro-unit totals are ~1e10). The sd=0 /
    l'=0 division guards are part of the replayable contract, not
    error handling: both engines take the same branch on the same
    numbers. Multiplicative HW assumes a strictly positive series;
    callers filter keys to MIN(x) > 0 (the shipped query does)."""
    import numpy as np
    import pandas as pd

    abeta = 1000 - alpha_num
    gbeta = 1000 - gamma_num
    cbeta = 1000 - season_num
    rows = []
    n = len(keys)
    change = np.ones(n, dtype=bool)
    change[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(change)
    ends = np.concatenate((starts[1:], [n]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        lvl, trd, sae = int(seg[0]), 0, 0
        s = [_HWM_SCALE] * 7
        for i, x in enumerate(seg[1:]):
            x = int(x)
            slot = (i + 1) % 7
            sd = s[slot]
            f = _tdiv((lvl + trd) * sd, _HWM_SCALE)
            sae += abs(x - f)
            des = _tdiv(x * _HWM_SCALE, sd) if sd != 0 else 0
            new_l = _tdiv(alpha_num * des + abeta * (lvl + trd), 1000)
            trd = _tdiv(gamma_num * (new_l - lvl) + gbeta * trd, 1000)
            rat = _tdiv(x * _HWM_SCALE, new_l) if new_l != 0 else 0
            s[slot] = _tdiv(season_num * rat + cbeta * sd, 1000)
            lvl = new_l
        rows.append((keys[st], en - st, lvl, trd, *s, sae))
    return pd.DataFrame(
        rows,
        columns=["_k", "n_events", "level", "trend",
                 "s0", "s1", "s2", "s3", "s4", "s5", "s6", "sae"],
    )


def _hwm_kernel_factory(alpha_num: int, gamma_num: int, season_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=object)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            last = keys[-1]
            cut = len(keys)
            while cut > 0 and keys[cut - 1] == last:
                cut -= 1
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _hwm_reduce_keys(
                    keys[:cut], xs[:cut], alpha_num, gamma_num, season_num
                )
        if carry_k is not None and len(carry_k):
            yield _hwm_reduce_keys(
                carry_k, carry_x, alpha_num, gamma_num, season_num
            )

    return kernel


def _croston_reduce_keys(keys, xs, alpha_num: int):
    """Per-key rows (key, n_periods, n_demand, z, p, sae) for
    Croston's method (Croston 1972, public) over a GAP-FILLED series
    (every period present, zero demand included — the zeros ARE the
    signal): separate SES states for demand SIZE z (micro-units) and
    inter-demand INTERVAL p (milli-periods), updated only on nonzero
    periods; the one-step forecast z*1000 TDIV p backtests every
    period after the first demand. The right model when most periods
    are zero — plain SES/Holt decay toward zero between demands and
    systematically under-forecast the next spike.

        q += 1 each period
        on demand x>0:  z' = (a*x      + (1000-a)*z) TDIV 1000
                        p' = (a*q*1000 + (1000-a)*p) TDIV 1000 ; q = 0
        (first demand initializes z = x, p = q*1000)

    All int64 toward-zero math, replayable by a recursive-CTE oracle;
    sae accumulates |x - forecast| over started periods."""
    import numpy as np
    import pandas as pd

    abeta = 1000 - alpha_num
    rows = []
    n = len(keys)
    change = np.ones(n, dtype=bool)
    change[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(change)
    ends = np.concatenate((starts[1:], [n]))
    for st, en in zip(starts, ends):
        seg = xs[st:en]
        z = p = None
        q = 0
        sae = 0
        n_demand = 0
        for x in seg:
            x = int(x)
            if z is not None:
                sae += abs(x - _tdiv(z * 1000, p))
            q += 1
            if x > 0:
                if z is None:
                    z, p = x, q * 1000
                else:
                    z = _tdiv(alpha_num * x + abeta * z, 1000)
                    p = _tdiv(alpha_num * q * 1000 + abeta * p, 1000)
                n_demand += 1
                q = 0
        rows.append((keys[st], en - st, n_demand, z or 0, p or 0, sae))
    return pd.DataFrame(
        rows, columns=["_k", "n_periods", "n_demand", "z", "p", "sae"]
    )


def _croston_kernel_factory(alpha_num: int):
    def kernel(batches):
        import numpy as np

        carry_k = carry_x = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["_k"].to_numpy(dtype=object)
            xs = pdf["_x"].to_numpy(dtype=np.int64)
            if carry_k is not None:
                keys = np.concatenate((carry_k, keys))
                xs = np.concatenate((carry_x, xs))
            last = keys[-1]
            cut = len(keys)
            while cut > 0 and keys[cut - 1] == last:
                cut -= 1
            carry_k, carry_x = keys[cut:], xs[cut:]
            if cut:
                yield _croston_reduce_keys(keys[:cut], xs[:cut], alpha_num)
        if carry_k is not None and len(carry_k):
            yield _croston_reduce_keys(carry_k, carry_x, alpha_num)

    return kernel


def croston_backtest(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    alpha_num: int = 100,
) -> DataFrame:
    """Per-key Croston intermittent-demand smoothing with the
    rolling-origin one-step backtest — see :func:`_croston_reduce_keys`
    for the integer contract. ``df`` must be the GAP-FILLED series
    (one row per period per key, zeros present); ``order_col`` totally
    orders each key's periods. Same plan shape as the other
    sequential kernels: one repartition+sort, whole-partition Arrow
    kernel with batch-boundary key carry — keys distribute, so 1e9
    sparse SKUs run as independent partition-local scans. Returns
    (key, n_periods, n_demand, z, p, sae): z in the input's
    micro-units, p in milli-periods."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(order_col).alias("_o"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_o")
    )
    out_schema = (
        "_k string, n_periods long, n_demand long, z long, p long, sae long"
    )
    return staged.mapInPandas(
        _croston_kernel_factory(alpha_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


def holt_winters_multiplicative_backtest(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    alpha_num: int = 300,
    gamma_num: int = 100,
    season_num: int = 300,
) -> DataFrame:
    """Per-key MULTIPLICATIVE Holt-Winters (level + trend + 7-slot
    ratio seasonal) smoothing with the rolling-origin one-step
    backtest in the same sequential pass — see :func:`_hwm_reduce_keys`
    for the integer contract. Same plan shape as
    :func:`holt_winters_backtest`: one repartition+sort, whole-
    partition Arrow kernel with batch-boundary key carry — the state
    is sequential per key but keys distribute, so 1e9 series run as
    independent partition-local scans. Returns (key, n_events, level,
    trend, s0..s6, sae); level/trend/sae in the input's micro-units,
    s0..s6 in millionths of the seasonal factor."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])

    staged = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(order_col).alias("_o"),
            F.col(x_col).cast("long").alias("_x"),
        )
        .repartition("_k")
        .sortWithinPartitions("_k", "_o")
    )
    out_schema = (
        "_k string, n_events long, level long, trend long, "
        "s0 long, s1 long, s2 long, s3 long, s4 long, s5 long, s6 long, sae long"
    )
    return staged.mapInPandas(
        _hwm_kernel_factory(alpha_num, gamma_num, season_num), schema=out_schema
    ).withColumnRenamed("_k", key_col)


# ---------------------------------------------------------------------------
# Banded NTILE — the scale path for global tile assignment (VERDICT r12 #1a)
# ---------------------------------------------------------------------------


def _tile_end_ranks(n: int, n_tiles: int) -> list[int]:
    """1-indexed cumulative end position of tiles 1..n_tiles-1 under
    SQL NTILE sizing: the first (n mod t) tiles hold ceil(n/t) rows,
    the rest floor(n/t)."""
    base, extra = divmod(n, n_tiles)
    ends, acc = [], 0
    for i in range(1, n_tiles):
        acc += base + (1 if i <= extra else 0)
        ends.append(acc)
    return ends


def ntile_boundaries(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_tiles: int,
    descending: bool = False,
    n_buckets: int = 1024,
) -> list[tuple[int, float, object, object]]:
    """EXACT order statistics at the NTILE tile-end ranks — see
    :func:`order_statistics` for the selection machinery; this wrapper
    derives the ranks from the SQL NTILE sizing rule."""
    return order_statistics(
        df,
        value_col,
        key_col,
        lambda n: _tile_end_ranks(n, n_tiles),
        descending=descending,
        n_buckets=n_buckets,
    )


def order_statistics(
    df: DataFrame,
    value_col: str,
    key_col: str | None,
    ranks,
    descending: bool = False,
    n_buckets: int = 1024,
) -> list[tuple[int, float, object, object]]:
    """EXACT order statistics at arbitrary 1-based ranks WITHOUT a
    global sort — the distributed-selection pass structure
    (histogram-guided selection, Blum et al. rank selection
    relationalized). ``ranks`` is a list of ranks or a callable
    ``n -> list[int]`` evaluated against the exact row count (so
    callers can pick count-dependent ranks — NTILE tile ends, the
    conformal k — without a separate count job). ``key_col=None``
    selects by value order alone: the VALUE at each rank is still
    deterministic under ties (ties share a bucket and any of them is
    the rank's value), only the reported key is None.

    1. ONE aggregate: count + min/max of the direction-adjusted sort
       value ``s`` (s = value, negated when descending; key ascending
       is always the tiebreak, so descending order is (-v, k) — NOT a
       reversal of the ascending order).
    2. ONE bounded-group shuffle: histogram of ``floor((s-mn)/w)``
       over ``n_buckets`` buckets. floor((s-mn)/w) is weakly monotone
       in s under IEEE arithmetic, so bucket boundaries respect the
       total order; the driver cumulative over <= n_buckets counts
       locates, for each target rank, its bucket and local rank.
    3. ONE scan filtered to the <= n_tiles-1 target buckets; a window
       PARTITIONED by bucket ranks only those candidate rows (expected
       n/n_buckets each) and picks the boundary tuples.

    Returns [(global_rank, s_boundary, key_boundary, native_value)...]
    sorted by rank — at most n_tiles-1 entries, a K-bounded driver
    collect. Exactness contract: the (s, k) comparisons that define
    the selection are the same comparisons :func:`ntile_banded` uses
    for assignment, so banded assignment == NTILE(t) OVER (ORDER BY
    value [DESC], key) row for row; ``s`` is the value cast to double
    (exact for |v| < 2^53 — all catalog metrics).

    Scale: 3 passes over (value, key) — the minimum for exact
    selection — each a 2-column pruned scan; no global sort, no
    single-partition exchange. A pathologically skewed bucket (one
    value dominating) would make step 3's candidate set large; the
    refinement is to re-histogram within that bucket (not needed for
    the bounded-domain metrics registered here)."""
    from bisect import bisect_left

    s = F.col(value_col).cast("double")
    if descending:
        s = -s
    key_expr = F.col(key_col) if key_col is not None else F.lit(0).cast("long")
    sel = df.select(
        s.alias("__s"),
        key_expr.alias("__k"),
        F.col(value_col).alias("__v"),
    )
    first = sel.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__s").alias("mn"),
        F.max("__s").alias("mx"),
    ).first()
    n, mn, mx = first["n"], first["mn"], first["mx"]
    if n == 0:
        return []
    ends = list(ranks(n)) if callable(ranks) else list(ranks)
    if not ends:
        return []
    bad_ranks = [r for r in ends if not 1 <= r <= n]
    if bad_ranks:
        raise ValueError(f"ranks out of [1, {n}]: {bad_ranks}")
    width = (mx - mn) / n_buckets if mx > mn else 1.0
    b = F.least(
        F.greatest(
            F.floor((F.col("__s") - F.lit(mn)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    hist = sorted(
        (r["__b"], r["cnt"])
        for r in sel.groupBy(b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    buckets = [bk for bk, _ in hist]
    cum = []
    acc = 0
    for _, cnt in hist:
        acc += cnt
        cum.append(acc)
    # bucket -> {local_rank: global_rank}; ends can repeat when n < n_tiles
    # (trailing empty tiles), so selection works over the DISTINCT ranks
    # and the return expands back to one entry per tile end.
    targets: dict[int, dict[int, int]] = {}
    for r in set(ends):
        i = bisect_left(cum, r)
        before = cum[i - 1] if i else 0
        targets.setdefault(buckets[i], {})[r - before] = r
    cand = sel.withColumn("__b", b).filter(F.col("__b").isin(list(targets)))
    rn = F.row_number().over(Window.partitionBy("__b").orderBy("__s", "__k"))
    picked = cand.withColumn("__rn", rn).filter(
        F.col("__rn") <= max(max(lr) for lr in targets.values())
    )
    found: dict[int, tuple] = {}
    for row in picked.collect():
        g = targets.get(row["__b"], {}).get(row["__rn"])
        if g is not None:
            found[g] = (row["__s"], row["__k"], row["__v"])
    missing = [r for r in set(ends) if r not in found]
    if missing:
        raise RuntimeError(f"selection missed boundary ranks {missing}")
    if key_col is None:
        return [(r, found[r][0], None, found[r][2]) for r in ends]
    return [(r, *found[r]) for r in ends]


def ntile_banded(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_tiles: int,
    descending: bool = False,
    n_buckets: int = 1024,
    tile_col: str = "tile",
) -> DataFrame:
    """NTILE(n_tiles) OVER (ORDER BY value [DESC], key) WITHOUT the
    global sort: :func:`ntile_boundaries` selects the exact boundary
    TUPLES (s, k) at the tile-end ranks, and assignment is the pure
    map-side expression ``1 + #{boundaries strictly below (s, k)}`` —
    broadcast-free (the <= n_tiles-1 boundaries inline as literals).

    Tuple boundaries (not value boundaries) are what make this
    EXACTLY NTILE: ties on the value split across tiles by the key
    order, the same way the window's total order splits them. The
    registered NTILE-family queries keep their NTILE oracles — the
    equivalence is hash-verified, not argued.

    Scale: 3 bounded passes for the boundaries + the map-side
    assignment fused into whatever consumes it; the single-partition
    NTILE sort this replaces is the one plan shape
    tests/test_plans.py::test_registry_no_unbounded_global_windows
    bans over data-sized inputs."""
    bnds = ntile_boundaries(
        df, value_col, key_col, n_tiles, descending=descending, n_buckets=n_buckets
    )
    s = F.col(value_col).cast("double")
    if descending:
        s = -s
    tile = F.lit(1)
    for _rank, sb, kb, _v in bnds:
        above = (s > F.lit(sb)) | (
            (s == F.lit(sb)) & (F.col(key_col) > F.lit(kb))
        )
        tile = tile + F.when(above, 1).otherwise(0)
    return df.withColumn(tile_col, tile.cast("int"))
