"""Window / time-series operator library.

Implements the reference's documented analytical workload (SURVEY.md
§2B, reference README.md:22-24,177): forward-fill (B1), lag returns
(B3), rolling volatility (B4), plus the ranking/top-k surface the
reference lacks (§2C).

Scale doctrine: every window here partitions by the entity key (isin /
user_id), so state per partition = one entity's history — bounded and
sort-spillable. Never ``Window.orderBy`` without ``partitionBy`` on big
data (single-partition sort); `global_rank` documents the exception.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quanta_etl_spark.operators.util import group_complete_slices, python_kernel


def _order_cols(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _grouped_sorted_map(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    cols: Sequence[str],
    kernel,
    out_schema: str,
) -> DataFrame:
    """Shuffle-once grouped sequential evaluation (guide §4.2/§4.5).

    ``groupBy(key).applyInPandas`` frames every GROUP as its own Arrow
    batch and its own Python-side pandas call — at bench scale (1,500
    user groups of ~70 rows) the per-group framing and per-group pandas
    overhead dominated the actual kernel by >10×. This helper keeps the
    identical data movement (one hash shuffle on ``key``) but re-cuts
    the Python boundary at ARROW-BATCH granularity instead:

    * ``repartition(key)`` + ``sortWithinPartitions(key, *order)`` —
      the same single exchange a groupBy would pay, plus the sort the
      per-group kernels were doing row-locally anyway;
    * one ``mapInPandas`` whose batches are re-cut on group boundaries
      (a group spanning Arrow batches is carried into the next batch —
      memory bound: one group + one batch, the bound applyInPandas
      already carried);
    * ``kernel(pdf)`` sees a MULTI-group frame, sorted by
      (key, *order), and vectorizes across all groups at once.

    Order keys sort NULLS LAST (``asc_nulls_last``) to match what the
    previous per-group ``pandas.sort_values`` did with NaN order keys,
    so results are unchanged for every input the old shape accepted.
    """
    projected = df.select(*cols)

    def run(batches):
        for pdf in group_complete_slices(batches, key):
            yield kernel(pdf)

    return (
        projected.repartition(F.col(key))
        .sortWithinPartitions(key, *[F.asc_nulls_last(c) for c in order])
        .mapInPandas(python_kernel(run), out_schema)
    )


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Carry the last non-null observation forward within each entity
    (reference README.md:22-24: "price needs to be inferred from the
    previous observation"). One shuffle + one sort per entity partition.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def time_spine(
    df: DataFrame,
    key: str,
    ts: str,
    step: str = "interval 1 minute",
) -> DataFrame:
    """Dense (key, ts) grid from each key's min(ts) to max(ts) —
    ``sequence()`` + ``explode``, no driver-side loops. Left-join facts
    onto this and forward-fill to materialize "price at every minute".
    """
    return (
        df.groupBy(key)
        .agg(F.min(ts).alias("__lo"), F.max(ts).alias("__hi"))
        .select(
            key,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr(step))
            ).alias(ts),
        )
    )


def densify_and_fill(
    df: DataFrame,
    key: str,
    ts: str,
    value_cols: Sequence[str],
    step: str = "interval 1 minute",
) -> DataFrame:
    """B1 composed end-to-end: dense spine ⟕ facts, then forward-fill
    the value columns. Rows that had no trade carry the previous
    observation's values (nulls before the first observation remain)."""
    spine = time_spine(df, key, ts, step)
    joined = spine.join(df, [key, ts], "left")
    return forward_fill(joined, value_cols, [key], [ts])


def lag_returns(
    df: DataFrame,
    value: str,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    out: str = "returns",
) -> DataFrame:
    """Per-entity simple returns: value / lag(value) - 1 (reference
    README.md:177). NULL for each entity's first observation and wherever
    the previous value is 0 (try_divide — keeps ANSI mode enabled without
    failing the whole job on one degenerate tick)."""
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by))
    prev = F.lag(value, 1).over(w)
    return df.withColumn(out, F.try_divide(F.col(value), prev) - 1.0)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int = 1800,
    order_tiebreak: Sequence[str] = (),
    out: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: within each key, a new session starts
    when the time since the previous event exceeds ``gap_seconds``.
    Two stacked windows over ONE shuffle+sort (lag flag, then running
    sum) — the standard distributed sessionize; at scale the state per
    partition is one key's ordered history."""
    # Gap arithmetic needs epoch seconds. `cast("long")` is illegal on
    # TIMESTAMP_NTZ (which parquet `timestamp[us]` columns read as), so
    # pick the conversion off the actual dtype: numeric ts columns are
    # already epoch seconds; timestamp/ntz go through unix_timestamp
    # (NTZ-safe, same truncate-to-seconds semantics as the old cast).
    from pyspark.sql.types import NumericType

    if isinstance(df.schema[ts].dataType, NumericType):
        ts_secs = F.col(ts).cast("long")
    else:
        ts_secs = F.unix_timestamp(F.col(ts))
    order = [F.col(ts), *_order_cols(order_tiebreak)]
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(ts_secs).over(w)
    is_new = F.when(
        prev.isNull() | ((ts_secs - prev) > gap_seconds), 1
    ).otherwise(0)
    running = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(out, F.sum(is_new).over(running).cast("int"))


def rolling_agg(
    df: DataFrame,
    value: str,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    window_rows: int,
    aggs: dict[str, str],
) -> DataFrame:
    """Trailing-row-frame rolling aggregates (B4: rolling volatility =
    stddev of returns over the previous N observations).

    ``aggs`` maps output column → agg fn name ('stddev', 'avg', 'sum',
    'min', 'max', 'count'). Frame = [current-window_rows+1, current].
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(-(window_rows - 1), 0)
    )
    out = df
    for name, fn in aggs.items():
        out = out.withColumn(name, getattr(F, fn)(value).over(w))
    return out


def rolling_time_agg(
    df: DataFrame,
    value: str,
    partition_by: Sequence[str],
    ts_col: str,
    lookback_seconds: int,
    aggs: dict[str, str],
) -> DataFrame:
    """Trailing TIME-frame rolling aggregates (B4's other frame type):
    the frame holds every row whose timestamp lies within
    ``lookback_seconds`` BEFORE the current row's — by value, not by
    row position, so irregular/gappy series aggregate correctly
    (a 10-row frame spans 10 minutes on a dense series but hours on a
    sparse one; a time frame always spans exactly the window).

    Implemented with ``Window.rangeBetween`` over the timestamp cast to
    epoch seconds — one shuffle on the partition keys, same as any
    window; the range frame is evaluated with a sliding pointer inside
    each sorted partition, no self-join.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(F.unix_timestamp(F.col(ts_col)))
        .rangeBetween(-lookback_seconds, 0)
    )
    out = df
    for name, fn in aggs.items():
        out = out.withColumn(name, getattr(F, fn)(value).over(w))
    return out


def cumulative_agg(
    df: DataFrame,
    value: str,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    aggs: dict[str, str],
) -> DataFrame:
    """Running (cumulative) aggregates: frame = [unbounded preceding,
    current row]. ``order_by`` must be a total order for deterministic
    running values (include a unique tiebreaker)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for name, fn in aggs.items():
        out = out.withColumn(name, getattr(F, fn)(value).over(w))
    return out


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    k: int,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Per-group top-k via row_number. ``order_by`` must be a TOTAL order
    (include a unique tiebreaker) for deterministic results."""
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by))
    out = df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    method: str = "rank",
    out: str = "rank",
    ntiles: int = 4,
) -> DataFrame:
    """Ranking surface: row_number / rank / dense_rank / ntile / percent_rank /
    cume_dist over a keyed window."""
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by))
    fns: dict[str, Column] = {
        "row_number": F.row_number().over(w),
        "rank": F.rank().over(w),
        "dense_rank": F.dense_rank().over(w),
        "ntile": F.ntile(ntiles).over(w),
        "percent_rank": F.percent_rank().over(w),
        "cume_dist": F.cume_dist().over(w),
    }
    return df.withColumn(out, fns[method])


def global_top_k(df: DataFrame, order_by: Sequence[str | Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge of k rows), NOT a global sort, so
    it's safe at any scale for small k."""
    return df.orderBy(*_order_cols(order_by)).limit(k)


def ewma(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    tiebreak_cols: Sequence[str] = (),
    out_col: str = "ewma",
) -> DataFrame:
    """Exponential moving average per key:
    ``y_0 = x_0;  y_t = (1-alpha)*y_{t-1} + alpha*x_t`` over the key's
    events in ``(ts, *tiebreak)`` order — the standard smoothing for
    noisy series (and the recursion behind RSI/MACD-style indicators on
    the reference's minute bars).

    The recursion is genuinely sequential — no window frame expresses
    it — and the closed form is numerically different (engine-internal
    summation order; see :func:`cusum` for the measured knife-edge
    flips that reverted a closed-form rewrite), so it stays a pandas
    kernel. r13 (guide §4.2/§4.5): the kernel now runs per ARROW BATCH
    via :func:`_grouped_sorted_map` instead of per group — pandas'
    Cython ``GroupBy.ewm(adjust=False)`` evaluates the identical
    per-group recursion (bit-for-bit: same multiply/add sequence,
    denominator ``(1-a)+a`` is exactly 1.0 in binary) across every
    group in the batch at once, removing the per-group Arrow framing
    and per-group pandas-call overhead that dominated the old
    ``applyInPandas`` shape (measured 13× kernel-side on the 1,500
    ~70-row groups of the gated events table). One shuffle on the key,
    same as before. Output keeps (key, ts, tiebreaks, value, ewma).

    Memory bound: one key's full history per task (same bound as every
    per-key window in this engine); a key too hot for that needs period
    chunking with carried state, which is what the streaming twin
    (applyInPandasWithState) does per micro-batch.
    """
    import pandas as pd

    order = [ts_col, *tiebreak_cols]
    cols = [key, *order, value_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    ) + f", {out_col} double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf[out_col] = (
            pdf[value_col]
            .astype(float)
            .groupby(pdf[key].values, sort=False, dropna=False)
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .reset_index(drop=True)
        )
        return pdf

    return _grouped_sorted_map(df, key, order, cols, kernel, out_schema)


def rolling_median(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    window_rows: int = 10,
    tiebreak_cols: Sequence[str] = (),
    out_col: str = "rolling_median",
) -> DataFrame:
    """Exact rolling median (interpolated, the ``percentile``/
    ``quantile_cont`` definition) of the trailing ``window_rows``
    observations per key — the robust-location cousin of the rolling
    mean/volatility family (reference README.md:177).

    Spark's ``percentile`` aggregate is window-capable, so this stays a
    single native window: one shuffle + sort per key partition, frame
    state bounded by ``window_rows``. No UDF, no applyInPandas.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*_order_cols([ts_col, *tiebreak_cols]))
        .rowsBetween(-(window_rows - 1), 0)
    )
    return df.withColumn(
        out_col, F.percentile(F.col(value_col), F.lit(0.5)).over(w)
    )


def linear_interpolate(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Fill null values by LINEAR interpolation between each key's
    previous and next non-null observation, weighted by event-time
    distance — the refinement of forward-fill (B1) for quantities that
    drift rather than step (reference README.md:22-24 infers prices at
    silent minutes; interpolation is the standard alternative fill).

    Edges: rows before the first non-null observation take the next
    value (back-fill); rows after the last take the previous (forward-
    fill); keys with no observations stay null.

    Implementation is four IGNORE NULLS window picks (prev/next value
    and their timestamps) over two frames on the same (key, ts) sort —
    Catalyst evaluates them in one Window node pair with a single
    shuffle+sort. Time distance uses integer microseconds, portable to
    any engine with microsecond timestamps.
    """
    out_col = out_col or value_col
    order = _order_cols([ts_col, *tiebreak_cols])
    prev_w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    next_w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    # NTZ-safe micros (session tz pinned UTC; cast is identity on NTZ)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    obs_ts = F.when(v.isNotNull(), t)
    prev_v = F.last(v, ignorenulls=True).over(prev_w)
    next_v = F.first(v, ignorenulls=True).over(next_w)
    prev_t = F.last(obs_ts, ignorenulls=True).over(prev_w)
    next_t = F.first(obs_ts, ignorenulls=True).over(next_w)
    frac = (t - prev_t).cast("double") / F.nullif(
        (next_t - prev_t).cast("double"), F.lit(0.0)
    )
    interp = prev_v + (next_v - prev_v) * frac
    filled = F.when(v.isNotNull(), v).otherwise(
        F.coalesce(interp, prev_v, next_v)
    )
    return df.withColumn(out_col, filled)


def skyline_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    num_bands: int = 64,
) -> DataFrame:
    """2-D Pareto frontier (skyline): the distinct (min_col, max_col)
    pairs not STRICTLY dominated by any other pair — dominated meaning
    another pair is <= on ``min_col``, >= on ``max_col``, and strictly
    better on at least one. The classic "cheapest price / largest
    quantity" frontier query.

    The naive formulation is an O(n²) dominance anti-join; in 2-D it
    collapses to a running-max window pass: sort by (min_col asc,
    max_col desc) — every earlier row then has min_col <= current —
    and keep rows whose ``max_col`` strictly exceeds the running max
    of all earlier rows. On distinct pairs this is exactly strict
    dominance: a tie on the running max means an earlier pair with
    equal max_col and strictly smaller min_col (dominates), or the
    same pair (impossible after distinct).

    Scale shape (two-phase, no single giant window): phase 1 bands the
    pair set into ``num_bands`` equal-width ``min_col`` ranges (band
    edges from a 1-row min/max aggregate, broadcast in-plan — never
    collected) and skylines each band in parallel; a band-local
    dominance loss implies a global loss, so phase 1 only discards
    safely. Phase 2 runs the same pass over the union of band
    frontiers — bounded by frontier size × bands, typically tiny —
    in one partition. Phase 2 alone equals the textbook algorithm;
    the result is identical either way.
    """
    pairs = df.select(min_col, max_col).distinct()
    rng = pairs.agg(
        F.min(min_col).cast("double").alias("__lo"),
        F.max(min_col).cast("double").alias("__hi"),
    )
    band = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.floor(
                (F.col(min_col) - F.col("__lo"))
                / ((F.col("__hi") - F.col("__lo")) / num_bands)
            ),
            F.lit(num_bands - 1),
        ),
    ).otherwise(F.lit(0))

    def _keep(frame: DataFrame, *partition) -> DataFrame:
        w = (
            Window.partitionBy(*partition)
            .orderBy(F.col(min_col).asc(), F.col(max_col).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        ) if partition else (
            Window.orderBy(F.col(min_col).asc(), F.col(max_col).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        run_max = F.max(max_col).over(w)
        return (
            frame.withColumn("__m", run_max)
            .where(F.col("__m").isNull() | (F.col(max_col) > F.col("__m")))
            .drop("__m")
        )

    banded = pairs.crossJoin(F.broadcast(rng)).withColumn("__band", band)
    phase1 = _keep(banded, "__band").drop("__band", "__lo", "__hi")
    return _keep(phase1)


def max_drawdown(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Maximum drawdown per entity — the canonical risk metric on the
    reference's price series (README.md:177 motivates rolling risk
    measures; drawdown is the path-dependent one): the deepest
    peak-to-trough fraction ``1 - value/running_max(value)`` over each
    entity's history.

    Returns one row per key: (key, max_drawdown, peak_value,
    trough_value) where peak/trough are the values at the deepest
    drawdown's peak and trough (trough = the row attaining the max
    drawdown, earliest such row wins ties via min-struct ordering).

    One window (running max) + one aggregation, both on the entity key;
    the struct-min trick picks the argmax row without a second join.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*_order_cols([ts_col, *tiebreak_cols]))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_max = F.max(value_col).over(w)
    # try_divide: a zero running peak (value history at/below 0) has no
    # defined drawdown fraction — NULL, not an ANSI divide-by-zero abort
    dd = 1.0 - F.try_divide(F.col(value_col), run_max)
    # min over struct(-dd, ts, tiebreaks..., peak, value) = argmax dd,
    # earliest row on ties. Rows with undefined dd (zero peak, NULL
    # value) must be EXCLUDED from the argmax, not allowed to win it:
    # a struct whose neg_dd field is NULL sorts BEFORE every real
    # struct under min, so gate the whole struct to NULL (min skips it).
    pick = F.when(
        dd.isNotNull(),
        F.struct(
            (-dd).alias("neg_dd"),
            F.col(ts_col).alias("ts"),
            *[F.col(c) for c in tiebreak_cols],
            run_max.alias("peak"),
            F.col(value_col).alias("val"),
        ),
    )
    return (
        df.withColumn("__pick", pick)
        .groupBy(key)
        .agg(F.min("__pick").alias("__best"))
        .select(
            key,
            (-F.col("__best.neg_dd")).alias("max_drawdown"),
            F.col("__best.peak").alias("peak_value"),
            F.col("__best.val").alias("trough_value"),
        )
    )


def anomaly_zscore(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    window_rows: int = 20,
    threshold: float = 3.0,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Rolling z-score anomaly flags: a row is anomalous when its value
    deviates from the trailing-window mean by more than ``threshold``
    sample standard deviations. The window EXCLUDES the current row
    (…rowsBetween(-window_rows, -1)) so an outlier can't mask itself by
    inflating its own baseline; rows without at least 2 prior
    observations are never flagged (stddev undefined).

    Adds (zscore, is_anomaly). One window pass per entity; mean/stddev
    share the frame so Catalyst computes them in a single Window node.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*_order_cols([ts_col, *tiebreak_cols]))
        .rowsBetween(-window_rows, -1)
    )
    mu = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    # sd > 0 guard: a zero-variance baseline yields 0/0 = NaN (which
    # Spark ORDERS above every number, so abs(z) > t would flag it) or
    # ±Inf — not NULL. Mirror the streaming twin (_zscore_step) exactly:
    # no flag without a positive-variance baseline.
    z = F.when(sd > 0, (F.col(value_col) - mu) / sd)
    return df.withColumn("zscore", z).withColumn(
        "is_anomaly",
        F.when(
            F.col("zscore").isNotNull(),
            F.abs(F.col("zscore")) > threshold,
        ).otherwise(F.lit(False)),
    )


def activity_streaks(
    df: DataFrame,
    key: str,
    ts_col: str,
) -> DataFrame:
    """Gaps-and-islands: group each key's distinct active DAYS into
    runs of consecutive days, and report per key the longest streak
    and total active days — the classic engagement metric (and the
    canonical SQL islands pattern: day − row_number() is constant
    within a consecutive run).

    Shape: distinct (key, day) first (collapses event volume), one
    window (row_number) and two aggregations, all partitioned by the
    key. Works on any timestamp/date column.
    """
    days = df.select(
        F.col(key), F.to_date(ts_col).alias("__d")
    ).distinct()
    w = Window.partitionBy(key).orderBy("__d")
    grp = F.date_sub(F.col("__d"), F.row_number().over(w))
    streaks = (
        days.withColumn("__g", grp)
        .groupBy(key, "__g")
        .agg(F.count(F.lit(1)).alias("__len"))
    )
    return streaks.groupBy(key).agg(
        F.max("__len").alias("longest_streak"),
        F.sum("__len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


def rolling_corr(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window_rows: int = 20,
    tiebreak_cols: Sequence[str] = (),
    scale: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """Rolling Pearson correlation of two series over a trailing
    ``window_rows``-observation frame — co-movement / rolling-beta
    estimation.

    Built from exact power sums over the frame (Σx, Σy, Σxy, Σx², Σy²,
    n) with the correlation algebra evaluated once per row — NOT from
    a native windowed ``corr()``, whose sliding-state float updates
    differ per engine and partitioning. The window sums are exact, so
    the result is bit-stable everywhere (the same discipline as
    ``aggregates.ols_regress``).

    ``scale``: for inputs with fixed decimal precision (money with 2
    decimals → ``scale=100``), the series are pre-scaled to exact
    int64 and the sums run as primitive longs — ~5× faster than the
    BigDecimal path and still exact (correlation is scale-invariant,
    so no correction is needed). Sum magnitude is bounded by the FRAME
    (window_rows · max|x·y·scale²|), not the table, so the fast path
    is 100-TB-safe whenever a single frame's products fit int64.
    ``scale=None`` keeps the general decimal path for arbitrary
    doubles.

    Rows with fewer than ``window_rows`` observations in frame or a
    zero-variance side get NULL. One window shuffle on the key.

    Decimal-path input range: |x|, |y| < 1e12 — beyond decimal(18,6)
    the cast overflows to NULL (non-ANSI mode). Such rows, like plain
    NULL inputs, are excluded from n AND every power sum together
    (counting them in n while the sums skip them would quietly skew
    the correlation — the ols_regress hazard from ADVICE r6).
    ``strict=True`` raises ``ValueError`` AT THIS CALL (eagerly, one
    extra Spark job scanning for overflow-excluded rows) when any
    exist — a lazy plan-embedded check proved bypassable by the
    optimizer, see ``util.attach_exclusion_guard`` (VERDICT r7 #5,
    r9). ``strict`` applies to the decimal path only: combining it
    with ``scale`` also raises ``ValueError`` immediately — the int64
    fast path has no overflow-exclusion semantics to guard, and
    silently ignoring the flag would defeat its explicit-signal
    intent (ADVICE r8).
    """
    if strict and scale is not None:
        raise ValueError(
            "rolling_corr: strict=True is only defined for the decimal "
            "path (scale=None); the int64 fast path excludes no rows, "
            "so there is nothing for strict to guard"
        )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(order_col), *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(-(window_rows - 1), 0)
    )
    if scale is not None:
        x = F.round(F.col(x_col) * scale).cast("long")
        y = F.round(F.col(y_col) * scale).cast("long")
        sxy_t = sxx_t = syy_t = "long"
    else:
        # try_cast: NULL on overflow under BOTH ANSI settings (a plain
        # cast throws under ANSI=true, Spark 4's default, and silently
        # NULLs under ANSI=false — either way the row must drop from n
        # and the sums together, which `valid` below guarantees).
        x = F.col(x_col).try_cast("decimal(18,6)")
        y = F.col(y_col).try_cast("decimal(18,6)")
        sxy_t = sxx_t = syy_t = "decimal(38,12)"
    valid = x.isNotNull() & y.isNotNull()
    x = F.when(valid, x)
    y = F.when(valid, y)
    n = F.sum(F.when(valid, 1).otherwise(0)).over(w).cast("double")
    sx = F.sum(x).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    sxy = F.sum((x * y).cast(sxy_t)).over(w).cast("double")
    sxx = F.sum((x * x).cast(sxx_t)).over(w).cast("double")
    syy = F.sum((y * y).cast(syy_t)).over(w).cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    corr = F.when(
        (n >= window_rows) & (varx > 0) & (vary > 0),
        cov / F.sqrt(varx * vary),
    )
    out = df.withColumn("rolling_corr", corr)
    if strict and scale is None:
        from .util import attach_exclusion_guard

        xd = F.col(x_col).try_cast("decimal(18,6)")
        yd = F.col(y_col).try_cast("decimal(18,6)")
        excluded = df.where(
            F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
            & (xd.isNull() | yd.isNull())
        )
        out = attach_exclusion_guard(out, excluded, "rolling_corr")
    return out


def cusum(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """One-sided upper CUSUM drift detector per key:
    ``S_0 = 0; S_t = max(0, S_{t-1} + (x_t − target − slack))``, with
    ``alarm`` when S_t > threshold — the classic change-point detector
    that catches SMALL persistent shifts a per-point z-score never
    crosses a threshold on.

    Numerics note (r9, measured): the clamp DOES have the
    drawdown-duality closed form ``S_t = P_t − min(0, min_{j≤t} P_j)``
    over drift prefix sums, which runs as two stacked JVM window
    aggregates (~7× faster at sf0.1) — but it is numerically WORSE
    and was reverted. The recursion's clamp resets discard
    accumulated float error at every zero-touch, and every engine
    evaluates the identical left-to-right op sequence, so exact-
    boundary alarms (an event that lands S_t precisely ON the
    threshold — present in this data) are bit-reproducible across
    engines. The closed form instead carries unclamped prefix sums
    across the whole history, and window-SUM accumulation order is
    engine-internal (DuckDB's segment trees vs Spark's running
    accumulation): measured at sf1, 3 of 1M rows flipped ``alarm``
    on a one-ulp disagreement exactly at the threshold. The recursion
    therefore stays — but r13 (guide §4.2/§4.5) re-cut the Python
    boundary: instead of one pandas call per group with a
    Python-per-ROW clamp loop (the old ``for i, d in enumerate``
    iterated every row interpreted — 100k Python iterations at sf0.1),
    the kernel now runs per Arrow batch via
    :func:`_grouped_sorted_map` and iterates TIME STEPS, vectorized
    across all groups in the batch: groups are laid out as rows of a
    NaN-padded (groups × max_len) matrix and the accumulator advances
    one vectorized ``fmax(0, acc + drift[:, t])`` per step — each
    group's scalar op sequence is unchanged (``np.fmax(0.0, x)``
    equals Python ``max(0.0, x)`` on every input including NaN, where
    both yield the 0.0 clamp), so results are bit-identical while the
    interpreted-loop count drops from O(rows) to O(longest group in
    the batch). A length-bucketed chunker bounds the padded matrix at
    ``_CUSUM_CELL_BUDGET`` cells so one hot key next to many short
    ones cannot blow task memory.

    Output keeps (key, order cols, value, cusum, alarm). The SQL
    oracle reproduces it with a recursive CTE — slow but exact, which
    is the point of the oracle.
    """
    import numpy as np
    import pandas as pd

    order = [ts_col, *tiebreak_cols]
    cols = [key, *order, value_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    ) + ", cusum double, alarm boolean"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        s = _clamped_cusum_batch(
            pdf[key].values,
            pdf[value_col].to_numpy(dtype=float) - target - slack,
        )
        pdf["cusum"] = s
        pdf["alarm"] = s > threshold
        return pdf

    return _grouped_sorted_map(df, key, order, cols, kernel, out_schema)


_CUSUM_CELL_BUDGET = 4_000_000  # 32 MB of float64 padding per chunk


def _clamped_cusum_batch(keys, drift):
    """``S_t = max(0, S_{t-1} + d_t)`` for every contiguous key run in
    ``drift``, iterating time steps (vectorized across groups) instead
    of rows. Bit-identical to the sequential per-group recursion: each
    group's accumulator sees the same adds and the same clamp
    (``np.fmax(0.0, x)`` == ``max(0.0, x)`` for all x, incl. NaN→0.0;
    ``+ 0.0`` normalizes a potential -0.0 tie to the +0.0 the scalar
    path produces). Groups are processed in length-sorted chunks whose
    padded (groups × max_len) matrix stays under
    ``_CUSUM_CELL_BUDGET`` cells."""
    import numpy as np
    import pandas as pd

    n = len(drift)
    s_out = np.empty(n, dtype=np.float64)
    if not n:
        return s_out
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        kv, prev = keys[1:], keys[:-1]
        neq = kv != prev
        if neq.dtype == object:  # string keys: elementwise python __ne__
            neq = neq.astype(bool)
        # NaN keys: != is True for NaN vs NaN; contiguous NaN runs are
        # ONE group under the sorted layout, same as pandas groupby
        both_na = pd.isna(kv) & pd.isna(prev)
        change[1:] = neq & ~both_na
    starts = np.flatnonzero(change)
    lens = np.diff(np.append(starts, n))
    order = np.argsort(lens, kind="stable")
    i = 0
    while i < len(order):
        j = i + 1
        while (
            j < len(order)
            and (j - i + 1) * int(lens[order[j]]) <= _CUSUM_CELL_BUDGET
        ):
            j += 1
        sel = order[i:j]
        sel_lens = lens[sel]
        gn, width = len(sel), int(sel_lens.max())
        mat = np.full((gn, width), np.nan)
        rows = np.repeat(np.arange(gn), sel_lens)
        cols_in = np.arange(len(rows)) - np.repeat(
            np.cumsum(sel_lens) - sel_lens, sel_lens
        )
        flat = np.concatenate(
            [np.arange(starts[g], starts[g] + lens[g]) for g in sel]
        )
        mat[rows, cols_in] = drift[flat]
        acc = np.zeros(gn)
        out = np.empty_like(mat)
        for t in range(width):
            acc = np.fmax(0.0, acc + mat[:, t]) + 0.0
            out[:, t] = acc
        s_out[flat] = out[rows, cols_in]
        i = j
    return s_out


def diversified_topk(
    df: DataFrame,
    order_cols: Sequence[Column],
    group_col: str,
    per_group: int,
    k: int,
) -> DataFrame:
    """Top-k with a diversity cap: the global top ``k`` rows by
    ``order_cols``, but never more than ``per_group`` rows from any
    one ``group_col`` value — the feed/search-results constraint
    ("top deals, at most 2 per seller") a plain ORDER BY LIMIT can't
    express.

    Shape: one per-group window prunes to the group's best
    ``per_group`` rows (shuffle on the group key), then a
    TakeOrderedAndProject takes the global k from the pruned frame —
    no global sort of the raw data. ``order_cols`` must be a total
    order (include an id tiebreak) for deterministic results.
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    pruned = (
        df.withColumn("__gr", F.row_number().over(w))
        .where(F.col("__gr") <= per_group)
        .drop("__gr")
    )
    return pruned.orderBy(*order_cols).limit(k)


def merge_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge per-key overlapping or touching half-open intervals
    ``[start, end)`` into maximal islands — the gaps-and-islands
    rollup behind session coverage, SLA uptime, and calendar-merge
    questions.

    Shape: ONE window pass per key (ordered by (start, end)): an
    interval opens a new island iff its start exceeds the running max
    of all previous ends (touching intervals — ``start == prev_end``
    — merge, per half-open semantics); a cumulative sum of the
    new-island flags numbers the islands, and a (key, island) hash
    aggregation emits bounds + member count. Raw rows shuffle once on
    the key for the window; the island aggregation's map-side partial
    combine means the second exchange carries only island-sized rows.
    Skew lives with hot keys, exactly like any per-key window — salt
    upstream if one key dominates.

    Returns (keys..., island_start, island_end, n_intervals).
    """
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    islanded = df.withColumn(
        "__isl",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islanded.groupBy(*key_cols, "__isl").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    ).drop("__isl")


def interval_gaps(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key gaps BETWEEN merged interval islands: for each pair of
    consecutive islands (see ``merge_intervals``), the uncovered span
    ``[island_end, next_island_start)``. Keys whose coverage is one
    island emit nothing. Adds one more window pass (lead over the
    already island-sized frame — tiny relative to the raw input).

    Returns (keys..., gap_start, gap_end, gap_length). ``gap_length``
    is in the input's native units for numeric interval bounds, and in
    whole SECONDS (long-cast truncation) for timestamp bounds — pass
    ``unix_micros`` longs instead when sub-second exactness matters.
    """
    islands = merge_intervals(df, key_cols, start_col, end_col)
    w = Window.partitionBy(*key_cols).orderBy("island_start")
    nxt = F.lead("island_start").over(w)
    return (
        islands.withColumn("__next", nxt)
        .where(F.col("__next").isNotNull())
        .select(
            *key_cols,
            F.col("island_end").alias("gap_start"),
            F.col("__next").alias("gap_end"),
            (
                F.col("__next").cast("long")
                - F.col("island_end").cast("long")
            ).alias("gap_length"),
        )
    )


def rolling_regress(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window_rows: int = 20,
    tiebreak_cols: Sequence[str] = (),
    scale: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """Rolling OLS y~x over a trailing ``window_rows``-observation
    frame per key — the windowed companion of ``aggregates.
    ols_regress`` (local trend / rolling-beta with intercept).

    Same discipline as ``rolling_corr``: exact power sums over the
    frame, closed-form slope/intercept algebra evaluated once per row
    in doubles — bit-stable under any partitioning, unlike
    sliding-state float accumulators. slope = (n·Σxy − Σx·Σy) /
    (n·Σx² − (Σx)²), intercept = (Σy − slope·Σx)/n.

    ``scale``: for fixed-decimal inputs (money → ``scale=100``) the
    series pre-scale to exact int64 and every sum AND the slope
    algebra stay exactly representable in doubles — fully
    deterministic across engines (slope is invariant under the common
    scaling; the intercept is de-scaled by one final division).
    ``scale=None`` uses exact decimal sums; their double conversion
    is correctly rounded per engine but can differ in the last ulp
    between decimal implementations, so hash-gated pipelines should
    prefer the scaled path. Frame-bounded sums keep the int64 path
    100-TB-safe whenever one frame's products fit int64.

    Rows with fewer than ``window_rows`` valid observations in frame
    or zero x-variance get NULL slope/intercept. Decimal-path input
    range and overflow-row handling are identical to
    ``rolling_corr``'s (|x|,|y| < 1e12; overflowed rows leave n and
    every sum together; ``strict=True`` raises ``ValueError`` eagerly
    AT THIS CALL when any such row exists — one extra scan, see
    ``util.attach_exclusion_guard`` — and combining ``strict=True``
    with ``scale`` raises ``ValueError`` immediately — ADVICE r8).
    One window shuffle on the key.
    """
    if strict and scale is not None:
        raise ValueError(
            "rolling_regress: strict=True is only defined for the "
            "decimal path (scale=None); the int64 fast path excludes "
            "no rows, so there is nothing for strict to guard"
        )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(order_col), *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(-(window_rows - 1), 0)
    )
    if scale is not None:
        x = F.round(F.col(x_col) * scale).cast("long")
        y = F.round(F.col(y_col) * scale).cast("long")
        sxy_t = sxx_t = "long"
    else:
        x = F.col(x_col).try_cast("decimal(18,6)")
        y = F.col(y_col).try_cast("decimal(18,6)")
        sxy_t = sxx_t = "decimal(38,12)"
    valid = x.isNotNull() & y.isNotNull()
    x = F.when(valid, x)
    y = F.when(valid, y)
    n = F.sum(F.when(valid, 1).otherwise(0)).over(w).cast("double")
    sx = F.sum(x).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    sxy = F.sum((x * y).cast(sxy_t)).over(w).cast("double")
    sxx = F.sum((x * x).cast(sxx_t)).over(w).cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(
        (n >= window_rows) & (denom > 0), (n * sxy - sx * sy) / denom
    )
    intercept = (sy - slope * sx) / n
    if scale is not None:
        # slope is scale-invariant; the intercept carries y's scaling
        intercept = intercept / F.lit(float(scale))
    out = df.withColumn("slope", slope).withColumn(
        "intercept", intercept
    )
    if strict and scale is None:
        from .util import attach_exclusion_guard

        xd = F.col(x_col).try_cast("decimal(18,6)")
        yd = F.col(y_col).try_cast("decimal(18,6)")
        excluded = df.where(
            F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
            & (xd.isNull() | yd.isNull())
        )
        out = attach_exclusion_guard(out, excluded, "rolling_regress")
    return out
