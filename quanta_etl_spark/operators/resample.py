"""Time-bucket re-aggregation (downsampling) and index construction —
SURVEY.md §2 B5/B6 (reference README.md:178-179).

OHLCV resampling is a single keyed aggregation: one shuffle on
(bucket, key), map-side partial aggregation for the sums/min/max, and
``min_by``/``max_by`` for open/close (order-independent, deterministic
given a unique order column — no window, no sort).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quanta_etl_spark.operators.util import python_kernel


def time_bucket(ts: Column | str, interval: str) -> Column:
    """Truncate a timestamp to a bucket. Supports the date_trunc units
    plus arbitrary intervals via window()-free epoch arithmetic."""
    c = F.col(ts) if isinstance(ts, str) else ts
    units = {
        "1 minute": "minute", "1 hour": "hour", "1 day": "day",
        "1 week": "week", "1 month": "month", "1 year": "year",
    }
    if interval in units:
        return F.date_trunc(units[interval], c)
    # Arbitrary interval: floor epoch seconds to the interval length.
    secs = F.unix_timestamp(c)
    ivl = F.expr(f"cast(extract(epoch from interval {interval}) as bigint)")
    return F.timestamp_seconds((secs / ivl).cast("bigint") * ivl)


def ohlcv_resample(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    interval: str,
    open_col: str = "start_price",
    high_col: str = "max_price",
    low_col: str = "min_price",
    close_col: str = "end_price",
    volume_cols: Sequence[str] = ("traded_volume", "number_of_trades"),
    order_col: str | None = None,
) -> DataFrame:
    """Downsample minute bars to a coarser interval (B5):

    open  = first bar's open   (min_by over the in-bucket order)
    high  = max of highs        low = min of lows
    close = last bar's close   (max_by)
    volume = sum per volume column

    ``order_col`` breaks ties when ``ts`` alone isn't unique per key
    (defaults to ts itself)."""
    order = F.col(order_col) if order_col else F.col(ts)
    bucket = time_bucket(ts, interval).alias("bucket_ts")
    aggs = [
        F.min_by(open_col, order).alias(open_col),
        F.max(high_col).alias(high_col),
        F.min(low_col).alias(low_col),
        F.max_by(close_col, order).alias(close_col),
        *[F.sum(v).alias(v) for v in volume_cols],
    ]
    return df.groupBy(bucket, *keys).agg(*aggs)


def weighted_index(
    df: DataFrame,
    ts: str,
    price: str,
    weight: Column | str,
    interval: str = "1 minute",
    group_cols: Sequence[str] = (),
    out: str = "index_value",
) -> DataFrame:
    """Cross-asset index (B6): weighted average price per time bucket,
    optionally per extra grouping (e.g. sector → one index per sector).
    One aggregation, map-side combinable."""
    w = F.col(weight) if isinstance(weight, str) else weight
    bucket = time_bucket(ts, interval).alias("bucket_ts")
    # try_divide: a bucket whose weights sum to zero has no defined
    # index value -- NULL, not an ANSI divide-by-zero job abort
    return df.groupBy(bucket, *group_cols).agg(
        F.try_divide(F.sum(F.col(price) * w), F.sum(w)).alias(out)
    )


def vwap(
    df: DataFrame,
    key: str,
    price_col: str,
    volume_col: str,
    bucket_col: Column | str | None = None,
) -> DataFrame:
    """Volume-weighted average price per key (and optional time
    bucket) — the execution-quality benchmark on the reference's
    minute bars (start/end price × traded_volume, README.md:120-138).

    Zero-volume groups fall back to the plain average price rather
    than dividing by zero. Weighted sums accumulate in decimal so the
    result is identical across partitionings (the engine-wide
    determinism discipline). Single partial-aggregating shuffle.
    """
    keys = [F.col(key)] if isinstance(key, str) else [key]
    if bucket_col is not None:
        b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
        keys.append(b)
    pv = (F.col(price_col) * F.col(volume_col)).cast("decimal(30,6)")
    mean_price = (
        F.sum(F.col(price_col).cast("decimal(30,6)")).cast("double")
        / F.count(price_col)
    )
    return df.groupBy(*keys).agg(
        F.coalesce(
            F.sum(pv).cast("double")
            / F.nullif(
                F.sum(F.col(volume_col).cast("decimal(30,6)")).cast("double"),
                F.lit(0.0),
            ),
            mean_price,
        ).alias("vwap"),
        F.sum(F.col(volume_col).cast("decimal(30,6)")).cast("double").alias(
            "total_volume"
        ),
        F.count(F.lit(1)).alias("n_obs"),
    )


def period_growth(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "month",
    by: Sequence[str] = (),
) -> DataFrame:
    """Period-over-period growth: aggregate ``value_col`` per
    ``interval`` bucket (and optional ``by`` keys), then lag-join the
    previous PRESENT bucket for absolute and relative change. The
    first bucket of each series has NULL prev/growth; gaps compare
    against the last present period (densify first with
    :func:`quanta_etl_spark.operators.windows.densify` for
    calendar-true comparisons).

    Shape: one partial-agg shuffle to the bucket grain, then a lag
    window over the (tiny) aggregate frame — the classic "aggregate
    first, window the aggregate" discipline; the raw data never sees a
    window. Sums accumulate in decimal; growth is the only float op.
    """
    bucket = F.date_trunc(interval, F.col(ts_col)).alias("period")
    agg = df.groupBy(*by, bucket).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("__v")
    )
    w = Window.partitionBy(*by).orderBy("period")
    cur = F.col("__v").cast("double")
    prev = F.lag("__v").over(w).cast("double")
    return agg.select(
        *by,
        F.col("period"),
        cur.alias("value"),
        prev.alias("prev_value"),
        (cur - prev).alias("abs_change"),
        # growth from a zero base is undefined: NULL pct_change (the
        # abs_change column still carries the move), never a job abort
        F.try_divide(cur - prev, prev).alias("pct_change"),
    )


def dow_seasonality(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Day-of-week seasonal profile: per weekday (1 = Sunday … 7 =
    Saturday, Spark's dayofweek convention), observation count, mean
    value, and a seasonal index (weekday mean ÷ overall mean; 1.0 =
    no effect) — the additive-decomposition building block.

    Sums accumulate in decimal; both means derive from the same exact
    sums, so the index is deterministic. One aggregation to 7 rows +
    a window over those 7 — scan-bound at any scale.
    """
    agg = df.groupBy(F.dayofweek(F.col(ts_col)).alias("dow")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("__v"),
    )
    w = Window.partitionBy()
    mean = F.col("__v").cast("double") / F.col("n").cast("double")
    overall = (
        F.sum("__v").over(w).cast("double")
        / F.sum("n").over(w).cast("double")
    )
    return agg.select(
        "dow",
        "n",
        mean.alias("mean_value"),
        # a zero overall mean (net-zero measure) has no defined index
        F.try_divide(mean, overall).alias("seasonal_index"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    trend_window: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition at the daily grain:
    observed = trend + seasonal + residual, where trend is a centered
    ``trend_window``-day moving average (NULL at the edges where the
    frame is partial), seasonal is the day-of-week mean deviation from
    trend, and residual is what's left — the classic-decomposition
    (moving-average STL-lite) every forecasting pipeline starts from.

    Determinism: daily totals are decimal sums; the trend average
    divides a decimal window sum by the in-frame count; seasonal
    means are decimal-accumulated per weekday. One aggregation to the
    day grain, two windows and one 7-row join over that tiny frame.
    """
    daily = df.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)"))
        .cast("double")
        .alias("observed")
    )
    # Frame spans EXACTLY trend_window rows (asymmetric for even
    # windows: (w-1)//2 back, w//2 forward) and the gate demands the
    # full count — a symmetric ±(w//2) frame would quietly average
    # w+1 days for even windows.
    half_lo = (trend_window - 1) // 2
    half_hi = trend_window // 2
    w = Window.orderBy("day").rowsBetween(-half_lo, half_hi)
    with_trend = daily.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(w) == trend_window,
            F.sum(F.col("observed").cast("decimal(30,6)")).over(w)
            .cast("double")
            / F.count(F.lit(1)).over(w),
        ),
    ).withColumn("__detr", F.col("observed") - F.col("trend"))
    seasonal = with_trend.where(F.col("__detr").isNotNull()).groupBy(
        F.dayofweek("day").alias("__dow")
    ).agg(
        (
            F.sum(F.col("__detr").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal")
    )
    return (
        with_trend.withColumn("__dow", F.dayofweek("day"))
        .join(F.broadcast(seasonal), "__dow", "left")
        .select(
            "day",
            "observed",
            "trend",
            "seasonal",
            (
                F.col("observed") - F.col("trend") - F.col("seasonal")
            ).alias("residual"),
        )
    )


def holt_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the daily
    total, plus an ``horizon``-day linear forecast — the trend-aware
    step past EWMA that still needs no model fitting. Recursion:
    l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1});
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}; initialized l_1=y_1,
    b_1=y_2−y_1. Forecast rows extend the series with
    ŷ_{T+h} = l_T + h·b_T (``is_forecast`` marks them).

    The clamp-free recursion is still sequential — applyInPandas over
    the (tiny, single-group) daily frame, identical IEEE arithmetic to
    the oracle's recursive CTE. Daily totals are decimal sums, so both
    engines recurse over identical inputs. At 100 TB the heavy step is
    the daily aggregation; the recursion runs on |days| rows.
    """
    import pandas as pd

    daily = df.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)"))
        .cast("double")
        .alias("observed")
    ).withColumn("__g", F.lit(1))

    out_schema = (
        "day timestamp, observed double, level double, trend double, "
        "fitted double, is_forecast boolean"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["observed"].to_numpy(dtype=float)
        days = list(pdf["day"])
        n = len(y)
        lv: list = [0.0] * n
        tr: list = [None] * n
        fit: list = [None] * n
        if n >= 2:
            lv[0], tr[0] = y[0], y[1] - y[0]
        elif n == 1:
            # trend is UNDEFINED off one observation (the oracle's
            # rn=2 lookup is NULL there) — never fake a 0 slope
            lv[0] = y[0]
        for t in range(1, n):
            fit[t] = lv[t - 1] + tr[t - 1]
            lv[t] = alpha * y[t] + (1 - alpha) * (lv[t - 1] + tr[t - 1])
            tr[t] = beta * (lv[t] - lv[t - 1]) + (1 - beta) * tr[t - 1]
        rows = {
            # copy: rows["day"] must NOT alias `days`, or each forecast
            # append would shift days[-1] under the next iteration
            "day": list(days),
            "observed": list(y),
            "level": lv,
            "trend": tr,
            "fitted": fit,
            "is_forecast": [False] * n,
        }
        # forecasts step at the DAILY grain always (the frame is the
        # daily aggregate; stepping by the last observed gap would
        # desync from the calendar — and the oracle — whenever the
        # final two active days aren't consecutive)
        step = pd.Timedelta(days=1)
        for h in range(1, horizon + 1):
            rows["day"].append(days[-1] + h * step)
            rows["observed"].append(None)
            rows["level"].append(lv[-1])
            rows["trend"].append(tr[-1])
            rows["fitted"].append(
                lv[-1] + h * tr[-1] if tr[-1] is not None else None
            )
            rows["is_forecast"].append(True)
        return pd.DataFrame(rows)

    return (
        daily.groupBy("__g")
        .applyInPandas(python_kernel(fn), out_schema)
        .select("day", "observed", "level", "trend", "fitted", "is_forecast")
    )


def holt_winters_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
    horizon: int = 14,
) -> DataFrame:
    """Holt-Winters ADDITIVE (triple-exponential) smoothing over the
    daily total — level + trend + a ``period``-slot seasonal ring —
    plus an ``horizon``-day forecast. The seasonality-aware step past
    :func:`holt_forecast` for weekly-cycled series.

    Semantics (fixed, mirrored 1:1 by the SQL oracle): the first TWO
    seasons are warmup, used only for initialization —
    l = mean(season2), b = (mean(season2) − mean(season1)) / period,
    s[i] = y[period+i] − mean(season2); the recursion applies from
    t = 2·period on (0-indexed), fitted = l + b + s_used before the
    update, then
    l' = α(y−s_used) + (1−α)(l+b); b' = β(l'−l) + (1−β)b;
    s_slot' = γ(y−l') + (1−γ)s_used. Warmup rows emit NULL
    level/trend/fitted. Forecasts: ŷ_{T+h} = l + h·b + ring[(h−1) mod
    period]. Series shorter than 2·period + 1 days raise.

    The seasonal ring is POSITIONAL over observed periods, so the
    series must be calendar-contiguous — a missing day would rotate
    the weekly phase for the rest of the series while both engines
    agree on the silently-wrong result; the recursion therefore
    REFUSES gapped input (densify upstream with windows.time_spine +
    zero/interpolated fill if the series can skip days).

    Determinism discipline (same as holt_forecast): daily totals are
    exact decimal sums, the recursion is scalar IEEE arithmetic in the
    EXACT expression shapes the oracle uses (warmup means accumulate
    left-to-right, (1−α) is computed, not precomputed), run once in an
    applyInPandas over the single-group daily frame. At 100 TB the
    heavy step is the daily aggregation; the recursion is |days| rows.
    """
    import pandas as pd

    m = period
    daily = df.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)"))
        .cast("double")
        .alias("observed")
    ).withColumn("__g", F.lit(1))

    out_schema = (
        "day timestamp, observed double, level double, trend double, "
        "seasonal double, fitted double, is_forecast boolean"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day")
        y = [float(v) for v in pdf["observed"]]
        days = list(pdf["day"])
        n = len(y)
        if n < 2 * m + 1:
            raise ValueError(
                f"holt_winters needs > {2 * m} daily points, got {n}"
            )
        # A day whose values are all NULL aggregates to observed=NULL →
        # NaN here, which would silently poison level/trend/seasonal and
        # every forecast (ADVICE r7). Raise like the gap check: the
        # caller decides the fill policy (time_spine + zero/interp).
        for d, v in zip(days, y):
            if math.isnan(v):
                raise ValueError(
                    f"holt_winters: day {d} aggregated to NULL/NaN; "
                    "fill NULL days explicitly before forecasting"
                )
        for a, b in zip(days, days[1:]):
            if (b - a) != pd.Timedelta(days=1):
                raise ValueError(
                    "holt_winters needs a calendar-contiguous daily "
                    f"series (gap between {a} and {b}); densify with "
                    "time_spine + fill first — a silent gap would "
                    "rotate the seasonal ring's phase"
                )
        suma = 0.0
        for v in y[:m]:
            suma += v
        sumb = 0.0
        for v in y[m:2 * m]:
            sumb += v
        l = sumb / m
        b = (sumb / m - suma / m) / m
        ring = [v - sumb / m for v in y[m:2 * m]]
        lv = [None] * n
        tr = [None] * n
        se = [None] * n
        fit = [None] * n
        for t in range(2 * m, n):
            s_used = ring[0]
            fit[t] = l + b + s_used
            l_new = alpha * (y[t] - s_used) + (1 - alpha) * (l + b)
            b_new = beta * (l_new - l) + (1 - beta) * b
            s_new = gamma * (y[t] - l_new) + (1 - gamma) * s_used
            ring = ring[1:] + [s_new]
            l, b = l_new, b_new
            lv[t], tr[t], se[t] = l, b, s_used
        rows = {
            "day": list(days),
            "observed": list(y),
            "level": lv,
            "trend": tr,
            "seasonal": se,
            "fitted": fit,
            "is_forecast": [False] * n,
        }
        step = pd.Timedelta(days=1)
        for h in range(1, horizon + 1):
            s_h = ring[(h - 1) % m]
            rows["day"].append(days[-1] + h * step)
            rows["observed"].append(None)
            rows["level"].append(l)
            rows["trend"].append(b)
            rows["seasonal"].append(s_h)
            rows["fitted"].append(l + h * b + s_h)
            rows["is_forecast"].append(True)
        return pd.DataFrame(rows)

    return (
        daily.groupBy("__g")
        .applyInPandas(python_kernel(fn), out_schema)
        .select(
            "day", "observed", "level", "trend", "seasonal", "fitted",
            "is_forecast",
        )
    )


def cross_correlation(
    df: DataFrame,
    ts_col: str,
    x_col: Column | str,
    y_col: Column | str,
    max_lag: int = 7,
    period: str = "day",
    prescale: float = 1e4,
    term_scale: float = 1e6,
) -> DataFrame:
    """Lead-lag cross-correlation of two daily-aggregated series:
    corr(x_t, y_{t+k}) for k = 0..``max_lag`` — "does x lead y" — and
    with ``x_col is y_col`` the autocorrelation function (ACF). The
    dependence-structure diagnostic behind seasonality and
    signal-lag discovery on the minute-bar model's daily rollups.

    Shape: both series aggregate to the ``period`` grain with exact
    decimal sums (map-side combinable); the lag pairing is ONE small
    self-join of the period frame against itself shifted k periods for
    each lag (period-frame × lags rows — calendar-sized, never
    data-sized). Pearson corr comes from exact power sums: periods
    pre-divide by ``prescale`` (one identical IEEE division per
    engine; correlation is scale-invariant), then every term
    quantizes through the EXPLICIT ``round(v·term_scale) → int64``
    step and sums as exact integers. The explicit round is the only
    engine-portable quantizer here: both engines multiply in double
    FIRST and round the same product, whereas ``CAST(x AS
    DECIMAL(38,6))`` rounds Spark's exact binary expansion but
    DuckDB's pre-multiplied double — measured to split on the
    boundary-prone low-entropy products this operator produces
    (counts/1e4 squared land exactly on x.5e-6). Each sum de-scales
    with one exact int64→double conversion + division before the
    closed-form correlation algebra.

    Returns (lag, n, corr): EVERY lag 0..``max_lag`` appears exactly
    once — lags with zero overlapping periods report n=0, and lags
    with < 3 overlapping periods or zero variance on either side
    report NULL corr (the lag spine left-joins the pair aggregation,
    ADVICE r7).
    """
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    daily = (
        df.groupBy(F.date_trunc(period, F.col(ts_col)).alias("__d"))
        .agg(
            (
                F.sum(x.cast("decimal(30,6)")).cast("double")
                / F.lit(prescale)
            ).alias("__x"),
            (
                F.sum(y.cast("decimal(30,6)")).cast("double")
                / F.lit(prescale)
            ).alias("__y"),
        )
        .localCheckpoint(eager=False)  # consumed by every lag join
    )
    lags = daily.sparkSession.range(0, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = daily.select(
        F.col("__d").alias("__d2"), F.col("__y").alias("__y2")
    )
    paired = (
        daily.crossJoin(F.broadcast(lags))
        .join(
            shifted,
            F.col("__d2")
            == F.col("__d")
            + F.col("lag")
            * F.expr(f"INTERVAL 1 {period.upper()}"),
        )
    )
    xx = F.col("__x")
    yy = F.col("__y2")
    ts_lit = F.lit(term_scale)

    def q(col):
        return F.round(col * ts_lit).cast("long")

    agg = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(q(xx)).cast("double") / ts_lit).alias("__sx"),
        (F.sum(q(yy)).cast("double") / ts_lit).alias("__sy"),
        (F.sum(q(xx * yy)).cast("double") / ts_lit).alias("__sxy"),
        (F.sum(q(xx * xx)).cast("double") / ts_lit).alias("__sxx"),
        (F.sum(q(yy * yy)).cast("double") / ts_lit).alias("__syy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("__sxy") / nd - (F.col("__sx") / nd) * (F.col("__sy") / nd)
    varx = F.col("__sxx") / nd - (F.col("__sx") / nd) * (F.col("__sx") / nd)
    vary = F.col("__syy") / nd - (F.col("__sy") / nd) * (F.col("__sy") / nd)
    corr = F.when(
        (F.col("n") >= 3) & (varx > 0) & (vary > 0),
        cov / F.sqrt(varx * vary),
    )
    # Left-join back onto the lag spine so a lag with zero overlapping
    # periods (max_lag >= series length) still reports (lag, 0, NULL)
    # instead of vanishing (ADVICE r7).
    return (
        lags.join(agg.select("lag", "n", corr.alias("corr")), "lag", "left")
        .select(
            "lag",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "corr",
        )
        .orderBy("lag")
    )
