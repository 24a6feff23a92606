"""Aggregation surface (SURVEY.md §2C — the reference executes no
groupBy at all; aggregation exists only as documented workload).

Thin, typed wrappers over the native agg family so the engine API is
uniform; everything stays map-side-combinable JVM aggregation.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import quote_col

# name → (builder, needs_column)
_AGG_FNS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "count_distinct": F.countDistinct,
    "approx_count_distinct": F.approx_count_distinct,
    "stddev": F.stddev_samp,
    "stddev_pop": F.stddev_pop,
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
    "median": F.median,
    "sum_distinct": F.sum_distinct,
}


def _agg_exprs(aggs: Mapping[str, tuple[str, str] | Column]) -> list[Column]:
    out = []
    for alias, spec in aggs.items():
        if isinstance(spec, Column):
            out.append(spec.alias(alias))
        else:
            fn, col = spec
            if fn.startswith("percentile_"):
                q = float(fn.split("_", 1)[1]) / 100.0
                out.append(F.percentile(col, F.lit(q)).alias(alias))
            else:
                out.append(_AGG_FNS[fn](col).alias(alias))
    return out


def summarize(
    df: DataFrame,
    by: Sequence[str | Column],
    aggs: Mapping[str, tuple[str, str] | Column],
) -> DataFrame:
    """groupBy().agg() with a declarative agg map:
    ``summarize(df, ["k"], {"total": ("sum", "x"), "n": ("count", "x")})``.

    Multiple ``percentile_P`` specs on the SAME source column share
    ONE Percentile aggregate with an array of percentages — one
    per-group value buffer built and merged instead of one per spec —
    then a post-projection restores the requested aliases. Values are
    bit-identical to the scalar form (same aggregate, same
    interpolation); a 4-quantile profile measured ~3× faster (r9).
    """
    pct_by_col: dict[str, list[str]] = {}
    for alias, spec in aggs.items():
        # Sharing detection requires a STRING source: Column objects
        # are unhashable (pyspark sets Column.__hash__ = None), and two
        # Column specs are not comparable anyway — they fall through to
        # the unshared _agg_exprs path unchanged (ADVICE r9 #1).
        if (
            not isinstance(spec, Column)
            and spec[0].startswith("percentile_")
            and isinstance(spec[1], str)
        ):
            pct_by_col.setdefault(spec[1], []).append(alias)
    shared = {c: a for c, a in pct_by_col.items() if len(a) > 1}
    if not shared:
        return df.groupBy(*by).agg(*_agg_exprs(aggs))
    slot: dict[str, tuple[str, int]] = {}  # alias → (internal col, idx)
    exprs: list[Column] = []
    # Internal slot names must not collide with user aliases or group
    # columns (ADVICE r9 #2): bump the prefix until it is unused.
    taken = set(aggs) | {c for c in by if isinstance(c, str)}
    prefix = "__pct_"
    while any(t.startswith(prefix) for t in taken):
        prefix = "_" + prefix
    for i, (col, aliases) in enumerate(shared.items()):
        qs = [
            float(aggs[a][0].split("_", 1)[1]) / 100.0 for a in aliases
        ]
        internal = f"{prefix}{i}"
        exprs.append(
            F.percentile(col, F.array(*[F.lit(q) for q in qs])).alias(
                internal
            )
        )
        for j, a in enumerate(aliases):
            slot[a] = (internal, j)
    exprs += _agg_exprs({a: s for a, s in aggs.items() if a not in slot})
    agged = df.groupBy(*by).agg(*exprs)
    group_cols = agged.columns[: len(agged.columns) - len(exprs)]
    sel = [quote_col(c) for c in group_cols]
    for a in aggs:  # original alias order
        if a in slot:
            internal, j = slot[a]
            sel.append(F.col(internal)[j].alias(a))
        else:
            sel.append(quote_col(a))
    return agged.select(*sel)


def rollup_agg(
    df: DataFrame,
    by: Sequence[str],
    aggs: Mapping[str, tuple[str, str] | Column],
) -> DataFrame:
    """Hierarchical subtotals (ROLLUP): grand total + every prefix level."""
    return df.rollup(*by).agg(*_agg_exprs(aggs))


def cube_agg(
    df: DataFrame,
    by: Sequence[str],
    aggs: Mapping[str, tuple[str, str] | Column],
) -> DataFrame:
    """All 2^n grouping combinations (CUBE)."""
    return df.cube(*by).agg(*_agg_exprs(aggs))


def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    all_keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str] | Column],
) -> DataFrame:
    """Explicit GROUPING SETS via the SQL path (no DataFrame equivalent).
    Keys absent from a grouping set come back NULL, like SQL. The input
    frame is passed as a spark.sql DataFrame parameter — no shared temp
    view name to clobber or race on (ADVICE r1)."""
    spark = df.sparkSession
    agg_sql = []
    for alias, spec in aggs.items():
        fn, col = spec  # Column specs not supported on the SQL path
        sql_fn = {"count_distinct": "count(distinct {c})"}.get(fn, f"{fn}({{c}})")
        agg_sql.append(f"{sql_fn.format(c=col)} AS {alias}")
    sets_sql = ", ".join("(" + ", ".join(s) + ")" for s in sets)
    return spark.sql(
        f"SELECT {', '.join(all_keys)}, {', '.join(agg_sql)} "
        f"FROM {{__gs_input}} GROUP BY GROUPING SETS ({sets_sql})",
        __gs_input=df,
    )


def two_stage_agg(
    df: DataFrame,
    by: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant aggregation: pre-aggregate on (keys, salt) so a
    hot key's rows split across ``salt`` reducers, then combine the
    partials. Only ALGEBRAIC aggregates (sum/count/min/max) decompose
    this way. Spark's own partial aggregation usually makes this
    unnecessary — reach for it when a high-cardinality-input/low-
    cardinality-output agg funnels one hot key into one task and AQE
    can't help (AQE splits skewed JOIN partitions, not agg groups)."""
    decompose = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for alias, (fn, _) in aggs.items():
        if fn not in decompose:
            raise ValueError(f"{fn} is not algebraic; cannot two-stage {alias!r}")
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*by, F.rand(42)), F.lit(salt)))
    partial = salted.groupBy(*by, "__salt").agg(
        *[_AGG_FNS[fn](col).alias(alias) for alias, (fn, col) in aggs.items()]
    )
    return partial.groupBy(*by).agg(
        *[
            decompose[fn](alias).alias(alias)
            for alias, (fn, _) in aggs.items()
        ]
    )


def sketch_distinct(
    df: DataFrame,
    by: Sequence[str],
    col: str,
    lg_k: int = 12,
    sketch_col: str | None = None,
) -> DataFrame:
    """Per-group distinct-count via HLL sketches (Apache DataSketches,
    native in Spark 3.5+). Unlike ``count_distinct`` — which shuffles
    every distinct value — the sketch is a fixed 2^lg_k-byte register
    set, combined map-side: the 100-TB pattern for distinct users/day
    across billions of rows. ``sketch_col`` additionally keeps the
    binary sketch for later re-aggregation (see ``sketch_merge``)."""
    aggs = [F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lg_k))).alias(
        f"approx_distinct_{col}"
    )]
    if sketch_col is not None:
        aggs.append(F.hll_sketch_agg(col, F.lit(lg_k)).alias(sketch_col))
    return df.groupBy(*by).agg(*aggs)


def sketch_merge(
    df: DataFrame,
    by: Sequence[str],
    sketch_col: str,
    out: str = "approx_distinct",
) -> DataFrame:
    """Re-aggregate persisted HLL sketches to a coarser grouping WITHOUT
    touching the raw data — e.g. daily sketches → monthly distincts.
    This mergeability is the whole point of sketch-based rollups."""
    return df.groupBy(*by).agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out)
    )


def pivot_agg(
    df: DataFrame,
    by: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: tuple[str, str],
) -> DataFrame:
    """Pivot with EXPLICIT pivot values — never let Spark collect the
    distinct values first (that's an extra job + a driver round-trip;
    at 100 TB it's also a cardinality hazard)."""
    fn, col = agg
    return df.groupBy(*by).pivot(pivot_col, list(pivot_values)).agg(_AGG_FNS[fn](col))


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    num_bins: int,
    extra_by: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram over [lo, hi): (bucket, bucket_lo,
    bucket_hi, n) with EVERY bucket present (zero-count buckets
    included) — the contract a plotting/profiling layer wants.
    Values below ``lo`` clamp into bucket 0, at-or-above ``hi`` into
    the last bucket (width_bucket's overflow buckets folded in).

    Shape: the bucket id is a pure map-side expression; one partial-agg
    shuffle on (bucket, *extra_by); the dense bucket spine is a
    ``sequence()`` literal cross-joined only against the distinct
    ``extra_by`` combos (tiny). No driver round-trips; the raw column
    never leaves the scan stage un-aggregated.
    """
    if not num_bins >= 1:
        raise ValueError(f"num_bins must be >= 1, got {num_bins}")
    if not hi > lo:
        # a degenerate range would make width 0 and every bucket
        # expression an ANSI divide-by-zero — fail loudly at plan time
        # (hits callers auto-deriving bounds from a constant column)
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    width = (hi - lo) / num_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(
        F.greatest(raw, F.lit(0)), F.lit(num_bins - 1)
    ).cast("int")
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*extra_by, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = df.sparkSession.range(num_bins).select(
        F.col("id").cast("int").alias("bucket")
    )
    if extra_by:
        spine = spine.crossJoin(df.select(*extra_by).distinct())
    out = (
        spine.join(counts, [*extra_by, "bucket"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "bucket_lo", F.lit(lo) + F.col("bucket") * F.lit(width)
        )
        .withColumn(
            "bucket_hi", F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)
        )
    )
    return out.select(*extra_by, "bucket", "bucket_lo", "bucket_hi", "n")


def contribution(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    within: Sequence[str] = (),
) -> DataFrame:
    """Percent-of-total (contribution) analysis: aggregate ``value_col``
    per ``by`` group, then express each group's share of its ``within``
    super-group AND of the global total. Sums accumulate in decimal
    (order-independent); the shares are the only float ops.

    Shape: one partial-aggregating shuffle to the ``by`` grain, then
    window sums over the (tiny) aggregate frame — the raw data is
    touched once. The 100-TB caveat is the aggregate frame's size, not
    the input's.
    """
    agg = df.groupBy(*by).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("__v")
    )
    # Divide as doubles AFTER the exact decimal sums: decimal÷decimal
    # result scales differ between engines (Spark caps precision at 38
    # by truncating scale; DuckDB picks its own), while double division
    # of two exactly-agreed operands is IEEE-identical everywhere.
    total_w = Window.partitionBy()
    # try_divide: a zero grand/parent total (net-zero measures like
    # P&L adjustments) makes shares undefined — NULL, not a job abort
    out = agg.withColumn(
        "group_value", F.col("__v").cast("double")
    ).withColumn(
        "pct_of_total",
        F.try_divide(
            F.col("__v").cast("double"),
            F.sum("__v").over(total_w).cast("double"),
        ),
    )
    if within:
        sub_w = Window.partitionBy(*within)
        out = out.withColumn(
            "pct_of_parent",
            F.try_divide(
                F.col("__v").cast("double"),
                F.sum("__v").over(sub_w).cast("double"),
            ),
        )
    return out.drop("__v")


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    by: Sequence[str],
) -> DataFrame:
    """Lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total weight — the
    weight-aware robust center Spark has no native aggregate for,
    built from a window cumsum + first-pick (no UDF).

    Weights accumulate as decimals so the cumulative sums (and thus
    the pick) are identical across partitionings. Collapses equal
    values first (one partial-agg shuffle), so the window runs over
    distinct values per group, not raw rows.
    """
    vals = df.groupBy(*by, value_col).agg(
        F.sum(F.col(weight_col).cast("decimal(30,6)")).alias("__w")
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*by)
    ranked = vals.withColumn("__cum", F.sum("__w").over(w)).withColumn(
        "__tot", F.sum("__w").over(tot)
    )
    hits = ranked.where(F.col("__cum") * 2 >= F.col("__tot"))
    pick = Window.partitionBy(*by).orderBy(value_col)
    return (
        hits.withColumn("__rn", F.row_number().over(pick))
        .where(F.col("__rn") == 1)
        .select(*by, F.col(value_col).alias("weighted_median"))
    )


def ols_regress(
    df: DataFrame,
    y_col: str,
    x_col: str,
    by: Sequence[str],
    strict: bool = False,
) -> DataFrame:
    """Per-group simple linear regression (y on x) via the moment
    aggregates: slope = cov_pop(x,y)/var_pop(x), intercept =
    ȳ − slope·x̄, r² = corr(x,y)². One partial-aggregating shuffle —
    the closed-form fit is an aggregate, not an iterative solver, so
    it scales exactly like a groupBy sum.

    Moments accumulate in decimal (Σx, Σy, Σxy, Σx², Σy² are exact),
    and the float algebra happens once per GROUP on the exact sums —
    so the result is independent of partitioning/merge order and
    engine (the single-pass co-moment update formulas of
    ``covar_pop``/``corr`` differ between engines in the last ulps;
    building from exact decimal power sums removes that).

    Groups with zero x-variance return NULL slope/intercept/r2.

    Input range: |x|, |y| < 1e12. Values beyond decimal(18,6) NULL out
    under ``try_cast`` (deterministic under BOTH ANSI settings — a
    plain cast would throw under ANSI=true and silently NULL under
    ANSI=false), and the row is then EXCLUDED from the fit entirely —
    n, the power sums, and the moments always describe the same row
    set (filtering on the raw columns instead would keep such rows in
    n while dropping them from the sums, silently skewing
    slope/intercept/r2 — ADVICE r6). Widening the cast is not an
    option: (18,6)×(18,6) → decimal(37,12) is the widest product that
    stays inside the 38-digit cap, which is what makes the power sums
    exact.

    ``strict=True`` (VERDICT r7 #5) turns that silent exclusion into
    an EAGER error: the excluded rows are checked at this call (one
    extra Spark job; ``ValueError`` if any exist — lazy plan-embedded
    checks proved optimizer-bypassable, see
    ``util.attach_exclusion_guard``), so a caller fitting
    large-notional data gets an explicit signal instead of a quietly
    smaller sample.
    """
    x = F.col(x_col).try_cast("decimal(18,6)")
    y = F.col(y_col).try_cast("decimal(18,6)")
    agg = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).where(
        x.isNotNull() & y.isNotNull()
    ).groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum((x * y).cast("decimal(38,12)")).alias("__sxy"),
        F.sum((x * x).cast("decimal(38,12)")).alias("__sxx"),
        F.sum((y * y).cast("decimal(38,12)")).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    slope = F.when(varx > 0, cov / varx)
    intercept = sy / n - slope * (sx / n)
    r2 = F.when(
        (varx > 0) & (vary > 0), (cov * cov) / (varx * vary)
    )
    out = agg.select(
        *by,
        F.col("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
    if strict:
        from .util import attach_exclusion_guard

        excluded = df.where(
            F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
            & (x.isNull() | y.isNull())
        )
        out = attach_exclusion_guard(out, excluded, "ols_regress")
    return out


def chi_square(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Pearson chi-squared statistic of independence for two
    categorical columns: one row ``(chi2, dof, n)``.

    Shape: ONE count aggregation at the (a,b) grain (the contingency
    table — tiny: |A|·|B| cells), then window sums over that aggregate
    frame for the marginals; observed/expected algebra runs on exact
    integer counts, so the double statistic is engine-identical. The
    raw data is scanned once; nothing but the cell table shuffles.
    """
    cells = df.where(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("__o"))
    wa = Window.partitionBy(a_col)
    wb = Window.partitionBy(b_col)
    wt = Window.partitionBy()
    with_marg = (
        cells.withColumn("__ra", F.sum("__o").over(wa))
        .withColumn("__rb", F.sum("__o").over(wb))
        .withColumn("__tot", F.sum("__o").over(wt))
    )
    exp = (
        F.col("__ra").cast("double")
        * F.col("__rb").cast("double")
        / F.col("__tot").cast("double")
    )
    term = (F.col("__o").cast("double") - exp) ** 2 / exp
    return with_marg.agg(
        F.sum(term).alias("chi2"),
        (
            (F.count_distinct(F.col(a_col)) - 1)
            * (F.count_distinct(F.col(b_col)) - 1)
        ).alias("dof"),
        F.sum("__o").alias("n"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    unit: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """Gini concentration coefficient of ``value_col`` totals across
    ``unit`` entities, per ``by`` group — the inequality measure
    (0 = uniform, →1 = concentrated), from the sorted-rank identity
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with x ascending.

    Ties are safe: equal x values permuting among themselves leave
    Σ i·xᵢ unchanged, so no tiebreak column is needed. Entity totals
    accumulate in decimal; the identity is evaluated per group on
    exact sums (one float division per group).

    Shape: one aggregation to the (by, unit) grain, a rank window per
    group over that aggregate frame, one final aggregation. Negative
    values are rejected upstream concerns — Gini over signed data has
    no standard definition.
    """
    totals = df.groupBy(*by, *unit).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("__x")
    )
    w = Window.partitionBy(*by).orderBy("__x")
    ranked = totals.withColumn("__i", F.row_number().over(w))
    # a zero-total group (all-zero values) has no defined concentration:
    # try_divide yields NULL gini instead of an ANSI divide-by-zero abort
    return ranked.groupBy(*by).agg(
        (
            F.try_divide(
                F.lit(2.0)
                * F.sum(
                    (F.col("__i") * F.col("__x")).cast("decimal(38,6)")
                ).cast("double"),
                F.count(F.lit(1)).cast("double")
                * F.sum("__x").cast("double"),
            )
            - (F.count(F.lit(1)) + 1).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("gini"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum("__x").cast("double").alias("total"),
    )


def hhi_concentration(
    df: DataFrame,
    value_col: str,
    unit: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per ``by`` group: the
    sum of squared shares of each ``unit`` entity's total (1/n =
    perfectly even, 1 = single-entity). Entity totals are exact
    decimal; shares are squared as doubles on the tiny aggregate
    frame. Two cheap aggregations — the raw data shuffles once.
    """
    totals = df.groupBy(*by, *unit).agg(
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("__x")
    )
    w = Window.partitionBy(*by)
    # zero-total group → NULL shares (undefined), not a job abort
    shares = totals.withColumn(
        "__share",
        F.try_divide(
            F.col("__x").cast("double"), F.sum("__x").over(w).cast("double")
        ),
    )
    return shares.groupBy(*by).agg(
        F.sum(F.col("__share") * F.col("__share")).alias("hhi"),
        F.count(F.lit(1)).alias("n_units"),
    )


def allocate_proportional(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    total_units: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Largest-remainder proportional allocation: split an integer
    ``total_units`` across rows in proportion to ``weight_col`` so the
    allocations are integers that sum EXACTLY to the total per group —
    budget distribution, seat apportionment, inventory splits; plain
    rounding drifts by ±(rows/2) units.

    Method (Hamilton): each row takes floor(share); the leftover units
    go one each to the largest fractional remainders (ties broken by
    id — deterministic). Exactness: quotas derive from decimal weight
    sums; the remainder ranking is a per-group window over the
    allocation frame.
    """
    wsum = Window.partitionBy(*by)
    quota = (
        F.col(weight_col).cast("double")
        * total_units
        / F.sum(F.col(weight_col).cast("decimal(30,6)"))
        .over(wsum)
        .cast("double")
    )
    based = (
        df.where(F.col(weight_col) > 0)
        .withColumn("__quota", quota)
        .withColumn("__floor", F.floor("__quota").cast("long"))
        .withColumn("__rem", F.col("__quota") - F.col("__floor"))
    )
    leftover = F.lit(total_units) - F.sum("__floor").over(wsum)
    rank_w = Window.partitionBy(*by).orderBy(
        F.col("__rem").desc(), F.col(id_col).asc()
    )
    out = based.withColumn("__r", F.row_number().over(rank_w)).withColumn(
        "allocated",
        F.col("__floor")
        + (F.col("__r") <= leftover).cast("long"),
    )
    return out.select(
        *by, id_col, weight_col, F.col("__quota").alias("quota"), "allocated"
    )


def ab_test_proportions(
    assignments: DataFrame,
    unit_col: str,
    group_col: str,
    converted_col: str,
) -> DataFrame:
    """Two-proportion z-test between exactly two experiment arms: one
    row with per-arm sizes/conversions/rates, the absolute lift, and
    the pooled-variance z statistic — the A/B readout.

    Counts are exact ints; every float derives from them through one
    fixed expression tree, so the statistic is engine-identical. The
    input is one row per experimental UNIT (dedupe upstream — units,
    not events, are the denominator). Raises if the data does not
    contain exactly two groups (a silent 3-arm "A/B test" is a bug).

    Shape: one aggregation to two rows, then a 2-row pivot — nothing
    here scales with anything but the unit count's single shuffle.
    """
    per = assignments.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(converted_col).cast("long")).alias("conv"),
    )
    arms = per.orderBy("grp").collect()
    if len(arms) != 2:
        raise ValueError(
            f"ab_test_proportions expects exactly 2 groups, got "
            f"{[r['grp'] for r in arms]}"
        )
    # re-express as a 1-row frame IN PLAN (the collect above is a
    # guardrail on the 2-row aggregate, not a data path)
    a, b = arms[0]["grp"], arms[1]["grp"]
    one = per.groupBy().pivot("grp", [a, b]).agg(
        F.first("n").alias("n"), F.first("conv").alias("conv")
    )
    na = F.col(f"{a}_n").cast("double")
    nb = F.col(f"{b}_n").cast("double")
    ca = F.col(f"{a}_conv").cast("double")
    cb = F.col(f"{b}_conv").cast("double")
    pa = ca / na
    pb = cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    return one.select(
        F.lit(a).alias("group_a"),
        F.col(f"{a}_n").alias("n_a"),
        F.col(f"{a}_conv").alias("conv_a"),
        pa.alias("rate_a"),
        F.lit(b).alias("group_b"),
        F.col(f"{b}_n").alias("n_b"),
        F.col(f"{b}_conv").alias("conv_b"),
        pb.alias("rate_b"),
        (pb - pa).alias("lift_abs"),
        F.when(se > 0, (pb - pa) / se).alias("z_stat"),
    )


def basket_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Pairwise market-basket association: for item pairs co-occurring
    in ``min_support``+ baskets, support / confidence(a→b) / lift —
    the frequent-itemset first stage ("customers who bought X…").

    Shape: distinct (basket, item) first; the pair self-join blocks on
    the basket key, so fan-out is C(items-per-basket, 2) per basket —
    bounded by basket width, never the global item square (the same
    blocking discipline as the co-supply graph). Item totals broadcast
    back; counts exact, ratios one fixed expression. Ties in the
    top-k break on the item pair.

    Trade-off: the distinct (basket, item) frame is materialized with
    an eager ``localCheckpoint`` so its four consumers read it once.
    So the call itself launches Spark jobs (the scan and the distinct),
    before any action on the result; the checkpoint is not
    fault-tolerant (blocks live on the executors that computed them,
    and a lost executor fails the query instead of recomputing); and
    those blocks stay pinned until the returned frame is dropped and
    garbage-collected on the driver.
    """
    # Eagerly materialized (r14): this distinct frame feeds FOUR
    # independent subtrees — the basket-count aggregate, the item
    # totals (broadcast twice under different aliases, so ReuseExchange
    # cannot dedupe them), and both sides of the pair self-join. The
    # REST job profile showed the scan+distinct executing three times
    # as separate broadcast-build jobs (0.4-1.0s each at sf0.1); with
    # the checkpoint each consumer reads the cache (those jobs drop to
    # ~0.25s; total job time 3.5 → 2.6s — wall-neutral locally only
    # because an idle 32-core host absorbs the duplicates in parallel).
    # At 100 TB re-deriving a corpus-sized distinct per consumer is
    # three full scans+shuffles instead of one.
    bi = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct().localCheckpoint(eager=True)
    n_baskets = bi.agg(
        F.count_distinct("__b").cast("double").alias("__nb")
    )
    item_n = bi.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = bi.alias("a")
    b = bi.alias("b")
    pairs = (
        a.join(b, "__b")
        .where(F.col("a.__i") < F.col("b.__i"))
        .groupBy(
            F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_support)
    )
    scored = (
        pairs.join(
            F.broadcast(item_n.withColumnRenamed("item", "item_a")
                        .withColumnRenamed("n_item", "n_a")),
            "item_a",
        )
        .join(
            F.broadcast(item_n.withColumnRenamed("item", "item_b")
                        .withColumnRenamed("n_item", "n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .withColumn(
            "support", F.col("n_pair").cast("double") / F.col("__nb")
        )
        .withColumn(
            "confidence", F.col("n_pair").cast("double") / F.col("n_a")
        )
        .withColumn(
            "lift",
            (F.col("n_pair").cast("double") / F.col("__nb"))
            / (
                (F.col("n_a").cast("double") / F.col("__nb"))
                * (F.col("n_b").cast("double") / F.col("__nb"))
            ),
        )
    )
    return (
        scored.select(
            "item_a", "item_b", "n_pair", "support", "confidence", "lift"
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(top_k)
    )


def mode_by(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Deterministic per-group mode: the most frequent ``value_col``
    per group, ties broken by the smallest value (Spark's built-in
    ``F.mode`` is tie-nondeterministic, which a hash-gated pipeline
    can't use). NULL values don't compete.

    Shape: count per (group, value) — map-side partial combine, so the
    shuffle carries one row per distinct pair — then a row_number pick
    over the per-group count frame (second shuffle is on the group key
    over already-aggregated rows). Returns (groups..., mode_value, n).
    """
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            *group_cols, F.col(value_col).alias("mode_value"), "n"
        )
    )


def score_auc(
    df: DataFrame,
    score_col: str,
    label_col: str | Column,
) -> DataFrame:
    """ROC AUC of a score against a binary label via the rank-sum
    (Mann-Whitney U) identity — the threshold-free ranking metric of
    every model-eval pipeline, computed exactly without materializing
    a single ROC point.

    AUC = (Σ avg-ranks(positives) − P(P+1)/2) / (P·N). Tied scores get
    the AVERAGE rank, computed from integers only: for a distinct
    score with ``c`` rows starting at min-rank ``r``, avg = r +
    (c−1)/2 — so the whole computation is exact integer arithmetic
    until one final division (engine-portable by construction; no
    float accumulation anywhere).

    Shape: rows collapse to one row per DISTINCT score first (hash
    agg, map-side combine); the rank cumsum runs over the distinct
    frame only. Returns one row (auc, n_pos, n_neg). NULL scores or
    labels are excluded. AUC is NULL when either class is empty.

    Input range: the doubled rank-sum is bounded by ~2·P·N ≤ N², so
    int64 exactness holds to N ≈ 2·10⁹ scored rows — beyond that,
    swap the two integer products for decimal(38,0) sums (the oracle's
    HUGEINT path would otherwise silently diverge from wrapped longs).
    """
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    rows = df.where(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).alias("__s"),
        lab.cast("boolean").cast("int").alias("__y"),
    )
    per_s = rows.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum("__y").alias("__p"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_s.withColumn(
        "__before", F.coalesce(F.sum("__c").over(w), F.lit(0))
    )
    # positives at this score contribute p * (minrank + (c-1)/2),
    # with minrank = before + 1; keep 2x everything to stay integral
    two_rank_sum = F.sum(
        F.col("__p") * (2 * (F.col("__before") + 1) + (F.col("__c") - 1))
    ).alias("__2rs")
    agg = ranked.agg(
        two_rank_sum,
        F.sum("__p").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__p")).alias("n_neg"),
    )
    p, n = F.col("n_pos"), F.col("n_neg")
    auc = F.when(
        (p > 0) & (n > 0),
        (
            F.col("__2rs").cast("double") / F.lit(2.0)
            - (p * (p + 1)).cast("double") / F.lit(2.0)
        )
        / (p * n).cast("double"),
    )
    return agg.select(
        auc.alias("auc"),
        p.cast("long").alias("n_pos"),
        n.cast("long").alias("n_neg"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str | Column,
    bins: int = 10,
    tiebreak_cols: Sequence[str] = (),
    allow_nondeterministic_ties: bool = False,
) -> DataFrame:
    """Reliability-diagram bins: rank rows into ``bins`` equal-count
    score buckets (ntile over a TOTAL order — tiebreaks make the
    assignment engine-deterministic) and report each bucket's size,
    exact-decimal mean score, and positive rate — calibration drift
    at a glance.

    One window shuffle (the global ntile sort — at real scale swap
    ntile for bucketing on precomputed score quantiles) plus one
    map-side-combinable aggregation. Returns (bin, n, mean_score,
    frac_positive) with exact decimal score sums and integer counts.

    Determinism contract (ADVICE r7): ntile needs a TOTAL order, so an
    empty ``tiebreak_cols`` is only deterministic when scores are
    duplicate-free; pass tiebreak columns (a unique id) for real data.
    With no tiebreaks the call raises unless
    ``allow_nondeterministic_ties=True`` acknowledges the risk.
    """
    if not tiebreak_cols and not allow_nondeterministic_ties:
        raise ValueError(
            "calibration_bins: empty tiebreak_cols makes ntile bin "
            "assignment nondeterministic for tied scores; pass a unique "
            "tiebreak column, or set allow_nondeterministic_ties=True "
            "if scores are known duplicate-free"
        )
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    rows = df.where(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).alias("__s"),
        lab.cast("boolean").cast("int").alias("__y"),
        *[F.col(c) for c in tiebreak_cols],
    )
    w = Window.orderBy(
        F.col("__s"), *[F.col(c) for c in tiebreak_cols]
    )
    binned = rows.withColumn("bin", F.ntile(bins).over(w))
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("__s").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_score"),
            (
                F.sum("__y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("frac_positive"),
        )
        .orderBy("bin")
    )


def psi_drift(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    sample of one numeric column — the standard model-input drift
    alarm (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 shifted).

    Buckets are the BASELINE's exact inner quantiles (via
    ``quality.exact_quantile_grid`` — distinct-counts selection, not
    the O(distinct×fracs) Percentile agg), broadcast as one array;
    each side buckets by counting boundaries below the value (an
    ``aggregate`` fold over the tiny bounds array — pure comparisons,
    no float arithmetic). Per-bucket PSI terms (pa−pb)·ln(pa/pb) use
    exact-integer-ratio doubles and sum through per-term
    decimal(28,12) rounding, so the total is independent of summation
    order. Empty buckets on either side contribute NULL terms and are
    excluded from the total (documented caveat; use fewer bins if a
    side is tiny).

    Returns per-bucket rows PLUS a total row (bucket = -1):
    (bucket, n_base, n_current, frac_base, frac_current, psi_term).
    """
    from quanta_etl_spark.operators.quality import exact_quantile_grid

    fracs = [i / bins for i in range(1, bins)]
    bounds = exact_quantile_grid(base, value_col, fracs)

    def bucketed(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col)
        b = df.where(v.isNotNull()).crossJoin(F.broadcast(bounds))
        bucket = F.aggregate(
            "__grid",
            F.lit(0),
            lambda acc, bound: acc
            + F.when(v > bound, 1).otherwise(0),
        )
        return (
            b.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    nb = bucketed(base, "n_base")
    nc = bucketed(current, "n_current")
    tot_b = F.sum("n_base").over(Window.partitionBy())
    tot_c = F.sum("n_current").over(Window.partitionBy())
    j = (
        nb.join(nc, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_current", F.lit(0)).alias("n_current"),
        )
        .withColumn("__tb", tot_b)
        .withColumn("__tc", tot_c)
    )
    # try_divide: an empty side (all-NULL or zero-row base/current)
    # zeroes its total — fracs are undefined (NULL), not a job abort.
    # Inside the term guard n_base/n_current > 0 implies the totals
    # are > 0, so the PSI term itself never sees a zero denominator.
    pa = F.try_divide(
        F.col("n_base").cast("double"), F.col("__tb").cast("double")
    )
    pb = F.try_divide(
        F.col("n_current").cast("double"), F.col("__tc").cast("double")
    )
    term = F.when(
        (F.col("n_base") > 0) & (F.col("n_current") > 0),
        (pa - pb) * F.log(pa / pb),
    )
    per = j.select(
        "bucket",
        "n_base",
        "n_current",
        pa.alias("frac_base"),
        pb.alias("frac_current"),
        term.alias("psi_term"),
    )
    total = per.agg(
        F.lit(-1).alias("bucket"),
        F.sum("n_base").alias("n_base"),
        F.sum("n_current").alias("n_current"),
        F.lit(None).cast("double").alias("frac_base"),
        F.lit(None).cast("double").alias("frac_current"),
        F.sum(F.col("psi_term").cast("decimal(28,12)"))
        .cast("double")
        .alias("psi_term"),
    )
    return per.unionByName(total)
