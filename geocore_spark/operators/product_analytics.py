"""Product/web-analytics operators: cohort retention, multi-touch
conversion attribution, top event paths, and per-entity max drawdown.

The classic event-log analytics a training-data/web-scale engine is
asked for right after sessionize/funnel (which live in temporal.py /
__spark_entry__): who comes back (cohorts), what drove the conversion
(attribution), what do journeys look like (paths), how deep do running
metrics dip (drawdown). All four are pure DataFrame composition —
group-partitioned windows and map-side-combined aggregations, exact
BIGINT arithmetic for every ratio (micro-units), so each has a
bit-exact ANSI-SQL twin.

Scale shapes (the 100 TB question for each):
- cohort_retention: two user-keyed shuffles + one (cohort, offset) agg;
  never a global sort; output is |periods|^2 rows, tiny.
- attribution: an equi-join on the user key with a time-range predicate
  — co-partitioned, never cartesian; per-conversion fan-out bounded by
  the lookback window.
- user_paths: one user-partitioned top-N window + one path agg; path
  strings are <= max_steps tokens, so state is bounded.
- max_drawdown: one user-partitioned ordered window (cumsum + running
  max in a single sort) + one agg. Skew bound = busiest entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "cohort_retention",
    "attribution",
    "user_paths",
    "max_drawdown",
    "rfm",
]

_DAY_US = 86_400_000_000


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_us: int = _DAY_US,
) -> DataFrame:
    """Cohort retention matrix over an event log.

    A user's cohort is the period (epoch-microseconds div ``period_us``,
    exact integer bucketing) of their FIRST event; for every (cohort,
    offset) cell the output counts users active ``offset`` periods after
    their cohort period. ``retention_micro = (1e6 * n_active) div
    cohort_size`` is exact BIGINT; offset 0 always equals the cohort
    size by construction (every user is active in their first period).

    Output: (cohort_period, period_offset, n_active, cohort_size,
    retention_micro), one row per non-empty cell.
    """
    if period_us <= 0:
        raise ValueError("cohort_retention: period_us must be > 0")
    active = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            F.expr(
                f"unix_micros(cast(`{ts_col}` as timestamp)) div {int(period_us)}"
            ).alias("_p"),
        )
        .distinct()
    )
    first = active.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    cells = (
        active.join(first, "_u")
        .groupBy(
            F.col("_cohort").alias("cohort_period"),
            (F.col("_p") - F.col("_cohort")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = cells.where(F.col("period_offset") == 0).select(
        F.col("cohort_period"), F.col("n_active").alias("cohort_size")
    )
    return cells.join(sizes, "cohort_period").select(
        F.col("cohort_period").cast("long").alias("cohort_period"),
        F.col("period_offset").cast("long").alias("period_offset"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.expr("(1000000 * n_active) div cohort_size")
        .cast("long")
        .alias("retention_micro"),
    )


def attribution(
    touches: DataFrame,
    conversions: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    conv_id_col: str,
    touch_id_col: str,
    lookback_us: int,
) -> DataFrame:
    """Last-touch and linear multi-touch conversion attribution.

    For each conversion, its touchpoints are the user's touch events
    with ``conv_ts - lookback_us <= touch_ts < conv_ts`` (strictly
    before, at microsecond grain). Last-touch credits the whole
    conversion to the latest touch (ties broken by ``touch_id_col`` —
    the order must be total or results are engine-dependent); linear
    attribution gives each of the k touchpoints ``1e6 div k``
    micro-credits (exact integers; the <= k-1 micro remainder per
    conversion is deliberately dropped — deterministic beats
    pretty-summing). Conversions with no touchpoint in the window are
    unattributed and absent. ``conv_id_col`` must be globally unique
    across conversions — a collision would merge two conversions'
    touchpoint windows and corrupt both k and the last-touch pick.

    Output per channel: (channel, n_touchpoints, last_touch_convs,
    linear_micro).

    Scale: user-key equi-join (co-partitioned) with the range predicate
    applied on join output; one conversion-keyed window for k + rank.
    """
    if lookback_us <= 0:
        raise ValueError("attribution: lookback_us must be > 0")
    # touch/conversion ids are partition + tie-break keys: a NULL id is
    # the trivially reachable form of the id-collision corruption the
    # docstring warns about (every NULL-cid conversion would merge into
    # ONE window partition) — filter both, like every other key column
    t = touches.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(channel_col).isNotNull()
        & F.col(touch_id_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.expr(f"unix_micros(cast(`{ts_col}` as timestamp))").alias("_tts"),
        F.col(channel_col).alias("_ch"),
        F.col(touch_id_col).alias("_tid"),
    )
    c = conversions.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(conv_id_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.expr(f"unix_micros(cast(`{ts_col}` as timestamp))").alias("_cts"),
        F.col(conv_id_col).alias("_cid"),
    )
    joined = t.join(c, "_u").where(
        (F.col("_tts") < F.col("_cts"))
        & (F.col("_tts") >= F.col("_cts") - F.lit(int(lookback_us)))
    )
    w = Window.partitionBy("_cid")
    wlast = w.orderBy(F.col("_tts").desc(), F.col("_tid").desc())
    scored = joined.select(
        "_ch",
        F.count(F.lit(1)).over(w).alias("_k"),
        F.row_number().over(wlast).alias("_rn"),
    )
    return (
        scored.groupBy(F.col("_ch").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touchpoints"),
            F.sum(
                F.when(F.col("_rn") == 1, 1).otherwise(0)
            ).alias("last_touch_convs"),
            F.sum(F.expr("1000000 div _k")).alias("linear_micro"),
        )
        .select(
            "channel",
            F.col("n_touchpoints").cast("long").alias("n_touchpoints"),
            F.col("last_touch_convs").cast("long").alias("last_touch_convs"),
            F.col("linear_micro").cast("long").alias("linear_micro"),
        )
    )


def user_paths(
    df: DataFrame,
    user_col: str,
    order_col: str,
    tiebreak_col: str,
    state_col: str,
    max_steps: int = 5,
    sep: str = ">",
    min_count: int = 1,
) -> DataFrame:
    """Count users by their first-``max_steps`` event path.

    Each user's path is the ``sep``-joined sequence of states ordered by
    (order_col, tiebreak_col) — the pair must be a total order per user
    or the path string is engine-dependent. States must not contain
    ``sep`` (raises otherwise: a separator collision silently merges
    distinct paths).

    Output: (path, n_users, path_len), descending-count-friendly but
    unordered (callers sort). One user-partitioned window + one path
    agg; the collect_list is bounded at max_steps elements.
    """
    if max_steps < 1:
        raise ValueError("user_paths: max_steps must be >= 1")
    s_ok = ~F.col(state_col).contains(sep)
    s = F.when(s_ok, F.col(state_col)).otherwise(
        F.raise_error(
            F.lit(f"user_paths: state contains separator {sep!r}")
        ).cast("string")
    )
    base = df.where(
        F.col(user_col).isNotNull()
        & F.col(order_col).isNotNull()
        & F.col(tiebreak_col).isNotNull()
        & F.col(state_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(order_col).alias("_o"),
        F.col(tiebreak_col).alias("_tb"),
        s.alias("_s"),
    )
    w = Window.partitionBy("_u").orderBy(F.col("_o").asc(), F.col("_tb").asc())
    stepped = base.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= max_steps
    )
    paths = stepped.groupBy("_u").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_o", "_tb", "_s"))
                ),
                lambda x: x["_s"],
            ),
            sep,
        ).alias("path"),
        F.count(F.lit(1)).alias("_len"),
    )
    out = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.max("_len").alias("path_len"),
    )
    if min_count > 1:
        out = out.where(F.col("n_users") >= min_count)
    return out.select(
        "path",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("path_len").cast("long").alias("path_len"),
    )


def max_drawdown(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group maximum drawdown of the running sum of an integer
    value series: max over time of (running peak - running sum).

    Exact BIGINT end-to-end (quantize values upstream to INTEGER-valued
    numbers — a double NaN raises under ANSI and silently becomes 0
    without it). (order_col, tiebreak_col) must totally order each
    group's rows — cumulative sums over a partial order are
    engine-dependent. Output: (group, n, total, max_drawdown); a
    never-declining series reports 0.

    One group-partitioned ordered window computes cumsum and its
    running max in the SAME sort (two window functions, one Exchange +
    one Sort), then a plain agg. Overflow honesty: the running cumsum
    is bounded by n * max|x| — checked AFTER the aggregation with
    non-wrapping aggregates (count, max(abs)) in double, raising
    instead of returning a wrapped drawdown.
    """
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(order_col).isNotNull()
        & F.col(tiebreak_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        F.col(tiebreak_col).alias("_tb"),
        F.col(value_col).cast("long").alias("_x"),
    )
    w = (
        Window.partitionBy("_g")
        .orderBy(F.col("_o").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = base.withColumn("_cum", F.sum("_x").over(w)).withColumn(
        "_peak", F.max(F.col("_cum")).over(w)
    )
    ag = run.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_total"),
        F.max(F.col("_peak") - F.col("_cum")).alias("_dd"),
        F.max(F.abs(F.col("_x"))).alias("_mx"),
    )
    # non-wrapping wrap check: |cum| <= n * max|x| (count/max can't wrap)
    ok = F.when(
        F.col("_n").cast("double")
        * F.greatest(F.col("_mx"), F.lit(1)).cast("double")
        * F.lit(2.0)
        < F.lit(float(2**62)),
        F.lit(1),
    ).otherwise(
        F.raise_error(
            F.lit("max_drawdown: running sum would overflow BIGINT")
        ).cast("int")
    )
    # ok FIRST: And short-circuits (the _guarded_moments rationale)
    return ag.select(
        group_col,
        F.when(ok == 1, F.col("_n")).cast("long").alias("n"),
        F.col("_total").cast("long").alias("total"),
        F.col("_dd").cast("long").alias("max_drawdown"),
    )


def rfm(
    df,
    customer_col: str,
    ts_col: str,
    amount_col: str,
    ref_ts_us: int,
    n_tiles: int = 5,
):
    """RFM segmentation — the marketing-analytics staple: per customer
    Recency (microseconds from last purchase to ``ref_ts_us``),
    Frequency (purchase count) and Monetary (summed integer amount —
    quantize upstream), each scored into ``n_tiles`` quantile tiles
    (1 = best: most recent / most frequent / highest spend).

    Tiles come from :func:`metrics.exact_ntile` — the range-partitioned
    distributed global rank, NOT a single-task ``ntile() OVER ()``
    window — so the segmentation scales; the bucket rule matches SQL
    ntile exactly, making the scores oracle-replayable. Ties broken by
    customer id (deterministic). Three ranked dimensions = three range
    exchanges; amounts and recencies stay exact BIGINT.

    Output: (customer, recency_us, frequency, monetary, r_score,
    f_score, m_score).
    """
    from pyspark.sql import functions as F  # noqa: F811 (module import)

    from geocore_spark.operators import metrics
    from geocore_spark.session import release_previous

    if n_tiles < 1:
        raise ValueError("rfm: n_tiles must be >= 1")
    if customer_col in (
        "recency_us", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    ):
        raise ValueError(
            f"rfm: customer column {customer_col!r} collides with an "
            "output column"
        )
    base = df.where(
        F.col(customer_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(amount_col).isNotNull()
    ).select(
        F.col(customer_col).alias("_c"),
        F.expr(f"unix_micros(cast(`{ts_col}` as timestamp))").alias("_t"),
        F.col(amount_col).cast("long").alias("_a"),
    )
    per = base.groupBy("_c").agg(
        (F.lit(int(ref_ts_us)) - F.max("_t")).alias("recency_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("_a").alias("monetary"),
    )
    # best first in every dimension: small recency, high frequency,
    # high monetary. exact_ntile ranks ascending, so negate f/m.
    # Own caches per call: the default internal registry unpersists the
    # PREVIOUS call's ranged frame while it is still in the next frame's
    # lineage, recomputing the per-customer agg ~3x. The three frames
    # are handed to the registry afterwards (replacing older entries) so
    # they live for the result's lifetime and the next metrics call
    # releases them — the bounded-cache discipline.
    caches: list[dict] = [{}, {}, {}]
    out = metrics.exact_ntile(
        per, [F.col("recency_us"), F.col("_c")], n_tiles,
        col="r_score", cache=caches[0],
    )
    out = metrics.exact_ntile(
        out, [(-F.col("frequency")), F.col("_c")], n_tiles,
        col="f_score", cache=caches[1],
    )
    out = metrics.exact_ntile(
        out, [(-F.col("monetary")), F.col("_c")], n_tiles,
        col="m_score", cache=caches[2],
    )
    release_previous("metrics", df.sparkSession).extend(
        c["ranged"] for c in caches if "ranged" in c
    )
    return out.select(
        F.col("_c").alias(customer_col),
        F.col("recency_us").cast("long").alias("recency_us"),
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary").cast("long").alias("monetary"),
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    )
