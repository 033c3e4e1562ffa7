"""Scale-safe exact rank metrics: global row numbers, ntile buckets and
percent_rank WITHOUT a single-task global sort.

The reference computes decile/lift/KS tables in driver-side pandas over
the full scored frame (reference modeling/metrics.py:39-91) — fine at its
scale, a one-core serialization at 100 TB. The naive Spark translation
(``Window.orderBy(...)`` with no ``partitionBy``) is just as bad: Catalyst
plans ``Exchange SinglePartition`` + one sort task holding the whole
input. This module replaces it with the two-exchange distributed
formulation:

1. ``repartitionByRange`` on the sort key — partition i holds keys
   strictly before partition i+1's (RangePartitioning invariant), each
   partition sorted independently in parallel;
2. per-partition row counts (map-side-combined agg, one tiny row per
   partition) collected to the driver — bounded by the partition count,
   never by the data — and turned into cumulative offsets;
3. offsets broadcast-joined back on the partition id, so
   ``global rank = partition offset + per-partition row_number``.

ntile/percent_rank then become pure Column arithmetic on the exact global
rank (the SQL bucket-size rule: the first N mod n buckets take one extra
row), so the plans contain NO global window — ``ntile(``/``percent_rank(``
never appear, and the only full-data exchanges are the range partitioning
and the per-partition-id window hash (both width-parallel). Exactness is
independent of where the sampled range boundaries land; boundary sampling
only affects balance.

Rows whose sort key columns are all non-null are required (nulls order
fine but make oracle parity engine-dependent; callers filter first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geocore_spark.session import release_previous

_PID = "__mx_pid"
_LRN = "__mx_lrn"
_OFF = "__mx_off"


def with_global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "global_rn",
    num_partitions: int | None = None,
    cache: dict | None = None,
) -> tuple[DataFrame, int]:
    """Append an exact 1-based global row number under a TOTAL order
    (``order_cols`` must be tie-free — include a unique tiebreak column)
    and return ``(df_with_rank, total_rows)``.

    Materializes one pass for the per-partition counts (the ranged frame
    is persisted so the main pass reuses it; pass ``cache`` to receive it
    under ``cache["ranged"]`` for unpersisting after the terminal action).
    The count collect is one row per range partition — driver-bounded by
    the partition count, not the data size.
    """
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(p, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    if cache is not None:
        cache["ranged"] = ranged  # caller takes ownership of the release
    else:
        # nobody else can unpersist it: the next call in this context does
        release_previous("metrics", spark).append(ranged)
    counts = sorted(
        (r[0], r[1])
        for r in ranged.groupBy(_PID).agg(F.count(F.lit(1))).collect()
    )
    total = int(sum(c for _, c in counts))
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += int(c)
    if offsets:
        off_df = spark.createDataFrame(offsets, f"{_PID} int, {_OFF} long")
    else:
        off_df = spark.createDataFrame([], f"{_PID} int, {_OFF} long")
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    out = (
        ranged.withColumn(_LRN, F.row_number().over(w))
        .join(F.broadcast(off_df), _PID)
        .withColumn(rn_col, (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
        .drop(_PID, _LRN, _OFF)
    )
    return out, total


def exact_ntile(
    df: DataFrame,
    order_cols: list[Column],
    n: int,
    col: str = "decile",
    num_partitions: int | None = None,
    cache: dict | None = None,
) -> DataFrame:
    """SQL-exact ``ntile(n) OVER (ORDER BY order_cols)`` as an INT column,
    computed from the distributed global rank — no global window. Bucket
    rule (matches Spark and DuckDB): with N rows, the first ``N mod n``
    buckets hold ``N div n + 1`` rows, the rest ``N div n``."""
    if n < 1:
        raise ValueError("n must be >= 1")
    out, total = with_global_rank(
        df, order_cols, rn_col="__mx_rn",
        num_partitions=num_partitions, cache=cache,
    )
    q, rem = divmod(total, n)
    rank = F.col("__mx_rn")
    if q == 0:
        bucket = rank  # fewer rows than buckets: row r -> bucket r
    else:
        head = rem * (q + 1)
        bucket = F.when(
            rank <= F.lit(head),
            F.expr(f"(__mx_rn - 1) div {q + 1}") + 1,
        ).otherwise(F.expr(f"(__mx_rn - 1 - {head}) div {q}") + rem + 1)
    return out.withColumn(col, bucket.cast("int")).drop("__mx_rn")


def exact_percent_rank(
    df: DataFrame,
    order_cols: list[Column],
    col: str = "pct_rank",
    num_partitions: int | None = None,
    cache: dict | None = None,
) -> DataFrame:
    """SQL-exact ``percent_rank() OVER (ORDER BY order_cols)`` under a
    TOTAL (tie-free) order: (rank - 1) / (N - 1), computed from the
    distributed global rank. With ties the SQL function assigns the tie
    group's first row number to every member — include a unique tiebreak
    in ``order_cols`` (every caller here does), which makes the two
    definitions coincide."""
    out, total = with_global_rank(
        df, order_cols, rn_col="__mx_rn",
        num_partitions=num_partitions, cache=cache,
    )
    if total <= 1:
        return out.withColumn(col, F.lit(0.0)).drop("__mx_rn")
    return out.withColumn(
        col,
        (F.col("__mx_rn") - F.lit(1)).cast("double") / F.lit(float(total - 1)),
    ).drop("__mx_rn")


def grouped_auc(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Exact per-group ROC-AUC via the rank-sum identity, all-integer.

    AUC = P(score_pos > score_neg) + 0.5 * P(tie) — computed from
    per-distinct-score (pos, neg) counts: collapse to one row per
    (group, score) first (a map-side-combined agg, so the window below
    runs over |distinct scores| rows, not |input| rows), then for each
    score level add ``pos * (2 * neg_strictly_below + neg_at)`` — twice
    the Mann-Whitney numerator, kept doubled so ties stay integral.
    ``auc_micro = (num2 * 1e6) div (2 * P * N)`` is exact BIGINT
    arithmetic end-to-end; an ANSI-SQL twin replays it bit-exactly.

    Scale shape: one (group, score) groupBy with partial aggregation,
    one group-partitioned ordered window over the collapsed rows, one
    group groupBy. Never a global sort; skew bound = distinct scores of
    the largest group. Labels must be 0/1 (or boolean); any other value
    raises rather than silently corrupting the rank sum. Groups with no
    positives or no negatives return NULL auc_micro. The integer path
    needs ``num2 * 1e6 < 2^63`` — i.e. P*N < ~4.6e12 per group (~2M
    balanced rows); beyond that the guard raises rather than wrapping.
    """
    # validate the RAW value, not its long cast: cast('long') truncates
    # 0.7 -> 0 and 1.5 -> 1, which would satisfy an after-cast isin(0,1)
    # and silently corrupt the rank sum with soft labels
    y_ok = F.col(label_col).cast("double").isin(0.0, 1.0)
    y = F.when(y_ok, F.col(label_col).cast("long")).otherwise(
        F.raise_error(F.lit("grouped_auc: label must be 0/1")).cast("long")
    )
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"), F.col(score_col).alias("_s"), y.alias("_y")
    )
    per = base.groupBy("_g", "_s").agg(
        F.sum("_y").alias("_pos"),
        (F.count(F.lit(1)) - F.sum("_y")).alias("_neg"),
    )
    w = (
        Window.partitionBy("_g")
        .orderBy(F.col("_s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.withColumn(
        "_below", F.coalesce(F.sum("_neg").over(w), F.lit(0))
    )
    ag = cum.groupBy("_g").agg(
        F.sum(
            F.col("_pos") * (F.lit(2) * F.col("_below") + F.col("_neg"))
        ).alias("_num2"),
        F.sum("_pos").cast("long").alias("pos"),
        F.sum("_neg").cast("long").alias("neg"),
    )
    guarded = ag.withColumn(
        "_num2g",
        F.when(
            F.col("_num2") <= F.lit((2**63 - 1) // 1_000_000),
            F.col("_num2"),
        ).otherwise(
            F.raise_error(
                F.lit("grouped_auc: num2 * 1e6 would overflow BIGINT")
            ).cast("long")
        ),
    )
    return guarded.select(
        F.col("_g").alias(group_col),
        "pos",
        "neg",
        F.when(
            (F.col("pos") > 0) & (F.col("neg") > 0),
            F.expr("(_num2g * 1000000) div (2 * pos * neg)"),
        ).cast("long").alias("auc_micro"),
    )


def _guarded_moments(
    df: DataFrame, group_col: str, x_col: str, y_col: str, op_name: str
) -> DataFrame:
    """Shared one-pass BIGINT moment aggregate for grouped_corr/ols:
    (n, Sx, Sy, Sxy, Sxx, Syy) per group plus the ``_ok`` overflow
    sentinel. The largest intermediate downstream is n*Sxy - Sx*Sy,
    bounded by 2*(n*m)^2 with m = max(|x|, |y|) — n*m*m alone would
    miss both the n^2 terms and Sxx when |x| >> |y| — so the guard
    raises when (n*m)^2 approaches 2^61 (checked in double; 1-ulp
    slack is nothing next to the headroom). ``_ok`` must be the FIRST
    conjunct wherever it gates a result: And short-circuits, and a
    wrapped variance term that happens to be <= 0 would otherwise skip
    the raise and masquerade as the NULL constant-series case."""
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    ag = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.max(F.abs(F.col("_x"))).alias("_mx"),
        F.max(F.abs(F.col("_y"))).alias("_my"),
    )
    m = F.greatest(F.col("_mx"), F.col("_my"), F.lit(1)).cast("double")
    bound = F.col("n").cast("double") * m
    return ag.withColumn(
        "_ok",
        F.when(bound * bound < F.lit(float(2**61)), F.lit(1)).otherwise(
            F.raise_error(
                F.lit(f"{op_name}: moment sums would overflow BIGINT")
            ).cast("int")
        ),
    )


def grouped_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact per-group Pearson correlation from integer moments.

    ``x``/``y`` must be integer-valued (quantize upstream — e.g.
    ``trunc(value*10)``): the five moment sums are then exact BIGINT,
    and the final ``num / (sqrt(a) * sqrt(b))`` is bit-reproducible
    across engines because BIGINT->DOUBLE conversion, sqrt, multiply
    and divide are all IEEE-754 correctly rounded — so an ANSI-SQL twin
    matches the double exactly, no micro-unit dance needed.

    One map-side-combined groupBy; no window, no sort; overflow raises
    (see :func:`_guarded_moments`). Constant series return NULL corr.
    """
    guarded = _guarded_moments(df, group_col, x_col, y_col, "grouped_corr")
    a = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    b = F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    # _ok FIRST: see _guarded_moments
    corr = F.when(
        (F.col("_ok") == 1) & (a > 0) & (b > 0),
        num.cast("double")
        / (F.sqrt(a.cast("double")) * F.sqrt(b.cast("double"))),
    )
    return guarded.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        corr.alias("corr"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact per-group simple linear regression (y = slope*x + intercept)
    from the same integer moment sums as :func:`grouped_corr`.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) and
    intercept = (Sy - slope*Sx) / n are assembled from BIGINT moments
    with IEEE correctly-rounded double ops only (cast, mul, div), so the
    doubles are bit-reproducible against an ANSI-SQL twin — the
    :func:`grouped_corr` trick. Same one-pass agg and overflow guard
    (shared via :func:`_guarded_moments`); NULL slope/intercept for
    zero-variance x.
    """
    guarded = _guarded_moments(df, group_col, x_col, y_col, "grouped_ols")
    a = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    num = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    # _ok FIRST: see _guarded_moments
    slope = F.when(
        (F.col("_ok") == 1) & (a > 0), num.cast("double") / a.cast("double")
    )
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n").cast("double")
    return guarded.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def grouped_outliers(
    df: DataFrame,
    group_col: str,
    x_col: str,
    k_num: int = 2,
    k_den: int = 1,
) -> DataFrame:
    """Flag per-group sigma-outliers with exact integer arithmetic —
    no sqrt, no float, no boundary ambiguity.

    Row ``x`` in group ``g`` is an outlier iff ``(x - mean)^2 >
    k^2 * var`` (population variance, k = k_num/k_den). Multiplying
    through by ``n^2 * k_den^2`` clears every denominator:

        (k_den * (n*x - Sx))^2  >  k_num^2 * (n*Sxx - Sx^2)

    Both sides are exact integers. The squares can exceed 64 bits, so
    the comparison runs in DECIMAL(38,0) (Spark keeps scale-0 decimal
    products exact up to 38 digits; a DuckDB twin uses HUGEINT) — the
    standard :func:`_guarded_moments` guard ((n*m)^2 < 2^61) already
    bounds every term below 10^38. Groups with n < 2 flag nothing.

    Scale shape: one map-side-combined moment groupBy, one shuffle join
    back on the group key (co-partitioned). No window, no sort.
    Output: every input column carried through, plus ``n`` and
    ``is_outlier`` — quantize x upstream (integer-valued), like
    grouped_corr. Input columns named ``n``/``is_outlier`` (or in the
    ``__mo_`` internal namespace) raise up front: silently shadowing
    them would make the output ambiguous.
    """
    if k_num <= 0 or k_den <= 0:
        raise ValueError("grouped_outliers: k_num and k_den must be > 0")
    bad = sorted(
        c
        for c in df.columns
        if c in ("n", "is_outlier") or c.startswith("__mo_")
    )
    if bad:
        raise ValueError(
            f"grouped_outliers: input columns collide with output/internal "
            f"names: {bad}"
        )
    guarded = _guarded_moments(df, group_col, x_col, x_col, "grouped_outliers")
    stats = guarded.select(
        F.col("_g").alias("__mo_g"),
        F.col("n").alias("__mo_n"),
        F.col("_sx").alias("__mo_sx"),
        F.col("_sxx").alias("__mo_sxx"),
        F.col("_ok").alias("__mo_ok"),
    )
    base = df.where(
        F.col(group_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(
        "*", F.col(x_col).cast("long").alias("__mo_xq")
    )
    j = base.join(stats, base[group_col] == stats["__mo_g"], "inner")
    dev = (
        F.col("__mo_n") * F.col("__mo_xq") - F.col("__mo_sx")
    ) * F.lit(int(k_den))
    dev_d = dev.cast("decimal(38,0)")
    rhs = (
        (
            F.col("__mo_n") * F.col("__mo_sxx")
            - F.col("__mo_sx") * F.col("__mo_sx")
        ).cast("decimal(38,0)")
        * F.lit(int(k_num * k_num)).cast("decimal(38,0)")
    )
    # __mo_ok FIRST: see _guarded_moments
    flag = F.when(
        (F.col("__mo_ok") == 1) & (F.col("__mo_n") >= 2),
        dev_d * dev_d > rhs,
    ).otherwise(F.lit(False))
    return j.select(
        *[c for c in df.columns],
        F.col("__mo_n").cast("long").alias("n"),
        flag.alias("is_outlier"),
    )


def ab_test(
    df: DataFrame,
    group_col: str,
    variant_col: str,
    variant_a: str,
    variant_b: str,
    success_col: str,
) -> DataFrame:
    """Per-group two-proportion z-test (pooled), bit-reproducible.

    Counts are exact BIGINT; the z statistic is assembled from them in a
    PINNED sequence of IEEE correctly-rounded double ops (cast, add, sub,
    mul, div, sqrt) — the grouped_corr trick — so an ANSI-SQL twin that
    spells the identical expression tree matches the double bit-exactly:

        pa = Sa/Na;  pb = Sb/Nb;  p = (Sa+Sb)/(Na+Nb)
        z  = (pa - pb) / sqrt((p * (1-p)) * (1/Na + 1/Nb))

    ``success_col`` must be 0/1 (validated on the RAW value before the
    long cast — a truncated 0.7 would otherwise pass). Rows with other
    variant values are ignored. Groups where either arm is empty, or
    the pooled rate is degenerate (p in {0,1} → se = 0), return NULL z.

    Scale shape: ONE map-side-combined groupBy over the filtered input
    (conditional sums per arm); no join, no window. Scales trivially.
    """
    if variant_a == variant_b:
        raise ValueError("ab_test: variant_a and variant_b must differ")
    y_ok = F.col(success_col).cast("double").isin(0.0, 1.0)
    y = F.when(y_ok, F.col(success_col).cast("long")).otherwise(
        F.raise_error(F.lit("ab_test: success must be 0/1")).cast("long")
    )
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(variant_col).isNotNull()
        & F.col(success_col).isNotNull()
        & F.col(variant_col).isin(variant_a, variant_b)
    ).select(
        F.col(group_col).alias("_g"),
        (F.col(variant_col) == variant_a).alias("_isa"),
        y.alias("_y"),
    )
    ag = base.groupBy("_g").agg(
        F.sum(F.when(F.col("_isa"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_isa"), F.col("_y")).otherwise(0)).alias("s_a"),
        F.sum(F.when(~F.col("_isa"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(~F.col("_isa"), F.col("_y")).otherwise(0)).alias("s_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("s_a").cast("double") / na
    pb = F.col("s_b").cast("double") / nb
    p = (F.col("s_a") + F.col("s_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt((p * (F.lit(1.0) - p)) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0), (pa - pb) / se
    )
    return ag.select(
        F.col("_g").alias(group_col),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("s_a").cast("long").alias("s_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("s_b").cast("long").alias("s_b"),
        z.alias("z"),
    )


def concentration(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Per-group market-concentration profile over an item column:
    Herfindahl-Hirschman index, top-item share, and item count.

    hhi = sum_i (c_i / n)^2 is assembled as ``Ssq / (n * n)`` from exact
    BIGINT counts with IEEE correctly-rounded double ops only (cast,
    mul, div) — bit-reproducible vs an ANSI-SQL twin. top_share_micro =
    (1e6 * max c) div n is exact BIGINT. NULL items are dropped.

    Overflow honesty: ``sum(c^2)`` is summed in BIGINT, which wraps
    silently with ANSI off — so the op re-checks AFTER the agg using
    aggregates that cannot wrap (count(items) * max(c)^2, in double) and
    raises when the sum could have exceeded 2^63. Wrap-proof without a
    second pass.

    Scale shape: two map-side-combined groupBys ((g, item) then g); no
    join, no window, no sort.
    """
    base = df.where(
        F.col(group_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), F.col(item_col).alias("_i"))
    per = base.groupBy("_g", "_i").agg(F.count(F.lit(1)).alias("_c"))
    ag = per.groupBy("_g").agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ssq"),
        F.max("_c").alias("_top"),
        F.count(F.lit(1)).alias("n_items"),
    )
    wrap_bound = (
        F.col("n_items").cast("double")
        * F.col("_top").cast("double")
        * F.col("_top").cast("double")
    )
    ssq = F.when(wrap_bound < F.lit(float(2**62)), F.col("_ssq")).otherwise(
        F.raise_error(
            F.lit("concentration: sum of squared counts would overflow")
        ).cast("long")
    )
    hhi = ssq.cast("double") / (
        F.col("_n").cast("double") * F.col("_n").cast("double")
    )
    return ag.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.col("n_items").cast("long").alias("n_items"),
        F.expr("(1000000 * _top) div _n").cast("long").alias(
            "top_share_micro"
        ),
        hhi.alias("hhi"),
    )


def gini_coefficient(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a NON-NEGATIVE integer value
    column, exact to the micro-unit.

    Uses the rank form G = (2 * sum_i i*x_(i) - (n+1) * Sx) / (n * Sx)
    with i = 1..n the ascending rank. Ties are harmless: permuting equal
    values across adjacent ranks leaves sum(i*x) unchanged, so a plain
    per-group row_number is deterministic enough. gini_micro =
    (1e6 * num) div den in exact BIGINT; groups with Sx = 0 or n < 2
    return NULL. Negative or NaN values raise (Gini is undefined
    there; NaN passes a naive >= 0 check because NaN orders above every
    double).

    Overflow: sum(i*x) <= n^2 * max(x); checked AFTER the agg via
    non-wrapping aggregates (count, max) in double, raising instead of
    silently wrapping — and 1e6 * num needs another factor 2e6 of
    headroom, folded into the same bound.

    Scale shape: one group-partitioned sort window (rank) over the
    filtered rows + one group agg. Skew bound = largest group; no
    global sort.
    """
    # NaN orders ABOVE every double in Spark, so `>= 0` alone lets NaN
    # through and the long cast would quietly make it 0 with ANSI off
    # (the raster floor(NaN)->corner-cell trap class) — reject explicitly
    x_ok = (F.col(value_col) >= 0) & ~F.isnan(
        F.col(value_col).cast("double")
    )
    x = F.when(x_ok, F.col(value_col).cast("long")).otherwise(
        F.raise_error(
            F.lit("gini_coefficient: negative or NaN value")
        ).cast("long")
    )
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), x.alias("_x"))
    w = Window.partitionBy("_g").orderBy(F.col("_x").asc())
    ranked = base.withColumn("_i", F.row_number().over(w))
    ag = ranked.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i") * F.col("_x")).alias("_six"),
        F.max("_x").alias("_mx"),
    )
    # non-wrapping wrap check: 1e6 * (2*sum(i*x)) <= 2e6 * n^2 * max(x)
    bound = (
        F.col("_n").cast("double")
        * F.col("_n").cast("double")
        * F.greatest(F.col("_mx"), F.lit(1)).cast("double")
        * F.lit(2.0e6)
    )
    ok = F.when(bound < F.lit(float(2**62)), F.lit(1)).otherwise(
        F.raise_error(
            F.lit("gini_coefficient: rank sum would overflow BIGINT")
        ).cast("int")
    )
    # ok FIRST: And short-circuits, same rationale as _guarded_moments
    gini = F.when(
        (ok == 1) & (F.col("_n") >= 2) & (F.col("_sx") > 0),
        F.expr(
            "(1000000 * (2 * _six - (_n + 1) * _sx)) div (_n * _sx)"
        ),
    ).cast("long")
    return ag.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.col("_sx").cast("long").alias("total"),
        gini.alias("gini_micro"),
    )


def grouped_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    nbins: int = 20,
) -> DataFrame:
    """Per-group equi-width histogram over an integer value column,
    exact bin assignment: bin = ((x - min) * nbins) div (max - min + 1)
    lands every value in [0, nbins-1] with identical arithmetic in any
    64-bit engine. Degenerate groups (min == max) put everything in
    bin 0. NaN rejected like :func:`gini_coefficient` (NaN passes a
    naive range check and would corrupt min/max extrema — the
    file-stats trap class).

    Output: (group, bin, n, grp_min, grp_max) for non-empty bins.
    Scale shape: one min/max groupBy, one co-partitioned join back,
    one (group, bin) groupBy — no window, no sort. A per-row guard
    raises when (x - min) * nbins would overflow instead of wrapping.
    """
    if nbins < 1:
        raise ValueError("grouped_histogram: nbins must be >= 1")
    if group_col in ("bin", "n", "grp_min", "grp_max"):
        raise ValueError(
            f"grouped_histogram: group column {group_col!r} collides with "
            "an output column name"
        )
    x_ok = ~F.isnan(F.col(value_col).cast("double"))
    x = F.when(x_ok, F.col(value_col).cast("long")).otherwise(
        F.raise_error(F.lit("grouped_histogram: NaN value")).cast("long")
    )
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), x.alias("_x"))
    stats = base.groupBy("_g").agg(
        F.min("_x").alias("_mn"), F.max("_x").alias("_mx")
    )
    j = base.join(stats, "_g")
    span_ok = (
        (F.col("_mx").cast("double") - F.col("_mn").cast("double") + 1.0)
        * F.lit(float(nbins))
        < F.lit(float(2**62))
    )
    off = F.when(span_ok, F.col("_x") - F.col("_mn")).otherwise(
        F.raise_error(
            F.lit("grouped_histogram: bin arithmetic would overflow")
        ).cast("long")
    )
    binned = j.withColumn("_off", off).withColumn(
        "bin",
        F.expr(f"CAST((_off * {int(nbins)}) div (_mx - _mn + 1) AS BIGINT)"),
    )
    return binned.groupBy(
        F.col("_g").alias(group_col),
        F.col("bin"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("_mn").cast("long").alias("grp_min"),
        F.max("_mx").cast("long").alias("grp_max"),
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality profile: one row per requested column with
    (col_name, n_rows, n_null, n_distinct, min_str, max_str) —
    ``col_name`` because ``column`` is a reserved word in ANSI SQL.

    min/max compare the STRING rendering (cast first, then min — both
    lexicographic in any engine with ASCII collation), which unifies
    heterogeneous column types into one output schema; n_distinct is
    exact (count DISTINCT, nulls excluded per SQL semantics).

    Scale shape: one aggregate per profiled column, unioned. That is k
    scans, but parquet column pruning reduces each to ONE column's
    pages, so total IO ~ reading the profiled columns once; each
    count-distinct shuffles only its own column's values. Profile a
    bounded column list, not SELECT * on a 10k-column table.
    """
    if not cols:
        raise ValueError("column_profile: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"column_profile: unknown columns {missing}")
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            df.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).cast("long").alias("n_null"),
                F.count_distinct(F.col(c)).cast("long").alias("n_distinct"),
                F.min(s).alias("min_str"),
                F.max(s).alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
