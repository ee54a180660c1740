"""Cumulative/dynamic time-dependent AUC as a distributed aggregation.

The standard discrimination metric next to the C-index (scikit-survival's
``cumulative_dynamic_auc``, Heagerty & Zheng 2005 — published definition,
independent implementation): at horizon t, cases are subjects with
T ≤ t and E = 1, controls are subjects with T > t, and AUC(t) is the
probability a random case out-ranks a random control on the risk score
(risk ties count ½). The reference scores models with a single scalar
C-index (src/elastic_surv/models/base.py:80); AUC(t) resolves WHERE on
the horizon a model discriminates.

Scale posture — no pairwise join anywhere: risk scores quantize to
``n_bins`` fixed-width bins (the bin edges come from one per-group
min/max aggregate; the global form is the grouped kernel on a constant
key), so each horizon reduces to a ``(horizon, bin)`` count grid and the
case-control pair count is a cumulative window over ≤ ``n_bins`` rows
per horizon. Work is O(n·horizons) map-side + a bounded aggregate —
never O(n²). Counts stay integer until the final division, making the
result bit-portable across engines (the SQL oracle reproduces it
exactly). Binned AUC is the operator's definition: within-bin risk order
is deliberately coarsened (ties at bin resolution), exact given the bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_KEY = "_one"  # the constant group key of the global form

__all__ = [
    "cumulative_dynamic_auc",
    "cumulative_dynamic_auc_by",
    "cumulative_dynamic_auc_ipcw",
]


def cumulative_dynamic_auc(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_times: int = 8,
    n_bins: int = 256,
    round_to: int | None = 6,
) -> DataFrame:
    """(t, n_cases, n_controls, auc) at ``n_times`` equispaced interior
    horizons between min and max observed time:
    :func:`cumulative_dynamic_auc_by` on a constant key.

    Higher risk must mean earlier events: AUC ≫ 0.5 ⇔ the score
    discriminates. Horizons with no cases or no controls are dropped
    (AUC undefined there). Rows with NULL time or risk are excluded up
    front (the library-wide convention, harrell_cindex_counts).
    """
    return cumulative_dynamic_auc_by(
        df.withColumn(_KEY, F.lit(0)), _KEY, time_col, event_col, risk_col,
        n_times=n_times, n_bins=n_bins, round_to=round_to,
    ).drop(_KEY)


def cumulative_dynamic_auc_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_times: int = 8,
    n_bins: int = 256,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group cumulative/dynamic AUC in ONE plan: ``(group, t, n_cases,
    n_controls, auc)`` at ``n_times`` per-group equispaced interior
    horizons — the horizon-resolved discrimination readout for a
    SEGMENTED model population (the metric twin of ``km_curve_by`` and
    ``fit_per_group``: train one model per segment, read one AUC curve per
    segment).

    No pairwise join, with the group threaded through every key
    (:func:`cumulative_dynamic_auc` runs it on a constant key): per-group
    bounds come from one
    hash-aggregate (grid = groups × n_times rows, broadcast back), the
    classification is map-side after a broadcast equi-join on the group,
    counts reduce on (group, horizon, bin), and the cumulative window is
    bounded at ≤ ``n_bins`` rows per (group, horizon). Work is
    O(n·horizons) + one bounded aggregate regardless of group count —
    never a per-group driver loop. Risk bins are per-group (each group's
    own min/max), so AUC values match running the global form on each
    group's slice exactly. NULL time/risk rows are excluded up front
    (the F.least NULL-skip would bin them as maximal risk); NULL groups
    drop at the grid equi-join.
    """
    df = df.where(F.col(time_col).isNotNull() & F.col(risk_col).isNotNull())
    g = F.col(group_col)
    bounds = df.groupBy(group_col).agg(
        F.min(time_col).alias("_tmin"),
        F.max(time_col).alias("_tmax"),
        F.min(risk_col).cast("double").alias("_rmin"),
        F.max(risk_col).cast("double").alias("_rmax"),
    )
    step = n_times + 1
    grid = bounds.select(
        g,
        "_rmin",
        "_rmax",
        F.explode(F.sequence(F.lit(1), F.lit(n_times))).alias("_i"),
        "_tmin",
        "_tmax",
    ).select(
        g,
        "_rmin",
        "_rmax",
        (
            F.col("_tmin")
            + F.floor(
                F.col("_i")
                * (F.col("_tmax") - F.col("_tmin")).cast("double")
                / F.lit(float(step))
            )
        ).alias("_gt"),
    ).distinct()
    # ^ the floor coarsens horizons to the time column's granularity, so when
    # tmax - tmin < n_times + 1 several grid rows collide on one _gt; without
    # the distinct each subject would be classified once PER duplicate row and
    # the groupBy would inflate n_cases/n_controls by the collision factor
    # (auc itself cancels it — the counts wouldn't). _rmin/_rmax are constant
    # per group, so the row-level distinct dedups exactly on (group, _gt).
    # DELIBERATE tradeoff: integer horizon offsets are exactly representable,
    # which is what lets the DuckDB oracle reproduce the grid bit-for-bit;
    # the cost is that a sub-unit time span (tmax - tmin < 1) degenerates to
    # the single horizon t = tmin — rescale such times before calling (the
    # IPCW variant uses exact float horizons and does not coarsen).
    r_span = F.col("_rmax") - F.col("_rmin")
    bin_col = F.when(r_span <= 0, F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col(risk_col).cast("double") - F.col("_rmin"))
                / r_span
                * F.lit(n_bins)
            ),
        )
    )
    # no broadcast HINT on the grid: it is groups × n_times rows —
    # bounded per group but UNBOUNDED in group count (a ~1M-segment
    # population would force-ship millions of rows through the driver).
    # Left to Catalyst/AQE, small grids still broadcast automatically and
    # huge ones fall back to a shuffled join that scales.
    cls = (
        df.select(group_col, time_col, event_col, risk_col)
        .join(grid, group_col)
        .select(
            g,
            F.col("_gt"),
            bin_col.cast("int").alias("_bin"),
            (
                (F.col(time_col) <= F.col("_gt"))
                & (F.col(event_col).cast("int") == 1)
            ).cast("long").alias("_case"),
            (F.col(time_col) > F.col("_gt")).cast("long").alias("_control"),
        )
        .filter((F.col("_case") == 1) | (F.col("_control") == 1))
    )
    counts = cls.groupBy(group_col, "_gt", "_bin").agg(
        F.sum("_case").alias("n_cases"),
        F.sum("_control").alias("n_controls"),
    )
    w = (
        Window.partitionBy(group_col, "_gt")
        .orderBy(F.asc("_bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = counts.withColumn(
        "_ctrl_below", F.coalesce(F.sum("n_controls").over(w), F.lit(0))
    )
    out = (
        scored.groupBy(group_col, "_gt")
        .agg(
            F.sum("n_cases").cast("long").alias("n_cases"),
            F.sum("n_controls").cast("long").alias("n_controls"),
            F.sum(
                F.lit(2) * F.col("n_cases") * F.col("_ctrl_below")
                + F.col("n_cases") * F.col("n_controls")
            ).alias("_num"),
        )
        .filter((F.col("n_cases") > 0) & (F.col("n_controls") > 0))
        .withColumn(
            "auc",
            F.col("_num").cast("double")
            / (F.lit(2.0) * F.col("n_cases") * F.col("n_controls")),
        )
    )
    if round_to is not None:
        out = out.withColumn("auc", F.round("auc", round_to))
    return out.select(
        g, F.col("_gt").alias("t"), "n_cases", "n_controls", "auc"
    )


def cumulative_dynamic_auc_ipcw(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_times: int = 8,
    n_bins: int = 256,
    max_curve_points: int = 512,
    round_to: int | None = 6,
) -> DataFrame:
    """Uno-style IPCW cumulative/dynamic AUC: every case reweights by
    1/G(T⁻) (G = censoring Kaplan-Meier), correcting the unweighted
    estimator's censoring bias (Uno et al. 2007; scikit-survival's
    ``cumulative_dynamic_auc`` with default ipcw — published definition,
    independent implementation). The case weight is LINEAR in 1/G — the
    squared form 1/G² belongs to Uno's concordance statistic, not the
    dynamic AUC (ADVICE r9).

    Same bin-grid plan as :func:`cumulative_dynamic_auc` — no pairwise
    join — plus the censoring-curve machinery the IPCW Brier row proved
    out: the time domain quantizes ONCE upfront (≤``max_curve_points``
    life-table bins, so every subject time IS a curve point and the
    G(T⁻) lookup is a broadcast equi-join, never a per-row scan), the
    bounded G curve collects once at 1e-10 rounding, and every weight
    sum passes through DECIMAL(38,18) (order-free, engine-portable).
    Cases with G(T⁻) = 0 carry zero weight (standard exclusion); they
    still count in the reported ``n_cases``.
    """
    from pyspark.storagelevel import StorageLevel

    from elastic_surv_spark.metrics.km import km_curve, quantize_times

    spark = df.sparkSession
    step = n_times + 1
    base = df.select(
        F.col(time_col).cast("double").alias("_t"),
        F.col(event_col).cast("int").alias("_e"),
        F.col(risk_col).cast("double").alias("_r"),
    ).where(F.col("_t").isNotNull() & F.col("_r").isNotNull())
    # The persist covers ONLY the eager prep jobs below (censoring curve,
    # bounds) and is released in the finally — a metric call must not leak
    # cached partitions into a long-lived session that runs the whole
    # registry (ADVICE r9). The returned plan reads base exactly once, so
    # dropping the cache costs one recompute of the caller's projection.
    base = quantize_times(base, "_t", max_curve_points).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # bounded censoring curve; lag gives G(t-) per curve point
        g_rows = sorted(
            km_curve(
                base.withColumn("_cens", 1 - F.col("_e")), "_t", "_cens", round_to=10
            ).collect(),
            key=lambda r: float(r["t"]),  # km_curve outputs the time as "t"
        )
        b = base.agg(
            F.min("_t").alias("_tmin"),
            F.max("_t").alias("_tmax"),
            F.min("_r").alias("_rmin"),
            F.max("_r").alias("_rmax"),
        ).first()
    finally:
        base.unpersist()
    if b is None or b["_tmin"] is None:
        return spark.createDataFrame(
            [], "t double, n_cases long, n_controls long, auc double"
        )
    gprev = spark.createDataFrame(
        [
            (float(g_rows[i]["t"]), float(g_rows[i - 1]["survival"]) if i > 0 else 1.0)
            for i in range(len(g_rows))
        ],
        "_t double, _g_tminus double",
    )
    tmin, tmax = float(b["_tmin"]), float(b["_tmax"])
    rmin, rmax = float(b["_rmin"]), float(b["_rmax"])
    # horizons as driver-side literals (the bounds row is already eager for
    # the unpersist above); dict.fromkeys dedups a degenerate tmin == tmax
    # span without reordering
    horizons = list(
        dict.fromkeys(tmin + i * (tmax - tmin) / step for i in range(1, n_times + 1))
    )
    grid = spark.createDataFrame([(h,) for h in horizons], "_gt double")
    r_span = rmax - rmin
    if r_span <= 0:
        bin_col = F.lit(0)
    else:
        bin_col = F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("_r") - F.lit(rmin)) / F.lit(r_span) * F.lit(n_bins)),
        )
    is_case = (F.col("_t") <= F.col("_gt")) & (F.col("_e") == 1)
    cls = (
        base.join(F.broadcast(gprev), "_t", "left")
        .withColumn("_g", F.coalesce("_g_tminus", F.lit(1.0)))
        .crossJoin(F.broadcast(grid))
        .select(
            "_gt",
            bin_col.cast("int").alias("_bin"),
            is_case.cast("long").alias("_case"),
            (F.col("_t") > F.col("_gt")).cast("long").alias("_control"),
            F.when(is_case & (F.col("_g") > 0), F.lit(1.0) / F.col("_g"))
            .otherwise(0.0)
            .alias("_w"),
        )
        .filter((F.col("_case") == 1) | (F.col("_control") == 1))
    )
    counts = cls.groupBy("_gt", "_bin").agg(
        F.sum("_case").alias("n_cases"),
        F.sum("_control").alias("n_controls"),
        F.sum(F.col("_w").cast("decimal(38,18)")).cast("double").alias("_wsum"),
    )
    w = (
        Window.partitionBy("_gt")
        .orderBy(F.asc("_bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = counts.withColumn(
        "_ctrl_below", F.coalesce(F.sum("n_controls").over(w), F.lit(0))
    ).withColumn(
        "_contrib",
        F.lit(2.0) * F.col("_wsum") * F.col("_ctrl_below")
        + F.col("_wsum") * F.col("n_controls"),
    )
    out = (
        scored.groupBy("_gt")
        .agg(
            F.sum("n_cases").cast("long").alias("n_cases"),
            F.sum("n_controls").cast("long").alias("n_controls"),
            F.sum(F.col("_contrib").cast("decimal(38,18)")).cast("double").alias("_num"),
            F.sum(F.col("_wsum").cast("decimal(38,18)")).cast("double").alias("_wtot"),
        )
        .filter((F.col("_wtot") > 0) & (F.col("n_controls") > 0))
        .withColumn(
            "auc",
            F.col("_num") / (F.lit(2.0) * F.col("_wtot") * F.col("n_controls")),
        )
    )
    if round_to is not None:
        out = out.withColumn("auc", F.round("auc", round_to))
    return out.select(
        F.col("_gt").alias("t"), "n_cases", "n_controls", "auc"
    )
