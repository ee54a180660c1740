"""Concordance (C-index), ≡ reference ``EvalSurv.concordance_td()`` (models/base.py:80).

Small n (≤ ``EXACT_THRESHOLD`` rows): the O(n²) self-join, Harrell and Antolini.
Large n and per group: exact grouped kernels; a global form runs one on a constant key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXACT_THRESHOLD = 20_000
_KEY = "_one"  # the constant group key of the global forms


def _exceeds_threshold(df: DataFrame) -> bool:
    """The one size gate of the global entry points: a bounded probe —
    ``limit(EXACT_THRESHOLD + 1)`` answers "bigger than the threshold?"
    without a full scan of the evaluation frame."""
    return df.limit(EXACT_THRESHOLD + 1).count() > EXACT_THRESHOLD


def _pairwise_counts(df: DataFrame) -> DataFrame:
    """Self-join form on (t, e, r) columns — O(n²), small-n tool."""
    a = df.select(
        F.col("t").alias("t_i"), F.col("e").alias("e_i"), F.col("r").alias("r_i")
    )
    b = df.select(F.col("t").alias("t_j"), F.col("r").alias("r_j"))
    pairs = a.join(b, (F.col("t_i") < F.col("t_j")) & (F.col("e_i") == 1))
    return pairs.agg(
        F.count("*").alias("n_comparable"),
        F.sum(F.when(F.col("r_i") > F.col("r_j"), 1).otherwise(0)).alias("n_concordant"),
        F.sum(F.when(F.col("r_i") == F.col("r_j"), 1).otherwise(0)).alias("n_tied"),
    )


def _bucket(col, boundaries: list[float]):
    """Monotone bucket id = #boundaries ≤ value (JVM-side; equal values ⇒
    equal bucket, bucket_i > bucket_j ⇒ value_i > value_j)."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.size(F.filter(arr, lambda b: b <= col.cast("double")))


def _local_harrell(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact Harrell counts among the rows of ONE time bucket (class 1):
    sort by time, then the shared Fenwick sweep with the index-event set =
    the event column — ONE exact kernel (``_masked_harrell_sweep``), so a
    fix there cannot diverge from this caller (review finding, r11)."""
    t = pdf["t"].to_numpy(dtype=float)
    e = pdf["e"].to_numpy(dtype=float)
    r = pdf["r"].to_numpy(dtype=float)
    order = np.argsort(t, kind="stable")
    t, e, r = t[order], e[order], r[order]
    comparable, concordant, tied = _masked_harrell_sweep(t, e == 1, r)
    return pd.DataFrame(
        {"n_comparable": [comparable], "n_concordant": [concordant], "n_tied": [tied]}
    )


def _local_cross_time(pdf: pd.DataFrame, n_time_buckets: int) -> pd.DataFrame:
    """Class 2: rows share ONE risk bucket; count pairs (event i, row j) with
    j in a STRICTLY LATER time bucket and r_j < r_i (concordant) or
    r_j == r_i (tied). Sweep risk tie-groups in increasing order keeping a
    histogram over time buckets; suffix sums answer 'later bucket' queries."""
    r = pdf["r"].to_numpy(dtype=float)
    k = pdf["tb"].to_numpy(dtype=np.int64)
    e = pdf["e"].to_numpy(dtype=float)
    order = np.argsort(r, kind="stable")
    r, k, e = r[order], k[order], e[order]
    m = len(r)
    hist = np.zeros(n_time_buckets, dtype=np.int64)  # rows with smaller risk
    concordant = tied = 0
    lo = 0
    while lo < m:
        hi = lo
        while hi < m and r[hi] == r[lo]:
            hi += 1
        grp_k = k[lo:hi]
        grp_e = e[lo:hi]
        # suffix counts of strictly-smaller-risk rows by time bucket
        suffix = np.concatenate([np.cumsum(hist[::-1])[::-1], [0]])
        ev_k = grp_k[grp_e == 1]
        if len(ev_k):
            concordant += int(suffix[ev_k + 1].sum())
            # ties: equal risk, later time bucket — within this tie-group
            ghist = np.bincount(grp_k, minlength=n_time_buckets)
            gsuffix = np.concatenate([np.cumsum(ghist[::-1])[::-1], [0]])
            tied += int(gsuffix[ev_k + 1].sum())
        np.add.at(hist, grp_k, 1)
        lo = hi
    return pd.DataFrame(
        {"n_comparable": [0], "n_concordant": [concordant], "n_tied": [tied]}
    )


def _grid_dominance(G: np.ndarray, GE: np.ndarray) -> tuple[int, int]:
    """Cross-bucket (class 2+3) counts from the (time-bucket × risk-bucket)
    occupancy grid: ``comparable`` = events × rows in strictly later time
    buckets (any risk bucket), ``concordant`` = events × rows in strictly
    later time AND strictly lower risk buckets (a lower risk BUCKET implies
    a strictly lower risk VALUE — the bucket map is monotone — so no tie
    can cross buckets). Run once per group by
    :func:`harrell_cindex_by_bucketed`."""
    n_tb = G.shape[0]
    rows_per_tb = G.sum(axis=1)
    events_per_tb = GE.sum(axis=1)
    later_rows = np.concatenate([np.cumsum(rows_per_tb[::-1])[::-1][1:], [0]])
    comparable3 = int((events_per_tb * later_rows).sum())
    later_G = np.zeros_like(G)  # later_G[k, c] = Σ_{l>k} G[l, c]
    if n_tb > 1:
        later_G[:-1] = np.cumsum(G[::-1], axis=0)[::-1][1:]
    prefix_later = np.cumsum(later_G, axis=1)  # Σ_{c'<=c}
    conc3 = int((GE[:, 1:] * prefix_later[:, :-1]).sum())  # strictly lower rb
    return comparable3, conc3


def _carry(fn):
    """Wrap a one-group counts kernel so its output row carries the
    group key ``_g`` (the first column of every grouped-map schema)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = fn(pdf)
        out.insert(0, "_g", pdf["_g"].iloc[0])
        return out

    return run


def _sum_counts(parts: DataFrame) -> DataFrame:
    """Per-group sums of partial (n_comparable, n_concordant, n_tied)."""
    return parts.groupBy("_g").agg(
        F.sum("n_comparable").alias("n_comparable"),
        F.sum("n_concordant").alias("n_concordant"),
        F.sum("n_tied").alias("n_tied"),
    )


def _cindex_frame(
    counts: DataFrame, group_col: str, round_to: int | None
) -> DataFrame:
    """``(group, n_comparable, n_concordant, n_tied, c_index)`` from
    per-group counts keyed ``_g``; ``c_index`` is NULL for groups with no
    comparable pair."""
    c = F.when(
        F.col("n_comparable") > 0,
        (F.col("n_concordant") + 0.5 * F.col("n_tied")) / F.col("n_comparable"),
    )
    if round_to is not None:
        c = F.round(c, round_to)
    return counts.select(
        F.col("_g").alias(group_col),
        "n_comparable",
        "n_concordant",
        "n_tied",
        c.alias("c_index"),
    )


def harrell_cindex_counts(
    df: DataFrame, time_col: str, event_col: str, risk_col: str
) -> DataFrame:
    """One row: (n_comparable, n_concordant, n_tied, c_index rounded 6).

    A pair (i, j) is comparable iff T_i < T_j and E_i = 1; concordant iff
    risk_i > risk_j; risk ties count 0.5. Up to ``EXACT_THRESHOLD`` rows
    the pairwise self-join runs; above it the exact grouped bucketed
    kernel runs on a constant key. Both produce identical counts. Rows
    with NULL time or risk are excluded up front on both routes (the
    standard missing-risk convention).
    """
    df = df.where(F.col(time_col).isNotNull() & F.col(risk_col).isNotNull())
    if _exceeds_threshold(df):
        return harrell_cindex_by_bucketed(
            df.withColumn(_KEY, F.lit(0)), _KEY, time_col, event_col, risk_col
        ).drop(_KEY)
    base = df.select(
        F.col(time_col).alias("t"), F.col(event_col).alias("e"), F.col(risk_col).alias("r")
    )
    return _pairwise_counts(base).select(
        "n_comparable",
        "n_concordant",
        "n_tied",
        F.round(
            (F.col("n_concordant") + 0.5 * F.col("n_tied")) / F.col("n_comparable"), 6
        ).alias("c_index"),
    )


def harrell_cindex_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    risk_col: str,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group EXACT Harrell C in one grouped-map job: ``(group,
    n_comparable, n_concordant, n_tied, c_index)`` — the discrimination
    leg of the segmented-model metric family (per-cohort KM / td-AUC /
    Brier / now C).

    Each group's counts come from the same O(m log m) Fenwick time-sweep
    the bucketed kernel uses for its class-1 buckets (``_local_harrell`` —
    exact, tie-correct), run as ONE ``applyInPandas`` task per group: a
    single shuffle on the group key, then embarrassingly parallel sweeps.
    Scale contract: one GROUP fits one task (the segmented-population
    shape — many bounded segments); a cohort too big for one task belongs
    to :func:`harrell_cindex_by_bucketed` (identical counts). ``c_index``
    is NULL for groups with no comparable pair. Rows with NULL time or
    risk are excluded up front — the convention of
    ``harrell_cindex_counts`` (they would otherwise enter the sweep as NaN
    and count as latest-time comparables).
    """
    gtype = df.schema[group_col].dataType.simpleString()
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(risk_col).cast("double").alias("r"),
    ).where(F.col("t").isNotNull() & F.col("r").isNotNull())
    counts = base.groupBy("_g").applyInPandas(
        _carry(_local_harrell),
        schema=f"_g {gtype}, n_comparable long, n_concordant long, n_tied long",
    )
    return _cindex_frame(counts, group_col, round_to)


def harrell_cindex_by_bucketed(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_buckets: int = 64,
    round_to: int | None = 6,
    cache_input: bool = True,
) -> DataFrame:
    """Per-group EXACT Harrell C for cohorts too big for one task (and,
    on a constant key, the large-n route of ``harrell_cindex_counts``):
    ``(group, n_comparable, n_concordant, n_tied, c_index)``, identical
    counts to ``harrell_cindex_by`` (asserted in tests), but NO grouped-map
    task ever holds a whole cohort:

    - class 1 (same time bucket): one ``_local_harrell`` sweep per
      (group, tb) slice — ~cohort/n_buckets rows per task;
    - class 2 (same risk bucket): one ``_local_cross_time`` sweep per
      (group, rb) slice — same bound;
    - class 2+3 cross-bucket: the per-group occupancy GRID (≤ n_buckets²
      rows per group BY CONSTRUCTION, independent of cohort size) through
      the shared :func:`_grid_dominance` kernel — distributed as a
      grouped map over the grid, never a driver collect.

    So the scale contract improves from "one GROUP fits one task"
    (``harrell_cindex_by``) to "one group's 1/n_buckets BUCKET SLICE fits
    one task" — raise ``n_buckets`` for bigger cohorts. Bucket boundaries
    are GLOBAL approx-quantiles (one pass); the decomposition is exact for
    ANY boundaries, so per-group skew affects balance, never counts:
    bucket id = #boundaries ≤ value, so equal values share a bucket and
    every strict comparison across buckets is decided by the bucket pair.
    Rows with NULL time or risk are excluded up front; ``c_index`` is NULL
    for groups with no comparable pair. ``cache_input`` (default): the
    projected base localCheckpoints before the quantile pass, so the
    source is evaluated once; pass False when the input is already
    persisted.
    """
    gtype = df.schema[group_col].dataType.simpleString()
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(risk_col).cast("double").alias("r"),
    ).where(F.col("t").isNotNull() & F.col("r").isNotNull())
    if cache_input:
        # one source evaluation total: the quantile action below
        # materializes the checkpoint, and the two grouped-map sweeps +
        # the grid aggregate read it (the r13 scan sweep found 3 source
        # re-reads once harrell_cindex_cohorts exposed this kernel). The
        # per-cut td decomposition passes False — its base is persisted.
        base = base.localCheckpoint(eager=False)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    tb_bounds, rb_bounds = (
        base.stat.approxQuantile(["t", "r"], probs, 0.001) if probs else ([], [])
    )
    tb_bounds = sorted(set(tb_bounds))
    rb_bounds = sorted(set(rb_bounds))
    n_tb = len(tb_bounds) + 1
    tagged = base.select(
        "_g", "t", "e", "r",
        _bucket(F.col("t"), tb_bounds).alias("tb"),
        _bucket(F.col("r"), rb_bounds).alias("rb"),
    )
    schema = (
        f"_g {gtype}, n_comparable long, n_concordant long, n_tied long"
    )

    part1 = tagged.groupBy("_g", "tb").applyInPandas(
        _carry(_local_harrell), schema=schema
    )
    part2 = tagged.groupBy("_g", "rb").applyInPandas(
        _carry(lambda pdf: _local_cross_time(pdf, n_tb)), schema=schema
    )
    grid = tagged.groupBy("_g", "tb", "rb").agg(
        F.count("*").alias("n"), F.sum("e").alias("ne")
    )

    def grid_part(pdf: pd.DataFrame) -> pd.DataFrame:
        n_rb = int(pdf["rb"].max()) + 1
        G = np.zeros((n_tb, n_rb), dtype=np.int64)
        GE = np.zeros((n_tb, n_rb), dtype=np.int64)
        G[pdf["tb"], pdf["rb"]] = pdf["n"]
        GE[pdf["tb"], pdf["rb"]] = pdf["ne"]
        comparable3, conc3 = _grid_dominance(G, GE)
        return pd.DataFrame(
            {"n_comparable": [comparable3], "n_concordant": [conc3], "n_tied": [0]}
        )

    part3 = grid.groupBy("_g").applyInPandas(_carry(grid_part), schema=schema)
    counts = _sum_counts(part1.unionByName(part2).unionByName(part3))
    return _cindex_frame(counts, group_col, round_to)


def harrell_cindex(
    df: DataFrame, time_col: str, event_col: str, risk_col: str
) -> float:
    row = harrell_cindex_counts(df, time_col, event_col, risk_col).first()
    if row is None or row["c_index"] is None:
        return float("nan")  # no comparable pairs
    return float(row["c_index"])


def concordance_td_exact(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
) -> tuple[int, int, int, float | None]:
    """EXACT Antolini time-dependent concordance at ANY population size:
    :func:`concordance_td_exact_by` on a constant key. Returns
    ``(n_comparable, n_concordant, n_tied, c_index)``; ``c_index`` is
    rounded to 6 places from the integer counts, None when no pair is
    comparable (also on empty and event-free input)."""
    row = (
        concordance_td_exact_by(
            pred.withColumn(_KEY, F.lit(0)), _KEY, time_col, event_col, surv_col,
            cuts, round_to=None,
        )
        .select("n_comparable", "n_concordant", "n_tied")
        .first()
    )
    comparable, concordant, tied = (int(v) for v in row) if row else (0, 0, 0)
    cidx = round((concordant + 0.5 * tied) / comparable, 6) if comparable else None
    return comparable, concordant, tied, cidx


def concordance_td_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group EXACT Antolini time-dependent C-index over a
    survival-curve column: ``(group, n_comparable, n_concordant, n_tied,
    c_index)`` — the last population-only metric grouped (harrell /
    td-AUC / Brier / KM all have per-cohort forms since r9-r10).

    Pair (i, j) comparable iff T_i < T_j and E_i = 1; concordant iff
    S_i(T_i) < S_j(T_i) with S(t) = surv[max {k : cuts[k] <= t}] (1.0
    before the first cut); curve-value ties count 0.5.

    Exact WITHOUT a pairwise join: within each group the pairs partition
    by the event subject's cut index g — every comparison at index g reads
    the scalar column surv[:, g] — so one Fenwick time-sweep PER CUT
    (events restricted to {i : cut(T_i) = g}, risk = −surv[:, g]) covers
    all pairs exactly once: O(|cuts| · m log m) per group instead of
    O(m²). Same grouped-map scale contract as ``harrell_cindex_by`` (one
    GROUP fits one task; group count is the parallelism); ``c_index`` is
    NULL for groups with no comparable pair; a cohort too big for one
    task belongs to :func:`concordance_td_exact_by` (identical counts).
    """
    gtype = df.schema[group_col].dataType.simpleString()
    cuts_arr = np.asarray([float(c) for c in cuts], dtype=float)
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(surv_col).alias("s"),
    ).where(
        # the missing-value convention: a NULL curve would make
        # np.asarray raise on the ragged input and fail the whole task; a
        # NULL t would corrupt the sort/cut index as NaN
        F.col("t").isNotNull() & F.col("s").isNotNull()
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        gval = pdf["_g"].iloc[0]
        t = pdf["t"].to_numpy(dtype=float)
        e = pdf["e"].to_numpy(dtype=float)
        S = np.asarray(list(pdf["s"]), dtype=float)  # (m, |cuts|)
        m = len(t)
        order = np.argsort(t, kind="stable")
        t, e, S = t[order], e[order], S[order]
        # cut index of each subject's own time; -1 = before first cut (S=1)
        gidx = np.searchsorted(cuts_arr, t, side="right") - 1
        comparable = concordant = tied = 0
        for g in np.unique(gidx):
            ev_mask = (gidx == g) & (e == 1)
            if not ev_mask.any():
                continue
            r = np.ones(m) if g < 0 else -S[:, int(g)]
            c_, co_, ti_ = _masked_harrell_sweep(t, ev_mask, r)
            comparable += c_
            concordant += co_
            tied += ti_
        cidx = (
            (concordant + 0.5 * tied) / comparable if comparable else None
        )
        if cidx is not None and round_to is not None:
            cidx = round(cidx, round_to)
        return pd.DataFrame(
            {
                "_g": [gval],
                "n_comparable": [comparable],
                "n_concordant": [concordant],
                "n_tied": [tied],
                "c_index": [cidx],
            }
        )

    out = base.groupBy("_g").applyInPandas(
        sweep,
        schema=(
            f"_g {gtype}, n_comparable long, n_concordant long, "
            "n_tied long, c_index double"
        ),
    )
    return out.select(
        F.col("_g").alias(group_col),
        "n_comparable",
        "n_concordant",
        "n_tied",
        "c_index",
    )


def concordance_td_exact_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    n_buckets: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group EXACT Antolini td-concordance at ANY cohort size (and,
    on a constant key, :func:`concordance_td_exact`). With curves defined
    over ``cuts``, every comparison made by an event subject whose time
    maps to cut index g reads the scalar column ``surv[g]``, so the
    problem decomposes into one Harrell count PER OCCUPIED CUT (index
    events restricted to that cut, risk = −surv[g]), each run on the
    grouped bucketed kernel (:func:`harrell_cindex_by_bucketed`). Unlike
    :func:`concordance_td_by` (one grouped-map sweep per cohort) NO task
    ever holds a whole cohort: each of the ≤ |cuts|+1 occupied cut
    indices (the +1 is the before-first-cut index, where S ≡ 1 and every
    pair ties) contributes one linear-shuffle pass whose tasks are
    (group, bucket) slices and per-group grids. Returns ``(group,
    n_comparable, n_concordant, n_tied, c_index)`` — integer-identical to
    ``concordance_td_by`` (asserted in tests); ``c_index`` NULL for
    groups with no comparable pair.

    Same NULL convention as ``concordance_td_by``: rows with a NULL time
    or NULL curve are dropped up front. The input persists across the cut
    passes and releases in ``finally``.
    """
    cuts_lit = F.array(*[F.lit(float(c)) for c in cuts])
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(surv_col).alias("s"),
        (
            F.size(
                F.filter(cuts_lit, lambda c: c <= F.col(time_col).cast("double"))
            )
            - 1
        ).alias("_gidx"),
    ).where(F.col("t").isNotNull() & F.col("s").isNotNull()).persist()
    try:
        occupied = [
            int(r["_gidx"])
            for r in base.filter(F.col("e") == 1)
            .select("_gidx")
            .distinct()
            .collect()  # bounded: <= |cuts| + 1 rows
        ]
        parts = []
        for g in sorted(occupied):
            sub = base.select(
                "_g",
                "t",
                ((F.col("e") == 1) & (F.col("_gidx") == g))
                .cast("int")
                .alias("_eg"),
                (
                    -F.element_at("s", g + 1)
                    if g >= 0
                    else F.lit(1.0)  # before the first cut S ≡ 1: all tied
                ).alias("_r"),
            )
            parts.append(
                harrell_cindex_by_bucketed(
                    sub, "_g", "t", "_eg", "_r",
                    n_buckets=n_buckets, round_to=None,
                    cache_input=False,  # base persisted above: a checkpoint
                    # per cut would pin |cuts| corpus-sized copies
                ).select("_g", "n_comparable", "n_concordant", "n_tied")
            )
        if not parts:
            # no events anywhere: every group still reports a zero-count
            # row with a NULL c_index, exactly like concordance_td_by
            # (an empty frame here would silently drop the cohorts)
            parts = [
                base.select("_g")
                .distinct()
                .select(
                    "_g",
                    F.lit(0).cast("long").alias("n_comparable"),
                    F.lit(0).cast("long").alias("n_concordant"),
                    F.lit(0).cast("long").alias("n_tied"),
                )
            ]
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        out = _cindex_frame(_sum_counts(acc), group_col, round_to)
        # materialize before releasing the persisted base — but keep the
        # return DISTRIBUTED like every sibling metric: an eager
        # localCheckpoint cuts the lineage off `base` without pulling the
        # result through the driver (the previous collect/createDataFrame
        # round-trip funneled every group row driver-side and handed
        # consumers a local table instead of a lazy plan; ADVICE r12 #1)
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist()


def _masked_harrell_sweep(
    t: np.ndarray, ev_mask: np.ndarray, r: np.ndarray
) -> tuple[int, int, int]:
    """Exact (comparable, concordant, tied) counts for pairs (i, j) with
    t_i < t_j where i ranges over ``ev_mask`` rows only — the
    ``_local_harrell`` Fenwick sweep with the index-event set decoupled
    from the event column (the per-cut restriction ``concordance_td_by``
    needs). ``t`` must be ascending."""
    m = len(t)
    ranks = np.searchsorted(np.unique(r), r)
    nrank = int(ranks.max()) + 1 if m else 0
    tree = np.zeros(nrank + 1, dtype=np.int64)

    def bit_add(i):
        i += 1
        while i <= nrank:
            tree[i] += 1
            i += i & (-i)

    def bit_sum(i):
        i += 1
        s = 0
        while i > 0:
            s += tree[i]
            i -= i & (-i)
        return s

    comparable = concordant = tied = 0
    idx = m
    inserted = 0
    while idx > 0:
        lo = idx - 1
        while lo > 0 and t[lo - 1] == t[idx - 1]:
            lo -= 1
        for i in range(lo, idx):
            if ev_mask[i] and inserted > 0:
                comparable += inserted
                le = bit_sum(ranks[i])
                lt = bit_sum(ranks[i] - 1) if ranks[i] > 0 else 0
                concordant += lt
                tied += le - lt
        for i in range(lo, idx):
            bit_add(ranks[i])
            inserted += 1
        idx = lo
    return comparable, concordant, tied


def concordance_td(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
) -> float:
    """Antolini time-dependent C-index over a survival-curve column.

    ``pred`` has one row per subject: (T, E, surv array over ``cuts``).
    Pair (i, j) comparable iff T_i < T_j and E_i = 1; concordant iff
    S_i(T_i) < S_j(T_i) (higher risk at the event time of i), ties 0.5.

    Up to ``EXACT_THRESHOLD`` rows the pairwise self-join below runs (the
    curve lookup S(t) = surv[max {k : cuts[k] <= t}] is a JVM-side
    higher-order expression); above it :func:`concordance_td_exact`, the
    per-cut decomposition over the bucketed Harrell kernel. Both are
    exact, so the gate is a plan choice, not a semantics change.
    """
    if _exceeds_threshold(pred):
        _, _, _, cidx = concordance_td_exact(
            pred, time_col, event_col, surv_col, cuts
        )
        return float("nan") if cidx is None else float(cidx)
    cuts_lit = F.array(*[F.lit(float(c)) for c in cuts])

    def surv_at(surv, t):
        idx = F.size(F.filter(cuts_lit, lambda c: c <= t))
        return F.when(idx > 0, F.element_at(surv, idx)).otherwise(F.lit(1.0))

    a = pred.select(
        F.col(time_col).alias("t_i"),
        F.col(event_col).alias("e_i"),
        F.col(surv_col).alias("s_i"),
    )
    b = pred.select(F.col(time_col).alias("t_j"), F.col(surv_col).alias("s_j"))
    pairs = a.join(b, (F.col("t_i") < F.col("t_j")) & (F.col("e_i") == 1)).select(
        surv_at(F.col("s_i"), F.col("t_i")).alias("si_ti"),
        surv_at(F.col("s_j"), F.col("t_i")).alias("sj_ti"),
    )
    row = pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("si_ti") < F.col("sj_ti"), 1.0).otherwise(0.0)).alias("conc"),
        F.sum(F.when(F.col("si_ti") == F.col("sj_ti"), 1.0).otherwise(0.0)).alias("tied"),
    ).first()
    if row["n"] == 0:
        return float("nan")
    return float((row["conc"] + 0.5 * row["tied"]) / row["n"])
