"""Event-analytics operators (SURVEY.md §2B, M4 temporal family
extensions): the classic product-analytics shapes -- activity heatmap,
count-anomaly detection, retention cohorts, conversion funnel -- each a
pure declarative plan over the events table.

Reference licence: all four are multi-round grouped aggregations, the
workload class the reference's map→shuffle→sort→reduce core exists to
express (SURVEY.md §2A); on Spark each round is a hash aggregation or
a co-partitioned join, with partial aggregation and AQE for free.

100 TB posture per operator in its docstring; none collects, none
crosses rows outside keyed shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_heatmap(events: DataFrame) -> DataFrame:
    """Day-of-week x hour activity heatmap: event count and distinct
    users per calendar cell. One partial+final aggregation over a
    single scan; the 7x24-cell output makes the shuffle trivially
    bounded whatever the input size. (Spark's dayofweek is 1=Sunday;
    the oracle shifts DuckDB's 0-based convention to match.)"""
    return (
        events.groupBy(
            F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour_of_day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def hourly_anomaly_zscore(events: DataFrame, z_threshold: float = 2.5) -> DataFrame:
    """Count-anomaly detection: hourly event counts per type, scored
    against the type's own mean/std as a z-score, anomalous hours
    flagged at ``|z| >= z_threshold``.

    Two aggregations (hourly counts keyed on (type, hour); per-type
    moments keyed on type) + a broadcastable join back -- the per-type
    stats table has one row per event type regardless of scale. Std
    from explicit moments (sample variance, n-1) so the identical
    closed form runs on the oracle; integer count sums keep the
    moments exact in float64."""
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_hour")
    ).agg(F.count("*").alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("n_events").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sxx"),
    )
    # degenerate groups (single bucket, or zero variance) have no
    # defined z-score; drop them explicitly -- the engines disagree on
    # 0/0 (Spark NULL vs IEEE NaN, and NaN compares TRUE vs the
    # threshold in some engines), so the guard lives on BOTH sides of
    # the oracle contract
    stats = stats.filter(
        (F.col("n") > 1)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    )
    scored = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "bucket_hour",
        "n_events",
        F.round((F.col("n_events") - mean) / std, 4).alias("zscore"),
    )
    return scored.filter(F.abs(F.col("zscore")) >= z_threshold)


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted per subsequent active week offset. Three keyed
    aggregations -- first-seen week per user, distinct (user, week)
    activity, cohort x offset rollup -- all shuffling on user_id or
    the small (cohort, offset) key. The cohort matrix output is
    weeks^2-bounded, never data-sized."""
    first_seen = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def funnel_conversion(
    events: DataFrame,
    stages: tuple[str, ...] = ("signup", "view", "click", "purchase"),
) -> DataFrame:
    """Ordered conversion funnel: per user, each stage counts only if
    it happens at-or-after the user's entry into the previous stage
    (min-ts chaining, the standard strict-order funnel). One keyed
    aggregation per stage plus a user_id-co-partitioned join per step
    -- stage count is a constant, so the plan depth is fixed and every
    shuffle keys on user_id (AQE coalesces the later, shrinking
    stages). Output: one row per stage with the surviving user count,
    monotone non-increasing."""
    reached = None
    counts = []
    for i, stage in enumerate(stages):
        ev = events.filter(F.col("event_type") == stage)
        if reached is None:
            reached = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reached = (
                ev.join(reached, "user_id")
                .filter(F.col("ts") >= F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        counts.append(
            reached.agg(F.count("*").alias("n_users")).select(
                F.lit(f"L{i + 1}_{stage}").alias("stage"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def corr_matrix(lineitem: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation matrix over the numeric metrics
    (quantity, extendedprice, discount) — the statistical-profiling
    step of a dataset release, generalizing ``stats_correlation``'s
    single pair to the full matrix IN ONE PASS.

    Plan: a row-local 6-way pair explode (upper triangle incl.
    diagonal) feeds one partial/final aggregation of the five
    mergeable moment sums per (metric_a, metric_b); the closed-form
    combine is the same trick as ``stats_correlation``. Fan-out is
    x p(p+1)/2 on scan rows but the shuffle carries only
    pairs x 6 sums — at any corpus size the exchange is O(p^2) rows.

    Emits (metric_a, metric_b, n, corr).
    """
    metrics = [
        ("quantity", F.col("l_quantity")),
        ("extendedprice", F.col("l_extendedprice")),
        ("discount", F.col("l_discount")),
    ]
    pairs = []
    for i, (na, ca) in enumerate(metrics):
        for nb_, cb in metrics[i:]:
            pairs.append(
                F.struct(
                    F.lit(na).alias("metric_a"),
                    F.lit(nb_).alias("metric_b"),
                    ca.cast("double").alias("x"),
                    cb.cast("double").alias("y"),
                )
            )
    exploded = lineitem.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.metric_a", "p.metric_b", "p.x", "p.y"
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sx2, sy2 = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x")), F.sum(F.col("y") * F.col("y"))
    corr = (n * sxy - sx * sy) / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    return exploded.groupBy("metric_a", "metric_b").agg(
        F.count("*").alias("n"), F.round(corr, 4).alias("corr")
    )


def ks_drift(
    events: DataFrame, type_a: str = "view", type_b: str = "click"
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event types — the exact distribution-drift
    monitor (did clicks start behaving like views?).

    Exact KS needs the globally ordered empirical CDFs, so the plan
    compresses FIRST: one grouped aggregation to per-distinct-value
    counts (at most |distinct values| rows survive). The cumulative
    sums over that compressed stream are then DISTRIBUTED — never a
    single-partition window over the distinct values: approximate
    cut points (an approx_percentile sketch over the distinct values,
    broadcast as one row) split the value domain into ``shards``
    monotone cells; per-cell totals prefix-sum through a ≤shards-row
    window; and the within-cell cumulative windows run parallel
    across cells with the cell offset added back. Cut-point error
    only skews cell SIZES — every CDF value is exact. Tie handling is
    exact: CDFs are evaluated after absorbing all rows at each value.

    Emits one row (n_a, n_b, ks_stat).
    """
    shards = 32
    flagged = events.filter(
        F.col("event_type").isin(type_a, type_b)
    ).select(
        "value",
        F.when(F.col("event_type") == type_a, 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == type_b, 1).otherwise(0).alias("ib"),
    )
    per_val = flagged.groupBy("value").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    cuts = per_val.agg(
        F.approx_percentile(
            "value",
            F.array(*[F.lit(i / shards) for i in range(1, shards)]),
            F.lit(1000),
        ).alias("cuts")
    )
    cell = F.size(F.filter("cuts", lambda c: F.col("value") > c))
    sharded = per_val.crossJoin(F.broadcast(cuts)).select(
        "value", "ca", "cb", cell.alias("cell")
    )
    w_off = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sharded.groupBy("cell")
        .agg(F.sum("ca").alias("pca"), F.sum("cb").alias("pcb"))
        .select(
            "cell",
            F.coalesce(F.sum("pca").over(w_off), F.lit(0)).alias("offa"),
            F.coalesce(F.sum("pcb").over(w_off), F.lit(0)).alias("offb"),
        )
    )
    totals = per_val.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    w_in = (
        Window.partitionBy("cell")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = (
        sharded.join(F.broadcast(offsets), "cell")
        .select(
            (F.sum("ca").over(w_in) + F.col("offa")).alias("cuma"),
            (F.sum("cb").over(w_in) + F.col("offb")).alias("cumb"),
        )
    )
    return (
        cdf.crossJoin(F.broadcast(totals))
        .groupBy()
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cuma") / F.col("n_a")
                        - F.col("cumb") / F.col("n_b")
                    )
                ),
                4,
            ).alias("ks_stat"),
        )
    )


def psi_drift(events: DataFrame, bucket_width: float = 25.0) -> DataFrame:
    """Population Stability Index between a deterministic A/B split of
    the corpus (even vs odd event_id — the reproducible stand-in for
    reference-period vs current-period), over fixed-width value
    buckets: PSI = sum (p_cur - p_ref) * ln(p_cur / p_ref). The
    standard drift score for feature monitoring; > 0.2 conventionally
    flags a shift.

    One grouped aggregation to (bucket, side counts), window totals
    over the bucket-bounded stream, epsilon-clamped proportions (the
    standard empty-bucket guard, same constant both engines). Output
    is per-bucket contributions plus the total via a rollup-free
    second window — everything after the first agg is
    bucket-cardinality-sized.

    Emits (bucket_lo, n_ref, n_cur, psi_contrib, psi_total).
    """
    eps = 1e-6
    b = (F.floor(F.col("value") / bucket_width) * bucket_width).alias("bucket_lo")
    per_bucket = events.select(
        b,
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(0).alias("ref"),
        F.when(F.col("event_id") % 2 == 1, 1).otherwise(0).alias("cur"),
    ).groupBy("bucket_lo").agg(
        F.sum("ref").alias("n_ref"), F.sum("cur").alias("n_cur")
    )
    wall = Window.orderBy("bucket_lo").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p_ref = F.greatest(F.col("n_ref") / F.sum("n_ref").over(wall), F.lit(eps))
    p_cur = F.greatest(F.col("n_cur") / F.sum("n_cur").over(wall), F.lit(eps))
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    with_contrib = per_bucket.select(
        "bucket_lo", "n_ref", "n_cur", contrib.alias("contrib")
    )
    return with_contrib.select(
        "bucket_lo",
        "n_ref",
        "n_cur",
        F.round("contrib", 6).alias("psi_contrib"),
        F.round(F.sum("contrib").over(wall), 4).alias("psi_total"),
    )


def target_encoding(
    documents: DataFrame, smoothing: float = 10.0
) -> DataFrame:
    """Smoothed mean-target encoding (the standard high-cardinality
    categorical feature for tabular ML): each ``source`` category is
    encoded as the shrinkage blend

        enc = (n * mean_cat + m * mean_global) / (n + m)

    with ``m = smoothing`` — the classic empirical-Bayes guard
    against overfitting rare categories.

    One combinable aggregation per category (count + sum, exact
    integer arithmetic until the final division) and a 1-row global
    aggregate broadcast into the encode expression; output is
    category-cardinality-sized whatever the corpus size. The encoding
    table is what a training pipeline broadcast-joins back onto the
    full dataset (that join is ``join_broadcast``'s shape).

    Emits (source, n_docs, mean_target, encoded).
    """
    per_cat = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_t")
    )
    glob = per_cat.select(
        (F.sum("sum_t") / F.sum("n_docs")).alias("mean_global")
    )
    enc = (
        (F.col("sum_t") + F.lit(smoothing) * F.col("mean_global"))
        / (F.col("n_docs") + F.lit(smoothing))
    )
    return per_cat.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs",
        F.round(F.col("sum_t") / F.col("n_docs"), 4).alias("mean_target"),
        F.round(enc, 4).alias("encoded"),
    )


def mad_outliers(events: DataFrame, k: float = 3.5) -> DataFrame:
    """Robust outlier detection: events whose value deviates from the
    event-type median by more than ``k`` × MAD (median absolute
    deviation) — the robust-statistics replacement for z-scores when
    the metric is heavy-tailed (a single whale no longer drags the
    mean/std it is scored against).

    Two exact-median aggregations (per-type median, then per-type
    median of absolute deviations — each one keyed shuffle over
    type-partitioned values) and a broadcastable stats join back:
    the stats table is event-type-cardinality-sized. Exact medians
    (interpolated, type R-7) match across engines; zero-MAD types
    (constant metric) are dropped explicitly since no deviation score
    is defined there. When group sizes are unbounded, each median
    aggregate swaps for ``exact_quantiles_grouped``
    (``operators/relational.py``) — same values, no per-group buffer.

    Emits (event_id, event_type, value, med, mad, mad_score).
    """
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("abs_dev", F.lit(0.5)).alias("mad")
    ).filter(F.col("mad") > 0)
    scored = dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        F.round(F.abs(F.col("value") - F.col("med")) / F.col("mad"), 4).alias(
            "mad_score"
        ),
    )
    return scored.filter(F.col("mad_score") > k)


def time_resample_gapfill(events: DataFrame) -> DataFrame:
    """Gap-filled hourly resample per event type: a generated hour
    spine (the fixture's full January span) LEFT-joined to hourly
    aggregates, empty hours kept at n_events = 0 and their value
    carried forward (LOCF) from the last non-empty hour — the
    time-series regularization every monitoring/feature pipeline
    needs before diffs, rates, or models (raw event streams have no
    rows for silent hours, and silent hours ARE the signal).

    The spine is generated (744 hours × type alphabet) and the
    hourly aggregate is one combinable pass, so the join is
    spine-sized, not corpus-sized; LOCF is one
    ``last(ignorenulls)`` window per type over the spine. At 100 TB
    only the aggregate touches the corpus.

    Emits (event_type, bucket_hour, n_events, locf_value).
    """
    spark = events.sparkSession
    spine_hours = spark.sql(
        "SELECT explode(sequence(to_timestamp('2024-01-01 00:00:00'),"
        " to_timestamp('2024-01-30 23:00:00'), interval 1 hour)) AS bucket_hour"
    )
    types = events.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types))
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_hour")
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("hour_value")
    )
    w = Window.partitionBy("event_type").orderBy("bucket_hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(hourly, ["event_type", "bucket_hour"], "left")
        .select(
            "event_type",
            "bucket_hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.last("hour_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


def ab_test_ztest(events: DataFrame) -> DataFrame:
    """Two-proportion z-test per event type: users split into A/B by
    the deterministic user-id hash (the ``_hash_keep`` discipline —
    assignment survives re-runs and engines), conversion = the user
    emitted that event type at least 10 times; z from the pooled-variance normal
    approximation, |z| >= 1.96 flagged. The readout query of every
    experimentation pipeline.

    Per-user compression first (distinct (user, type) + one hash per
    user), then type-alphabet-sized contingency aggregation — nothing
    after the first agg scales with the corpus. Degenerate pools
    (p_pool in {0, 1}) carry no test and are dropped on both engines.

    Emits (event_type, n_a, n_b, conv_a, conv_b, zscore, significant).
    """
    variant = F.when(
        F.substring(F.md5(F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))), 1, 1)
        < F.lit("8"),
        "A",
    ).otherwise("B")
    users = events.select("user_id", variant.alias("variant")).distinct()
    # conversion = the user emitted the type >= 10 times (bare
    # presence is degenerate on a dense fixture: every user touches
    # every type and the pooled rate pins to 1)
    conv = (
        events.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
        .select("user_id", "event_type")
    )
    joined = users.join(conv, "user_id", "left")
    per_type = (
        joined.filter(F.col("event_type").isNotNull())
        .groupBy("event_type", "variant")
        .agg(F.count("*").alias("n_conv"))
    )
    # variant sizes come from the assignment table alone (1 broadcast
    # row): a type whose conversions are all one-sided must still see
    # BOTH denominators, and its zero-conversion cell is 0, not NULL —
    # otherwise the strongest effects silently drop out
    tot_wide = users.groupBy().agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("n_b"),
    )
    wide = (
        per_type.groupBy("event_type")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("variant") == "A", F.col("n_conv"))), F.lit(0)
            ).alias("conv_a"),
            F.coalesce(
                F.max(F.when(F.col("variant") == "B", F.col("n_conv"))), F.lit(0)
            ).alias("conv_b"),
        )
        .crossJoin(F.broadcast(tot_wide))
    )
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = (pa - pb) / se
    return (
        wide.filter((pp > 0) & (pp < 1))
        .select(
            "event_type",
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.round(z, 4).alias("zscore"),
            (F.abs(z) >= 1.96).alias("significant"),
        )
    )


def stats_bootstrap_ci(lineitem: DataFrame, n_reps: int = 24) -> DataFrame:
    """Poissonized bootstrap confidence interval for the mean price
    per return flag -- THE distributed bootstrap: instead of resampling
    n rows with replacement (which needs global coordination), each
    row independently draws a Poisson(1) replicate weight, which is
    the n -> inf limit of multinomial resampling. Every weight is a
    DETERMINISTIC function of (row key, replicate id): an md5-derived
    32-bit integer is scrambled with overflow-safe modular arithmetic
    (all intermediates < 2^53, so Spark's wrapping Java longs and
    DuckDB's overflow-checking BIGINTs agree bit-for-bit) into a
    uniform, then inverted through the Poisson(1) CDF ladder --
    reproducible across runs, engines, and retries, unlike rand().

    Plan shape for 100 TB: the n_reps replicate sums fold as PARTIAL
    AGGREGATES in one pass -- a vectorized Arrow kernel emits per-batch
    (flag, replicate) partial sums (the MinHash signature pattern:
    the 2 x n_reps + 2 accumulator SQL-expression form blows the
    whole-stage-codegen method budget and drops the aggregate into
    interpreted row mode, measured 2.5x slower at sf0.1; the x24 row
    explode form is similarly 2.5x slower), so the corpus is scanned
    once and the one shuffle moves |flags| x (n_reps + 1) partial rows
    per batch. All replicate sums are exact int64 (weights 0..9 times
    integer cents -- fold-order independent and bit-identical on both
    engines); the variance uses sums centered on the pinned full mean
    (the stats_moments discipline) to kill cancellation drift. The
    single-split fixture scan is spread first (guide §2.5 input-skew
    guard, no-op at production split counts) so the md5 derivation
    parallelizes.

    Emits (l_returnflag, mean_price, se_boot, ci_lo, ci_hi) with a
    normal-approximation 95% interval from the replicate spread."""
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread_scan

    h8 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("bs"), "l_orderkey", "l_linenumber")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # money as exact LONG cents: integer sums are fold-order exact
    # like DECIMAL but ~3x cheaper per accumulator update
    base = spread_scan(
        lineitem.select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        "l_orderkey",
    ).select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
        h8.alias("h8"),
    )
    # Poisson(1) inverse-CDF ladder pre-scaled to the 2^20 lattice
    # (ceil(cdf * 2^20 - 0.5)): pure int64 compares, literals shared
    # verbatim with the oracle (tail capped at 9). searchsorted over
    # the ascending ladder IS the when-chain: index of the first
    # threshold > s2.
    ladder = np.array(
        [385750, 771499, 964374, 1028665, 1044738, 1047953, 1048489,
         1048565, 1048575],
        dtype=np.int64,
    )

    def replicate_partials(batches):
        # per batch: 24 deterministic weight vectors (same modular
        # scramble as the oracle, all intermediates < 2^53 so int64 is
        # exact), folded to (flag, b) partial sums; b = -1 carries the
        # un-resampled totals (n, sum x) so the full mean needs no
        # second corpus pass
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h8"].to_numpy(np.int64)
            x = pdf["x"].to_numpy(np.int64)
            flags = pdf["l_returnflag"]
            outs = [
                pd.DataFrame(
                    {
                        "l_returnflag": flags,
                        "b": np.int32(-1),
                        "swx": x,
                        "sw": np.int64(1),
                    }
                )
                .groupby("l_returnflag", sort=False, as_index=False, dropna=False)
                .agg({"b": "first", "swx": "sum", "sw": "sum"})
            ]
            for b in range(n_reps):
                s1 = (h * 1000003 + b * 999999937) % 1048576
                s2 = (s1 * 48271 + 11) % 1048576
                w = np.searchsorted(ladder, s2, side="right").astype(np.int64)
                outs.append(
                    pd.DataFrame(
                        {
                            "l_returnflag": flags,
                            "b": np.int32(b),
                            "swx": w * x,
                            "sw": w,
                        }
                    )
                    .groupby("l_returnflag", sort=False, as_index=False, dropna=False)
                    .agg({"b": "first", "swx": "sum", "sw": "sum"})
                )
            yield pd.concat(outs)[["l_returnflag", "b", "swx", "sw"]]

    cells = (
        base.mapInPandas(
            replicate_partials,
            "l_returnflag string, b int, swx long, sw long",
        )
        .groupBy("l_returnflag", "b")
        .agg(F.sum("swx").alias("swx"), F.sum("sw").alias("sw"))
    )
    # the pinned full mean rides from the b = -1 totals row to its
    # flag's replicate rows through one |flags| x (n_reps+1)-row
    # window -- no second consumption of the kernel subtree, no join
    reps = (
        cells.withColumn(
            "c",
            F.max(
                F.when(
                    F.col("b") == -1,
                    F.round(
                        F.col("swx").cast("double") / 100.0 / F.col("sw"), 6
                    ),
                )
            ).over(Window.partitionBy("l_returnflag")),
        )
        .filter((F.col("b") >= 0) & (F.col("sw") > 0))
        .withColumn(
            "mean_b", F.col("swx").cast("double") / 100.0 / F.col("sw")
        )
    )
    dev = F.col("mean_b") - F.col("c")
    spread = reps.groupBy("l_returnflag", "c").agg(
        F.count("*").alias("nb"),
        F.sum(dev).alias("sd"),
        F.sum(dev * dev).alias("sdd"),
    )
    se = F.sqrt(
        (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("nb"))
        / (F.col("nb") - 1)
    )
    return spread.select(
        "l_returnflag",
        F.round("c", 4).alias("mean_price"),
        F.round(se, 4).alias("se_boot"),
        F.round(F.col("c") - 1.96 * se, 4).alias("ci_lo"),
        F.round(F.col("c") + 1.96 * se, 4).alias("ci_hi"),
    )


def customer_rfm_segments(orders: DataFrame) -> DataFrame:
    """Classic RFM segmentation: every customer scored into quartiles
    of Recency (days-epoch of last order), Frequency (order count),
    and Monetary (exact-decimal lifetime spend), then the 4x4x4
    segment grid summarized with customer counts and segment revenue
    -- the marketing-analytics workhorse built the way it survives
    100 TB.

    NOT a global ntile (single-partition sort x3): all nine quartile
    cut points come from ONE ``exact_quantiles_grouped`` kernel call
    over the long-form (metric, value) stream -- the three metrics are
    just three groups, so the kernel's range-sharded order statistics
    price the whole threshold table at one pass over the per-customer
    aggregate. Cut arrays broadcast back (3 rows -> 1-row arrays) and
    bucket assignment is a pure row expression (v > cut counting, ties
    deterministic because both engines compare the same exact value
    against the same 4-decimal-rounded bound). Monetary folds as
    DECIMAL(18,2) end to end (fold-order exact), cast to double only
    at the rounded output boundary.

    Emits (r_q, f_q, m_q, n_customers, revenue), <= 64 rows."""
    from .relational import exact_quantiles_grouped

    cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("int")
        .alias("r_v"),
        F.count("*").cast("long").alias("f_v"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m_dec"),
    )
    longf = cust.selectExpr(
        "stack(3, 'r', CAST(r_v AS DOUBLE), 'f', CAST(f_v AS DOUBLE),"
        " 'm', CAST(m_dec AS DOUBLE)) AS (metric, value)"
    )
    # 9-row threshold table, localCheckpoint'ed because its three
    # cut-array consumers would each re-run the kernel otherwise
    cuts = exact_quantiles_grouped(
        longf, "metric", "value", [0.25, 0.5, 0.75]
    ).localCheckpoint()

    def cut_arr(m: str, name: str):
        return (
            cuts.filter(F.col("metric") == m)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("q_idx", "bound"))
                ).alias("s")
            )
            .select(F.expr("transform(s, x -> x.bound)").alias(name))
        )

    def quart(v, arr):
        return (
            F.lit(1)
            + F.size(F.filter(arr, lambda c: v > c))
        ).cast("int")

    seg = (
        cust.join(F.broadcast(cut_arr("r", "rc")))
        .join(F.broadcast(cut_arr("f", "fc")))
        .join(F.broadcast(cut_arr("m", "mc")))
        .select(
            quart(F.col("r_v").cast("double"), F.col("rc")).alias("r_q"),
            quart(F.col("f_v").cast("double"), F.col("fc")).alias("f_q"),
            quart(F.col("m_dec").cast("double"), F.col("mc")).alias("m_q"),
            "m_dec",
        )
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("m_dec").cast("double"), 2).alias("revenue"),
    )


def stats_gini(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-nation Gini coefficient of customer lifetime spend -- the
    inequality / concentration summary a curation pipeline runs to
    ask "is this slice dominated by a few heavy keys?" (the same
    question ``key_skew_profile`` answers for shuffle keys, asked
    here of revenue mass).

    Exact rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending spend: within-nation ranks come from one window pass
    (ties ordered by custkey -- the tied block's rank-sum is
    order-invariant, so G is deterministic regardless of tiebreak),
    and both sums fold as DECIMAL (spend exact at (18,2), rank-
    weighted spend at (28,2)) so the division is one double op on
    exact integers scaled 1e-2 -- engine-identical. Two keyed
    shuffles total (customer agg, nation window+agg); at 100 TB the
    per-nation window sorts |customers|/|nations| rows per key,
    the same bound every per-key rank op in the engine carries.

    Emits (c_nationkey, n_customers, total_spend, gini)."""
    spend = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "c_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum((F.col("i") * F.col("x")).cast("decimal(28,2)")).alias("six"),
        )
        .select(
            "c_nationkey",
            F.col("n").cast("int").alias("n_customers"),
            F.round(F.col("sx").cast("double"), 2).alias("total_spend"),
            F.round(
                2.0 * F.col("six").cast("double")
                / (F.col("n") * F.col("sx").cast("double"))
                - (F.col("n") + 1.0) / F.col("n"),
                4,
            ).alias("gini"),
        )
    )


def dp_noisy_counts(events: DataFrame, epsilon: float = 1.0) -> DataFrame:
    """Differential-privacy-style release of daily event-type counts:
    true counts plus Laplace(1/epsilon) noise, with the noise drawn
    DETERMINISTICALLY from the group key (md5 -> uniform in (-0.5,
    0.5) -> inverse-CDF), so the release is reproducible and
    oracle-checkable while keeping the true count out of the output
    -- the privacy-releasing aggregation shape (count contribution
    of any single row is 1, the classic eps-DP counting query; a
    production release would swap the keyed hash for a sealed RNG
    seed, which changes nothing in the plan).

    One grouped count, noise as a row-local expression on top -- no
    extra shuffle, no collect. The 4-hex-digit uniform has the same
    +0.5/65536 midpoint construction both engines mirror digit by
    digit; |u| <= 0.49999... keeps log's argument strictly positive.

    Emits (event_type, day, noisy_count)."""
    g = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("cnt"))
    h = F.md5(F.concat_ws("|", F.lit("dp"), "event_type", "day"))
    u = (
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") + F.lit(0.5))
        / F.lit(65536.0)
        - F.lit(0.5)
    )
    noise = (
        F.lit(-1.0 / epsilon)
        * F.signum(u)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
    )
    return g.select(
        "event_type",
        "day",
        F.round(F.col("cnt") + noise, 4).alias("noisy_count"),
    )


def basket_lift_topk(
    lineitem: DataFrame, min_support: int = 2, top: int = 20
) -> DataFrame:
    """Market-basket association mining over order baskets: the
    ``top`` part pairs by lift = P(a,b)/(P(a)P(b)), with support and
    confidence -- the classic co-occurrence workload (and the one
    the a-priori principle exists for).

    A-priori prune FIRST: items below ``min_support`` orders cannot
    appear in a frequent pair, so the basket stream is semi-joined
    against the frequent-item table before the pair self-join --
    at 100 TB this is the difference between pairing every basket
    (fan-out sum(|basket| choose 2)) and pairing only the frequent
    residue. The self-join keys on the order id (co-partitioned,
    no broadcast of the big side); lift's numerator and denominator
    are exact int64 products divided once in double; the global
    top-k collapses to TakeOrderedAndProject. The 1-row total-order
    count joins as a broadcast scalar (allowlisted).

    Emits (part_a, part_b, support, confidence, lift), lift desc."""
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.select(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    item_supp = baskets.groupBy("l_partkey").agg(
        F.count("*").alias("supp")
    ).filter(F.col("supp") >= min_support)
    frequent = baskets.join(
        item_supp.select("l_partkey"), "l_partkey", "left_semi"
    )
    a = frequent.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = frequent.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    sa = item_supp.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    sb = item_supp.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support") / F.col("supp_a"), 4).alias(
                "confidence"
            ),
            F.round(
                (F.col("support") * F.col("n_orders"))
                / (F.col("supp_a") * F.col("supp_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("support"), "part_a", "part_b"
        )
        .limit(top)
    )


def welch_ttest(events: DataFrame) -> DataFrame:
    """Welch's unequal-variance t-test per event type -- the
    mean-effect readout that pairs with ``ab_test_ztest``'s
    proportion test: users hash deterministically into A/B and the
    test asks whether the metric ``value`` differs between arms
    (unequal variances assumed, the safe default; dof via
    Welch--Satterthwaite).

    Execution: per-arm means first (alphabet x 2 rows, rounded to 6
    to pin the centering constant cross-engine -- the
    ``stats_moments`` discipline), broadcast back, then ONE grouped
    pass of centered squares; t and the Welch dof are pure row-local
    arithmetic on the (event_type)-sized result. Nothing after the
    first aggregate scales with the corpus.

    Emits (event_type, n_a, n_b, mean_a, mean_b, t_stat, df,
    significant) with |t| >= 1.96 flagged (the large-sample normal
    cut, consistent with the z-test readout).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    variant = F.when(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8"),
        "A",
    ).otherwise("B")
    base = events.select(
        "event_type", variant.alias("variant"), "value"
    )
    mu = base.groupBy("event_type", "variant").agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    d = F.col("value") - F.col("mu")
    cell = (
        base.join(F.broadcast(mu), ["event_type", "variant"])
        .groupBy("event_type", "variant")
        .agg(
            F.count("*").alias("n"),
            F.max("mu").alias("mu"),
            F.sum(d * d).alias("css"),
        )
    )
    pick = lambda v, c: F.max(F.when(F.col("variant") == v, F.col(c)))  # noqa: E731
    wide = cell.groupBy("event_type").agg(
        pick("A", "n").alias("n_a"),
        pick("B", "n").alias("n_b"),
        pick("A", "mu").alias("mean_a"),
        pick("B", "mu").alias("mean_b"),
        pick("A", "css").alias("css_a"),
        pick("B", "css").alias("css_b"),
    )
    va = F.col("css_a") / (F.col("n_a") - 1) / F.col("n_a")  # s_a^2 / n_a
    vb = F.col("css_b") / (F.col("n_b") - 1) / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va + vb)
    df = (va + vb) * (va + vb) / (
        va * va / (F.col("n_a") - 1) + vb * vb / (F.col("n_b") - 1)
    )
    # zero pooled variance carries no test (and trips ANSI 0/0):
    # degenerate cells drop on both engines, like ab_test's pp guard
    return wide.filter(
        (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (F.col("css_a") + F.col("css_b") > 0)
    ).select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("df"),
        (F.abs(t) >= 1.96).alias("significant"),
    )


def mannwhitney_utest(events: DataFrame) -> DataFrame:
    """Mann-Whitney U rank-sum test per event type over the same
    deterministic A/B user hash as ``ab_test_ztest``/``welch_ttest``
    -- the NONPARAMETRIC mean-shift companion: rank-based, so a fat
    tail or outlier burst cannot fake (or mask) an effect the way it
    can with Welch's t.

    Exactness: tied values take the average rank, which lives in
    half-units -- so ranks ride DOUBLED as exact integers
    (``rank2 = 2 * cum_before + cnt + 1``), the rank-sum and U
    statistic stay exact bigints, and the single closing z division
    runs on identical doubles (IEEE sqrt is correctly rounded).
    Large-sample normal z without tie correction -- the declared
    simple variant.

    Plan: one (type, value) group [combinable], a cumulative-count
    window over the per-type VALUE alphabet (not the corpus), then an
    alphabet-sized fold -- nothing after the first aggregate scales
    with events.

    Emits (event_type, n_a, n_b, u_stat, zscore, significant).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    # NULL metric values carry no rank information -- drop them BEFORE
    # grouping. Also pins cross-engine rank order: Spark windows sort
    # NULLS FIRST while the DuckDB oracle's ORDER BY is NULLS LAST, so
    # a stray NULL would silently diverge every subsequent rank.
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vg.withColumn(
        "rank2",
        2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
        + F.col("cnt")
        + 1,
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("rank2")).alias("r2_a"),
    )
    u2 = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    mu2 = F.col("n_a") * F.col("n_b")
    sigma = F.sqrt(
        F.col("n_a")
        * F.col("n_b")
        * (F.col("n_a") + F.col("n_b") + 1)
        / F.lit(12.0)
    )
    z = (u2 - mu2) / (2 * sigma)
    return agg.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "event_type",
        "n_a",
        "n_b",
        (u2 / F.lit(2.0)).alias("u_stat"),
        F.round(z, 4).alias("zscore"),
        (F.abs(z) >= 1.96).alias("significant"),
    )


def anova_oneway(events: DataFrame) -> DataFrame:
    """One-way ANOVA F-test of ``value`` across ALL event types -- the
    k-group generalization of ``welch_ttest``'s two-arm question
    (pooled-variance form): does the metric differ across the full
    type alphabet at all, before any pairwise drill-down?

    Execution (the ``stats_moments`` centering discipline): per-type
    means first (alphabet-sized, rounded to 6 to pin the centering
    constants cross-engine), broadcast back, ONE grouped pass of
    centered squares for the within-group sum; the between-group sum
    and the F ratio are pure row-local arithmetic on the
    alphabet-sized result. Nothing after the first aggregate scales
    with the corpus. Eta-squared rides along as the effect-size
    readout (an F alone says nothing about magnitude).

    Emits ONE row: (k_groups, n_total, ss_between, ss_within, f_stat,
    eta_sq).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    mu = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
    )
    d = F.col("value") - F.col("mu")
    cell = (
        events.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("mu").alias("mu"),
            F.sum(d * d).alias("css"),
        )
    )
    # grand mean over the SAME rounded per-type means, weighted by n
    # (one double division on an alphabet-sized sum), rounded 6 to pin
    # the between-groups centering constant; summing mu*n instead of
    # raw values keeps both centering constants derived from the same
    # pinned quantities on both engines
    w = Window.partitionBy()
    grand = F.round(
        F.sum(F.col("mu") * F.col("n")).over(w) / F.sum("n").over(w), 6
    )
    g = cell.withColumn("grand", grand)
    dg = F.col("mu") - F.col("grand")
    agg = g.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.col("n") * dg * dg).alias("ssb"),
        F.sum("css").alias("ssw"),
    )
    f_stat = (F.col("ssb") / (F.col("k_groups") - 1)) / (
        F.col("ssw") / (F.col("n_total") - F.col("k_groups"))
    )
    return agg.filter(
        (F.col("k_groups") > 1)
        & (F.col("n_total") > F.col("k_groups"))
        & (F.col("ssw") > 0)
    ).select(
        "k_groups",
        "n_total",
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        F.round(f_stat, 4).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 4).alias(
            "eta_sq"
        ),
    )


def fdr_bh(events: DataFrame, alpha: float = 0.1) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over the
    per-type A/B z-tests -- the multiple-testing step every
    experimentation platform runs AFTER ``ab_test_ztest``: with one
    z-test per event type, thresholding each at 1.96 inflates the
    family-wise false-positive rate; BH bounds the EXPECTED fraction
    of false discoveries at ``alpha`` instead.

    Two-sided p-values come from the Zelen-Severo-style closed-form
    normal-tail approximation ``p = min(1, 2*exp(-0.717|z| -
    0.416 z^2))`` -- elementary ops only, so both engines compute the
    IDENTICAL doubles (no erf needed anywhere); p is rounded to 8
    before ranking so the BH sort order can never hinge on float
    noise, with event_type as the deterministic tiebreak. The BH
    step-up itself (rank ascending, find the largest rank with
    ``p <= alpha*rank/m``, reject everything at or below it) is two
    window passes over the ALPHABET-SIZED test table -- the global
    windows never see corpus-scale data.

    Emits (event_type, zscore, p_approx, p_rank, bh_crit, rejected).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    z = ab_test_ztest(events).select("event_type", "zscore")
    az = F.abs(F.col("zscore"))
    p = F.round(
        F.least(
            F.lit(1.0),
            F.lit(2.0) * F.exp(-F.lit(0.717) * az - F.lit(0.416) * az * az),
        ),
        8,
    )
    scored = z.select("event_type", "zscore", p.alias("p_approx"))
    w_rank = Window.orderBy("p_approx", "event_type")
    w_all = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(w_rank).alias("p_rank"),
        F.count("*").over(w_all).alias("m"),
    )
    crit = F.round(F.lit(alpha) * F.col("p_rank") / F.col("m"), 8)
    flagged = ranked.select(
        "event_type",
        "zscore",
        "p_approx",
        "p_rank",
        crit.alias("bh_crit"),
    )
    max_pass = F.max(
        F.when(F.col("p_approx") <= F.col("bh_crit"), F.col("p_rank"))
    ).over(w_all)
    return flagged.select(
        "*",
        (F.col("p_rank") <= F.coalesce(max_pass, F.lit(0))).alias("rejected"),
    )


def event_type_cooccurrence(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Session-level market basket over EVENT TYPES: for every
    unordered pair of types that co-occur inside one user session,
    the support counts and the lift
    ``P(a,b) / (P(a) * P(b))`` over sessions -- the product-analytics
    reading of ``basket_lift_topk`` (orders x parts), answering
    "which behaviors travel together within a visit".

    Plan: the ``sessionize`` lag+running-sum construction carries
    event_type through, one DISTINCT collapses to (user, session,
    type) -- so every later stage is bounded by sessions x alphabet,
    never raw events. The pair self-join keys on (user_id,
    session_id) with per-session fan-out <= alphabet^2 (tiny,
    constant); per-type session counts and the 1-row session total
    broadcast back. Lift is exact-integer cross arithmetic in one
    double expression, rounded once.

    Emits (type_a, type_b, n_both, n_a, n_b, lift).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(
        order
    )
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st = (
        events.select(
            "user_id", "ts", "event_id", "event_type", is_new.alias("is_new")
        )
        .select(
            "user_id",
            "event_type",
            F.sum("is_new").over(running).alias("session_id"),
        )
        .select("user_id", "session_id", "event_type")
        .distinct()
    )
    tot = (
        st.select("user_id", "session_id")
        .distinct()
        .select(F.count("*").alias("n_total"))
    )
    per = st.groupBy("event_type").agg(F.count("*").alias("n_sess"))
    a = st.select(
        "user_id", "session_id", F.col("event_type").alias("type_a")
    )
    b = st.select(
        "user_id", "session_id", F.col("event_type").alias("type_b")
    )
    both = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    pa = per.select(
        F.col("event_type").alias("type_a"), F.col("n_sess").alias("n_a")
    )
    pb = per.select(
        F.col("event_type").alias("type_b"), F.col("n_sess").alias("n_b")
    )
    lift = (F.col("n_both") * F.lit(1.0) * F.col("n_total")) / (
        F.col("n_a") * F.lit(1.0) * F.col("n_b")
    )
    return (
        both.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(lift, 4).alias("lift"),
        )
    )


def funnel_time_to_convert(
    events: DataFrame,
    stages: tuple[str, ...] = ("signup", "view", "click", "purchase"),
) -> DataFrame:
    """Time-to-convert distribution per funnel step -- the latency
    companion to ``funnel_conversion``'s survival counts: for every
    user who reached stage i+1, how long after entering stage i did
    they take (median and p90). The readout growth teams act on --
    a step can convert well but take days.

    The per-stage reach times reuse ``funnel_conversion``'s strict-
    order min-ts chaining verbatim (stage i+1 counts only at-or-after
    the user's entry into stage i); consecutive stages join per user
    (the later stage's users are a subset by construction, so delays
    are never negative) and delays ride as exact integer-microsecond
    differences. The quantiles run through the DISTRIBUTED grouped
    order-statistic kernel (``exact_quantiles_grouped``: (key,
    value)-range-partitioned, no per-group buffer) -- step count is
    constant but per-step delay counts are corpus-bounded, exactly
    the low-cardinality-key/unbounded-group case the kernel exists
    for.

    Emits (step, n_users, p50_s, p90_s).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from .relational import exact_quantiles_grouped

    reached = None
    per_stage = []
    for stage in stages:
        ev = events.filter(F.col("event_type") == stage)
        if reached is None:
            reached = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reached = (
                ev.join(reached.select("user_id", "t"), "user_id")
                .filter(F.col("ts") >= F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        # deliberately NOT checkpointed: each reach table feeds the
        # next chain stage and its own delay pair, but the recomputed
        # subtrees are single filter+agg scans bounded by the constant
        # stage count (funnel_conversion's shipped shape) -- measured,
        # three eager checkpoints cost 2x more than the recompute at
        # sf0.1 (3 blocking jobs of fixed overhead vs cheap re-scans)
        per_stage.append((stage, reached))
    delays = None
    for i in range(len(per_stage) - 1):
        s0, d0 = per_stage[i]
        s1, d1 = per_stage[i + 1]
        step = f"L{i + 1}_{s0}->L{i + 2}_{s1}"
        d = (
            d0.select("user_id", F.unix_micros("t").alias("t0"))
            .join(d1.select("user_id", F.unix_micros("t").alias("t1")), "user_id")
            .select(
                F.lit(step).alias("step"),
                ((F.col("t1") - F.col("t0")) / F.lit(1_000_000.0)).alias(
                    "delay_s"
                ),
            )
        )
        delays = d if delays is None else delays.unionByName(d)
    qb = exact_quantiles_grouped(delays, "step", "delay_s", [0.5, 0.9])
    wide = qb.groupBy("step").agg(
        F.max(F.when(F.col("q_idx") == 0, F.col("bound"))).alias("p50_s"),
        F.max(F.when(F.col("q_idx") == 1, F.col("bound"))).alias("p90_s"),
    )
    n = delays.groupBy("step").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    return n.join(wide, "step").select(
        "step", "n_users", "p50_s", "p90_s"
    )


def user_behavior_entropy(events: DataFrame) -> DataFrame:
    """Per-user behavioral entropy over the event-type distribution
    -- the diversity score that separates single-purpose scripts
    (entropy 0: one event type forever) from organic users (entropy
    near log2 |alphabet|): bot triage, engagement segmentation, and
    the anomaly denominator ``sequence_likelihood`` doesn't cover
    (that scores ORDER; this scores MIX).

    Two keyed aggregations -- (user, type) counts, then the per-user
    fold -- both partial->final on user-prefixed keys, so one logical
    exchange. The entropy sum folds over the user's type counts in
    SORTED type order via ``collect_list`` + ``array_sort`` + a
    0.0-seeded ``aggregate`` (the ``event_markov_stationary``
    determinism discipline: at most |alphabet| elements per user, and
    the fold order is pinned so both engines add the SAME doubles in
    the SAME order).

    Emits (user_id, n_events, n_types, entropy) with entropy in bits,
    rounded 4.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    cnt = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    per = cnt.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        F.array_sort(F.collect_list(F.struct("event_type", "c"))).alias(
            "cells"
        ),
    )
    from ..functions.stats import entropy_bits

    h = entropy_bits(F.col("cells"), F.col("n_events"))
    return per.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(h, 4).alias("entropy"),
    )


def hourly_autocorrelation(
    events: DataFrame, lags: tuple[int, ...] = (1, 6, 12, 24)
) -> DataFrame:
    """Lag-k autocorrelation of the hourly event-count series per
    type over the requested ``lags`` profile (1/6/12/24 by default) -- the seasonality
    detector behind capacity planning and anomaly baselines: a spike
    at lag 24 means daily rhythm, at lag 1 means bursty persistence;
    ``hourly_anomaly_zscore`` assumes i.i.d. hours, this measures how
    wrong that is.

    The hourly series per type is ONE corpus-sized aggregate (the
    ``hourly_anomaly_zscore`` bucketing); everything after operates
    on (type x hours) rows -- bounded by the time range, not the
    corpus. Lagged pairs come from a range-window lookup (lag over
    hour rank), Pearson r from explicit moment sums (the
    ``stats_correlation`` closed form -- engine-identical, no
    built-in corr), one grouped pass per (type, lag).

    Gaps matter: missing hours are real zeros in a count series, so
    the series joins onto a generated dense hour spine per type (the
    ``time_resample_gapfill`` discipline) before lagging.

    Emits (event_type, lag_h, n_pairs, autocorr).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    dense = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    if not lags or any(k < 1 for k in lags):
        raise ValueError(f"lags must be positive and non-empty: {lags}")
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = None
    for k in lags:
        p = dense.select(
            "event_type",
            F.lit(k).alias("lag_h"),
            F.col("n").alias("x"),
            F.lag("n", k).over(w).alias("y"),
        ).filter(F.col("y").isNotNull())
        pairs = p if pairs is None else pairs.unionByName(p)
    m = pairs.groupBy("event_type", "lag_h").agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # integer moment sums are exact; the degenerate-variance guard
    # lives on BOTH sides (ANSI 0/0)
    varx = m["np"] * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = m["np"] * F.col("syy") - F.col("sy") * F.col("sy")
    # varx * 1.0 * vary: convert to double BETWEEN the multiplications
    # on BOTH engines -- a bigint product first would round differently
    # past 2^53 than the oracle's double*double
    r = (m["np"] * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        varx * F.lit(1.0) * vary
    )
    return m.filter((varx > 0) & (vary > 0)).select(
        "event_type",
        "lag_h",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.round(r, 4).alias("autocorr"),
    )


def levene_brownforsythe(events: DataFrame) -> DataFrame:
    """Brown-Forsythe test (Levene with group MEDIANS) for variance
    homogeneity of ``value`` across event types -- the assumption
    check BEHIND ``stats_anova``: the pooled-variance F is only
    trustworthy when group variances agree, and Brown-Forsythe is the
    robust (heavy-tail-safe) way to test exactly that. The statistic
    IS a one-way ANOVA F computed on the absolute deviations from
    each group's median.

    Two passes: per-type exact medians (alphabet-sized, rounded 6 to
    pin the centering constant -- the ``stats_moments`` discipline on
    a robust center), broadcast back, then the ``anova_oneway``
    machinery verbatim on ``|v - med|``: per-type means of the
    deviations rounded 6, ONE centered-squares pass, grand mean
    re-derived from the pinned means. Nothing after the first two
    aggregates scales with the corpus. When group sizes are
    unbounded, the median aggregate swaps for
    ``exact_quantiles_grouped`` (same values, no per-group buffer --
    the ``mad_outliers`` contract).

    Emits ONE row: (k_groups, n_total, w_stat, f_crit,
    var_homogeneous). The cut is the large-sample F critical value
    F_crit(k-1, inf) at alpha=0.05, DERIVED from k_groups: an exact
    chi-square/df lookup for df1 <= 12, the Wilson-Hilferty
    approximation ``(1 - 2/(9 df) + 1.6449 sqrt(2/(9 df)))^3``
    beyond (closed-form in both engines, so the verdict can never
    straddle the Spark/DuckDB pair). Rounded 4 before the compare,
    like the statistic itself.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    z = events.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("value")
    )
    # the Brown-Forsythe W IS a one-way ANOVA F on |v - med|: reuse
    # anova_oneway's machinery verbatim (one definition of the
    # centering/guard discipline), then rename and add the verdict on
    # the ROUNDED statistic (the oracle rounds identically, so the
    # cut can never straddle engines)
    a = anova_oneway(z)
    # F_crit(df1, inf) = chi2_{0.95, df1} / df1: exact for the df1
    # range any realistic alphabet hits, Wilson-Hilferty beyond --
    # both branches are row-local closed forms on the one-row result
    df1 = F.col("k_groups") - F.lit(1)
    exact = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pair in [
                    (1, 3.8415), (2, 2.9957), (3, 2.6049), (4, 2.3719),
                    (5, 2.2141), (6, 2.0986), (7, 2.0096), (8, 1.9384),
                    (9, 1.8799), (10, 1.8307), (11, 1.7886), (12, 1.7522),
                ]
                for x in pair
            ]
        ),
        df1.cast("int"),
    )
    wh = F.pow(
        F.lit(1.0)
        - F.lit(2.0) / (F.lit(9.0) * df1)
        + F.lit(1.6448536) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * df1)),
        F.lit(3.0),
    )
    f_crit = F.round(F.coalesce(exact, wh), 4)
    return a.select(
        "k_groups",
        "n_total",
        F.col("f_stat").alias("w_stat"),
        f_crit.alias("f_crit"),
        (F.col("f_stat") < f_crit).alias("var_homogeneous"),
    )


def survival_kaplan_meier(
    events: DataFrame, censor_days: int = 1
) -> DataFrame:
    """Kaplan-Meier survival curve over user activity lifetimes -- the
    canonical retention/churn estimator (the nonparametric S(t) every
    product-analytics stack ships): a user's duration is the whole
    days between their first and last event; the churn EVENT is
    observed when the user has been silent for at least
    ``censor_days`` before the corpus's observation edge (max ts),
    otherwise the lifetime is right-CENSORED at its current length --
    the distinction the naive "days active" histogram gets wrong.
    The fixture's users are near-continuously active inside a ~30-day
    corpus (silences at the edge span 0-2 days at every SF), so the
    default censor window is 1 day -- the value that actually
    bisects; a longer window censors EVERYONE and the curve is
    vacuously 1.0 (the join_asof_ttl lesson).

        S(d) = prod over event times t <= d of (1 - d_t / n_t),
        n_t = users still at risk at t, d_t = observed churns at t.

    Determinism discipline (the ulm/lm_trigram micro-nat contract):
    each factor becomes the integer ``round((ln(n_t - d_t) - ln(n_t))
    * 1e6)``; the product is an exact integer prefix sum over the
    duration-ordered window, and S is one ``exp`` of identical
    doubles, rounded 6. If a time point wipes out the whole risk set
    (n_t = d_t), that row and everything after emit survival 0.0
    (the ln-guard flag rides the same prefix window).

    Plan: ONE user-keyed aggregate over the corpus (first/last ts,
    map-side combine); everything after lives on the duration table,
    which is bounded by the corpus span in DAYS, so the
    single-partition prefix windows are alphabet-sized by
    construction (the stats_anova tail discipline). The observation
    edge rides as a 1-row broadcast.

    Emits (duration_d, n_risk, n_events, n_censored, survival),
    one row per distinct duration.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    us = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    mx = events.agg(F.unix_micros(F.max("ts")).alias("mx_us"))
    day_us = 86_400_000_000
    per = us.crossJoin(F.broadcast(mx)).select(
        F.expr(
            f"div(unix_micros(last_ts) - unix_micros(first_ts), {day_us})"
        ).alias("duration_d"),
        (
            F.unix_micros("last_ts")
            <= F.col("mx_us") - F.lit(censor_days * day_us)
        )
        .cast("long")
        .alias("observed"),
    )
    dur = per.groupBy("duration_d").agg(
        F.count("*").alias("n_at_d"),
        F.sum("observed").alias("n_events"),
        (F.count("*") - F.sum("observed")).alias("n_censored"),
    )
    n_users = per.agg(F.count("*").alias("n_users"))
    w_prev = (
        Window.orderBy("duration_d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.orderBy("duration_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = dur.crossJoin(F.broadcast(n_users)).withColumn(
        "n_risk",
        F.col("n_users") - F.coalesce(F.sum("n_at_d").over(w_prev), F.lit(0)),
    )
    factor = F.when(F.col("n_events") == 0, F.lit(0)).when(
        F.col("n_events") < F.col("n_risk"),
        F.round(
            (
                F.log((F.col("n_risk") - F.col("n_events")).cast("double"))
                - F.log(F.col("n_risk").cast("double"))
            )
            * F.lit(1e6),
            0,
        ).cast("long"),
    )  # NULL when n_events == n_risk: the wipe-out flag below takes over
    stepped = base.withColumn("f_mnat", factor).withColumn(
        "wiped",
        F.max((F.col("n_events") >= F.col("n_risk")).cast("int")).over(w_cum),
    )
    surv = F.when(F.col("wiped") == 1, F.lit(0.0)).otherwise(
        F.round(
            F.exp(F.sum("f_mnat").over(w_cum) / F.lit(1_000_000.0)), 6
        )
    )
    return stepped.select(
        "duration_d",
        "n_risk",
        "n_events",
        "n_censored",
        surv.alias("survival"),
    )


def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H test of ``value`` across ALL event types --
    the rank-based (distribution-free) sibling of ``anova_oneway``,
    and the k-group generalization of ``mannwhitney_utest``: does the
    metric's *distribution* differ across the type alphabet when
    normality can't be assumed?

    Rank discipline (the mannwhitney contract): NULL values dropped
    BEFORE grouping, the pooled rank table lives on the DISTINCT
    value alphabet (one (value, type) count collapse first -- nothing
    after the first aggregate scales with events), and tied ranks are
    carried DOUBLED as exact integers (avg rank = cum_before +
    (cnt+1)/2, so 2*avg is always integral). The per-group term
    sum(R2_g^2 / n_g) is rounded to an integer micro-unit BEFORE the
    k-term fold: every summand is exact, so the fold is
    order-insensitive on both engines. Tie correction applied from
    exact sum(t^3 - t). The cut is chi2_{0.95, k-1}, DERIVED from
    k_groups via the stats_levene table (Wilson-Hilferty beyond it).

    Plan: one combinable (type, value) aggregate, a cumulative-count
    window over the pooled VALUE alphabet, one alphabet-sized
    aggregate -- a 100 TB corpus shuffles only its distinct (type,
    value) pairs.

    Emits ONE row: (k_groups, n_total, h_stat, chi2_crit, reject).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    vg = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("cnt"))
    )
    vtot = vg.groupBy("value").agg(F.sum("cnt").alias("cnt_v"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vtot.select(
        "value",
        "cnt_v",
        (
            2 * F.coalesce(F.sum("cnt_v").over(w), F.lit(0))
            + F.col("cnt_v")
            + 1
        ).alias("rank2"),
    )
    per_group = (
        vg.join(ranked.select("value", "rank2"), "value")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_g"),
            F.sum(F.col("cnt") * F.col("rank2")).alias("r2_g"),
        )
    )
    # term_g = round(R2_g^2 / n_g): R2_g exact bigint -> identical
    # double on both engines; rounded to an exact integer so the
    # k-term sum is fold-order-free
    terms = per_group.select(
        "n_g",
        F.round(
            F.col("r2_g").cast("double")
            * F.col("r2_g").cast("double")
            / F.col("n_g"),
            0,
        )
        .cast("long")
        .alias("term"),
    )
    ties = vtot.agg(
        F.sum(
            F.col("cnt_v") * F.col("cnt_v") * F.col("cnt_v") - F.col("cnt_v")
        ).alias("tie_sum")
    )
    agg = terms.agg(
        F.count("*").alias("k_groups"),
        F.sum("n_g").alias("n_total"),
        F.sum("term").alias("s_terms"),
    ).join(F.broadcast(ties))
    n = F.col("n_total")
    # H = 12/(N(N+1)) * sum(R_g^2/n_g) - 3(N+1); with doubled ranks
    # R2 = 2R the first factor becomes 3/(N(N+1))
    h_raw = (
        F.lit(3.0) * F.col("s_terms") / (n * (n + 1)) - 3 * (n + 1)
    )
    # N^3 in double (an exact bigint cube overflows past N ~ 2e6)
    n_d = n.cast("double")
    correction = F.lit(1.0) - F.col("tie_sum") / (n_d * n_d * n_d - n_d)
    h_stat = F.round(h_raw / correction, 4)
    df1 = F.col("k_groups") - F.lit(1)
    exact = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pair in [
                    (1, 3.8415), (2, 5.9915), (3, 7.8147), (4, 9.4877),
                    (5, 11.0705), (6, 12.5916), (7, 14.0671), (8, 15.5073),
                    (9, 16.9190), (10, 18.3070), (11, 19.6751), (12, 21.0261),
                ]
                for x in pair
            ]
        ),
        df1.cast("int"),
    )
    # Wilson-Hilferty beyond the table: chi2 ~ df*(1 - 2/(9df) + z*sqrt(2/(9df)))^3
    wh = df1 * F.pow(
        F.lit(1.0)
        - F.lit(2.0) / (F.lit(9.0) * df1)
        + F.lit(1.6448536) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * df1)),
        F.lit(3.0),
    )
    crit = F.round(F.coalesce(exact, wh), 4)
    return agg.select(
        F.col("k_groups").cast("int").alias("k_groups"),
        "n_total",
        h_stat.alias("h_stat"),
        crit.alias("chi2_crit"),
        (h_stat >= crit).alias("reject"),
    )


def hhi_concentration(events: DataFrame) -> DataFrame:
    """Herfindahl-Hirschman concentration of per-user activity within
    each event type -- the "is this metric driven by a few whales?"
    audit every usage dashboard needs before trusting a mean (HHI =
    sum of squared user shares; 1/HHI is the effective number of
    contributing users).

    Integer-exact construction: shares are never materialized --
    HHI = sum(cnt_u^2) / total^2, where both numerator and
    denominator are exact BIGINTs from one (type, user) count
    collapse, so the only float exposure is the final division
    (rounded 6) on both engines. A fold of per-user double shares
    would be order-dependent; this is not.

    Plan: one combinable (type, user) aggregate, then an alphabet-
    sized rollup. Two keyed shuffles, both on small keys; nothing
    driver-side.

    Emits (event_type, n_users, n_events, hhi, effective_users)
    where effective_users = round(total^2 / sum(cnt^2), 4).

    Reference licence: grouped double-aggregation -- the reference's
    map -> shuffle -> grouped-reduce core applied twice (SURVEY.md
    §2A rows 4,7,8).
    """
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("cnt").alias("n_events"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.round(
                F.col("sq")
                / (F.col("n_events").cast("double") * F.col("n_events")),
                6,
            ).alias("hhi"),
            F.round(
                F.col("n_events").cast("double")
                * F.col("n_events")
                / F.col("sq"),
                4,
            ).alias("effective_users"),
        )
    )


def quantile_sketch(events: DataFrame, bins: int = 256) -> DataFrame:
    """Mergeable fixed-bin quantile sketch per event type -- the
    deterministic stand-in for t-digest/KLL in the sketch family
    (next to ``sketch_hll_mergeable`` and ``sketch_countmin_topk``):
    per-partition histograms over a common [min, max] grid merge
    associatively (the partial->final aggregate IS the sketch merge),
    and quantiles read off the merged counts by linear interpolation
    inside the straddling bin. Unlike ``approx_percentile_stats``
    (Spark's opaque sketch, rows-only check) this sketch's estimate
    is exactly reproducible in SQL, so it carries a full hash oracle.

    Determinism: bin ids come from floor((v - lo) * bins / (hi - lo))
    on exact per-type min/max (no arithmetic on lo/hi, both are data
    values); counts and cumulative counts are exact integers; the
    interpolation reads only integers plus lo/width. Identical IEEE
    expressions on identical operands on both engines, rounded once.

    Plan: one per-type (lo, hi, n) aggregate broadcast back (alphabet
    -sized), one (type, bin) count collapse, a cumulative window over
    each type's <= ``bins`` rows, and a 3-quantile fan-out on the
    straddling bins only. Nothing after the first aggregate scales
    with events.

    Emits (event_type, n_events, q, est).

    Reference licence: grouped double-aggregation + sorted groups
    (SURVEY.md §2A rows 4,6,7,8).
    """
    stats = events.filter(F.col("value").isNotNull()).groupBy(
        "event_type"
    ).agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = (
        events.filter(F.col("value").isNotNull())
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "lo",
            "hi",
            "n",
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        * bins
                        / (F.col("hi") - F.col("lo"))
                    ),
                    F.lit(bins - 1),
                )
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("event_type", "lo", "hi", "n", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    qs = F.explode(
        F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
    ).alias("q")
    fan = cum.select("*", qs).withColumn(
        "target", F.ceil(F.col("q") * F.col("n"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    est = F.round(
        F.col("lo")
        + width
        * (
            F.col("bin")
            + (F.col("target") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt")
        ),
        6,
    )
    return (
        fan.filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            "q",
            est.alias("est"),
        )
    )


def spearman_corr(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between the metric value and event
    TIME per event type -- the monotone-trend detector
    (``stats_correlation``'s Pearson sees only linear association;
    ``trend_regression`` fits a line; Spearman answers "is this
    metric drifting monotonically at all?" robustly to outliers and
    nonlinearity).

    Tie discipline (the mannwhitney/kruskal contract): value ranks
    are average ranks carried DOUBLED as exact integers off one
    (type, value) alphabet collapse joined back; time ranks are
    2 * row_number (timestamps are unique per the (ts, event_id)
    total order). The five per-type sums (n, sum u, sum u^2, sum uv,
    sum v^2-free closed forms where possible) are exact BIGINTs; the
    final Pearson-on-ranks combination runs in double, identically
    ordered on both engines, rounded 4.

    Emits (event_type, n_events, spearman_rho).
    """
    vg = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("cnt"))
    )
    w_val = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vg.select(
        "event_type",
        "value",
        (
            2 * F.coalesce(F.sum("cnt").over(w_val), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("u"),
    )
    w_ts = Window.partitionBy("event_type").orderBy("ts", "event_id")
    rows = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", "value", "ts", "event_id")
        .withColumn("v", 2 * F.row_number().over(w_ts))
        .join(ranked, ["event_type", "value"])
    )
    agg = rows.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("suv") - F.col("su").cast("double") * F.col("sv")
    den = F.sqrt(
        (n * F.col("suu") - F.col("su").cast("double") * F.col("su"))
        * (n * F.col("svv") - F.col("sv").cast("double") * F.col("sv"))
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(num / den, 4).alias("spearman_rho"),
    )


def benford_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of order amounts -- the
    classic fraud/synthetic-data screen (organically-grown magnitude
    distributions put digit d first with probability log10(1+1/d);
    fabricated or capped amounts don't): observed first-digit counts
    against the Benford expectation, with each digit's excess.

    First digit extracted via STRING math on exact integer cents
    (floor(log10(x)) flips below powers of ten in float, string
    heads cannot); the expectation's one transcendental
    (log10(1+1/d)) evaluates on both engines from the same 9 digit
    constants. Per-digit rows, no cross-digit fold -- the chi-square
    rides as an exact integer micro-unit sum.

    Emits (digit, n_obs, expected, excess_pct, chi2_micro) where
    chi2_micro is the digit's (obs-exp)^2/exp in integer micro-units
    (sum them for the global statistic).
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    exp = F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return obs.join(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(exp, 4).alias("expected"),
        F.round((F.col("n_obs") - exp) / exp * 100.0, 4).alias("excess_pct"),
        F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp * 1e6)
        .cast("long")
        .alias("chi2_micro"),
    )


def interarrival_burstiness(events: DataFrame) -> DataFrame:
    """Inter-arrival burstiness profile per event type -- the
    "is this stream Poisson or bursty" diagnostic capacity planning
    and anomaly baselines start from: coefficient of variation of the
    per-user inter-arrival gaps, and the Goh-Barabasi burstiness
    B = (cv - 1)/(cv + 1) (B = 0 pure Poisson, B -> 1 bursty,
    B < 0 regular/clocked).

    Gaps are integer SECONDS (truncated micros -- keeps the squared
    sum inside int64 through ~1e5 gaps/type at the fixture's 30-day
    range); mean/cv derive row-locally from the three exact integer
    sums (n, sum g, sum g^2), identical IEEE on both engines.

    Emits (event_type, n_gaps, mean_gap_s, cv, burstiness).
    """
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    gap = F.floor((us - F.lag(us).over(w)) / F.lit(1_000_000)).cast("long")
    gaps = events.select(
        "event_type", gap.alias("g")
    ).filter(F.col("g").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("ssq"),
    )
    n = F.col("n_gaps")
    # mean to centiseconds at INTEGER scale (s/n lands on exact .xx5
    # boundaries where round(double, 2) splits engines), then one
    # exact division back
    mean = F.round(F.col("s") * F.lit(100.0) / n).cast("long") / F.lit(
        100.0
    )
    # population sd / mean: the three sums are exact integers, but
    # n*ssq and s*s overflow int64 once gaps reach day scale at
    # sf0.1 (caught by the bench run) -- combine in DOUBLE instead:
    # identical bigint operands give identical doubles on both
    # engines, which is all cross-engine determinism needs
    cv = F.sqrt(
        n.cast("double") * F.col("ssq")
        - F.col("s").cast("double") * F.col("s")
    ) / F.col("s")
    return agg.select(
        "event_type",
        "n_gaps",
        mean.alias("mean_gap_s"),
        F.round(cv, 4).alias("cv"),
        F.round((cv - 1) / (cv + 1), 4).alias("burstiness"),
    )


def zscore_cross_sectional(events: DataFrame) -> DataFrame:
    """Cross-sectional daily activity z-score per (day, user) -- the
    "who is unusually active TODAY vs everyone else" flag
    (``hourly_anomaly_zscore`` compares a cell to its own history;
    this compares users to their peers within one day -- the
    bot/incident triage cut).

    Day-level peer stats fold from exact integer daily counts, and
    the z-score uses the all-integer identity
    z = (m*cnt - S) / sqrt(m*ssq - S*S) (algebraically equal to
    (cnt - mean)/sd_pop, but every value under the sqrt is an exact
    BIGINT, so both engines compute identical doubles). Days where
    all users tie (sd 0) emit NULL.

    Plan: one (day, user) count collapse, one day-level rollup
    broadcast back (366 rows/year), row-local arithmetic.

    Emits (day, user_id, n_events, zscore).
    """
    du = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).agg(F.count("*").alias("cnt"))
    stats = du.groupBy("day").agg(
        F.count("*").alias("m"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ssq"),
    )
    denom_sq = F.col("m") * F.col("ssq") - F.col("s") * F.col("s")
    z = F.when(
        denom_sq > 0,
        F.round(
            (F.col("m") * F.col("cnt") - F.col("s")).cast("double")
            / F.sqrt(denom_sq.cast("double")),
            4,
        ),
    )
    return du.join(F.broadcast(stats), "day").select(
        "day",
        "user_id",
        F.col("cnt").alias("n_events"),
        z.alias("zscore"),
    )


def cohens_d(events: DataFrame) -> DataFrame:
    """Cohen's d effect size per event type over the deterministic
    A/B user hash -- the magnitude readout the significance family
    (``stats_ttest_welch``, ``ab_test_ztest``) deliberately omits: a
    large-n experiment can be "significant" at d = 0.01; decision
    memos need the standardized difference itself, plus Hedges' g
    (the small-sample bias correction).

    Same engine-exact construction as the Welch test (per-arm means
    rounded 6 pin the centering constants, ONE grouped pass of
    centered squares): d = (mean_a - mean_b)/s_pooled with
    s_pooled = sqrt((css_a + css_b)/(n_a + n_b - 2)), g = d * (1 -
    3/(4(n_a+n_b) - 9)). The magnitude bucket cuts on the ROUNDED d
    so the label can never straddle engines.

    Emits (event_type, n_a, n_b, cohens_d, hedges_g, magnitude).
    """
    variant = F.when(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8"),
        "A",
    ).otherwise("B")
    base = events.select("event_type", variant.alias("variant"), "value")
    mu = base.groupBy("event_type", "variant").agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    dv = F.col("value") - F.col("mu")
    cell = (
        base.join(F.broadcast(mu), ["event_type", "variant"])
        .groupBy("event_type", "variant")
        .agg(
            F.count("*").alias("n"),
            F.max("mu").alias("mu"),
            F.sum(dv * dv).alias("css"),
        )
    )
    pick = lambda v, c: F.max(F.when(F.col("variant") == v, F.col(c)))  # noqa: E731
    wide = cell.groupBy("event_type").agg(
        pick("A", "n").alias("n_a"),
        pick("B", "n").alias("n_b"),
        pick("A", "mu").alias("mean_a"),
        pick("B", "mu").alias("mean_b"),
        pick("A", "css").alias("css_a"),
        pick("B", "css").alias("css_b"),
    ).filter(
        (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (F.col("css_a") + F.col("css_b") > 0)
    )
    pooled = F.sqrt(
        (F.col("css_a") + F.col("css_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = F.round((F.col("mean_a") - F.col("mean_b")) / pooled, 4)
    g = F.round(
        (F.col("mean_a") - F.col("mean_b"))
        / pooled
        * (
            F.lit(1.0)
            - F.lit(3.0) / (4 * (F.col("n_a") + F.col("n_b")) - 9)
        ),
        4,
    )
    mag = (
        F.when(F.abs(d) < 0.2, "negligible")
        .when(F.abs(d) < 0.5, "small")
        .when(F.abs(d) < 0.8, "medium")
        .otherwise("large")
    )
    return wide.select(
        "event_type",
        "n_a",
        "n_b",
        d.alias("cohens_d"),
        g.alias("hedges_g"),
        mag.alias("magnitude"),
    )


def runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test of value-sequence randomness per
    event type -- the order-sensitive check the moment family cannot
    make: a metric whose values look fine marginally can still
    alternate or trend (cache flapping, load-balancer ping-pong,
    ramp-ups), and the count of above/below-median RUNS exposes
    exactly that.

    Median pinned at 4 decimals on both engines (the winsorize fence
    discipline -- exact interpolated percentile, rounded before any
    comparison); values equal to the pinned median drop (standard
    practice). A run boundary is a lag sign change over the (ts,
    event_id) total order; a, b, and R are exact integers and the
    large-sample z derives in DOUBLE (the burstiness lesson: the
    2ab(2ab-a-b) product overflows int64 past ~1e5 rows/arm, and
    identical integer operands give identical doubles anyway).

    Plan: one per-type percentile aggregate broadcast back, ONE
    (type)-keyed window for the lag, one rollup. Emits
    (event_type, n_above, n_below, n_runs, zscore, random_order)
    with |z| < 1.96 reading as consistent-with-random.
    """
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    signed = (
        events.join(F.broadcast(med), "event_type")
        .filter(F.col("value") != F.col("med"))
        .select(
            "event_type",
            "ts",
            "event_id",
            (F.col("value") > F.col("med")).cast("int").alias("sgn"),
        )
    )
    runs = signed.select(
        "event_type",
        "sgn",
        F.when(
            F.lag("sgn").over(w).isNull()
            | (F.lag("sgn").over(w) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("sgn").alias("a"),
        F.sum(F.lit(1) - F.col("sgn")).alias("b"),
        F.sum("new_run").alias("r"),
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    n = a + b
    mu = F.lit(1.0) + 2 * a * b / n
    var = 2 * a * b * (2 * a * b - a - b) / (n * n * (n - 1))
    z = F.round((F.col("r") - mu) / F.sqrt(var), 4)
    return agg.filter((F.col("a") > 0) & (F.col("b") > 0)).select(
        "event_type",
        F.col("a").alias("n_above"),
        F.col("b").alias("n_below"),
        F.col("r").alias("n_runs"),
        z.alias("zscore"),
        (F.abs(z) < 1.96).alias("random_order"),
    )


def funnel_conversion_windowed(
    events: DataFrame,
    stages: tuple[str, ...] = ("signup", "view", "click", "purchase"),
    window_hours: int = 72,
) -> DataFrame:
    """Conversion funnel with a per-step TIME WINDOW -- the constraint
    every product funnel tool exposes and ``funnel_conversion``
    deliberately omits: stage i+1 counts only if it happens within
    ``window_hours`` of the user's entry into stage i (a purchase
    three weeks after the click is a different journey, not a
    conversion).

    Same min-ts chain, one extra upper bound per step: the filter
    becomes t <= ts <= t + window. Plan depth is still the constant
    stage count, every shuffle keys on user_id, and the window
    arithmetic is integer microseconds (no float time math).

    Emits one row per stage (stage, n_users), monotone
    non-increasing and <= the unconstrained funnel stage-by-stage.
    """
    win_us = window_hours * 3600 * 1_000_000
    reached = None
    counts = []
    for i, stage in enumerate(stages):
        ev = events.filter(F.col("event_type") == stage)
        if reached is None:
            reached = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reached = (
                ev.join(reached, "user_id")
                .filter(
                    (F.col("ts") >= F.col("t"))
                    & (
                        F.unix_micros("ts")
                        <= F.unix_micros("t") + F.lit(win_us)
                    )
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        counts.append(
            reached.agg(F.count("*").alias("n_users")).select(
                F.lit(f"L{i + 1}_{stage}").alias("stage"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# ------------------------------------------------------------- round 9
# Classical-statistics and product-analytics closers. Shared design
# rule (same as the round-8 stats family): every statistic is built
# from EXACT INTEGER sufficient statistics (counts, cent-sums,
# doubled ranks) folded by keyed aggregation, with at most ONE double
# expression at the end -- so the identical closed form evaluates
# bit-equal on Spark and the DuckDB oracle regardless of fold order.
# 1-row broadcast totals ride the allowlisted BroadcastNestedLoopJoin
# pattern (benford_audit precedent); nothing collects.


def chisq_independence(events: DataFrame) -> DataFrame:
    """Chi-squared test of independence on the event_type x
    day-of-week contingency table -- "does activity mix shift by
    weekday?", the screening test behind seasonality-aware sampling.

    One partial+final count aggregation builds the (types x 7) cell
    table; marginals and the grand total are broadcast back (each is
    at most |types|+7 rows + one 1-row total regardless of scale).
    Expected counts rt*ct/n stay an exact-integer product divided
    once in double; each cell's chi-square contribution ships as
    integer micro-units so the global statistic is a plain integer
    SUM downstream (no cross-cell double fold).

    Emits (event_type, dow, n_obs, expected, chi2_micro); dow is
    Spark's 1=Sunday..7=Saturday convention (oracle shifts DuckDB's
    0-based one).
    """
    cells = (
        events.groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count("*").alias("n_obs"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("n_obs").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("n_obs").alias("ct"))
    tot = cells.agg(F.sum("n_obs").alias("n"))
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.round(exp, 4).alias("expected"),
            F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp * 1e6)
            .cast("long")
            .alias("chi2_micro"),
        )
    )


def cramers_v(events: DataFrame) -> DataFrame:
    """Cramer's V effect size for the same event_type x day-of-week
    contingency -- the "is the dependence big enough to matter"
    companion of ``chisq_independence`` (chi-square grows with n;
    V in [0,1] does not).

    The global chi-square is the exact integer SUM of the per-cell
    micro-unit contributions (one aggregation over the cell table --
    never a double fold), and V = sqrt(chi2 / (n * (min(r,c) - 1)))
    is one double expression off four exact integers.

    Emits ONE row (n_obs, dof, chi2, cramers_v).
    """
    cells = chisq_independence(events)
    agg = cells.agg(
        F.sum("n_obs").alias("n"),
        F.sum("chi2_micro").alias("chi2_micro"),
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("dow").alias("c"),
    )
    chi2 = F.col("chi2_micro") / 1e6
    kmin = F.least(F.col("r"), F.col("c")) - 1
    return agg.select(
        F.col("n").cast("long").alias("n_obs"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.col("n") * kmin)), 4).alias("cramers_v"),
    )


def _daily_counts(events: DataFrame) -> DataFrame:
    """(day, x=n_events, y=value-cent-sum) daily series -- the shared
    substrate of the rank/trend statistics below. One partial+final
    aggregation; the output is day-count-sized (bounded by calendar
    span, not data volume)."""
    return events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count("*").alias("x"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"),
    )


def kendall_tau_daily(events: DataFrame) -> DataFrame:
    """Kendall's tau-b rank correlation between daily event count and
    daily value volume -- the robust are-they-moving-together check
    that Pearson's r (stats_correlation) gets wrong under outliers.

    The day-pair join is quadratic IN CALENDAR DAYS (n*(n-1)/2 pairs
    over the day-count-bounded daily table -- 435 pairs for a month,
    ~66k for a decade), never in events: the O(N) reduction to the
    daily series happens first, so at 100 TB the pair stage still
    sees only days. Concordant/discordant/tie counts are exact
    integers; tau-b's sqrt runs once in double.

    Emits ONE row (n_days, n_concordant, n_discordant, tau_b).
    """
    d = _daily_counts(events)
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.day") < F.col("b.day")
    ).select(
        (F.col("b.x") - F.col("a.x")).alias("dx"),
        (F.col("b.y") - F.col("a.y")).alias("dy"),
    )
    agg = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(
            ((F.col("dx") > 0) & (F.col("dy") > 0)).cast("long")
            + ((F.col("dx") < 0) & (F.col("dy") < 0)).cast("long")
        ).alias("conc"),
        F.sum(
            ((F.col("dx") > 0) & (F.col("dy") < 0)).cast("long")
            + ((F.col("dx") < 0) & (F.col("dy") > 0)).cast("long")
        ).alias("disc"),
        F.sum((F.col("dx") == 0).cast("long")).alias("tx"),
        F.sum((F.col("dy") == 0).cast("long")).alias("ty"),
    )
    n_days = d.agg(F.count("*").alias("n_days"))
    return agg.join(F.broadcast(n_days)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("conc").cast("long").alias("n_concordant"),
        F.col("disc").cast("long").alias("n_discordant"),
        F.round(
            F.when(
                (F.col("n0") > F.col("tx")) & (F.col("n0") > F.col("ty")),
                (F.col("conc") - F.col("disc"))
                / F.sqrt(
                    (F.col("n0") - F.col("tx")).cast("double")
                    * (F.col("n0") - F.col("ty"))
                ),
            ),
            4,
        ).alias("tau_b"),
    )


def theil_sen_daily(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of the daily event count -- the
    median-of-pairwise-slopes estimator that one outage day cannot
    drag (unlike ``trend_regression``'s least squares).

    Same scale shape as ``kendall_tau_daily``: slopes are computed
    over the day-count-bounded pair set only. Each slope is ONE
    double division of exact integers (count delta / day delta), the
    median is the exact order statistic both engines interpolate
    identically, and the intercept re-scans the daily table with the
    1-row slope broadcast.

    Emits ONE row (n_days, n_pairs, slope_per_day, intercept).
    """
    d = _daily_counts(events).select(
        (F.unix_micros("day") / F.lit(86_400_000_000)).cast("long").alias("t"),
        "x",
    )
    a, b = d.alias("a"), d.alias("b")
    slopes = a.join(F.broadcast(b), F.col("a.t") < F.col("b.t")).select(
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope")
    )
    med = slopes.agg(
        F.count("*").alias("n_pairs"), F.median("slope").alias("slope")
    )
    resid = d.join(F.broadcast(med)).select(
        "n_pairs",
        "slope",
        (F.col("x") - F.col("slope") * F.col("t")).alias("r"),
    )
    return resid.groupBy("n_pairs", "slope").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.median("r"), 4).alias("intercept"),
    ).select(
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("slope", 6).alias("slope_per_day"),
        "intercept",
    )


def grubbs_daily(events: DataFrame) -> DataFrame:
    """Grubbs' max-deviation outlier test over the daily event-count
    series -- "is the most extreme day statistically surprising?",
    the gate before excluding an incident day from baselines.

    Deviations are compared as |n*y - s| (exact integers -- the
    argmax day is decided without ANY floating point), and the G
    statistic is one double expression off the exact (n, s, ssq)
    moment integers. The suspect day ties to the earliest calendar
    day, matching the oracle's deterministic order.

    Emits ONE row (n_days, suspect_day, dev_scaled, g_stat).
    """
    d = _daily_counts(events)
    mo = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ssq"),
    )
    dev = d.join(F.broadcast(mo)).select(
        "day",
        "n",
        "s",
        "ssq",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("dev"),
    )
    w = Window.orderBy(F.col("dev").desc(), F.col("day").asc())
    top = dev.select(
        "*", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    g = F.col("dev") / F.sqrt(
        F.col("n").cast("double")
        * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))
        / (F.col("n") - 1)
    )
    return top.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("day").alias("suspect_day"),
        F.col("dev").cast("long").alias("dev_scaled"),
        F.round(g, 4).alias("g_stat"),
    )


def wilcoxon_signed_rank(events: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank test of per-user value volume, first half
    of the month vs second -- the paired nonparametric before/after
    test (the within-subjects sibling of ``stats_mannwhitney``).

    Per-user cent-sums for each half come from one keyed aggregation;
    zero differences drop (standard Wilcoxon practice); |d| ranks are
    carried DOUBLED as exact integers so midrank ties stay integral
    (the mannwhitney trick), and the normal-approximation z is one
    double expression off the exact integer (n, W+) pair. No tie
    correction in sigma (documented; ties in cent-sums are rare and
    the identical formula runs on both engines).

    Emits ONE row (n_pairs, w_plus2, w_minus2, z_stat).
    """
    # round, not floor: 9.98 * 100 is 997.99..., and floor would make
    # the cents of d and -d differ in magnitude (W+/W- stop swapping
    # when every difference flips sign)
    cents = F.round(F.col("value") * 100).cast("long")
    halves = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") <= 15, cents).otherwise(F.lit(0))
        ).alias("a"),
        F.sum(
            F.when(F.dayofmonth("ts") >= 16, cents).otherwise(F.lit(0))
        ).alias("b"),
    )
    diffs = halves.select(
        (F.col("b") - F.col("a")).alias("d")
    ).filter(F.col("d") != 0)
    # doubled midranks over |d|: rank2 = 2*(#strictly smaller) + (#tied) + 1
    byval = diffs.groupBy(F.abs("d").alias("ad")).agg(
        F.count("*").alias("cnt"),
        F.sum((F.col("d") > 0).cast("long")).alias("pos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.select(
        "ad",
        "cnt",
        "pos",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("rank2"),
    )
    agg = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("pos") * F.col("rank2")).alias("w2p"),
        F.sum((F.col("cnt") - F.col("pos")) * F.col("rank2")).alias("w2m"),
    )
    n = F.col("n")
    z = (
        F.col("w2p").cast("double") - (n * (n + 1)).cast("double") / 2
    ) / F.sqrt(n.cast("double") * (n + 1) * (2 * n + 1) / 6)
    return agg.select(
        n.cast("long").alias("n_pairs"),
        F.col("w2p").cast("long").alias("w_plus2"),
        F.col("w2m").cast("long").alias("w_minus2"),
        F.round(z, 4).alias("z_stat"),
    )


def ljung_box_daily(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Ljung-Box portmanteau test over the daily event-count series:
    are the first ``max_lag`` autocorrelations jointly zero? -- the
    is-it-white-noise gate before trusting an anomaly baseline.

    Integer-exact construction: with s = sum(y), each lag's
    autocovariance numerator sums (n*y_t - s)(n*y_{t-k} - s) --
    EXACT integers -- as is the lag-0 denominator, so every r_k is
    one integer-ratio double. The cumulative Q statistic folds the
    max_lag r_k^2/(n-k) terms in lag order on both engines (a fixed
    7-term sequence, not a data-ordered fold).

    Emits one row per lag (lag, n_days, autocorr, q_cumulative).
    """
    d = _daily_counts(events)
    mo = d.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    base = d.join(F.broadcast(mo)).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    wday = Window.orderBy("day")
    lagged = base.select(
        "n",
        "dev",
        *[
            F.lag("dev", k).over(wday).alias(f"dev_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = lagged.groupBy("n").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"dev_{k}")).alias(f"num_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    # all max_lag rows come off the ONE aggregate row via an array
    # explode -- a per-lag select + union would re-execute the whole
    # daily reduction per lag (28 exchanges measured, 4 after)
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.round(
                    F.col(f"num_{k}").cast("double") / F.col("den"), 6
                ).alias("autocorr"),
                F.round(
                    F.col("n").cast("double")
                    * (F.col("n") + 2)
                    * sum(
                        (
                            (
                                F.col(f"num_{j}").cast("double")
                                / F.col("den")
                            )
                            ** 2
                            / (F.col("n") - j)
                            for j in range(1, k + 1)
                        ),
                        F.lit(0.0),
                    ),
                    4,
                ).alias("q_cumulative"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.explode(lag_structs).alias("e"),
    ).select(
        F.col("e.lag").alias("lag"),
        "n_days",
        F.col("e.autocorr").alias("autocorr"),
        F.col("e.q_cumulative").alias("q_cumulative"),
    )


def session_bounce(events: DataFrame) -> DataFrame:
    """Daily bounce rate: share of 30-minute-gap sessions that
    contain exactly one event -- the canonical engagement-quality
    ratio next to ``session_stats``' volume view.

    Composes the sessionize kernel (one user-keyed exchange shared
    with the gap window), then ONE day-keyed count aggregation;
    the ratio is integer/integer rounded once.

    Emits (day, n_sessions, n_bounces, bounce_rate).
    """
    from .temporal import session_stats

    ss = session_stats(events)
    return (
        ss.groupBy(F.date_trunc("day", "session_start").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            "day",
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("n_bounces").cast("long").alias("n_bounces"),
            F.round(
                F.col("n_bounces") / F.col("n_sessions").cast("double"), 4
            ).alias("bounce_rate"),
        )
    )


def power_user_curve(events: DataFrame) -> DataFrame:
    """Active-days distribution (the L28-style power-user curve):
    how many users were active exactly k days, with the cumulative
    "k or more days" count read top-down -- the engagement-depth
    report behind DAU/MAU interpretation.

    Two keyed aggregations (distinct (user, day) -> per-user day
    count -> histogram) + one cumulative window over the
    day-count-bounded histogram. All integers.

    Emits (active_days, n_users, n_users_at_least).
    """
    per_user = (
        events.select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("active_days"))
    )
    hist = per_user.groupBy("active_days").agg(F.count("*").alias("n_users"))
    w = Window.orderBy(F.col("active_days").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        F.col("active_days").cast("long").alias("active_days"),
        F.col("n_users").cast("long").alias("n_users"),
        F.sum("n_users").over(w).cast("long").alias("n_users_at_least"),
    )


def churn_hazard(events: DataFrame) -> DataFrame:
    """Discrete-time churn hazard by tenure week: of the users who
    survived INTO week w (since their own first activity), what share
    was last seen during week w -- the retention curve's derivative,
    per-tenure-bucket (the discrete sibling of
    ``survival_kaplan_meier``'s event-time view).

    One per-user (first, last) aggregation, a week-count-bounded
    histogram of last-seen weeks, and a suffix-sum window turn
    "users at risk in week w" into exact integers; the hazard is one
    integer ratio.

    Emits (tenure_week, n_churned, n_at_risk, hazard).
    """
    span = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day"),
        F.max(F.date_trunc("day", "ts")).alias("last_day"),
    )
    by_week = span.select(
        F.floor(
            F.datediff("last_day", "first_day") / 7
        ).cast("long").alias("tenure_week")
    ).groupBy("tenure_week").agg(F.count("*").alias("n_churned"))
    w = Window.orderBy(F.col("tenure_week").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return by_week.select(
        "tenure_week",
        F.col("n_churned").cast("long").alias("n_churned"),
        F.sum("n_churned").over(w).cast("long").alias("n_at_risk"),
    ).select(
        "tenure_week",
        "n_churned",
        "n_at_risk",
        F.round(
            F.col("n_churned") / F.col("n_at_risk").cast("double"), 4
        ).alias("hazard"),
    )


def changepoint_binary(events: DataFrame) -> DataFrame:
    """Binary changepoint detection on the daily event-count series:
    the single split minimizing total within-segment squared error --
    "when did the level shift?", the first question after a drift
    alert fires.

    Prefix sums of the exact integer (y, y^2) series make every
    candidate split's SSE one closed-form double off integers; the
    argmin decides on (sse, day) so ties break deterministically.
    Day-count-bounded throughout after the O(N) daily reduction.

    Emits ONE row (split_day, n_days, sse_full, sse_split, rel_drop)
    -- split_day is the first day of the RIGHT segment.
    """
    d = _daily_counts(events)
    wday = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = d.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.sum("x").over(wday).alias("s_k"),
        F.sum(F.col("x") * F.col("x")).over(wday).alias("q_k"),
        F.lead("day").over(Window.orderBy("day")).alias("next_day"),
    )
    tot = pre.agg(
        F.max("k").alias("n"), F.max("s_k").alias("s_n"), F.max("q_k").alias("q_n")
    )
    cand = pre.join(F.broadcast(tot)).filter(F.col("k") < F.col("n"))
    sse_left = F.col("q_k") - (F.col("s_k") * F.col("s_k")).cast("double") / F.col("k")
    sse_right = (
        F.col("q_n")
        - F.col("q_k")
        - ((F.col("s_n") - F.col("s_k")) * (F.col("s_n") - F.col("s_k"))).cast(
            "double"
        )
        / (F.col("n") - F.col("k"))
    )
    scored = cand.select(
        "day",
        "next_day",
        "n",
        "s_n",
        "q_n",
        (sse_left + sse_right).alias("sse"),
    )
    w = Window.orderBy(F.col("sse").asc(), F.col("day").asc())
    best = scored.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") == 1
    )
    sse_full = F.col("q_n") - (F.col("s_n") * F.col("s_n")).cast("double") / F.col(
        "n"
    )
    return best.select(
        F.col("next_day").alias("split_day"),
        F.col("n").cast("long").alias("n_days"),
        F.round(sse_full, 4).alias("sse_full"),
        F.round(F.col("sse"), 4).alias("sse_split"),
        F.round(
            F.when(sse_full > 0, (sse_full - F.col("sse")) / sse_full), 4
        ).alias("rel_drop"),
    )


# ------------------------------------------------- round 9, batch 2


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning user split: of the day's active users,
    how many were seen for the FIRST time that day -- the
    acquisition-vs-retention decomposition every growth dashboard
    leads with.

    Distinct (user, day) reduction, a per-user min-day window on the
    SAME user key (one exchange), then a day-keyed rollup. All
    integers plus one ratio.

    Emits (day, n_active, n_new, n_returning, new_share).
    """
    du = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id")
    flagged = du.select(
        "day", (F.col("day") == F.min("day").over(w)).cast("long").alias("is_new")
    )
    return flagged.groupBy("day").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum("is_new").cast("long").alias("n_new"),
        (F.count("*") - F.sum("is_new")).cast("long").alias("n_returning"),
        F.round(F.sum("is_new") / F.count("*").cast("double"), 4).alias(
            "new_share"
        ),
    )


def value_pareto(events: DataFrame, buckets: int = 10) -> DataFrame:
    """Value-concentration (Pareto) curve: users ranked by total
    value volume, bucketed into deciles, with each decile's share
    and the running cumulative share -- the "do 10% of users carry
    80% of value" readout that complements the single-number Gini /
    HHI views.

    Per-user cent totals from one keyed aggregation; ntile over the
    (cents DESC, user_id) total order is deterministic on both
    engines; shares are integer-cent ratios. The rank window runs
    over the USER-count-sized table, not events.

    Emits (decile, n_users, value_cents, share, cum_share).
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("user_id"))
    bucketed = per_user.select(
        F.ntile(buckets).over(w).alias("decile"), "cents"
    ).groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return bucketed.select(
        F.col("decile").cast("int").alias("decile"),
        "n_users",
        "value_cents",
        F.round(
            F.col("value_cents") / F.sum("value_cents").over(wt).cast("double"),
            4,
        ).alias("share"),
        F.round(
            F.sum("value_cents").over(wc)
            / F.sum("value_cents").over(wt).cast("double"),
            4,
        ).alias("cum_share"),
    )


def type_share_trend(events: DataFrame) -> DataFrame:
    """Event-type mix trend: each type's share of the day's events
    and the share's day-over-day delta -- the mix-shift monitor that
    catches "errors doubled as a share of traffic" even when
    absolute volume moved too.

    One (day, type) count aggregation; the day total is a window
    over the same keys (no second shuffle), the delta one lag per
    type. Integer counts, two rounded ratios.

    Emits (day, event_type, n_events, share, share_delta).
    """
    g = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    wd = Window.partitionBy("day")
    share = F.round(F.col("n") / F.sum("n").over(wd).cast("double"), 4)
    wt = Window.partitionBy("event_type").orderBy("day")
    with_share = g.select(
        "day", "event_type", F.col("n").cast("long").alias("n_events"),
        share.alias("share"),
    )
    return with_share.select(
        "day",
        "event_type",
        "n_events",
        "share",
        F.round(
            F.col("share") - F.lag("share").over(wt), 4
        ).alias("share_delta"),
    )


def dp_randomized_response(
    events: DataFrame, p_truth: float = 0.75, cut: float = 50.0
) -> DataFrame:
    """Randomized-response release of a per-event binary attribute
    (value >= cut): each row reports its TRUE bit with probability
    ``p_truth``, else the flipped bit, and the aggregate debiases
    with the standard (rate - (1-p)) / (2p - 1) estimator -- the
    local-DP counting mechanism (Warner 1965), dp_noisy_counts'
    per-row-noise sibling.

    The coin is DETERMINISTIC md5-per-event (same 4-hex-digit
    midpoint uniform both engines mirror), so the release is
    reproducible and oracle-checkable; a production release would
    swap in a sealed RNG seed, changing nothing in the plan. One
    grouped aggregation, noise row-local.

    Emits (event_type, n, n_reported, reported_rate, est_true_rate).
    """
    h = F.md5(F.concat_ws("|", F.lit("rr"), F.col("event_id").cast("string")))
    u = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") + F.lit(0.5)
    ) / F.lit(65536.0)
    true_bit = (F.col("value") >= cut).cast("long")
    reported = F.when(u < p_truth, true_bit).otherwise(1 - true_bit)
    g = events.select("event_type", reported.alias("rep")).groupBy(
        "event_type"
    ).agg(F.count("*").alias("n"), F.sum("rep").alias("n_rep"))
    rate = F.col("n_rep") / F.col("n").cast("double")
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("n_rep").cast("long").alias("n_reported"),
        F.round(rate, 4).alias("reported_rate"),
        F.round(
            (rate - (1.0 - p_truth)) / (2.0 * p_truth - 1.0), 4
        ).alias("est_true_rate"),
    )


def repeat_interval(orders: DataFrame) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between
    each customer's consecutive orders -- mean plus exact p50/p90,
    the reorder-cycle number inventory and lifecycle marketing both
    key on.

    One customer-keyed lag window produces integer day gaps; the
    median/p90 run through the distributed order-statistic kernel
    (``exact_quantiles``) -- NOT single-buffer percentile, which
    would hold every gap in one aggregation buffer at corpus scale.

    Emits ONE row (n_gaps, mean_gap_days, p50_gap_days,
    p90_gap_days).
    """
    from .relational import exact_quantiles

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap")
    ).filter(F.col("gap").isNotNull())
    stats = gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.round(F.sum("gap") / F.count("*").cast("double"), 4).alias(
            "mean_gap_days"
        ),
    )
    q = exact_quantiles(gaps.select(F.col("gap").cast("double").alias("gap")),
                        "gap", [0.5, 0.9])
    pivoted = q.select(
        F.element_at("bounds", 1).alias("p50_gap_days"),
        F.element_at("bounds", 2).alias("p90_gap_days"),
    )
    return stats.join(F.broadcast(pivoted))


def ship_delay_profile(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Order-to-ship delay histogram by week: how long line items
    take to ship after their order date, with each week-bucket's
    share -- the fulfillment-SLA profile.

    One keyed join on o_orderkey (the fact table's natural key),
    integer day deltas bucketed row-locally, a week-count-bounded
    histogram, and a 1-row total broadcast for shares.

    Emits (delay_week, n_items, share).
    """
    j = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        ),
        "l_orderkey",
    )
    hist = j.select(
        F.floor(
            F.datediff("l_shipdate", "o_orderdate") / 7
        ).cast("long").alias("delay_week")
    ).groupBy("delay_week").agg(F.count("*").alias("n_items"))
    tot = hist.agg(F.sum("n_items").alias("total"))
    # share rounds at INTEGER 1e-6 scale (the one rounding rule both
    # engines share on .5 boundaries -- round(x, 4) split them on the
    # sf0.01 fixture's 9/60000-style shares, measured)
    return hist.join(F.broadcast(tot)).select(
        "delay_week",
        F.col("n_items").cast("long").alias("n_items"),
        (
            F.round(
                F.col("n_items") * F.lit(1e6) / F.col("total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )


# ------------------------------------------------------------------
# round 9, batch 3: paired/blocked classical tests, serial-correlation
# diagnostics, information-theoretic association, growth accounting,
# activation latency, session concurrency.
# Reference licence: all are multi-round grouped aggregations /
# windows, the workload class the reference's map->shuffle->sort->
# reduce core exists to express (SURVEY.md section 2A;
# src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52 is its one
# shipped job).
# ------------------------------------------------------------------


def mcnemar_paired(events: DataFrame, event_type: str = "purchase") -> DataFrame:
    """McNemar's test for paired binary outcomes: did each user
    convert (>= 1 ``event_type`` event) in the FIRST half of the month
    vs the SECOND half -- the before/after test for the same subjects
    that an unpaired two-proportion z-test (ab_test_ztest) answers
    incorrectly.

    Only the discordant pairs carry signal: b = converted early but
    not late, c = the reverse; chi2 = (b - c)^2 / (b + c), NULL when
    no user disagrees with themselves. One user-keyed aggregation to
    the per-user (early, late) bit pair, then a 1-row fold of exact
    integer counts; the single double division runs once at the end.
    At 100 TB the per-user reduction is the only shuffle and the
    statistic fold is map-side partial + 1-row final.

    Emits ONE row (n_users, b_early_only, c_late_only, mcnemar_chi2).
    """
    half = F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0)
    hit = (F.col("event_type") == event_type).cast("int")
    per_user = events.groupBy("user_id").agg(
        F.max(F.when(half == 1, hit).otherwise(0)).alias("early"),
        F.max(F.when(half == 0, hit).otherwise(0)).alias("late"),
    )
    b = F.sum(((F.col("early") == 1) & (F.col("late") == 0)).cast("long"))
    c = F.sum(((F.col("early") == 0) & (F.col("late") == 1)).cast("long"))
    return per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        b.alias("b_early_only"),
        c.alias("c_late_only"),
    ).select(
        "n_users",
        "b_early_only",
        "c_late_only",
        F.round(
            F.when(
                F.col("b_early_only") + F.col("c_late_only") > 0,
                F.pow(F.col("b_early_only") - F.col("c_late_only"), 2)
                / (F.col("b_early_only") + F.col("c_late_only")).cast(
                    "double"
                ),
            ),
            4,
        ).alias("mcnemar_chi2"),
    )


def cochran_q(
    events: DataFrame,
    types: tuple = ("click", "purchase", "error"),
) -> DataFrame:
    """Cochran's Q: do the k binary treatments (did the user perform
    each of ``types`` at least once) have the same success rate
    across users -- the k-treatment generalization of McNemar.

    Q = (k-1) * (k * sum_j C_j^2 - T^2) / (k * T - sum_i R_i^2) with
    C_j the per-treatment totals, R_i the per-user row sums, T the
    grand total -- every sufficient statistic an exact integer, Q one
    double. NULL when every user has an all-equal row (denominator
    0). Shape: one user-keyed aggregation to k indicator bits, then a
    1-row fold; column totals ride the same fold as sums of bits.

    Emits ONE row (n_users, k, t_total, q_stat).
    """
    k = len(types)
    bits = [
        F.max((F.col("event_type") == t).cast("int")).alias(f"x{j}")
        for j, t in enumerate(types)
    ]
    per_user = events.groupBy("user_id").agg(*bits)
    row_sum = sum(F.col(f"x{j}") for j in range(k))
    agg = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        *[F.sum(f"x{j}").cast("long").alias(f"c{j}") for j in range(k)],
        F.sum(row_sum * row_sum).cast("long").alias("ssq_rows"),
    )
    c_sq = sum(F.col(f"c{j}") * F.col(f"c{j}") for j in range(k))
    t_total = sum(F.col(f"c{j}") for j in range(k))
    denom = F.lit(k) * t_total - F.col("ssq_rows")
    return agg.select(
        "n_users",
        F.lit(k).cast("long").alias("k"),
        t_total.cast("long").alias("t_total"),
        F.round(
            F.when(
                denom > 0,
                F.lit(k - 1)
                * (F.lit(k) * c_sq - t_total * t_total).cast("double")
                / denom.cast("double"),
            ),
            4,
        ).alias("q_stat"),
    )


def friedman_ranks(events: DataFrame) -> DataFrame:
    """Friedman rank test substrate: users are blocks, event types are
    treatments, the response is each user's count of that type
    (missing combinations count 0 via a dense user x type grid).
    Within each user the k counts are midranked; the classic
    statistic chi2_F = 12/(N k (k+1)) * sum_j R_j^2 - 3 N (k+1) is
    computed from the EXACT doubled rank sums (midranks live on the
    half-integer lattice, so 2*midrank = 2*rank + ties - 1 is an
    integer; no tie-correction factor is applied, which both engines
    agree on by construction).

    Shape: per-(user, type) count, dense-completed by a broadcast
    cross of the type dimension (k rows), midranks via one user-keyed
    window, then a k-row rank-sum aggregation; the statistic is one
    double off integer rank sums. Output is k+0 rows -- treatments
    with their doubled rank sums and the shared statistic.

    Emits (event_type, rank_sum_x2, n_blocks, friedman_stat).
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    users = events.select("user_id").distinct()
    types = events.select("event_type").distinct()
    dense = (
        users.join(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    wu = Window.partitionBy("user_id").orderBy("cnt")
    wt = Window.partitionBy("user_id", "cnt")
    ranked = dense.select(
        "user_id",
        "event_type",
        (
            F.lit(2) * F.rank().over(wu) + F.count("*").over(wt) - F.lit(1)
        ).alias("mr2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("mr2").cast("long").alias("rank_sum_x2"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    k = F.count("*")
    stat = sums.agg(
        k.cast("long").alias("k"),
        F.max("n_blocks").alias("n"),
        F.sum(
            F.col("rank_sum_x2") * F.col("rank_sum_x2")
        ).cast("long").alias("ssq4"),
    ).select(
        F.round(
            F.lit(12.0)
            / (F.col("n") * F.col("k") * (F.col("k") + 1)).cast("double")
            * (F.col("ssq4").cast("double") / 4.0)
            - F.lit(3.0) * F.col("n") * (F.col("k") + 1),
            4,
        ).alias("friedman_stat")
    )
    return sums.join(F.broadcast(stat)).select(
        "event_type", "rank_sum_x2", "n_blocks", "friedman_stat"
    )


def durbin_watson_daily(events: DataFrame) -> DataFrame:
    """Durbin-Watson serial-correlation test on the residuals of the
    daily-count trend line -- "is what trend_regression didn't explain
    autocorrelated" (DW ~ 2 none, -> 0 positive, -> 4 negative).

    The OLS fit uses exact integer moment sums (n, St, Stt, Sy, Sty);
    slope and intercept are each ONE double expression written in the
    same operation order as the oracle. Residuals are then rounded to
    1e-6 integers so the lag-difference fold is exact integer
    arithmetic on both engines -- the two final sums never fold raw
    doubles. Day index = days since the first day (integer).

    Shape: O(N) daily reduction, 1-row moment broadcast, one
    day-ordered lag window over the day-count-bounded series.

    Emits ONE row (n_days, slope_per_day, dw_stat).
    """
    d = _daily_counts(events)
    t0 = d.agg(F.min("day").alias("d0"))
    dd = d.join(F.broadcast(t0)).select(
        F.datediff("day", "d0").cast("long").alias("t"), "x"
    )
    mo = dd.agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("x").alias("sy"),
        F.sum(F.col("t") * F.col("x")).alias("sty"),
    )
    slope = (
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
            "double"
        )
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    res = dd.join(F.broadcast(mo)).select(
        "t",
        F.col("n").cast("long").alias("n_days"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(
            (
                F.col("x").cast("double")
                - intercept
                - slope * F.col("t").cast("double")
            )
            * F.lit(1e6)
        ).cast("long").alias("e6"),
    )
    wo = Window.orderBy("t")
    diff = F.col("e6") - F.lag("e6").over(wo)
    lagged = res.select(
        "n_days",
        "slope_per_day",
        "e6",
        diff.alias("de6"),
    )
    return lagged.groupBy("n_days", "slope_per_day").agg(
        F.round(
            F.sum(F.col("de6") * F.col("de6")).cast("double")
            / F.sum(F.col("e6") * F.col("e6")).cast("double"),
            4,
        ).alias("dw_stat")
    ).select("n_days", "slope_per_day", "dw_stat")


def mutual_information(events: DataFrame) -> DataFrame:
    """Mutual information between event_type and day-of-week in nats
    -- the model-free association strength that chi-square
    significance (stats_chisq_independence) doesn't give directly.

    Per-cell terms (n_ij/n) * ln(n_ij * n / (rt_i * ct_j)) are each
    ONE double expression off exact integer counts, rounded to
    integer nano-nats, then summed EXACTLY -- no cross-cell double
    fold. Marginals broadcast (k x 7 cells).

    Emits ONE row (n_obs, n_cells, mi_nanonats, mi_nats).
    """
    cells = events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("n_obs"))
    rt = cells.groupBy("event_type").agg(F.sum("n_obs").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("n_obs").alias("ct"))
    tot = cells.agg(F.sum("n_obs").alias("n"))
    term = (
        F.col("n_obs").cast("double") / F.col("n").cast("double")
    ) * F.log(
        F.col("n_obs").cast("double")
        * F.col("n").cast("double")
        / (F.col("rt").cast("double") * F.col("ct").cast("double"))
    )
    joined = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(tot))
        .select(
            "n",
            "n_obs",
            F.round(term * F.lit(1e9)).cast("long").alias("nano"),
        )
    )
    return joined.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum("nano").cast("long").alias("mi_nanonats"),
    ).select(
        "n_obs",
        "n_cells",
        "mi_nanonats",
        F.round(F.col("mi_nanonats") / F.lit(1e9), 6).alias("mi_nats"),
    )

def pacf_daily(events: DataFrame) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1 and 2 via Durbin-Levinson -- the AR-order diagnostic
    (phi_22 ~ 0 means an AR(1) fit suffices; hourly_autocorrelation
    answers the raw-ACF question at hour grain).

    Lag covariances are assembled from EXACT integer sums scaled by
    n^2: G_k = n^2*C_k - n*S*(A_k + B_k) + (n-k)*S^2 where C_k is the
    lagged product sum and A_k/B_k the leading/trailing partial sums
    -- identical integers on both engines; r_k = G_k/G_0 and
    phi_22 = (r_2 - r_1^2)/(1 - r_1^2) are the only doubles. (The
    n^2-scaled products stay under 2^63 up to ~1e9-event days over a
    30-day window; beyond that the sums need 128-bit accumulation,
    which DuckDB already uses and Spark would need DECIMAL for.)

    Shape: O(N) daily reduction, lead windows over the day-bounded
    series, 1-row fold.

    Emits ONE row (n_days, r1, r2, pacf_lag2).
    """
    d = _daily_counts(events)
    wo = Window.orderBy("day")
    led = d.select(
        "x",
        F.lead("x", 1).over(wo).alias("x1"),
        F.lead("x", 2).over(wo).alias("x2"),
    )
    mo = led.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("x1")).alias("c1"),
        F.sum(F.when(F.col("x1").isNotNull(), F.col("x"))).alias("a1"),
        F.sum("x1").alias("b1"),
        F.sum(F.col("x") * F.col("x2")).alias("c2"),
        F.sum(F.when(F.col("x2").isNotNull(), F.col("x"))).alias("a2"),
        F.sum("x2").alias("b2"),
    )
    n, s = F.col("n"), F.col("s")
    g0 = (n * n * F.col("sxx") - n * s * s).cast("double")
    g1 = (
        n * n * F.col("c1") - n * s * (F.col("a1") + F.col("b1"))
        + (n - 1) * s * s
    ).cast("double")
    g2 = (
        n * n * F.col("c2") - n * s * (F.col("a2") + F.col("b2"))
        + (n - 2) * s * s
    ).cast("double")
    r1, r2 = g1 / g0, g2 / g0
    return mo.select(
        n.cast("long").alias("n_days"),
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(
            F.when(r1 * r1 != 1.0, (r2 - r1 * r1) / (1.0 - r1 * r1)), 6
        ).alias("pacf_lag2"),
    )


def growth_accounting(events: DataFrame) -> DataFrame:
    """Daily growth accounting: every active user classified NEW
    (first day ever), RETAINED (also active the previous calendar
    day) or RESURRECTED (returning after a gap), plus the CHURNED
    count (active the previous day, absent today) -- the
    new/retained/resurrected/churned ledger whose identity
    DAU(d) = new + retained + resurrected every product team recites.

    Shape: distinct (user, day) reduction, one user-keyed lag/lead
    window, then two day-keyed rollups (statuses from the lag side,
    churn attributed to gap days from the lead side) merged by a full
    outer join on the day-bounded ledger.

    Emits (day, n_new, n_retained, n_resurrected, n_churned).
    """
    active = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("day")
    flagged = active.select(
        "user_id",
        "day",
        F.lag("day").over(wu).alias("prev_day"),
        F.lead("day").over(wu).alias("next_day"),
    )
    status = F.when(F.col("prev_day").isNull(), F.lit("new")).when(
        F.datediff("day", "prev_day") == 1, F.lit("retained")
    ).otherwise(F.lit("resurrected"))
    by_status = flagged.groupBy("day").agg(
        F.sum((status == "new").cast("long")).alias("n_new"),
        F.sum((status == "retained").cast("long")).alias("n_retained"),
        F.sum((status == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    last_day = active.agg(F.max("day").alias("last_day"))
    churn = (
        flagged.join(F.broadcast(last_day))
        .filter(
            (
                F.col("next_day").isNull()
                | (F.datediff("next_day", "day") > 1)
            )
            & (F.col("day") < F.col("last_day"))
        )
        .select(F.date_add("day", 1).cast("timestamp").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_churned"))
    )
    z = F.lit(0).cast("long")
    return by_status.join(churn, "day", "full_outer").select(
        "day",
        F.coalesce("n_new", z).alias("n_new"),
        F.coalesce("n_retained", z).alias("n_retained"),
        F.coalesce("n_resurrected", z).alias("n_resurrected"),
        F.coalesce("n_churned", z).alias("n_churned"),
    )


def time_to_nth_event(events: DataFrame, nth: int = 5) -> DataFrame:
    """Activation latency: per user, the time from their first event
    to their ``nth`` -- the "how long to reach the activation
    milestone" onboarding number -- folded to one distribution row
    (median and p90 over exact microsecond gaps, interpolated
    identically by both engines' exact percentile).

    Shape: one user-keyed window ranks events (ts, event_id total
    order); the per-user gap is microsecond-exact integer arithmetic;
    the final fold is a 1-row exact percentile over the
    user-count-bounded gap set.

    Emits ONE row (n_users, n_reached, median_s, p90_s).
    """
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = events.select(
        "user_id",
        "ts",
        F.row_number().over(wu).alias("rn"),
    ).filter(F.col("rn").isin(1, nth))
    per_user = ranked.groupBy("user_id").agg(
        F.max(
            F.when(
                F.col("rn") == nth,
                F.unix_micros("ts"),
            )
        ).alias("t_nth"),
        F.min(F.when(F.col("rn") == 1, F.unix_micros("ts"))).alias("t_first"),
    )
    gap = (F.col("t_nth") - F.col("t_first")).alias("gap_us")
    gaps = per_user.select("user_id", gap)
    return gaps.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("gap_us").cast("long").alias("n_reached"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 4).alias(
            "median_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1e6, 4).alias("p90_s"),
    )


def concurrency_peak(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Peak concurrent sessions per calendar day -- the capacity
    number (license seats, connection pools) that neither session
    counts nor DAU answer: how many 30-minute-gap sessions OVERLAP at
    the worst moment of each day.

    Sweep-line per day: each session contributes +1 at its (clamped)
    start in every day it spans and -1 at its end in the day it ends;
    within a day points are totally ordered by (ts, delta DESC,
    user_id, session_id) -- starts BEFORE ends at equal timestamps
    (closed-interval semantics: a single-event session still counts
    as concurrent at its instant, and two sessions touching at t were
    both genuinely alive at t) -- and the running sum's max is the
    peak. Carry-over from sessions alive at midnight is
    exact because the day-spanning explode re-emits them at each
    day's start. Partitioned BY DAY, so no global-order window ever
    sees more than a day of points; the explode fan-out is bounded by
    session length in days (30-min-gap sessions rarely span two).

    Emits (day, n_sessions_touching, peak_concurrent).
    """
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = (
        F.lag("ts").over(wu).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
            > gap_minutes * 60_000_000
        )
    ).cast("int")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = events.select(
        "user_id", "ts", F.sum(is_new).over(ws).alias("session_id")
    ).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    spans = sess.select(
        "user_id",
        "session_id",
        "t_start",
        "t_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", "t_start"),
                F.date_trunc("day", "t_end"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    starts = spans.select(
        "day",
        F.greatest("t_start", F.col("day").cast("timestamp")).alias("ts"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_id",
    )
    ends = spans.filter(
        F.date_trunc("day", "t_end") == F.col("day")
    ).select(
        "day",
        F.col("t_end").alias("ts"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_id",
    )
    points = starts.unionByName(ends)
    wd = (
        Window.partitionBy("day")
        .orderBy("ts", F.col("delta").desc(), "user_id", "session_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = points.select(
        "day", F.sum("delta").over(wd).alias("load"), "session_id", "user_id"
    )
    return running.groupBy("day").agg(
        F.count_distinct("user_id", "session_id")
        .cast("long")
        .alias("n_sessions_touching"),
        F.max("load").cast("long").alias("peak_concurrent"),
    )

def cronbach_alpha(events: DataFrame) -> DataFrame:
    """Cronbach's alpha over the k event-type "items": does a user who
    does a lot of one thing do a lot of everything (high alpha = the
    per-type counts measure one underlying engagement trait; low =
    the types are independent behaviors). The internal-consistency
    number any composite engagement score should report before it
    ships.

    alpha = k/(k-1) * (1 - sum_j V_j / V_total) with per-item and
    row-total population variances assembled at n^2 scale from exact
    integer sums (n*sum(x^2) - sum(x)^2) -- the common factor cancels
    in the ratio, so alpha is ONE double off integers. Dense per-user
    rows via the same k-row broadcast cross as stats_friedman.

    Emits ONE row (n_users, k, alpha).
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    users = events.select("user_id").distinct()
    types = events.select("event_type").distinct()
    dense = (
        users.join(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    per_item = dense.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ssq"),
    )
    item_fold = per_item.agg(
        F.max("n").alias("n"),
        F.count("*").alias("k"),
        F.sum(
            F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
        ).alias("sum_vj"),
    )
    per_user = dense.groupBy("user_id").agg(F.sum("cnt").alias("tot"))
    tot_fold = per_user.agg(
        F.sum("tot").alias("st"),
        F.sum(F.col("tot") * F.col("tot")).alias("stt"),
        F.count("*").alias("n2"),
    )
    j = item_fold.join(F.broadcast(tot_fold))
    v_tot = F.col("n2") * F.col("stt") - F.col("st") * F.col("st")
    return j.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("k"),
        F.round(
            F.when(
                v_tot > 0,
                F.col("k").cast("double")
                / (F.col("k") - 1).cast("double")
                * (
                    F.lit(1.0)
                    - F.col("sum_vj").cast("double") / v_tot.cast("double")
                ),
            ),
            4,
        ).alias("alpha"),
    )


def active_days_histogram(events: DataFrame) -> DataFrame:
    """Engagement-frequency histogram: how many users were active on
    exactly d distinct days -- the L28-style distribution whose shape
    (power-user hump vs one-and-done spike) DAU/WAU/MAU averages
    hide.

    Distinct (user, day) reduction, per-user day count, then a
    day-count-bounded histogram with shares rounded at INTEGER 1e-6
    scale (the one rounding rule both engines share on .5
    boundaries).

    Emits (active_days, n_users, share).
    """
    per_user = (
        events.select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("active_days"))
    )
    hist = per_user.groupBy("active_days").agg(
        F.count("*").alias("n_users")
    )
    tot = hist.agg(F.sum("n_users").alias("total"))
    return hist.join(F.broadcast(tot)).select(
        F.col("active_days").cast("long").alias("active_days"),
        F.col("n_users").cast("long").alias("n_users"),
        (
            F.round(
                F.col("n_users") * F.lit(1e6) / F.col("total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )

def permutation_test(events: DataFrame, k_perms: int = 64) -> DataFrame:
    """Permutation test for the A/B mean-value gap: instead of the
    normal approximation (ab_test_ztest), re-randomize the group
    labels ``k_perms`` times and ask how often a random split beats
    the observed one -- the assumption-free p-value.

    Every randomization is DETERMINISTIC md5 bit-slicing (the
    dp_noisy_counts / corpus_mix discipline): the observed assignment
    keys md5(event_id || 'ab|'), permutation k keys
    md5(event_id || ':' || k); both engines derive identical bits.
    Group means are single-double integer-cent ratios; the >= race
    compares identically-computed doubles. The k_perms-row dimension
    broadcasts against the event stream (fan-out = K, bounded by the
    declared constant), and each permutation folds map-side.

    Emits ONE row (k_perms, obs_diff, n_perms_ge, p_value).
    """
    from ..sources.tables import spread_scan

    # K x corpus md5 fan-out is the op's whole cost and runs ABOVE the
    # scan: spread the single-split fixture scan so it parallelizes
    # (guide §2.5 input skew; no-op when the scan already has >= core
    # splits). Measured 4.4 s -> 1.4 s at sf0.1 / local[32].
    events = spread_scan(events.select("event_id", "value"), "event_id")
    cents = F.floor(F.col("value") * 100).cast("long")
    obs_bit = F.when(
        F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit("ab|"))), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"),
        1,
    ).otherwise(0)
    base = events.select(cents.alias("v_c"), obs_bit.alias("g"), "event_id")

    def mean_diff(grp):
        a_n = F.sum(F.when(grp == 1, 1).otherwise(0))
        a_s = F.sum(F.when(grp == 1, F.col("v_c")).otherwise(0))
        b_n = F.sum(F.when(grp == 0, 1).otherwise(0))
        b_s = F.sum(F.when(grp == 0, F.col("v_c")).otherwise(0))
        return (
            a_s.cast("double") / a_n.cast("double")
            - b_s.cast("double") / b_n.cast("double")
        )

    obs = base.agg(mean_diff(F.col("g")).alias("obs_diff"))
    ks = events.sparkSession.range(k_perms).select(
        F.col("id").cast("int").alias("k")
    )
    perm_bit = F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ),
            1,
            1,
        ).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        1,
    ).otherwise(0)
    per_k = (
        base.join(F.broadcast(ks))
        .select("v_c", "k", perm_bit.alias("g"))
        .groupBy("k")
        .agg(mean_diff(F.col("g")).alias("diff_k"))
    )
    race = per_k.join(F.broadcast(obs)).agg(
        F.count("*").cast("long").alias("k_perms"),
        F.max(F.round(F.col("obs_diff"), 4)).alias("obs_diff"),
        F.sum(
            (F.abs(F.col("diff_k")) >= F.abs(F.col("obs_diff"))).cast("long")
        ).alias("n_perms_ge"),
    )
    return race.select(
        "k_perms",
        "obs_diff",
        "n_perms_ge",
        F.round(
            (F.col("n_perms_ge") + 1).cast("double")
            / (F.col("k_perms") + 1).cast("double"),
            4,
        ).alias("p_value"),
    )


def hodges_lehmann_shift(events: DataFrame) -> DataFrame:
    """Hodges-Lehmann location shift between the first and second
    half of the month's daily value volumes: the median of all
    cross-pair differences -- the robust "how much did daily revenue
    move" estimate whose breakdown point a couple of outage or spike
    days cannot reach (the estimator behind the Mann-Whitney
    confidence interval).

    The pair set is CALENDAR-DAY-bounded (15 x 15 a month); pair
    sums stay integer cents until the exact interpolated median,
    which both engines compute identically (quantile_cont parity).

    Emits ONE row (n_pairs, hl_shift).
    """
    daily = _daily_counts(events)
    half1 = daily.filter(F.dayofmonth("day") <= 15).select(
        F.col("y").alias("y1")
    )
    half2 = daily.filter(F.dayofmonth("day") > 15).select(
        F.col("y").alias("y2")
    )
    pairs = half2.join(F.broadcast(half1)).select(
        (F.col("y2") - F.col("y1")).alias("d_c")
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.percentile("d_c", F.lit(0.5)) / 100.0, 4).alias(
            "hl_shift"
        ),
    )


def open_order_backlog(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Daily open-order backlog: orders count as open from their
    order date until their LAST line item ships -- the
    work-in-progress curve (openings, closings, and the running
    backlog) an operations dashboard draws first.

    One keyed max-shipdate reduction per order, two day-keyed
    rollups, a full outer join on the day-bounded ledger, and one
    cumulative window over calendar days. All counts integer.

    Emits (day, n_opened, n_closed, open_backlog).
    """
    done = lineitem.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("done_ts")
    )
    spans = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.date_trunc("day", "o_orderdate").alias("open_day"),
    ).join(
        done.select(
            "l_orderkey", F.date_trunc("day", "done_ts").alias("close_day")
        ),
        "l_orderkey",
    )
    opened = spans.groupBy(F.col("open_day").alias("day")).agg(
        F.count("*").alias("n_opened")
    )
    closed = spans.groupBy(F.col("close_day").alias("day")).agg(
        F.count("*").alias("n_closed")
    )
    z = F.lit(0).cast("long")
    ledger = opened.join(closed, "day", "full_outer").select(
        "day",
        F.coalesce("n_opened", z).alias("n_opened"),
        F.coalesce("n_closed", z).alias("n_closed"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return ledger.select(
        "day",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(wc)
        .cast("long")
        .alias("open_backlog"),
    )

def g_test_independence(events: DataFrame) -> DataFrame:
    """G-test (log-likelihood ratio) of event_type x day-of-week
    independence -- the chi-square's LR sibling
    (G = 2 sum n_ij ln(n_ij / expected)), additive across partitions
    of the table and the better-behaved statistic at small expected
    counts.

    Same cell substrate as stats_chisq_independence; each cell's term
    is ONE double off exact integers, rounded to integer nano-units
    and summed EXACTLY -- the global G is an integer sum, never a
    cross-cell double fold.

    Emits ONE row (n_obs, n_cells, dof, g_stat).
    """
    cells = events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("n_obs"))
    rt = cells.groupBy("event_type").agg(F.sum("n_obs").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("n_obs").alias("ct"))
    tot = cells.agg(F.sum("n_obs").alias("n"))
    term = (
        F.lit(2.0)
        * F.col("n_obs").cast("double")
        * F.log(
            F.col("n_obs").cast("double")
            * F.col("n").cast("double")
            / (F.col("rt").cast("double") * F.col("ct").cast("double"))
        )
    )
    joined = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(tot))
        .select(
            "n",
            "n_obs",
            F.round(term * F.lit(1e9)).cast("long").alias("nano"),
        )
    )
    agg = joined.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum("nano").alias("g_nano"),
    )
    lv = cells.agg(
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("dow").alias("c"),
    )
    return agg.join(F.broadcast(lv)).select(
        "n_obs",
        "n_cells",
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(F.col("g_nano") / F.lit(1e9), 4).alias("g_stat"),
    )


def bartlett_test(events: DataFrame) -> DataFrame:
    """Bartlett's test of equal value-variance across event types --
    stats_levene's parametric sibling (more powerful under
    normality, famously fragile otherwise; run both and disagree
    loudly).

    Per-group sample variances come from exact integer cent moments
    (n*ssq - s^2 over n(n-1)); the per-group ln terms are each ONE
    double rounded to integer nano-units and folded exactly, so the
    statistic never sums raw doubles in data order. Groups with n < 2
    or zero variance are excluded on both engines (ln would blow up).

    Emits ONE row (k_groups, n_total, bartlett_stat).
    """
    g = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("s"),
        F.sum(
            F.floor(F.col("value") * 100).cast("long")
            * F.floor(F.col("value") * 100).cast("long")
        ).alias("ssq"),
    ).filter(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("ssq") - F.col("s") * F.col("s") > 0)
    )
    s2 = (
        (F.col("n") * F.col("ssq") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    # per-group terms each ONE double, rounded to integer units
    # BEFORE the cross-group fold (group order must not matter):
    # (n-1)*s2 at micro scale (nano overflows int64 when n * cent
    # variance nears 1e10), the two log/reciprocal terms at nano
    per = g.select(
        "n",
        (F.col("n") - 1).alias("df"),
        F.round(
            (
                (F.col("n") * F.col("ssq") - F.col("s") * F.col("s")).cast(
                    "double"
                )
                / F.col("n").cast("double")
            )
            * F.lit(1e6)
        ).cast("long").alias("ss_micro"),
        F.round(
            (F.col("n") - 1).cast("double") * F.log(s2) * F.lit(1e9)
        ).cast("long").alias("ln_nano"),
        F.round(F.lit(1e9) / (F.col("n") - 1).cast("double"))
        .cast("long")
        .alias("inv_df_nano"),
    )
    agg = per.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("df").alias("df_tot"),
        F.sum("ss_micro").alias("ss_micro_tot"),
        F.sum("ln_nano").alias("ln_sum_nano"),
        F.sum("inv_df_nano").alias("inv_sum_nano"),
    )
    sp2 = (
        F.col("ss_micro_tot").cast("double") / F.lit(1e6)
    ) / F.col("df_tot").cast("double")
    num = (
        F.col("df_tot").cast("double") * F.log(sp2)
        - F.col("ln_sum_nano").cast("double") / F.lit(1e9)
    )
    c = F.lit(1.0) + (
        F.col("inv_sum_nano").cast("double") / F.lit(1e9)
        - F.lit(1.0) / F.col("df_tot").cast("double")
    ) / (F.lit(3.0) * (F.col("k") - 1).cast("double"))
    return agg.select(
        "k",
        "n_total",
        F.round(num / c, 4).alias("bartlett_stat"),
    )


def supplier_leadtime(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Per-supplier fulfilment lead time: mean and variance of the
    order-date -> ship-date gap in days -- the vendor scorecard
    (orders_ship_delay_profile's histogram view, resolved to WHO is
    slow and HOW erratically).

    Integer day deltas; variance assembled from exact integer moment
    sums at n^2 scale (one double division). Output is
    supplier-dimension-sized.

    Emits (l_suppkey, n_items, mean_days, var_days).
    """
    j = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        ),
        "l_orderkey",
    )
    d = j.select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dd"),
    )
    agg = d.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum("dd").alias("s"),
        F.sum(F.col("dd") * F.col("dd")).alias("ssq"),
    )
    return agg.select(
        "l_suppkey",
        F.col("n").cast("long").alias("n_items"),
        F.round(
            F.col("s").cast("double") / F.col("n").cast("double"), 4
        ).alias("mean_days"),
        F.round(
            F.when(
                F.col("n") >= 2,
                (
                    F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
                ).cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double"),
            ),
            4,
        ).alias("var_days"),
    )


def dp_exponential_median(events: DataFrame, epsilon: float = 1.0) -> DataFrame:
    """Differentially-private median of the event value via the
    exponential mechanism -- dp_noisy_counts' sibling for a
    NON-additive statistic (Laplace noise on a median is wrong; the
    exponential mechanism selects a candidate with probability
    proportional to exp(eps * u / 2) where u = -|rank - n/2|).

    Selection is DETERMINISTIC md5-Gumbel (the engine's seeded-noise
    discipline): each distinct cent value draws
    g = -ln(-ln(md5_uniform)) from its own digest, and the mechanism
    picks argmax of eps*u/2 + g -- distributionally the exponential
    mechanism, reproducible on both engines digit for digit. Scores
    and the argmax tie-break (highest score, then lowest value) are
    computed on identically-derived doubles.

    Emits ONE row (n_obs, n_candidates, true_median, dp_median).
    """
    cents = F.floor(F.col("value") * 100).cast("long")
    vals = events.select(cents.alias("v_c"))
    n_row = vals.agg(
        F.count("*").alias("n"),
        F.percentile("v_c", F.lit(0.5)).alias("true_med_c"),
    )
    by_val = vals.groupBy("v_c").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("v_c")
    ranked = by_val.select(
        "v_c",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("below"),
    )
    # uniform in (0,1) from the first 12 hex digits of the value's md5
    hx = F.md5(F.concat(F.col("v_c").cast("string"), F.lit("|expmed")))
    u01 = (
        F.conv(F.substring(hx, 1, 12), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16 ** 12 + 2))
    gumbel = -F.log(-F.log(u01))
    scored = ranked.join(F.broadcast(n_row)).select(
        "v_c",
        "n",
        "true_med_c",
        (
            F.lit(epsilon / 2.0)
            * -F.abs(
                (F.col("below") + F.col("cnt")).cast("double")
                - F.col("n").cast("double") / F.lit(2.0)
            )
            + gumbel
        ).alias("score"),
    )
    wpick = Window.orderBy(F.col("score").desc(), F.col("v_c"))
    pick = scored.select(
        "n",
        "true_med_c",
        "v_c",
        F.row_number().over(wpick).alias("rn"),
    ).filter(F.col("rn") == 1)
    n_cand = scored.agg(F.count("*").alias("n_candidates"))
    return pick.join(F.broadcast(n_cand)).select(
        F.col("n").cast("long").alias("n_obs"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.round(F.col("true_med_c") / 100.0, 4).alias("true_median"),
        F.round(F.col("v_c") / 100.0, 2).alias("dp_median"),
    )

def daily_type_entropy(events: DataFrame) -> DataFrame:
    """Daily event-type mix entropy: how balanced each day's traffic
    is across types (ln-based; 0 = one type owns the day, ln(k) =
    perfectly even) -- the day-grain companion to
    user_behavior_entropy's per-user view, and the drift alarm for a
    pipeline whose type mix is supposed to be stable day over day.

    Per-(day, type) terms (c/n)*ln(n/c) are each ONE double off
    exact integer counts, rounded to integer nano-nats and summed
    exactly per day -- no cross-type double fold; the day table is
    calendar-bounded.

    Emits (day, n_events, n_types, entropy_nats).
    """
    cells = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("c"))
    totals = cells.groupBy("day").agg(F.sum("c").alias("n"))
    term = (
        F.col("c").cast("double") / F.col("n").cast("double")
    ) * F.log(F.col("n").cast("double") / F.col("c").cast("double"))
    joined = cells.join(totals, "day").select(
        "day",
        "n",
        F.round(term * F.lit(1e9)).cast("long").alias("nano"),
    )
    return joined.groupBy("day").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.sum("nano") / F.lit(1e9), 6).alias("entropy_nats"),
    )


def discount_depth_profile(lineitem: DataFrame) -> DataFrame:
    """Volume-discount policy readout: per 10-unit quantity bracket,
    how deep the average discount runs and how much revenue sits
    there -- the is-bigger-really-cheaper curve a pricing analyst
    draws before touching the discount schedule.

    Brackets are exact integer floor(quantity/10); discounts
    aggregate as integer basis points (floor(discount * 10000)) and
    revenue in exact 1e-4-dollar DECIMAL units, so both ratios are
    single doubles off integers.

    Emits (qty_bracket, n_items, avg_discount_bps, revenue).
    """
    bps = F.floor(F.col("l_discount") * 10000).cast("long")
    rev_c4 = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    b = lineitem.select(
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bracket"),
        bps.alias("bps"),
        rev_c4.alias("rev"),
    )
    agg = b.groupBy("qty_bracket").agg(
        F.count("*").alias("n"),
        F.sum("bps").alias("sbps"),
        (F.sum("rev") * 10000).cast("long").alias("rev_c4"),
    )
    return agg.select(
        "qty_bracket",
        F.col("n").cast("long").alias("n_items"),
        F.round(
            F.col("sbps").cast("double") / F.col("n").cast("double"), 4
        ).alias("avg_discount_bps"),
        (F.col("rev_c4").cast("double") / F.lit(10000.0)).alias("revenue"),
    )


def retention_triangle(events: DataFrame) -> DataFrame:
    """Weekly retention TRIANGLE: the cohort matrix of
    ``retention_cohorts`` completed into the report analysts actually
    read -- every (cohort_week, week_offset) cell carries the cohort's
    size, the retained user count, and the retained SHARE, offset 0
    included (share 1.0 by construction, the sanity diagonal).

    Plan: first-seen week per user (one user-keyed aggregate),
    distinct (user, week) activity, one join back on user_id, then
    the weeks^2-bounded rollup; cohort sizes come from a second
    aggregation over the same first-seen table and broadcast-join the
    triangle (weeks-bounded, never data-sized). Shares round at
    INTEGER 1e-6 scale -- the one rounding rule both engines share on
    .5 boundaries.

    Emits (cohort_week, week_offset, cohort_size, n_retained,
    retained_share).
    """
    first_seen = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    tri = (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_retained"))
    )
    return tri.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.col("n_retained").cast("long").alias("n_retained"),
        (
            F.round(
                F.col("n_retained") * F.lit(1e6)
                / F.col("cohort_size").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("retained_share"),
    )


def orders_dow_profile(orders: DataFrame) -> DataFrame:
    """Order-intake weekday profile: volume, exact-cents value, and
    share of weekly demand per ISO day-of-week -- the operations-side
    seasonality read (``seasonal_dow_decompose`` covers the events
    stream; this covers the order book).

    One partial+final aggregation to a 7-row output; money rides as
    exact 1e-4-dollar DECIMAL-derived integers until the final /1e4
    double, count shares round at integer 1e-6 scale.

    Emits (dow, n_orders, total_value, order_share) with Spark's
    1=Sunday convention (oracle shifts DuckDB's dayofweek to match).
    """
    c4 = F.col("o_totalprice").cast("decimal(18,2)")
    agg = orders.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count("*").alias("n"),
        (F.sum(c4) * 10000).cast("long").alias("val_c4"),
    )
    total = agg.select(F.sum("n").alias("n_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "dow",
        F.col("n").cast("long").alias("n_orders"),
        (F.col("val_c4").cast("double") / F.lit(10000.0)).alias("total_value"),
        (
            F.round(
                F.col("n") * F.lit(1e6) / F.col("n_total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("order_share"),
    )


def ansari_bradley(events: DataFrame) -> DataFrame:
    """Ansari-Bradley two-sample DISPERSION test per event type over
    the deterministic md5 A/B user split shared with
    ``ab_test_ztest``/``mannwhitney_utest`` -- the nonparametric
    scale-shift companion to their location tests: AB scores walk up
    from both ends of the pooled ranking (1, 2, ..., ceil(N/2), ...,
    2, 1), so a variant whose values crowd the extremes scores low
    and one that hugs the pooled median scores high.

    Exactness: ties take the average AB score of their run. A run of
    positions [lo, hi] has an EXACT INTEGER score sum (closed form
    over min(pos, N+1-pos)); the per-run A-side contribution
    cnt_a * run_sum / cnt and the squared-score moment run_sum^2 /
    cnt round to INTEGER MICRO-UNITS before the grouped fold (the
    js_divergence nano-nat discipline), so the cross-group sums are
    exact and the closing z expression runs on identical doubles.

    Plan: one (type, value) combinable aggregate, a cumulative-count
    window over the per-type VALUE alphabet, an alphabet-sized fold.

    Emits (event_type, n_a, n_b, t_ab, zscore, significant).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = Window.partitionBy("event_type")
    run = (
        vg.withColumn("lo", F.coalesce(F.sum("cnt").over(w), F.lit(0)) + 1)
        .withColumn("hi", F.col("lo") + F.col("cnt") - 1)
        .withColumn("n_tot", F.sum("cnt").over(wn))
    )

    # closed-form sum over positions [lo, hi] of min(pos, N+1-pos):
    # split at m = floor((N+1)/2); ascending part sums pos, the
    # mirrored part sums N+1-pos -- both triangular-number integer
    # arithmetic, exact in bigint.
    def _tri(a, b):  # sum of integers in [a, b], 0 when empty
        return F.when(b >= a, (a + b) * (b - a + 1) / 2).otherwise(F.lit(0))

    m = F.floor((F.col("n_tot") + 1) / 2).cast("long")
    asc_hi = F.least(F.col("hi"), m)
    desc_lo = F.greatest(F.col("lo"), m + 1)
    np1 = F.col("n_tot") + 1
    run_sum = (
        _tri(F.col("lo"), asc_hi)
        + _tri(np1 - F.col("hi"), np1 - desc_lo)
    ).cast("long")
    # ssq squares in DOUBLE and stays at UNIT scale: run_sum can reach
    # N^2/4, so an integer square overflows int64 past N ~ 2e5
    # (measured: the 10x scale probe's ANSI long-overflow), while
    # sum(s^2) <= N^3/12 keeps the ROUNDED unit-scale moment inside
    # int64 far beyond any per-type alphabet this engine will see
    terms = run.select(
        "event_type",
        "cnt",
        "cnt_a",
        "n_tot",
        F.round(
            F.col("cnt_a") * run_sum * F.lit(1e6) / F.col("cnt").cast("double")
        )
        .cast("long")
        .alias("t_a_micro"),
        run_sum.alias("run_sum"),
        F.round(
            run_sum.cast("double")
            * run_sum.cast("double")
            / F.col("cnt").cast("double")
        )
        .cast("long")
        .alias("ssq_unit"),
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
        F.max("n_tot").alias("n_tot"),
        F.sum("t_a_micro").alias("t_a_micro"),
        F.sum("run_sum").alias("s_all"),
        F.sum("ssq_unit").alias("ssq_unit"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n_tot = F.col("n_tot").cast("double")
    t_a = F.col("t_a_micro").cast("double") / F.lit(1e6)
    mean_s = F.col("s_all").cast("double") / n_tot
    # Var(T_A) = m*n*(N*sum(s^2) - (sum s)^2) / (N^2*(N-1))
    var = (
        n_a
        * n_b
        * (
            n_tot * F.col("ssq_unit").cast("double")
            - F.col("s_all").cast("double") * F.col("s_all").cast("double")
        )
        / (n_tot * n_tot * (n_tot - F.lit(1.0)))
    )
    # all-tied input => zero variance; NULL z (ANSI division guard)
    z = F.when(var > 0, (t_a - n_a * mean_s) / F.sqrt(var))
    return agg.filter(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("n_tot") > 2)
    ).select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(t_a, 6).alias("t_ab"),
        F.round(z, 4).alias("zscore"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def ks_two_sample(events: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type over the
    deterministic md5 A/B user split -- the DISTRIBUTION-shift
    companion to Mann-Whitney's location test and Ansari-Bradley's
    scale test (a variant that changes shape without moving mean or
    spread only shows up here).

    Exactness: the ECDF gap is kept as the exact INTEGER
    cross-product ``|ca * n_b - cb * n_a|`` (ca/cb = cumulative
    counts at each distinct value), maxed as a bigint; D and the
    Kolmogorov z are one double expression each off that integer.

    Plan: one (type, value) combinable aggregate, a cumulative-count
    window over the per-type value alphabet, an alphabet-sized max
    fold -- the mannwhitney plan shape.

    Emits (event_type, n_a, n_b, d_stat, ks_z, significant)
    (significant at the alpha=0.05 Kolmogorov critical 1.358).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vg.select(
        "event_type",
        "cnt",
        "cnt_a",
        F.sum("cnt_a").over(w).alias("ca"),
        F.sum(F.col("cnt") - F.col("cnt_a")).over(w).alias("cb"),
    )
    # totals = the max of each cumulative count, needed per row for
    # the integer cross-product gap -- one more type-keyed window on
    # the same alphabet-sized frame
    wt = Window.partitionBy("event_type")
    gap = cum.select(
        "event_type",
        F.max("ca").over(wt).alias("n_a"),
        F.max("cb").over(wt).alias("n_b"),
        F.abs(
            F.col("ca") * F.max("cb").over(wt)
            - F.col("cb") * F.max("ca").over(wt)
        ).alias("g"),
    )
    out = gap.groupBy("event_type", "n_a", "n_b").agg(
        F.max("g").alias("d_num")
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    d = F.col("d_num").cast("double") / (n_a * n_b)
    z = d * F.sqrt(n_a * n_b / (n_a + n_b))
    return out.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(d, 6).alias("d_stat"),
        F.round(z, 4).alias("ks_z"),
        (z > F.lit(1.358)).alias("significant"),
    )


def page_trend(events: DataFrame) -> DataFrame:
    """Page's L trend test across event types (ordered-alternative
    sibling of ``friedman_ranks``, same user-blocked design): with
    treatments taken in a FIXED order (alphabetical event type), L =
    sum over treatments of j * R_j detects a monotone trend in the
    per-user type-count profile that Friedman's omnibus chi-square
    dilutes.

    Exactness: the friedman dense-grid doubled midranks keep every
    rank sum an exact bigint; L rides doubled (L2 = sum j * mr2_sum),
    the treatment index j is the alphabetical row_number over the
    type alphabet, and the classical normal approximation (E[L] =
    N*k*(k+1)^2/4, Var[L] = N*k^2*(k+1)*(k^2-1)/144) is one double
    expression off integers.

    Emits (event_type, j, rank_sum_x2, page_l, page_z) -- per-type
    rows each carrying the global statistic (the friedman output
    shape).
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    users = events.select("user_id").distinct()
    types = events.select("event_type").distinct()
    dense = (
        users.crossJoin(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id", "event_type", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )
    wr = Window.partitionBy("user_id").orderBy("cnt")
    wt = Window.partitionBy("user_id", "cnt")
    ranked = dense.select(
        "user_id",
        "event_type",
        (
            2 * F.rank().over(wr) + F.count("*").over(wt) - 1
        ).alias("mr2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("mr2").cast("long").alias("rank_sum_x2"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    wj = Window.orderBy("event_type")
    pos = sums.select(
        "event_type",
        "rank_sum_x2",
        "n_blocks",
        F.row_number().over(wj).cast("long").alias("j"),
    )
    wall = Window.partitionBy()
    l2 = F.sum(F.col("j") * F.col("rank_sum_x2")).over(wall)
    k = F.count("*").over(wall)
    n = F.max("n_blocks").over(wall)
    stat = pos.select(
        "event_type",
        "j",
        "rank_sum_x2",
        l2.alias("l2"),
        k.alias("k"),
        n.alias("n"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    l = F.col("l2").cast("double") / F.lit(2.0)
    mean_l = nd * kd * (kd + 1) * (kd + 1) / F.lit(4.0)
    var_l = (
        nd * kd * kd * (kd + 1) * (kd * kd - 1) / F.lit(144.0)
    )
    return stat.select(
        "event_type",
        F.col("j").cast("int").alias("j"),
        "rank_sum_x2",
        F.round(l, 1).alias("page_l"),
        F.round(
            F.when(var_l > 0, (l - mean_l) / F.sqrt(var_l)), 4
        ).alias("page_z"),
    )


def sign_test_paired(events: DataFrame) -> DataFrame:
    """Paired sign test on each user's early-month vs late-month
    per-event value level -- the magnitude-free sibling of
    ``mcnemar_paired`` (which needs a binary outcome): did a user's
    typical reading move up or down between halves, counted as signs
    only, so one outlier burst cannot fake a shift.

    Exactness: per-user sums ride as exact integer CENTS, and the
    mean comparison cross-multiplies counts instead of dividing
    (late_sum * early_n vs early_sum * late_n) -- the sign is decided
    on exact integers, never on a float mean. Ties (exact equality)
    drop, the declared classical treatment. z = (n_pos - n_neg) /
    sqrt(n_pos + n_neg), one double.

    Emits ONE row (n_users, n_pos, n_neg, n_tie, sign_z,
    significant).
    """
    cents = F.floor(F.col("value") * 100).cast("long")
    early = F.dayofmonth("ts") <= 15
    pu = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(early, cents)).alias("es"),
            F.count(F.when(early, F.lit(1))).alias("en"),
            F.sum(F.when(~early, cents)).alias("ls"),
            F.count(F.when(~early, F.lit(1))).alias("ln"),
        )
        .filter((F.col("en") > 0) & (F.col("ln") > 0))
    )
    lhs = F.col("ls") * F.col("en")
    rhs = F.col("es") * F.col("ln")
    agg = pu.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(lhs > rhs, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(lhs < rhs, 1).otherwise(0)).alias("n_neg"),
        F.sum(F.when(lhs == rhs, 1).otherwise(0)).alias("n_tie"),
    )
    np_ = F.col("n_pos").cast("double")
    nn_ = F.col("n_neg").cast("double")
    z = F.when(
        F.col("n_pos") + F.col("n_neg") > 0,
        (np_ - nn_) / F.sqrt(np_ + nn_),
    )
    return agg.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("n_tie").cast("long").alias("n_tie"),
        F.round(z, 4).alias("sign_z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def user_lifespan_histogram(events: DataFrame) -> DataFrame:
    """User-lifespan histogram: days between each user's first and
    last event, counted per span -- the engagement-duration
    distribution next to ``events_active_days_histogram``'s
    active-day COUNT view (a user active on 2 days a year apart
    lands far right here, far left there).

    One user-keyed aggregate to (first, last), an integer day diff,
    a spans-bounded rollup. Shares round at integer 1e-6 scale.

    Emits (lifespan_days, n_users, user_share).
    """
    pu = events.groupBy("user_id").agg(
        F.datediff(
            F.date_trunc("day", F.max("ts")), F.date_trunc("day", F.min("ts"))
        ).alias("lifespan_days")
    )
    hist = pu.groupBy("lifespan_days").agg(F.count("*").alias("n_users"))
    total = hist.select(F.sum("n_users").alias("n_total"))
    return hist.crossJoin(F.broadcast(total)).select(
        F.col("lifespan_days").cast("int").alias("lifespan_days"),
        F.col("n_users").cast("long").alias("n_users"),
        (
            F.round(
                F.col("n_users") * F.lit(1e6) / F.col("n_total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("user_share"),
    )


def hourly_load_factor(events: DataFrame) -> DataFrame:
    """Per-day peak-to-mean hourly load factor -- the capacity-planning
    number (how much hotter is the day's peak hour than its average
    hour) with the peak hour identified (ties -> earliest hour).

    Two bounded aggregations: (day, hour) counts, then a day-keyed
    rollup where the peak is resolved via one day-partitioned max
    window (24 rows per day). load_factor = peak * 24 / total, one
    double off exact integers.

    Emits (day, n_events, peak_hour, peak_count, load_factor).
    """
    hourly = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    wd = Window.partitionBy("day")
    tagged = hourly.select(
        "day",
        "hr",
        "cnt",
        F.max("cnt").over(wd).alias("peak"),
        F.sum("cnt").over(wd).alias("total"),
    )
    return (
        tagged.groupBy("day", "peak", "total")
        .agg(F.min(F.when(F.col("cnt") == F.col("peak"), F.col("hr"))).alias("peak_hour"))
        .select(
            "day",
            F.col("total").cast("long").alias("n_events"),
            F.col("peak_hour").cast("int").alias("peak_hour"),
            F.col("peak").cast("long").alias("peak_count"),
            F.round(
                F.col("peak") * F.lit(24.0) / F.col("total").cast("double"), 4
            ).alias("load_factor"),
        )
    )


def type_share_by_dow(events: DataFrame) -> DataFrame:
    """Event-type mix by day-of-week: the weekly seasonality of WHAT
    users do, not just how much (``seasonal_dow_decompose`` covers
    volume; this covers composition -- support tickets spike Monday,
    purchases cluster weekends).

    One (type, dow) partial+final count, shares within each weekday
    via a 7-partition window over the alphabet-sized matrix; shares
    round at integer 1e-6 scale.

    Emits (event_type, dow, n_events, dow_share) with Spark's
    1=Sunday convention.
    """
    agg = events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("n"))
    wd = Window.partitionBy("dow")
    return agg.select(
        "event_type",
        "dow",
        F.col("n").cast("long").alias("n_events"),
        (
            F.round(
                F.col("n") * F.lit(1e6)
                / F.sum("n").over(wd).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("dow_share"),
    )


def poisson_dispersion(events: DataFrame) -> DataFrame:
    """Poisson overdispersion index of the daily event counts: D =
    sum((x - mean)^2) / mean (the chi-square dispersion statistic;
    D >> n-1 says the arrival process is burstier than Poisson --
    the day-grain companion to ``events_interarrival_burstiness``).

    Exactness: with integer daily counts, D = (n * sum(x^2) - S^2)/
    (n * ... reduces to (n*sxx - s*s)/s scaled by 1 -- every
    sufficient statistic an exact bigint off one day-keyed count,
    D and the normal z = (D - (n-1)) / sqrt(2*(n-1)) one double each.

    Emits ONE row (n_days, n_events, dispersion, z, overdispersed).
    """
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    agg = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    # Square in DOUBLE at unit scale (ADVICE r10): s*s in int64
    # overflows once total events exceed ~3e9 -- the same long-
    # overflow class fixed in ansari_bradley / monthly zscore. The
    # operands are exact integers < 2^53 at any realistic day count,
    # so the double products are still bit-exact vs the oracle.
    s_d = F.col("s").cast("double")
    d = (n.cast("double") * F.col("sxx").cast("double") - s_d * s_d) / s_d
    z = (d - (n - 1).cast("double")) / F.sqrt(
        F.lit(2.0) * (n - 1).cast("double")
    )
    return agg.filter(n > 1).select(
        n.cast("long").alias("n_days"),
        F.col("s").cast("long").alias("n_events"),
        F.round(d, 4).alias("dispersion"),
        F.round(z, 4).alias("z"),
        (z > F.lit(1.96)).alias("overdispersed"),
    )


def seasonal_naive_mase(events: DataFrame) -> DataFrame:
    """Seasonal-naive forecastability report per event type: the MASE
    numerator/denominator pair -- MAE of the lag-7 (weekly-seasonal)
    naive forecast of daily counts vs MAE of the lag-1 naive -- the
    standard "is there exploitable weekly structure" check run before
    fitting any real forecaster (MASE < 1: the seasonal naive beats
    persistence).

    Exactness: daily counts are exact integers, both error sums are
    integer |diffs| over gap-checked lags (a missing day invalidates
    that pair rather than silently comparing wrong offsets), and the
    verdict ``seasonal_better`` compares INTEGER cross-products
    (s7 * n1 < s1 * n7) -- no float mean ever decides. MAE/MASE are
    one double each for display.

    Emits (event_type, n_days, mae_lag1, mae_lag7, mase,
    seasonal_better).
    """
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x", 1).over(w).alias("p1"),
        F.lag("day", 1).over(w).alias("d1"),
        F.lag("x", 7).over(w).alias("p7"),
        F.lag("day", 7).over(w).alias("d7"),
    )
    e1 = F.when(
        F.datediff("day", "d1") == 1, F.abs(F.col("x") - F.col("p1"))
    )
    e7 = F.when(
        F.datediff("day", "d7") == 7, F.abs(F.col("x") - F.col("p7"))
    )
    agg = lagged.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(e1).alias("s1"),
        F.count(e1).alias("n1"),
        F.sum(e7).alias("s7"),
        F.count(e7).alias("n7"),
    )
    return agg.filter((F.col("n1") > 0) & (F.col("n7") > 0)).select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("s1").cast("double") / F.col("n1").cast("double"), 4)
        .alias("mae_lag1"),
        F.round(F.col("s7").cast("double") / F.col("n7").cast("double"), 4)
        .alias("mae_lag7"),
        F.round(
            F.when(
                F.col("s1") > 0,
                (F.col("s7") * F.col("n1")).cast("double")
                / (F.col("s1") * F.col("n7")).cast("double"),
            ),
            4,
        ).alias("mase"),
        (F.col("s7") * F.col("n1") < F.col("s1") * F.col("n7")).alias(
            "seasonal_better"
        ),
    )


def orders_monthly_value_zscore(orders: DataFrame) -> DataFrame:
    """Monthly order-book revenue anomalies: each month's intake value
    z-scored against all months -- the finance-side sibling of
    ``hourly_anomaly_zscore`` (which watches the event stream). A
    promotion spike or a missing-feed month surfaces as |z| > 2.

    Exactness: monthly revenue rides as exact 1e-4-dollar
    DECIMAL-derived integers; the cross-month mean/std derive from
    integer sums via one window over the months-bounded table, and z
    is one double expression -- identical inputs, identical IEEE ops.

    Emits (month, n_orders, revenue, zscore, is_anomaly).
    """
    c4 = F.col("o_totalprice").cast("decimal(18,2)")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n"),
        (F.sum(c4) * 10000).cast("long").alias("rev_c4"),
    )
    w = Window.partitionBy()
    stat = monthly.select(
        "month",
        "n",
        "rev_c4",
        F.count("*").over(w).alias("m"),
        F.sum("rev_c4").over(w).alias("s"),
        # squares in DOUBLE: monthly rev_c4 ~ 2e11 at sf0.1, so an
        # integer square exceeds int64 (same class as the ansari
        # tie-run square the 10x probe caught)
        F.sum(
            F.col("rev_c4").cast("double") * F.col("rev_c4").cast("double")
        ).over(w).alias("ssq"),
    )
    m = F.col("m").cast("double")
    mean = F.col("s").cast("double") / m
    var = (
        m * F.col("ssq") - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (m * m)
    z = F.when(var > 0, (F.col("rev_c4").cast("double") - mean) / F.sqrt(var))
    return stat.select(
        "month",
        F.col("n").cast("long").alias("n_orders"),
        (F.col("rev_c4").cast("double") / F.lit(10000.0)).alias("revenue"),
        F.round(z, 4).alias("zscore"),
        (F.abs(z) > F.lit(2.0)).alias("is_anomaly"),
    )


def customer_recency_buckets(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Customer dormancy ladder: every customer bucketed by days since
    their LAST order relative to the book's final order date -- the
    lifecycle segmentation (active / cooling / dormant / lost /
    never-ordered) that ``sql_dormant_customers`` answers for one
    fixed window, generalized to the standard 30/90/365 ladder.

    One customer-keyed max aggregate, a 1-row anchor broadcast, an
    integer day diff into a CASE ladder, a 5-row rollup. The left
    join keeps never-ordered customers honest (NULL recency bucket
    'never').

    Emits (bucket, n_customers, share) ordered by the ladder's
    integer rank; shares at integer 1e-6 scale.
    """
    last = orders.groupBy("o_custkey").agg(
        F.max(F.date_trunc("day", "o_orderdate")).alias("last_day")
    )
    anchor = orders.agg(
        F.max(F.date_trunc("day", "o_orderdate")).alias("anchor")
    )
    j = (
        customer.select(F.col("c_custkey").alias("o_custkey"))
        .join(last, "o_custkey", "left")
        .crossJoin(F.broadcast(anchor))
        .select(F.datediff("anchor", "last_day").alias("recency_days"))
    )
    r = F.col("recency_days")
    bucket = (
        F.when(r.isNull(), F.lit("5_never"))
        .when(r <= 30, F.lit("1_active_30d"))
        .when(r <= 90, F.lit("2_cooling_90d"))
        .when(r <= 365, F.lit("3_dormant_1y"))
        .otherwise(F.lit("4_lost"))
    )
    hist = j.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_customers")
    )
    total = hist.select(F.sum("n_customers").alias("n_total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.col("n_customers").cast("long").alias("n_customers"),
        (
            F.round(
                F.col("n_customers") * F.lit(1e6)
                / F.col("n_total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )


def error_rate_wilson(events: DataFrame) -> DataFrame:
    """Daily error rate with a Wilson score interval -- the
    uncertainty-aware SLO readout (a 3-error day out of 10 events and
    a 300-error day out of 1000 have the same point rate; the Wilson
    bounds tell them apart). The interval is the standard choice for
    small counts where the normal approximation's bounds escape
    [0, 1].

    Exactness: per-day (errors, total) are exact integers; the three
    Wilson terms (center, margin, denominator) are each one double
    expression written identically on both engines off those two
    integers. z is fixed at 1.96 and z^2 is spelled ``1.96 * 1.96``
    on BOTH engines (not the decimal 3.8416, which is a different
    double) so the hash oracle shares every bit (ADVICE r10).

    Emits (day, n_events, n_errors, error_rate, wilson_low,
    wilson_high).
    """
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("e"),
    )
    n = F.col("n").cast("double")
    p = F.col("e").cast("double") / n
    z = 1.96
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    margin = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return daily.select(
        "day",
        F.col("n").cast("long").alias("n_events"),
        F.col("e").cast("long").alias("n_errors"),
        (
            F.round(F.col("e") * F.lit(1e6) / n).cast("long") / F.lit(1e6)
        ).alias("error_rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    )


def mann_kendall_daily(events: DataFrame) -> DataFrame:
    """Mann-Kendall trend test on the daily event count -- the
    nonparametric is-there-a-monotone-trend companion to
    ``theil_sen_daily``'s slope (same null, same day-pair substrate;
    MK gives the significance, Theil-Sen the magnitude).

    S = sum of sign(x_j - x_i) over day pairs is an exact integer off
    the day-count-bounded pair join (quadratic in CALENDAR DAYS only,
    never in events); the tie correction sums t*(t-1)*(2t+5) over
    exact per-value tie counts; var(S) and the continuity-corrected z
    are one double chain written identically on both engines.

    Emits ONE row (n_days, s_stat, var_s, z).
    """
    d = _daily_counts(events).select("day", "x")
    a, b = d.alias("a"), d.alias("b")
    s_agg = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.signum((F.col("b.x") - F.col("a.x")).cast("double"))
                .cast("long")
            ).alias("s")
        )
    )
    ties = (
        d.groupBy("x")
        .agg(F.count("*").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_sum"),
            F.sum(F.col("t")).alias("n"),
        )
    )
    j = s_agg.crossJoin(F.broadcast(ties))
    n = F.col("n")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_sum")
    ).cast("double") / F.lit(18.0)
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double"))
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    ) / F.sqrt(var_s)
    return j.filter(n > 1).select(
        n.cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 4).alias("z"),
    )


def odds_ratio_ab(events: DataFrame) -> DataFrame:
    """Odds ratio with a 95%% Wald CI per event type, over the same
    deterministic md5 A/B user split and >=10-emissions conversion
    rule as ``ab_test_ztest`` -- the effect-SIZE readout next to that
    test's significance readout (an experiment dashboard reports
    both; the z-test cannot say how big).

    The 2x2 cells (converted/not x A/B) are exact integers off the
    per-user compression; OR = (a*d)/(b*c), ln(OR), and the Wald
    bounds exp(ln OR -/+ 1.96*se) are each one double expression in
    the same operation order on both engines. A zero cell has no
    finite OR and emits NULL bounds (both engines).

    Emits (event_type, conv_a, miss_a, conv_b, miss_b, odds_ratio,
    ci_low, ci_high).
    """
    variant = F.when(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8"),
        "A",
    ).otherwise("B")
    users = events.select("user_id", variant.alias("variant")).distinct()
    conv = (
        events.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
        .select("user_id", "event_type")
    )
    per_type = (
        users.join(conv, "user_id")
        .groupBy("event_type", "variant")
        .agg(F.count("*").alias("n_conv"))
    )
    tot = users.groupBy().agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("n_b"),
    )
    wide = (
        per_type.groupBy("event_type")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("variant") == "A", F.col("n_conv"))),
                F.lit(0),
            ).alias("a"),
            F.coalesce(
                F.max(F.when(F.col("variant") == "B", F.col("n_conv"))),
                F.lit(0),
            ).alias("c"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "a",
            (F.col("n_a") - F.col("a")).alias("b"),
            "c",
            (F.col("n_b") - F.col("c")).alias("d"),
        )
    )
    ok = (
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    )
    orr = (F.col("a") * F.col("d")).cast("double") / (
        F.col("b") * F.col("c")
    ).cast("double")
    se = F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c")
        + F.lit(1.0) / F.col("d")
    )
    return wide.select(
        "event_type",
        F.col("a").cast("long").alias("conv_a"),
        F.col("b").cast("long").alias("miss_a"),
        F.col("c").cast("long").alias("conv_b"),
        F.col("d").cast("long").alias("miss_b"),
        F.round(F.when(ok, orr), 4).alias("odds_ratio"),
        F.round(
            F.when(ok, F.exp(F.log(orr) - F.lit(1.96) * se)), 4
        ).alias("ci_low"),
        F.round(
            F.when(ok, F.exp(F.log(orr) + F.lit(1.96) * se)), 4
        ).alias("ci_high"),
    )


def hellinger_weekpart(events: DataFrame) -> DataFrame:
    """Hellinger distance between the weekday and weekend event-type
    distributions -- the bounded [0, 1] distribution-shift readout
    (symmetric, unlike KL; defined even where one side has zero mass,
    unlike chi-square) answering "does the weekend traffic LOOK
    different, and by how much".

    Per-type counts are exact integers; each Bhattacharyya term
    sqrt(p*q) rounds to an INTEGER at 1e-8 scale BEFORE the cross-type
    sum (the per-term rounding discipline -- a double sum over even an
    alphabet-sized set is fold-order dependent), so BC is exact and
    H = sqrt(1 - BC) is ONE double.

    Emits ONE row (n_types, n_weekday, n_weekend, bc, hellinger).
    """
    # Spark dayofweek: 1 = Sunday, 7 = Saturday
    is_we = F.dayofweek("ts").isin(1, 7)
    per_type = events.groupBy("event_type").agg(
        F.sum(F.when(~is_we, 1).otherwise(0)).alias("n_wd"),
        F.sum(F.when(is_we, 1).otherwise(0)).alias("n_we"),
    )
    tot = per_type.agg(
        F.sum("n_wd").alias("t_wd"), F.sum("n_we").alias("t_we")
    )
    terms = per_type.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.sqrt(
                F.col("n_wd").cast("double")
                * F.col("n_we")
                / (F.col("t_wd").cast("double") * F.col("t_we"))
            )
            * F.lit(1e8)
        )
        .cast("long")
        .alias("term_e8"),
        "t_wd",
        "t_we",
    )
    agg = terms.groupBy("t_wd", "t_we").agg(
        F.count("*").alias("n_types"), F.sum("term_e8").alias("bc_e8")
    )
    bc = F.col("bc_e8").cast("double") / F.lit(1e8)
    return agg.select(
        F.col("n_types").cast("long").alias("n_types"),
        F.col("t_wd").cast("long").alias("n_weekday"),
        F.col("t_we").cast("long").alias("n_weekend"),
        F.round(bc, 8).alias("bc"),
        F.round(F.sqrt(F.greatest(F.lit(1.0) - bc, F.lit(0.0))), 6).alias(
            "hellinger"
        ),
    )


def dagostino_skew_daily(events: DataFrame) -> DataFrame:
    """D'Agostino skewness test of the daily event counts -- "is the
    day-volume distribution asymmetric" as a proper z-statistic (the
    moments-only companion to ``stats_jarque_bera``'s omnibus, with
    the small-n transformation that keeps the null z ~ N(0,1) down to
    n = 8).

    Sufficient statistics are the exact integer (n, S1, S2, S3) of
    one day-keyed count; central moments are computed IN DOUBLE at
    unit scale (S1^3 would overflow int64 past ~2M total events --
    the poisson_dispersion hardening), and the Y -> beta2 -> W ->
    delta -> alpha -> Z transformation is a fixed double chain
    written in the same operation order on both engines.

    Emits ONE row (n_days, g1, z).
    """
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    agg = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    m2 = (n * s2 - s1 * s1) / (n * n)
    m3 = (
        n * n * s3 - F.lit(3.0) * n * s1 * s2 + F.lit(2.0) * s1 * s1 * s1
    ) / (n * n * n)
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    y = g1 * F.sqrt(
        (n + F.lit(1.0)) * (n + F.lit(3.0))
        / (F.lit(6.0) * (n - F.lit(2.0)))
    )
    beta2 = (
        F.lit(3.0)
        * (n * n + F.lit(27.0) * n - F.lit(70.0))
        * (n + F.lit(1.0))
        * (n + F.lit(3.0))
        / (
            (n - F.lit(2.0))
            * (n + F.lit(5.0))
            * (n + F.lit(7.0))
            * (n + F.lit(9.0))
        )
    )
    w2 = F.sqrt(F.lit(2.0) * (beta2 - F.lit(1.0))) - F.lit(1.0)
    delta = F.lit(1.0) / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(F.lit(2.0) / (w2 - F.lit(1.0)))
    ya = y / alpha
    z = delta * F.log(ya + F.sqrt(ya * ya + F.lit(1.0)))
    return agg.filter((F.col("n") > 8) & (m2 > 0)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(g1, 6).alias("g1"),
        F.round(z, 4).alias("z"),
    )


def stickiness_dau_mau(events: DataFrame, window_days: int = 28) -> DataFrame:
    """DAU/MAU stickiness per day: daily active users over trailing-
    28-day monthly active users -- THE engagement-quality ratio (a
    product whose MAU all show up daily reads 1.0; a monthly-habit
    product reads ~1/28).

    The corpus compresses to distinct (user, day) pairs first --
    everything after is bounded by users x calendar days, never by
    events. Trailing MAU is a day-spine range join against those
    pairs (the spine is calendar-bounded and broadcast; at any scale
    it stays tiny) followed by a distinct-user count. DAU/MAU is one
    integer ratio at integer 1e-6 scale.

    Emits (day, dau, mau, stickiness).
    """
    ud = events.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    spine = ud.select("day").distinct()
    mau = (
        ud.alias("u")
        .join(
            F.broadcast(spine.alias("d")),
            (F.col("u.day") <= F.col("d.day"))
            & (
                F.col("u.day")
                >= F.date_sub(F.col("d.day"), window_days - 1)
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    return dau.join(mau, "day").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        (
            F.round(
                F.col("dau") * F.lit(1e6) / F.col("mau").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("stickiness"),
    )


def calendar_heatmap(events: DataFrame) -> DataFrame:
    """Day-of-week x hour-of-day traffic heatmap: event count and
    corpus share per calendar cell -- the load-shape readout behind
    capacity planning and anomaly baselines (the grid is at most
    7 x 24 rows whatever the corpus size).

    One partial+final aggregation; the share divides by the global
    total via a window over the 168-cell grid (no second scan), at
    integer 1e-6 scale. dow follows Spark's dayofweek (1 = Sunday).

    Emits (dow, hour, n_events, share).
    """
    grid = events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    return grid.select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("long").alias("n_events"),
        (
            F.round(
                F.col("n") * F.lit(1e6)
                / F.sum("n").over(wall).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )


def lorenz_curve_users(events: DataFrame) -> DataFrame:
    """Lorenz curve of event volume across users, by user decile:
    what share of all traffic the lightest 10%, 20%, ... of users
    account for -- ``stats_gini``'s distributional readout unrolled
    into the curve itself (the gini is twice the area above it).

    Users rank by (event count, user_id) -- the unique-key tiebreak
    -- into ntile(10) deciles identically on both engines; per-decile
    counts and the running share are exact integers until the final
    integer-ratio share at 1e-6 scale.

    Emits (decile, n_users, n_events, cum_share).
    """
    per_user = events.groupBy("user_id").agg(F.count("*").alias("n"))
    deciled = per_user.select(
        "n",
        F.ntile(10)
        .over(Window.orderBy(F.col("n"), F.col("user_id")))
        .alias("decile"),
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("n").alias("n_events")
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    return per_dec.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_events").cast("long").alias("n_events"),
        (
            F.round(
                F.sum("n_events").over(wcum) * F.lit(1e6)
                / F.sum("n_events").over(wall).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("cum_share"),
    )


def seasonality_strength_dow(events: DataFrame) -> DataFrame:
    """Weekly-seasonality strength of the daily event count: eta² =
    between-day-of-week variance / total variance of the daily series
    -- the one-number "is volume driven by the weekly cycle" readout
    (the variance-decomposition companion to seasonal_dow_decompose's
    per-cell table and seasonal_naive_mase's forecast framing).

    Sufficient statistics (daily counts, per-dow totals and sizes,
    global S and sum-of-squares) are exact integers; eta² is computed
    in DOUBLE at unit scale (the poisson_dispersion hardening: S² in
    int64 overflows past ~3e9 events) as (sum_g T_g²/n_g - S²/n) /
    (sum x² - S²/n), each side one double chain in the same operation
    order on both engines.

    Emits ONE row (n_days, eta_squared).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    daily = daily.select("day", "x", F.dayofweek("day").alias("dow"))
    per_dow = daily.groupBy("dow").agg(
        F.count("*").alias("n_g"), F.sum("x").alias("t_g")
    )
    between = per_dow.agg(
        F.sum(
            F.col("t_g").cast("double")
            * F.col("t_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("sb"),
        F.sum("n_g").alias("n"),
        F.sum("t_g").alias("s"),
    )
    tot = daily.agg(
        F.sum(F.col("x").cast("double") * F.col("x").cast("double")).alias(
            "sxx"
        )
    )
    j = between.crossJoin(F.broadcast(tot))
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    sst = F.col("sxx") - s * s / n
    ssb = F.col("sb") - s * s / n
    return j.filter((F.col("n") > 7) & (sst > 0)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(ssb / sst, 6).alias("eta_squared"),
    )


def mood_median_test(events: DataFrame) -> DataFrame:
    """Mood's median test between the md5 A/B user split: does either
    arm sit above the pooled median more often than chance -- the
    blunt-but-assumption-free location test next to mannwhitney's
    rank test (median test survives arbitrary outliers and needs
    nothing but a 2x2 count).

    The pooled median is pinned at 4 decimals on BOTH engines before
    any comparison (the runs_test discipline); values equal to it
    drop (standard practice). The 2x2 cells are exact integers and
    the 1-df chi-square with Yates continuity correction is one
    double expression.

    Emits ONE row (a_above, a_below, b_above, b_below, chi2).
    """
    variant = F.when(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8"),
        "A",
    ).otherwise("B")
    med = events.agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    cells = (
        events.select(variant.alias("variant"), "value")
        .crossJoin(F.broadcast(med))
        .filter(F.col("value") != F.col("med"))
        .groupBy()
        .agg(
            F.sum(
                ((F.col("variant") == "A") & (F.col("value") > F.col("med")))
                .cast("long")
            ).alias("a_above"),
            F.sum(
                ((F.col("variant") == "A") & (F.col("value") < F.col("med")))
                .cast("long")
            ).alias("a_below"),
            F.sum(
                ((F.col("variant") == "B") & (F.col("value") > F.col("med")))
                .cast("long")
            ).alias("b_above"),
            F.sum(
                ((F.col("variant") == "B") & (F.col("value") < F.col("med")))
                .cast("long")
            ).alias("b_below"),
        )
    )
    a, b = F.col("a_above"), F.col("a_below")
    c, d = F.col("b_above"), F.col("b_below")
    n = (a + b + c + d).cast("double")
    # Yates-corrected chi-square; the |ad - bc| cross-product is kept
    # in DOUBLE (the long-overflow class: cell products pass int64 at
    # ~3e9 rows/cell)
    ad = a.cast("double") * d.cast("double")
    bc = b.cast("double") * c.cast("double")
    num = F.greatest(
        F.abs(ad - bc) - n / F.lit(2.0), F.lit(0.0)
    )
    chi2 = (
        n
        * num
        * num
        / (
            (a + b).cast("double")
            * (c + d).cast("double")
            * (a + c).cast("double")
            * (b + d).cast("double")
        )
    )
    return cells.filter(
        (a + b > 0) & (c + d > 0) & (a + c > 0) & (b + d > 0)
    ).select(
        a.cast("long").alias("a_above"),
        b.cast("long").alias("a_below"),
        c.cast("long").alias("b_above"),
        d.cast("long").alias("b_below"),
        F.round(chi2, 4).alias("chi2"),
    )


def quade_ranks(events: DataFrame) -> DataFrame:
    """Quade rank test on the friedman substrate (users are blocks,
    event types are treatments, the response is each user's count of
    the type over a dense user x type grid) -- friedman's
    range-weighted upgrade: blocks whose counts SPREAD more carry
    more weight, so a handful of decisive users cannot be outvoted by
    a mass of indifferent ones. The standard pairing in the
    repeated-measures panel (report both; they disagree exactly when
    block scale carries signal).

    Exactness: within-block midranks are DOUBLED integers (the house
    midrank lattice); block weights are the DOUBLED midranks of each
    block's integer count range across blocks; the Quade scores
    S_ij = Q_i * (r_ij - (k+1)/2) live on the QUARTER lattice, so
    s4 = q2 * (mr2 - k - 1) is an exact integer per cell. The A and B
    sums of squares then square in DOUBLE at unit scale (s4^2 sums
    pass int64 at ~1e6 blocks -- the poisson hardening), and the
    F-form statistic (n-1)*B/(A-B) is one double ratio; perfect
    agreement (A == B) emits NULL on both engines.

    Emits (event_type, s4_sum, quade_stat) -- k rows, the per-type
    quarter-lattice score sums plus the shared statistic.
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    users = events.select("user_id").distinct()
    types = events.select("event_type").distinct()
    dense = (
        users.join(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    wu = Window.partitionBy("user_id").orderBy("cnt")
    wt = Window.partitionBy("user_id", "cnt")
    ranked = dense.select(
        "user_id",
        "event_type",
        (
            F.lit(2) * F.rank().over(wu) + F.count("*").over(wt) - F.lit(1)
        ).alias("mr2"),
    )
    ranges = dense.groupBy("user_id").agg(
        (F.max("cnt") - F.min("cnt")).alias("rng")
    )
    wr = Window.orderBy("rng")
    wrt = Window.partitionBy("rng")
    weights = ranges.select(
        "user_id",
        (
            F.lit(2) * F.rank().over(wr) + F.count("*").over(wrt) - F.lit(1)
        ).alias("q2"),
    )
    k1 = types.count() + 1  # bounded: type-alphabet size
    cells = ranked.join(weights, "user_id").select(
        "event_type",
        (F.col("q2") * (F.col("mr2") - F.lit(k1))).alias("s4"),
    )
    per_type = cells.groupBy("event_type").agg(
        F.sum("s4").cast("long").alias("s4_sum"),
        F.count("*").alias("n_blocks"),
        F.sum(
            F.col("s4").cast("double") * F.col("s4").cast("double")
        ).alias("a16"),
    )
    tot = per_type.agg(
        F.sum("a16").alias("a16"),
        F.sum(
            F.col("s4_sum").cast("double") * F.col("s4_sum").cast("double")
        ).alias("bsq16"),
        F.max("n_blocks").cast("double").alias("n"),
    )
    b16 = F.col("bsq16") / F.col("n")
    stat = tot.select(
        F.when(
            F.col("a16") > b16,
            F.round(
                (F.col("n") - F.lit(1.0)) * b16 / (F.col("a16") - b16), 4
            ),
        ).alias("quade_stat")
    )
    return per_type.select("event_type", "s4_sum").join(
        F.broadcast(stat)
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of event types over each
    user's (ts, event_id)-ordered stream -- P(next type | type) as an
    alphabet x alphabet table; the raw substrate behind
    ``event_markov_stationary``'s fixed point, emitted directly
    because the CONDITIONAL rows (what follows an error? what follows
    a purchase?) are the operational readout.

    One user-keyed lag window over the total order, then an
    alphabet-squared aggregation; transition counts are exact
    integers and each row-share is one integer ratio at 1e-6 scale.

    Emits (from_type, to_type, n_transitions, p).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        (
            F.round(
                F.col("n_transitions") * F.lit(1e6)
                / F.sum("n_transitions").over(wrow).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("p"),
    )


def interpurchase_cv(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Inter-purchase regularity per customer segment: the
    coefficient of variation of each repeat customer's order-gap
    days, bucketed into the classic regular (< 0.5) / intermediate /
    bursty (> 1.0) ladder and rolled up per market segment -- the
    purchase-rhythm readout subscription businesses watch (a segment
    drifting bursty is churning in slow motion).

    Per-customer gap moments (n, sum, sum of squares) are exact
    integer day arithmetic off one (customer ORDER BY date, key)
    window; each CV is one double chain; the bucket cut is a double
    comparison against exact half/one constants. Customers with
    fewer than 3 orders carry no gap variance and drop.

    Emits (c_mktsegment, bucket, n_customers).
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap").alias("s"),
            F.sum(F.col("gap") * F.col("gap")).alias("sxx"),
        )
        .filter((F.col("n") >= 2) & (F.col("s") > 0))
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    cv = F.sqrt((F.col("sxx").cast("double") - s * s / n) / n) / (s / n)
    bucketed = gaps.select(
        "o_custkey",
        F.when(cv < 0.5, "regular")
        .when(cv <= 1.0, "intermediate")
        .otherwise("bursty")
        .alias("bucket"),
    )
    return (
        bucketed.join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "bucket")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def peak_days(events: DataFrame) -> DataFrame:
    """Local-peak detection on the daily event-count series: days
    strictly above BOTH calendar neighbors AND above the global
    mean + 1 sigma -- the load-spike inventory (every flagged day is
    an incident-review candidate; the two-sided neighbor rule drops
    plateau shoulders). The cut is 1 sigma, not the alarm-grade 2:
    the fixture's near-uniform day volume tops out at z ~ 1.6, so a
    2-sigma cut returns ZERO rows at the sf0.01 gate and the hash
    passes vacuously (the embedding_norm_profile lesson) -- don't
    "tighten" it back.

    Daily counts and the (n, S) sufficient statistics are exact
    integers; sum x^2 and the z chain compute in DOUBLE at unit scale
    (the int64-overflow hardening), written in the same operation
    order on both engines, so the z > 1 flag decides identically --
    the neighbor comparisons are pure integer.

    Emits (day, n_events, prev_n, next_n, z).
    """
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    wo = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "x",
        F.lag("x").over(wo).alias("xp"),
        F.lead("x").over(wo).alias("xn"),
    )
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("double") * F.col("x").cast("double")).alias(
            "sxx"
        ),
    )
    j = lagged.crossJoin(F.broadcast(mom))
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    mu = s / n
    sd = F.sqrt((F.col("sxx") - s * s / n) / n)
    z = (F.col("x").cast("double") - mu) / sd
    return j.filter(
        F.col("xp").isNotNull()
        & F.col("xn").isNotNull()
        & (F.col("x") > F.col("xp"))
        & (F.col("x") > F.col("xn"))
        & (z > F.lit(1.0))
    ).select(
        "day",
        F.col("x").cast("long").alias("n_events"),
        F.col("xp").cast("long").alias("prev_n"),
        F.col("xn").cast("long").alias("next_n"),
        F.round(z, 4).alias("z"),
    )


def bartels_rank_test(events: DataFrame) -> DataFrame:
    """Bartels rank test of randomness on the daily event-count
    series -- the rank version of von Neumann's ratio (RVN =
    successive rank differences squared over rank variance; ~2 under
    randomness, -> 0 trending, -> 4 oscillating): the
    order-sensitive companion to ``stats_runs_test`` that keeps
    magnitude ORDER information the sign-only runs test throws away.

    Midranks of the daily counts are DOUBLED integers (the house
    lattice), so the numerator sum of squared successive differences
    and the denominator centered sum of squares are both exact
    integer cross-products (scaled x4 and x4n^2 respectively -- the
    n^2 scaling clears the rank mean without a rational); RVN and
    the normal z = (RVN - 2) / sqrt(4/n) are one double chain each.

    Emits ONE row (n_days, rvn, z, random_order).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    wr = Window.orderBy("x")
    wt = Window.partitionBy("x")
    wo = Window.orderBy("day")
    ranked = daily.select(
        "day",
        (
            F.lit(2) * F.rank().over(wr) + F.count("*").over(wt) - F.lit(1)
        ).alias("r2"),
    )
    lagged = ranked.select(
        "r2", F.lag("r2").over(wo).alias("p2")
    )
    agg = lagged.agg(
        F.count("*").alias("n"),
        F.sum("r2").alias("s"),
        F.sum(F.col("r2") * F.col("r2")).alias("sxx"),
        F.sum(
            F.when(
                F.col("p2").isNotNull(),
                (F.col("r2") - F.col("p2")) * (F.col("r2") - F.col("p2")),
            ).otherwise(F.lit(0))
        ).alias("num4"),
    )
    n = F.col("n").cast("double")
    # denominator x 4n^2: n * (n*sxx - s^2) keeps everything integer
    # until this one double chain (unit-scale hardening)
    den = (
        n * F.col("sxx").cast("double") - F.col("s").cast("double")
        * F.col("s").cast("double")
    ) / n
    rvn = F.col("num4").cast("double") / den
    z = (rvn - F.lit(2.0)) / F.sqrt(F.lit(4.0) / n)
    return agg.filter((F.col("n") > 2) & (den > 0)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(rvn, 4).alias("rvn"),
        F.round(z, 4).alias("z"),
        (F.abs(z) < F.lit(1.96)).alias("random_order"),
    )


def cusum_break(events: DataFrame) -> DataFrame:
    """CUSUM structural-break scan of the daily event counts: the day
    maximizing |cumulative deviation from the global mean|, with the
    Kolmogorov-style normalized statistic -- "did the level shift,
    and when" as one row (``time_changepoint_binary`` answers the
    same via binary segmentation; CUSUM is the classical test whose
    null distribution is known, so its statistic is comparable
    across series).

    The scan is exact INTEGER arithmetic end to end: the cumulative
    deviation at day k is (n*P_k - k*S)/n with P_k the integer prefix
    sum, so |n*P_k - k*S| is an exact integer cross-product and the
    argmax day is decided without a single double (ties -> earliest
    day, the deterministic rule). Only the final normalization
    divides by n*sd*sqrt(n) in double at unit scale.

    Emits ONE row (n_days, break_day, cusum_stat).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    wo = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.orderBy("day")
    pref = daily.select(
        "day",
        F.sum("x").over(wo).alias("p"),
        F.row_number().over(wk).alias("k"),
    )
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("double") * F.col("x").cast("double")).alias(
            "sxx"
        ),
    )
    j = pref.crossJoin(F.broadcast(mom))
    dev = F.abs(F.col("n") * F.col("p") - F.col("k") * F.col("s"))
    best = (
        j.select("day", "n", "s", "sxx", dev.alias("dev"))
        .orderBy(F.col("dev").desc(), F.col("day"))
        .limit(1)
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    sd = F.sqrt((F.col("sxx") - s * s / n) / n)
    stat = F.col("dev").cast("double") / (n * sd * F.sqrt(n))
    return best.filter(F.col("sxx") * n > s * s).select(
        F.col("n").cast("long").alias("n_days"),
        F.col("day").alias("break_day"),
        F.round(stat, 4).alias("cusum_stat"),
    )


def acf_table(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation table of the daily event count at lags 1..7 --
    the raw ACF readout next to ``stats_pacf``'s partial form and
    ``stats_ljung_box``'s portmanteau (the three are read together:
    ACF says which lags correlate, PACF which do so directly, Ljung-
    Box whether any of it is significant).

    Each lag's numerator is the sum of (n*x_i - S)(n*x_{i+k} - S)
    cross-products and the denominator the lag-0 sum -- both computed
    in DOUBLE at unit scale (the int64-overflow hardening; the
    operands are exact integers, so the doubles are identical
    cross-engine). One day-ordered window produces all 7 lags off
    the calendar-bounded daily table.

    Emits (lag, n_pairs, acf).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    mom = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    wo = Window.orderBy("day")
    lagged = daily.select(
        "x",
        *[
            F.lag("x", k).over(wo).alias(f"x{k}")
            for k in range(1, max_lag + 1)
        ],
    ).crossJoin(F.broadcast(mom))
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    dev = n * F.col("x").cast("double") - s
    agg = lagged.agg(
        F.sum(dev * dev).alias("den"),
        *[
            F.sum(
                F.when(
                    F.col(f"x{k}").isNotNull(),
                    dev * (n * F.col(f"x{k}").cast("double") - s),
                )
            ).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
        *[
            F.sum(F.col(f"x{k}").isNotNull().cast("long")).alias(f"np{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    rows = [
        agg.select(
            F.lit(k).cast("int").alias("lag"),
            F.col(f"np{k}").cast("long").alias("n_pairs"),
            F.round(F.col(f"num{k}") / F.col("den"), 4).alias("acf"),
        )
        for k in range(1, max_lag + 1)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def weekend_lift(events: DataFrame) -> DataFrame:
    """Weekend lift per event type: the ratio of weekend daily-rate
    to weekday daily-rate -- the one-number per-type companion to
    ``hellinger_weekpart``'s whole-distribution distance (Hellinger
    says THAT the mix shifts; lift says which types drive it and in
    which direction).

    Counts and the weekend/weekday DAY counts (from the calendar the
    corpus actually spans) are exact integers; the lift is one
    integer cross-product ratio -- (we_n * wd_days) / (wd_n *
    we_days) -- at integer 1e-6 scale, NULL when a type never fires
    on weekdays.

    Emits (event_type, n_weekday, n_weekend, lift).
    """
    is_we = F.dayofweek("ts").isin(1, 7)
    per_type = events.groupBy("event_type").agg(
        F.sum(F.when(~is_we, 1).otherwise(0)).alias("n_wd"),
        F.sum(F.when(is_we, 1).otherwise(0)).alias("n_we"),
    )
    days = events.select(
        F.date_trunc("day", "ts").alias("day")
    ).distinct().agg(
        F.sum(
            F.when(F.dayofweek("day").isin(1, 7), 0).otherwise(1)
        ).alias("wd_days"),
        F.sum(
            F.when(F.dayofweek("day").isin(1, 7), 1).otherwise(0)
        ).alias("we_days"),
    )
    j = per_type.crossJoin(F.broadcast(days))
    lift = (
        F.round(
            (F.col("n_we") * F.col("wd_days")).cast("double")
            * F.lit(1e6)
            / (F.col("n_wd") * F.col("we_days")).cast("double")
        ).cast("long")
        / F.lit(1e6)
    )
    return j.select(
        "event_type",
        F.col("n_wd").cast("long").alias("n_weekday"),
        F.col("n_we").cast("long").alias("n_weekend"),
        F.when(
            (F.col("n_wd") > 0) & (F.col("we_days") > 0), lift
        ).alias("lift"),
    )


def cliff_delta(events: DataFrame) -> DataFrame:
    """Cliff's delta per event type over the deterministic A/B user
    hash (the ``mannwhitney_utest`` split) -- the EFFECT-SIZE
    companion to the U test's significance verdict: delta =
    P(a > b) - P(a < b) in [-1, 1], readable without reference to
    sample size (|delta| < 0.147 is the conventional 'negligible'
    line). A test can be significant and negligible at once; this is
    the column that says which.

    Exactness: greater/less pair counts come off the (type, value)
    compression with ONE exclusive cumulative window over the
    per-type VALUE alphabet (gt = sum cntA(v) * cumB(<v); lt
    symmetric from the B-side totals) -- all exact bigints; delta is
    one integer ratio at 1e-6 scale. NULL values drop first (no rank
    information), exactly as the U test does.

    Emits (event_type, n_a, n_b, gt_pairs, lt_pairs, cliff_delta).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
        .select(
            "event_type",
            "value",
            "cnt_a",
            (F.col("cnt") - F.col("cnt_a")).alias("cnt_b"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = vg.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        F.coalesce(F.sum("cnt_b").over(w), F.lit(0)).alias("b_below"),
        F.coalesce(F.sum("cnt_a").over(w), F.lit(0)).alias("a_below"),
    )
    agg = staged.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum("cnt_b").alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("b_below")).alias("gt_pairs"),
        F.sum(F.col("cnt_b") * F.col("a_below")).alias("lt_pairs"),
    )
    return agg.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("gt_pairs").cast("long").alias("gt_pairs"),
        F.col("lt_pairs").cast("long").alias("lt_pairs"),
        (
            F.round(
                (F.col("gt_pairs") - F.col("lt_pairs")) * F.lit(1e6)
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("cliff_delta"),
    )


def cvm_two_sample(events: DataFrame) -> DataFrame:
    """Two-sample Cramer-von Mises statistic per event type over the
    same A/B split -- the WHOLE-CDF distance next to
    ``stats_ks_two_sample``'s single worst point: KS sees the largest
    gap, CvM integrates every gap, so a distribution that differs
    mildly everywhere (but sharply nowhere) still registers.

    Declared variant: the ECDF form T = (n_a*n_b/N^2) * sum over
    pooled values of w_v * (F_a(v) - F_b(v))^2 with w_v the pooled
    count at v and F the inclusive ECDFs. Each per-value term is a
    double built from exact integer ratios (identical cross-engine)
    and QUANTIZED to an integer 1e-9 unit before the grouped sum
    (double hash-aggregation is fold-order-dependent -- the
    micro-nat discipline); the closing scale is one division.

    Emits (event_type, n_a, n_b, cvm_stat).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
    )
    w_in = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    staged = vg.select(
        "event_type",
        "cnt",
        F.sum("cnt_a").over(w_in).alias("ca_in"),
        (F.sum("cnt").over(w_in) - F.sum("cnt_a").over(w_in)).alias(
            "cb_in"
        ),
        F.sum("cnt_a").over(w_all).alias("n_a"),
        (F.sum("cnt").over(w_all) - F.sum("cnt_a").over(w_all)).alias(
            "n_b"
        ),
    ).filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    fdiff = (
        F.col("ca_in").cast("double") / F.col("n_a").cast("double")
        - F.col("cb_in").cast("double") / F.col("n_b").cast("double")
    )
    term9 = F.round(
        F.col("cnt").cast("double") * fdiff * fdiff * F.lit(1e9)
    ).cast("long")
    agg = staged.groupBy("event_type").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(term9).alias("t9"),
    )
    n_tot = F.col("n_a") + F.col("n_b")
    return agg.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.col("t9").cast("double")
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            / (
                F.lit(1e9)
                * n_tot.cast("double")
                * n_tot.cast("double")
            ),
            6,
        ).alias("cvm_stat"),
    )


def jonckheere_terpstra(lineitem: DataFrame) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: do
    line-item quantities drift as the ship-date MONTH advances? The
    k-group generalization of Mann-Whitney AGAINST AN ORDERING --
    anova/kruskal ask 'any difference', JT asks 'a monotone one',
    which is the seasonal-drift question.

    Exactness: the corpus compresses to the (month, quantity) count
    grid FIRST (12 x 50 cells -- both alphabets bounded), so the
    pairwise-U fold is a grid self-join, never a data-sized one.
    Ties carry half-credit, so the statistic rides DOUBLED as an
    exact bigint (2U = 2*[x1 < x2] + [x1 = x2] summed over ordered
    group pairs); mean and the tie-free null variance come from
    group sizes; the z division is the only double. Declared simple
    variant: no tie correction in the variance, exactly like
    ``stats_mannwhitney``'s z.

    Emits ONE row (n_total, jt2, e_jt2, zscore).
    """
    grid = lineitem.select(
        F.month("l_shipdate").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    ).groupBy("g", "v").agg(F.count("*").alias("cnt"))
    a = grid.select(
        F.col("g").alias("g1"), F.col("v").alias("v1"),
        F.col("cnt").alias("c1"),
    )
    b = grid.select(
        F.col("g").alias("g2"), F.col("v").alias("v2"),
        F.col("cnt").alias("c2"),
    )
    # grid x grid: 600 x 600 cells max -- alphabet-squared, never
    # corpus-sized
    pairs = a.join(
        b,
        (F.col("g1") < F.col("g2"))
        & (F.col("v1") <= F.col("v2")),
    ).select(
        F.when(F.col("v1") < F.col("v2"), 2 * F.col("c1") * F.col("c2"))
        .otherwise(F.col("c1") * F.col("c2"))
        .alias("u2")
    )
    jt2 = pairs.agg(F.sum("u2").alias("jt2"))
    sizes = grid.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    moments = sizes.agg(
        F.sum("n_g").alias("n"),
        F.sum(F.col("n_g") * F.col("n_g")).alias("s2"),
        F.sum(
            F.col("n_g") * F.col("n_g") * (2 * F.col("n_g") + 3)
        ).alias("s3"),
    )
    joined = jt2.crossJoin(F.broadcast(moments))
    e2 = (F.col("n") * F.col("n") - F.col("s2")) / 2  # doubled mean
    var = (
        F.col("n").cast("double") * F.col("n") * (2 * F.col("n") + 3)
        - F.col("s3").cast("double")
    ) / F.lit(72.0)
    # single-populated-group input: zero cross pairs (jt2 coalesces
    # to 0) AND zero null variance -- the statistic is degenerate,
    # z NULL (hypothesis found the shape; fixtures never do)
    j2 = F.coalesce(F.col("jt2"), F.lit(0))
    return joined.select(
        F.col("n").cast("long").alias("n_total"),
        j2.cast("long").alias("jt2"),
        e2.cast("long").alias("e_jt2"),
        F.when(
            var > 0,
            F.round(
                (j2 - e2).cast("double") / (F.lit(2.0) * F.sqrt(var)), 6
            ),
        ).alias("zscore"),
    )


def retention_halflife(events: DataFrame) -> DataFrame:
    """Exponential retention half-life: pool the weekly retention
    triangle across cohorts per week offset, fit ln(rate) ~ offset by
    closed-form OLS over offsets >= 1, and report the implied
    half-life in weeks -- the single number the triangle's curve
    compresses to (the acquisition-payback input next to
    ``events_retention_triangle``'s full matrix).

    Exactness: pooled (retained, size) per offset are exact bigints;
    each offset's ln(rate) is rounded to integer MICRO-NATS before
    the OLS moment sums (the lm_* discipline -- ln differs at ulp
    scale across engines, sums must fold integers); the slope and
    half-life are closed-form doubles off those integer moments.
    Offsets with zero retention drop (no ln), offset 0 is excluded
    by construction (share 1.0, pure intercept mass).

    Emits ONE row (n_points, slope_micro_nats, half_life_weeks).
    """
    first_seen = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    tri = (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("off"),
        )
        .agg(F.count_distinct("user_id").alias("n_ret"))
    )
    pooled = (
        tri.join(F.broadcast(sizes), "cohort_week")
        .filter(F.col("off") >= 1)
        .groupBy("off")
        .agg(
            F.sum("n_ret").alias("ret"),
            F.sum("cohort_size").alias("size"),
        )
        .filter(F.col("ret") > 0)
    )
    lr = F.round(
        F.log(
            F.col("ret").cast("double") / F.col("size").cast("double")
        )
        * F.lit(1e6)
    ).cast("long")
    pts = pooled.select(F.col("off").cast("long").alias("x"), lr.alias("y6"))
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y6")).alias("sxy"),
    )
    slope6 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    import math

    # a perfectly flat pooled curve (every ln(rate) equal after the
    # micro-nat rounding -- tiny fixtures do this) has slope exactly
    # 0: the half-life is undefined, not an error
    return m.filter(F.col("n") >= 2).select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope6, 6).alias("slope_micro_nats"),
        F.when(
            slope6 != 0.0,
            F.round(F.lit(-math.log(2.0) * 1e6) / slope6, 4),
        ).alias("half_life_weeks"),
    )


def gini_trend(events: DataFrame) -> DataFrame:
    """Monthly Gini of per-user event concentration -- is activity
    centralizing onto power users over time? ``stats_gini`` frozen
    per calendar month over event COUNTS, the trend a product-health
    review reads next to the DAU curve (flat usage with a rising
    Gini is a shrinking-core warning the mean never shows).

    Exactness: per-(month, user) counts are exact; the rank stage
    runs per month ordered by (count, user_id) -- the unique-key
    tiebreak -- and the Gini closed form is one integer-exact
    cross-multiplied expression, rounded 4 (the stats_gini rule).

    Emits (month, n_users, n_events, gini).
    """
    mu = events.groupBy(
        F.date_trunc("month", "ts").alias("month"), "user_id"
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("month").orderBy("x", "user_id")
    ranked = mu.select(
        "month", "x", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("month").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        "month",
        F.col("n").cast("long").alias("n_users"),
        F.col("sx").cast("long").alias("n_events"),
        F.round(
            F.lit(2.0) * F.col("six").cast("double")
            / (F.col("n") * F.col("sx")).cast("double")
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
            4,
        ).alias("gini"),
    )


def cohort_ltv_curve(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by FIRST order
    month, each (cohort, months-since-first) cell carrying the
    cohort's CUMULATIVE revenue per member -- the payback curve whose
    flattening point prices acquisition (the orders-side companion to
    the events-side retention triangle).

    Exactness: revenue folds as DECIMAL cents into exact 1e-4-dollar
    integers (the rev_c4 rule -- Spark truncates decimal->bigint
    where DuckDB rounds, so the unit is chosen to make the cast
    exact); the cumulative runs per cohort over the bounded
    month-offset axis; per-member LTV is one integer ratio at 1e-4.

    Emits (cohort_month, month_offset, cohort_size, cum_ltv).
    """
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cm")
    )
    sizes = first.groupBy("cm").agg(F.count("*").alias("cohort_size"))
    rev = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cm",
            (
                (F.year("o_orderdate") - F.year("cm")) * 12
                + (F.month("o_orderdate") - F.month("cm"))
            ).alias("month_offset"),
        )
        .agg(
            F.sum(
                F.col("o_totalprice").cast("decimal(18,2)")
            ).alias("rev_d")
        )
        .select(
            "cm",
            "month_offset",
            (F.col("rev_d") * 10000).cast("long").alias("rev_c4"),
        )
    )
    wc = (
        Window.partitionBy("cm")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.select(
            "cm", "month_offset", F.sum("rev_c4").over(wc).alias("cum_c4")
        )
        .join(F.broadcast(sizes), "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("month_offset").cast("int").alias("month_offset"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (
                F.round(
                    F.col("cum_c4") * F.lit(1.0)
                    / F.col("cohort_size").cast("double")
                ).cast("long")
                / F.lit(1e4)
            ).alias("cum_ltv"),
        )
    )


def lepage_test(events: DataFrame) -> DataFrame:
    """LePage two-sample LOCATION-OR-SCALE test per event type: L =
    z_Wilcoxon^2 + z_AnsariBradley^2, chi-square(2) under the null --
    the omnibus companion to running the two component tests
    separately (a variant can shift the mean OR the spread; L fires
    on either without the two-test multiplicity).

    Pure composition of the two REGISTERED components over the same
    A/B hash split: both z's arrive already rounded to 4 (their
    declared outputs), so the squares and the sum are identical
    doubles cross-engine by construction -- no new rank machinery,
    no new exactness argument. An all-tied type (Ansari variance 0,
    z NULL) propagates NULL L, the honest verdict.

    Emits (event_type, z_wilcoxon, z_ansari, lepage_l, significant)
    -- significant at the chi2(2) 0.05 critical value 5.991.
    """
    w = mannwhitney_utest(events).select(
        "event_type", F.col("zscore").alias("z_wilcoxon")
    )
    a = ansari_bradley(events).select(
        "event_type", F.col("zscore").alias("z_ansari")
    )
    L = (
        F.col("z_wilcoxon") * F.col("z_wilcoxon")
        + F.col("z_ansari") * F.col("z_ansari")
    )
    return w.join(a, "event_type").select(
        "event_type",
        "z_wilcoxon",
        "z_ansari",
        F.round(L, 6).alias("lepage_l"),
        (L > F.lit(5.991)).alias("significant"),
    )


def power_law_alpha(events: DataFrame, xmin: int = 2) -> DataFrame:
    """Discrete power-law (Zipf) exponent of per-user activity by the
    Hill/Clauset MLE: alpha = 1 + n / sum(ln(x / (xmin - 0.5))) over
    users with at least ``xmin`` events -- THE heavy-tail readout of
    an event log (alpha near 2 is the classic user-activity tail;
    drift toward 1 means the whales are taking over, the same signal
    ``events_gini_trend`` reads as concentration).

    Exactness: per-user counts are exact integers; each user's ln
    term is rounded to integer MICRO-NATS before the single grouped
    sum (the lm_* fold discipline), so the fold is order-free and the
    closing alpha is one division off two exact integers.

    Emits ONE row (n_users, xmin, alpha).
    """
    import math

    per_user = events.groupBy("user_id").agg(F.count("*").alias("x"))
    terms = per_user.filter(F.col("x") >= xmin).select(
        F.round(
            F.log(F.col("x").cast("double") / F.lit(xmin - 0.5))
            * F.lit(1e6)
        )
        .cast("long")
        .alias("t6")
    )
    agg = terms.agg(F.count("*").alias("n"), F.sum("t6").alias("s6"))
    return agg.filter(F.col("s6") > 0).select(
        F.col("n").cast("long").alias("n_users"),
        F.lit(xmin).cast("long").alias("xmin"),
        F.round(
            F.lit(1.0)
            + F.col("n").cast("double") * F.lit(1e6)
            / F.col("s6").cast("double"),
            6,
        ).alias("alpha"),
    )


def seasonality_index(orders: DataFrame) -> DataFrame:
    """Classical monthly seasonality index of order revenue: each
    (year, month)'s revenue relative to that YEAR's mean monthly
    revenue -- the demand-planning normalization that makes Decembers
    comparable across years (index > 1 = above that year's trend).

    Exactness: monthly revenue folds as DECIMAL cents into exact
    1e-4-dollar integers; the yearly mean stays a ratio of exact
    integers (sum_c4 / n_months), and the index cross-multiplies
    integers before ONE rounding at 1e-6 -- no intermediate double
    mean.

    Emits (year, month, revenue, seasonality_index).
    """
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 10000)
        .cast("long")
        .alias("rev_c4")
    )
    wy = Window.partitionBy("year")
    staged = monthly.select(
        "year",
        "month",
        "rev_c4",
        F.sum("rev_c4").over(wy).alias("y_c4"),
        F.count("*").over(wy).alias("n_m"),
    )
    return staged.select(
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        (F.col("rev_c4").cast("double") / F.lit(1e4)).alias("revenue"),
        (
            F.round(
                F.col("rev_c4") * F.col("n_m") * F.lit(1e6)
                / F.col("y_c4").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("seasonality_index"),
    )


def brunner_munzel(events: DataFrame) -> DataFrame:
    """Brunner-Munzel two-sample test per event type over the shared
    A/B hash split -- the rank test that drops Mann-Whitney's
    equal-variance assumption (the nonparametric Behrens-Fisher
    problem): W estimates P(A < B) against 1/2 with each group's OWN
    rank variance, so a variant that changes spread as well as
    location no longer inflates the location verdict.

    Exactness: both pooled and within-group midranks ride DOUBLED as
    exact integers off the (type, value) compression (two cumulative
    windows over the per-type VALUE alphabet); the per-value squared
    deviation terms cnt * (r2p - r2g)^2 are exact bigints (bounded by
    4N^3 per type -- inside int64 for any per-type alphabet this
    engine's fixtures see; the 100 TB posture re-scales to unit
    doubles exactly as ``ansari_bradley`` documents), and the closing
    statistic is one double expression in the same operation order on
    both engines. Groups need n >= 2 and nonzero variance, else NULL.

    Emits (event_type, n_a, n_b, p_hat, w_stat, significant).
    ``p_hat`` is the estimated P(A < B) + 0.5 * P(A = B).
    """
    variant_a = (
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("ab"), F.col("user_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    vg = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", variant_a.alias("is_a"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("is_a").cast("long")).alias("cnt_a"),
        )
        .select(
            "event_type",
            "value",
            "cnt",
            "cnt_a",
            (F.col("cnt") - F.col("cnt_a")).alias("cnt_b"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vg.select(
        "event_type",
        "cnt",
        "cnt_a",
        "cnt_b",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2p"),
        (
            2 * F.coalesce(F.sum("cnt_a").over(w), F.lit(0))
            + F.col("cnt_a")
            + 1
        ).alias("r2a"),
        (
            2 * F.coalesce(F.sum("cnt_b").over(w), F.lit(0))
            + F.col("cnt_b")
            + 1
        ).alias("r2b"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum("cnt_b").alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("r2p")).alias("sa"),
        F.sum(F.col("cnt_b") * F.col("r2p")).alias("sb"),
        F.sum(
            F.col("cnt_a")
            * (F.col("r2p") - F.col("r2a"))
            * (F.col("r2p") - F.col("r2a"))
        ).alias("ssa"),
        F.sum(
            F.col("cnt_b")
            * (F.col("r2p") - F.col("r2b"))
            * (F.col("r2p") - F.col("r2b"))
        ).alias("ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    xa = F.col("sa").cast("double") - na * (na + 1)
    xb = F.col("sb").cast("double") - nb * (nb + 1)
    s2a = (F.col("ssa").cast("double") - xa * xa / na) / (na - 1)
    s2b = (F.col("ssb").cast("double") - xb * xb / nb) / (nb - 1)
    dr = F.col("sb").cast("double") / nb - F.col("sa").cast("double") / na
    var = na * s2a + nb * s2b
    w_stat = F.when(var > 0, na * nb * dr / (n * F.sqrt(var)))
    # P(A < B) + P(A = B)/2 = (mean pooled rank of B - (nb+1)/2) / na
    # -- in doubled units: (sb/nb - (nb+1)) / (2*na)
    p_hat = (F.col("sb").cast("double") / nb - (nb + 1)) / (2 * na)
    return agg.filter((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(p_hat, 6).alias("p_hat"),
        F.round(w_stat, 4).alias("w_stat"),
        (F.abs(w_stat) > F.lit(1.96)).alias("significant"),
    )


def seasonal_naive_error(events: DataFrame, season: int = 7) -> DataFrame:
    """Error profile of the SEASONAL-NAIVE daily-volume forecaster
    (prediction = the count ``season`` days earlier) -- the baseline
    every real forecasting effort must beat, and a direct seasonality
    readout in its own right (a small seasonal-naive error means the
    weekly cycle explains most of the variance; acf/seasonality ops
    say the same thing less operationally).

    Exactness: daily counts and absolute errors are exact integers
    off the calendar-bounded daily reduction; MAE and the WAPE-style
    normalized error are one integer ratio each at 1e-6. Days without
    a lookback drop (no prediction exists).

    Emits ONE row (n_days, mae, wape).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    wo = Window.orderBy("day")
    lagd = daily.select(
        "x",
        F.lag("day", season).over(wo).alias("pday"),
        F.lag("x", season).over(wo).alias("px"),
        F.col("day"),
    ).filter(
        F.col("px").isNotNull()
        # the lag must be exactly `season` CALENDAR days back --
        # a gap in the daily series would silently misalign the
        # seasonal index otherwise
        & (F.datediff("day", F.col("pday")) == season)
    )
    agg = lagd.agg(
        F.count("*").alias("n"),
        F.sum(F.abs(F.col("x") - F.col("px"))).alias("sae"),
        F.sum("x").alias("sx"),
    )
    return agg.filter(F.col("n") > 0).select(
        F.col("n").cast("long").alias("n_days"),
        (
            F.round(F.col("sae") * F.lit(1e6) / F.col("n").cast("double"))
            .cast("long")
            / F.lit(1e6)
        ).alias("mae"),
        (
            F.round(F.col("sae") * F.lit(1e6) / F.col("sx").cast("double"))
            .cast("long")
            / F.lit(1e6)
        ).alias("wape"),
    )
