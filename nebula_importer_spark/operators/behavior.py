"""User-behavior analytics over event streams: retention cohorts and
sequential funnels.

Reference analog: nebula-importer has no analytics plane (it stops at
bulk load); these are the first queries a NebulaGraph/warehouse consumer
runs on an ingested event table, re-expressed Spark-first.

Scale shape:

- retention_cohorts: distinct (user, day) pairs first — the raw event
  volume collapses to at most users×days rows BEFORE anything else
  shuffles; cohort assignment is a min-agg and an equi-join on user_id
  (AQE broadcast-degrades when the user dimension is small).
- funnel_steps: per-user greedy sequential matching as ONE shuffle — the
  step events (already filtered to the step types, projected to
  (epoch_us, step_idx) ints) group per user, sort in-array, and a JVM
  `aggregate` fold advances a (next_step, threshold) state. Greedy
  earliest-advance is exactly the chained-MIN semantics (t1 = min step1,
  t2 = min step2 ≥ t1, …) that the SQL twin computes with k joined CTEs
  — two independent formulations, one hash.
- Both emit integers only (driver-gate discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["retention_cohorts", "funnel_steps", "rolling_active_users", "event_transitions"]

SECONDS_PER_DAY = 86400


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort retention: users are cohorted by their FIRST active day
    (UTC day number = floor(epoch/86400)); for each (cohort_day,
    day_offset) report how many cohort members were active day_offset
    days after their first day → ``(cohort_day, day_offset, n_users)``.
    Offset 0 rows equal cohort sizes.

    Events collapse to distinct (user, day) immediately — one exchange
    over fixed-width longs no matter how many raw events a bot user
    emits; the cohort min and the activity join then run on the already
    user-day-deduped table. `max_offset_days` prunes the long tail
    (applied AFTER cohort assignment, so cohort sizes stay exact).
    """
    days = (
        events.select(
            F.col(user_col).alias("user_id"),
            # parquet timestamps may arrive as TIMESTAMP_NTZ — cast through
            # timestamp (session tz is pinned UTC) before the epoch cast
            F.floor(
                F.col(ts_col).cast("timestamp").cast("long") / SECONDS_PER_DAY
            )
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = days.join(cohort, "user_id").select(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
    )
    if max_offset_days is not None:
        joined = joined.filter(F.col("day_offset") <= max_offset_days)
    return joined.groupBy("cohort_day", "day_offset").agg(
        F.count("*").cast("long").alias("n_users")
    )


def rolling_active_users(
    events: DataFrame,
    *,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling distinct active users (the WAU/MAU dashboard metric):
    for every OBSERVED activity day, how many distinct users were active
    in the trailing `window_days`-day window ending that day →
    ``(day, n_users)``, day = UTC day number.

    Exact sliding-window COUNT DISTINCT without a range join and without
    a distinct-over-window (which Spark doesn't support): events first
    collapse to distinct (user, day) — the bot-volume guard shared with
    retention_cohorts — then each user-day EXPLODES into the ≤
    `window_days` window-ends it contributes to (a constant fan-out,
    unlike a range join's data-dependent blow-up), dedups (user,
    window_end) so multi-day activity inside one window counts once, and
    counts per window-end. Window-ends are restricted to observed days
    via a semi-join (trailing ghost windows past the last activity day
    are not reported). All integers.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    days = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.floor(
                F.col(ts_col).cast("timestamp").cast("long") / SECONDS_PER_DAY
            )
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    obs = days.select("day").distinct()
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("wend"),
    ).join(obs.withColumnRenamed("day", "wend"), "wend", "left_semi")
    return (
        contrib.distinct()
        .groupBy(F.col("wend").alias("day"))
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events: int = 100_000,
) -> DataFrame:
    """Sequential funnel: how many users complete step j only counting
    step-j events at-or-after their step-(j-1) completion time →
    ``(step_idx, step, n_users)``, step_idx 1-based, monotonically
    non-increasing n_users.

    Semantics = chained earliest-completion: t₁ = min ts of steps[0],
    tⱼ = min ts of steps[j-1] with ts ≥ tⱼ₋₁ (microsecond precision; a
    same-microsecond later step counts, matching the ≥ of the SQL twin).
    Implemented as ONE user shuffle: step events are filtered and
    projected to (epoch_us, step_idx) map-side, grouped per user, sorted
    in-array — ties at the same microsecond order by step_idx, which is
    exactly what ≥ admits — and folded by a JVM `aggregate` whose state
    is (next expected step, time threshold). Greedy earliest-advance is
    optimal for chained mins, so the fold reproduces the k-CTE SQL twin
    bit-for-bit.

    `max_events` bounds the per-user grouped array (the deterministic
    EARLIEST prefix is kept — slice after sort). A user past the cap
    would need >max_events funnel-step events; raise it rather than
    accept silent truncation if that is plausible for your corpus.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if len(set(steps)) != len(steps):
        raise ValueError(f"steps must be distinct, got {steps}")
    k = len(steps)
    idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    per = events.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("user_id"),
        F.struct(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts"),
            idx[F.col(type_col)].cast("int").alias("idx"),
        ).alias("_e"),
    )
    folded = per.groupBy("user_id").agg(
        F.aggregate(
            F.slice(F.array_sort(F.collect_list("_e")), 1, max_events),
            F.struct(
                F.lit(0).cast("int").alias("step"),
                F.lit(-(2**62)).cast("long").alias("thr"),
            ),
            lambda acc, e: F.when(
                (acc["step"] < k)
                & (e["idx"] == acc["step"])
                & (e["ts"] >= acc["thr"]),
                F.struct(
                    (acc["step"] + 1).alias("step"), e["ts"].alias("thr")
                ),
            ).otherwise(acc),
        )["step"].alias("completed")
    )
    reached = folded.filter(F.col("completed") >= 1).select(
        "user_id",
        F.explode(F.sequence(F.lit(1), F.col("completed"))).alias("step_idx"),
    )
    counts = reached.groupBy("step_idx").agg(
        F.count("*").cast("long").alias("_n")
    )
    # always emit one row per step (zero-count steps included) — the k-row
    # scaffold is a plan constant, the join broadcasts
    scaffold = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    return scaffold.join(
        counts.withColumn("step_idx", F.col("step_idx").cast("int")),
        "step_idx",
        "left",
    ).select(
        "step_idx",
        "step",
        F.coalesce("_n", F.lit(0).cast("long")).alias("n_users"),
    )


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    — "after a `view`, what happens next?" — the behavioral-modeling /
    next-event-prediction summary a warehouse consumer derives from an
    ingested event table (and the edge-weight table of a journey graph).

    Order within a user is ``(ts, id)`` — the id tie-break makes same-
    timestamp bursts deterministic (the sessionize/funnel discipline).

    Distributed shape: ONE user-keyed exchange backs the lead() window
    (events are projected to (user, ts, id, type) first — no payload
    columns travel); adjacent pairs then collapse via a partial-agg'd
    groupBy on (src, dst) — at most |types|² rows leave the map side per
    task, so the transition matrix itself never stresses the cluster. The
    per-source total rides a window over that |types|²-row table (a
    single tiny exchange, not a join back to the data).

    Returns ``(src_type, dst_type, n_transitions, p)`` where ``p`` is the
    row-normalized probability rounded to 6 dp (counts are the exact
    payload; the rounded ratio is for humans and engine-parity checks).
    """
    w = Window.partitionBy("_u").orderBy("_ts", "_eid")
    pairs = (
        events.select(
            F.col(user_col).alias("_u"),
            F.col(ts_col).alias("_ts"),
            F.col(id_col).alias("_eid"),
            F.col(type_col).alias("src_type"),
        )
        .withColumn("dst_type", F.lead("src_type").over(w))
        .filter(F.col("dst_type").isNotNull())
    )
    counts = pairs.groupBy("src_type", "dst_type").agg(
        F.count("*").alias("n_transitions")
    )
    tot = Window.partitionBy("src_type")
    return counts.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(tot).cast("double"),
            6,
        ).alias("p"),
    )


def activity_streaks(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern done distributed: distinct active days per
    user, then the island key ``epoch_day − dense_rank`` (consecutive
    days share it, any gap shifts it), one count per island, one max per
    user. Engagement/retention's streak view, and the pattern behind
    SLA-uptime and sensor-continuity reports.

    All integer arithmetic on epoch days (``datediff`` from the fixed
    1970-01-01 origin — no timezone-dependent date math beyond the
    session's pinned UTC). Distributed shape: one (user, day) dedup
    exchange, one user-keyed window (dense_rank over the user's DAYS —
    day-count-bounded, not event-bounded), two partial-agg'd groupBys.

    Returns ``(user_col, n_active_days, n_streaks, longest_streak,
    current_streak_end)`` — ``current_streak_end`` is the last day of
    the LONGEST streak (ties: the latest), as a yyyy-MM-dd string.
    """
    for c in (user_col, ts_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from pyspark.sql.window import Window as W

    days = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            F.datediff(F.to_date(ts_col), F.lit("1970-01-01")).alias("_d"),
        )
        .distinct()
    )
    w = W.partitionBy("_u").orderBy("_d")
    islands = days.withColumn(
        "_isl", F.col("_d") - F.dense_rank().over(w)
    )
    per_island = islands.groupBy("_u", "_isl").agg(
        F.count(F.lit(1)).cast("long").alias("_len"),
        F.max("_d").alias("_end"),
    )
    return (
        per_island.groupBy("_u")
        .agg(
            F.sum("_len").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("_len").cast("long").alias("longest_streak"),
            F.max(F.struct(F.col("_len"), F.col("_end")))["_end"]
            .alias("_best_end"),
        )
        .select(
            F.col("_u").alias(user_col),
            "n_active_days",
            "n_streaks",
            "longest_streak",
            F.date_format(
                F.date_add(F.lit("1970-01-01"), F.col("_best_end")),
                "yyyy-MM-dd",
            ).alias("current_streak_end"),
        )
    )


def event_paths(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Frequent ordered event paths — the n-step extension of
    :func:`event_transitions` (journey mining: "view → click → purchase"
    counts, the product-analytics path report and the behavioral-clone
    training signal). Every length-``n`` window of each user's
    ``(ts, id)``-ordered event-type sequence counts once; paths render
    as ``a>b>c`` strings.

    Distributed shape: ONE user-keyed exchange backs two stacked lead()
    windows (same exchange — identical partitioning/ordering, Spark
    plans one Window operator); the n-gram collapse is a partial-agg'd
    groupBy bounded map-side by ≤ |types|ⁿ distinct paths per task. No
    per-user collect_list — a mega-user's sequence never materializes
    as one array (the sessionize mega-key lesson applied to journey
    mining).

    Returns ``(path, n_occurrences, n_users)`` for paths seen at least
    ``min_count`` times; ``n_users`` = distinct users exhibiting it.
    """
    if not 2 <= n <= 5:
        raise ValueError(f"n must be in [2, 5], got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    for c in (user_col, ts_col, type_col, id_col):
        if c not in events.columns:
            raise ValueError(f"column {c!r} not in input: {events.columns}")
    from pyspark.sql.window import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    ).select(user_col, ts_col, id_col, type_col)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    paths = base.select(
        F.col(user_col).alias("_u"),
        F.concat_ws(">", *steps).alias("path"),
        steps[-1].alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.count_distinct("_u").cast("long").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def attribution(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion_type: str,
    touch_types: list[str],
    window_sec: float,
    scale: int = 1_000_000,
) -> DataFrame:
    """Multi-touch conversion attribution: for every conversion event,
    find the user's touch events in the ``window_sec`` lookback and
    assign credit under the three standard models AT ONCE — first-touch,
    last-touch, and linear — in exact ppm integers (the analytics layer
    every funnel owner asks of an event stream; fractional credit models
    are where float pipelines silently drift, so the linear split is a
    truncating ``div`` with the remainder pinned to the FIRST touch:
    credits sum to exactly ``scale`` per conversion under every model).

    Pair semantics: touch qualifies iff ``0 ≤ ts_conv − ts_touch ≤
    window`` (a touch at the conversion instant counts); touch order
    within a conversion is the total order ``(ts, id)``, so ranks — and
    therefore credits — are unique and engine-stable. Conversions with
    no in-window touch emit nothing (organic conversions are the
    complement, countable upstream).

    Distributed shape: the lookback join is the range_self_join
    bucketing — ``bucket = floor(us/window)``, the touch side emits
    (bucket, bucket+1), ONE (user, bucket) equi-join — so candidates
    scale with per-user temporal density, never |events|². The per-
    conversion window (rank + count) partitions on conversion id,
    bounded by touches-per-window; a mega-user is already split across
    conversions by construction.

    Returns ``(user, conversion_id, touch_id, touch_type, gap_us,
    n_touches, credit_first_ppm, credit_last_ppm, credit_linear_ppm)``.
    """
    for c in (user_col, ts_col, type_col, id_col):
        if c not in events.columns:
            raise ValueError(f"column {c!r} not in input: {events.columns}")
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if conversion_type in touch_types:
        raise ValueError(
            f"conversion_type {conversion_type!r} must not be a touch type"
        )
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    from nebula_importer_spark.operators.temporal import (  # noqa: PLC0415
        _floor_div_us,
        _us,
    )

    window_us = int(window_sec * 1_000_000)
    if window_us < 1:
        raise ValueError(f"window_sec={window_sec} is below 1 microsecond")
    base = events.select(
        F.col(user_col).alias("_k"),
        _us(F.col(ts_col)).alias("_us"),
        F.col(type_col).alias("_t"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_us").isNotNull() & F.col("_k").isNotNull())
    conv = base.filter(F.col("_t") == conversion_type).select(
        "_k",
        F.col("_us").alias("_cus"),
        F.col("_id").alias("_cid"),
        _floor_div_us("_us", window_us).alias("_cb"),
    )
    touch = (
        base.filter(F.col("_t").isin(list(touch_types)))
        .select(
            "_k",
            F.col("_us").alias("_tus"),
            F.col("_id").alias("_tid"),
            F.col("_t").alias("_ttype"),
            _floor_div_us("_us", window_us).alias("_tb"),
        )
        .withColumn("_jb", F.explode(F.array(F.col("_tb"), F.col("_tb") + 1)))
        .drop("_tb")
    )
    pairs = conv.join(
        touch,
        (conv["_k"] == touch["_k"]) & (conv["_cb"] == touch["_jb"]),
    ).filter(
        (F.col("_cus") - F.col("_tus") >= 0)
        & (F.col("_cus") - F.col("_tus") <= window_us)
    ).select(
        conv["_k"].alias("user"),
        "_cid",
        "_tid",
        "_ttype",
        (F.col("_cus") - F.col("_tus")).alias("gap_us"),
        "_tus",
    )
    w_asc = Window.partitionBy("_cid").orderBy("_tus", "_tid")
    w_cnt = Window.partitionBy("_cid")
    ranked = pairs.select(
        "user",
        F.col("_cid").alias("conversion_id"),
        F.col("_tid").alias("touch_id"),
        F.col("_ttype").alias("touch_type"),
        "gap_us",
        F.row_number().over(w_asc).alias("_rk"),
        F.count("*").over(w_cnt).alias("_n"),
    )
    share = F.expr(f"{scale} div _n")
    rem = F.expr(f"{scale} - _n * ({scale} div _n)")
    return ranked.select(
        "user",
        "conversion_id",
        "touch_id",
        "touch_type",
        "gap_us",
        F.col("_n").cast("long").alias("n_touches"),
        F.when(F.col("_rk") == 1, F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("credit_first_ppm"),
        F.when(F.col("_rk") == F.col("_n"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("credit_last_ppm"),
        (share + F.when(F.col("_rk") == 1, rem).otherwise(F.lit(0)))
        .cast("long")
        .alias("credit_linear_ppm"),
    )


def kaplan_meier(
    df: DataFrame,
    *,
    duration_col: str = "duration",
    event_col: str = "event",
    scale: int = 1_000_000,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier
    1958) — THE churn/retention curve: given per-subject integer
    ``duration`` and ``event`` (1 = event observed, 0 = right-censored),
    estimate S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over the event times.

    Exactness via the quantized-recurrence discipline (embedding_pca /
    bradley_terry): the survival product is re-quantized to micro units
    at EVERY step — ``S ← (S·(nᵢ−dᵢ)) div nᵢ`` — so the curve is a pure
    integer recurrence, bit-identical on any engine (true rational
    products overflow any fixed precision after ~40 steps; one floored
    div per step is the honest, gate-checkable contract).

    Distributed shape: ONE partial-aggregable groupBy collapses subjects
    to the bounded day-level table (distinct durations — hundreds, not
    data-sized); risk sets come from one prefix-sum window over that
    metadata; the sequential product folds JVM-side inside a single
    ``aggregate`` over the collected, sorted (t, n, d) array (the
    hilbert_key runtime-fold pattern — the ONLY sequential object is
    metadata-sized by construction). No data row crosses the driver.

    Conventions: ties at a time resolve events-before-censors (the
    standard KM rule — both count in that time's risk set); censored-
    only times do not emit a row (they only shrink later risk sets);
    NULL duration/event rows are dropped; negative durations raise.

    Returns one row per EVENT time, in time order:
    ``(t, n_risk, n_events, n_censored, survival_micro)``.
    """
    for c in (duration_col, event_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    base = df.select(
        F.col(duration_col).cast("long").alias("_t"),
        F.col(event_col).cast("long").alias("_e"),
    ).filter(F.col("_t").isNotNull() & F.col("_e").isNotNull())
    if base.filter(
        (F.col("_t") < 0) | ~F.col("_e").isin(0, 1)
    ).take(1):
        raise ValueError(
            "durations must be >= 0 and event flags in {0, 1}"
        )
    days = base.groupBy("_t").agg(
        F.sum("_e").cast("long").alias("_d"),
        F.sum(F.lit(1) - F.col("_e")).cast("long").alias("_c"),
    )
    w = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # metadata-sized single-ordering window: one row per distinct time
    risk = days.select(
        "_t",
        "_d",
        "_c",
        (
            F.lit(0)
            + F.coalesce(
                F.sum(F.col("_d") + F.col("_c")).over(w), F.lit(0)
            )
        ).alias("_before"),
    )
    total = base.count()
    risk = risk.withColumn(
        "_n", (F.lit(total) - F.col("_before")).cast("long")
    ).filter(F.col("_d") > 0)
    packed = risk.agg(
        F.array_sort(
            F.collect_list(F.struct("_t", "_n", "_d", "_c"))
        ).alias("_steps")
    )
    curve = packed.select(
        F.aggregate(
            "_steps",
            F.array().cast(
                "array<struct<_t:long,_n:long,_d:long,_c:long,_s:long>>"
            ),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["_t"].alias("_t"),
                        x["_n"].alias("_n"),
                        x["_d"].alias("_d"),
                        x["_c"].alias("_c"),
                        # exact floor div: (m − m % n) is an exact
                        # multiple of n, so the float division is exact
                        # (the _floor_div_us trick; plain a/b can round
                        # past the floor at large magnitudes)
                        (
                            (
                                (prev := F.when(
                                    F.size(acc) == 0, F.lit(scale)
                                ).otherwise(
                                    F.element_at(acc, -1)["_s"]
                                ) * (x["_n"] - x["_d"]))
                                - prev % x["_n"]
                            )
                            / x["_n"]
                        ).cast("long").alias("_s"),
                    )
                ),
            ),
        ).alias("_curve")
    )
    return (
        curve.select(F.explode("_curve").alias("_r"))
        .select(
            F.col("_r._t").alias("t"),
            F.col("_r._n").alias("n_risk"),
            F.col("_r._d").alias("n_events"),
            F.col("_r._c").alias("n_censored"),
            F.col("_r._s").alias("survival_micro"),
        )
        .orderBy("t")
    )


def gini_inequality(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    weight_col: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Gini coefficient of per-key mass concentration — "do 1% of users
    generate 90% of events?", the inequality number behind skew
    planning (events_skew_report finds WHICH keys are hot; this says
    how unequal the whole distribution is, one comparable scalar per
    table/snapshot). Distinct from conv_diversity's Gini-SIMPSON
    (a probability-of-collision diversity); this is the Lorenz-curve
    Gini (a concentration measure).

    Exact integer form: with per-key masses ``x_(1) ≤ … ≤ x_(n)``
    (ranked ascending, ties broken by key for a deterministic rank),
    ``G = Σ_i (2i − n − 1)·x_(i) / (n·Σx)`` — the numerator is an
    exact long sum over one rank window (per-key masses are a partial-
    agg'd reduction first, so the window sees KEYS, not rows; the
    global sort is over the key table — at 100 TB distribute it with
    the exact_auc two-level prefix-sum device if the key count itself
    is data-scale). One floor division at the end (``gini_micro``);
    G ∈ [0, 1−1/n] for non-negative masses and the all-equal table
    reads exactly 0.

    NULL keys drop; ``weight_col`` (integral) sums as the mass, else
    row counts. Negative masses raise (Lorenz needs non-negative).
    Returns ONE row: ``(n_keys, total, gini_micro)`` — NULL gini when
    n·total = 0.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if key_col not in df.columns:
        raise ValueError(f"column {key_col!r} not in input: {df.columns}")
    if weight_col is not None and weight_col not in df.columns:
        raise ValueError(
            f"column {weight_col!r} not in input: {df.columns}"
        )
    d38 = "decimal(38,0)"
    from pyspark.sql.window import Window

    mass = (
        F.sum(F.col(weight_col).cast("long"))
        if weight_col
        else F.count(F.lit(1))
    )
    keys = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"))
        .agg(mass.cast("long").alias("_x"))
    )
    neg = keys.filter(F.col("_x") < 0).take(1)
    if neg:
        raise ValueError(
            f"key {neg[0]['_k']!r} has negative mass {neg[0]['_x']} — "
            "the Lorenz construction needs non-negative masses"
        )
    w = Window.orderBy("_x", "_k")
    ranked = keys.select(
        "_x", F.row_number().over(w).alias("_i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_x").cast("long").alias("total"),
        F.sum(
            F.expr(f"CAST(2 AS {d38}) * _i * _x")
        ).alias("_s2ix"),
    )
    return agg.select(
        "n_keys",
        F.coalesce("total", F.lit(0)).alias("total"),
        F.expr(
            f"CASE WHEN coalesce(n_keys, 0) = 0 OR coalesce(total, 0) = 0"
            f" THEN NULL ELSE"
            f" CAST((_s2ix - (CAST(n_keys AS {d38}) + 1) * total)"
            f" * {scale} div (CAST(n_keys AS {d38}) * total) AS BIGINT)"
            f" END"
        ).alias("gini_micro"),
    )
