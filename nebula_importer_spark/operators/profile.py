"""Single-pass column profiler for table QA.

The first thing a pipeline runs against a NEW source before wiring it
into configs (the reference trusts its YAML schema and rejects rows at
parse time — /root/reference/pkg/reader/reader.go; a profiler is how
that YAML gets WRITTEN for an unknown 100-TB drop): per-column null /
blank / distinct counts, one row per column.

Distributed shape: ONE aggregation pass over the data computes every
per-column metric simultaneously (null/blank counts are plain sums and
combine map-side; the exact distinct counts share the pass via Spark's
expand — cost grows with the profiled column count, which is the
schema's size, not the data's). The per-column melt happens on the
SINGLE aggregated row driver-side — schema-sized, not data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebula_importer_spark.operators._buckets import guarded_bucket


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Profile ``cols`` (default: every column): returns one row per
    column — ``(column, n_rows, n_null, n_blank, n_distinct)``.

    ``n_blank`` counts whitespace-only non-null values for string
    columns and is NULL for other types (a blank number is not a thing —
    NULL, not a fake 0, so the two cases stay distinguishable).
    ``n_distinct`` is exact and excludes NULL (SQL count-distinct
    semantics, identical in any engine — what makes the profile
    gate-checkable).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    by_name = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_null_{i}")
        )
        aggs.append(F.count_distinct(col).alias(f"_dist_{i}"))
        if isinstance(by_name[c], T.StringType):
            aggs.append(
                F.sum(
                    F.when(col.isNotNull() & (F.trim(col) == ""), 1).otherwise(0)
                ).alias(f"_blank_{i}")
            )
    one = df.agg(*aggs)

    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").cast("long").alias("n_rows"),
            F.col(f"_null_{i}").cast("long").alias("n_null"),
            (
                F.col(f"_blank_{i}").cast("long")
                if isinstance(by_name[c], T.StringType)
                else F.lit(None).cast("long")
            ).alias("n_blank"),
            F.col(f"_dist_{i}").cast("long").alias("n_distinct"),
        )
        for i, c in enumerate(cols)
    ]
    return one.select(F.explode(F.array(*entries)).alias("_p")).select("_p.*")


def skew_report(
    df: DataFrame,
    key: str,
    *,
    num_partitions: int = 200,
    min_share_ppm: int = 10_000,
) -> DataFrame:
    """Heavy-hitter / shuffle-skew diagnostic for a prospective join or
    aggregation key: which key values would overload a task if the data
    were hash-partitioned on ``key``, and the salt factor that would level
    them. This is the probe that DECIDES the repo's mega-key mitigations
    (span-salting in operators/temporal.py, the max_group_size guard in
    operators/graph.py) — measured, not guessed.

    Per flagged key: ``share_ppm`` = its parts-per-million of all rows
    (exact integer ``1e6·cnt div total``), ``suggested_salt`` =
    ``ceil(cnt / (total / num_partitions))`` — how many salt buckets bring
    the key's largest shard back to the average partition's row count
    (1 = not actually oversized at this partition count).

    Distributed shape: ONE partial-agg'd groupBy on the key (map-side
    combine collapses a hot key to one row per task — counting is immune
    to the very skew it measures), a single-row total broadcast-joined
    back, and a filter. NULL keys are counted as a key like SQL GROUP BY
    counts them, because a NULL-heavy column is the most common real skew.

    Returns ``(key, n_rows, share_ppm, suggested_salt)``, heaviest first
    ordering left to the caller. Reference analog: per-file stats logging
    (`/root/reference/pkg/stats/stats.go`) counts rows per SOURCE; this
    counts rows per KEY, the axis that decides distributed placement.
    """
    if key not in df.columns:
        raise ValueError(f"column {key!r} not in input: {df.columns}")
    if num_partitions <= 0:
        raise ValueError(f"num_partitions must be positive, got {num_partitions}")
    if not 0 < min_share_ppm <= 1_000_000:
        raise ValueError(
            f"min_share_ppm must be in (0, 1e6], got {min_share_ppm}"
        )
    counts = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.expr("(1000000 * n_rows) div _total").alias("share_ppm"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"(n_rows * {int(num_partitions)} + _total - 1) div _total"
                ),
            ).alias("suggested_salt"),
        )
        .filter(F.col("share_ppm") >= min_share_ppm)
    )


def column_histogram(
    df: DataFrame, cols: list[str], *, n_buckets: int = 16
) -> DataFrame:
    """Equi-width histograms over integral columns in one melt pass —
    the statistics a cost-based optimizer (and a skew-aware partitioner)
    wants per join/filter column before planning a 100-TB job.

    Bucketing is EXACT long arithmetic: with the column's global
    ``(min, max)`` riding a broadcast 1-row aggregate,
    ``bucket = ((x − min) · n) div (max − min + 1)`` — always in
    ``[0, n)``, bit-identical on any engine (a float-boundary histogram
    is not: the edge value next to a boundary flips with rounding).
    Floats quantize caller-side, same rule as layout.zorder_key.

    Distributed shape: one 1-row (min, max) aggregate, then ONE scan
    melting each row to ``len(cols)`` (column, bucket) cells (bounded
    fan-out = schema width) feeding a partial-aggregable count over at
    most ``len(cols)·n_buckets`` groups. NULLs are counted per column in
    bucket −1 (visible, not dropped — a CBO needs the null fraction).

    Returns ``(column, bucket, lo, hi, n_rows)`` — ``[lo, hi]`` is the
    bucket's closed value range (NULL for the −1 bucket); empty buckets
    are absent.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not cols:
        raise ValueError("column_histogram needs at least one column")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    bad = [c for c in cols if not isinstance(by_name[c], integral)]
    if bad:
        raise ValueError(f"column_histogram needs integral columns: {bad}")

    stats = df.agg(
        *[F.min(c).cast("long").alias(f"_min_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("long").alias(f"_max_{i}") for i, c in enumerate(cols)],
    )
    staged = df.crossJoin(F.broadcast(stats))
    cells = []
    for i, c in enumerate(cols):
        span = F.col(f"_max_{i}") - F.col(f"_min_{i}") + F.lit(1).cast("long")
        bucket = F.when(F.col(c).isNull(), F.lit(-1).cast("long")).otherwise(
            F.expr(f"(({c} - _min_{i}) * {n_buckets}) div (_max_{i} - _min_{i} + 1)")
        )
        cells.append(
            F.struct(
                F.lit(c).alias("column"),
                bucket.alias("bucket"),
                F.col(f"_min_{i}").alias("_mn"),
                span.alias("_span"),
            )
        )
    melted = staged.select(F.explode(F.array(*cells)).alias("_c")).select(
        F.col("_c.column").alias("column"),
        F.col("_c.bucket").alias("bucket"),
        F.col("_c._mn").alias("_mn"),
        F.col("_c._span").alias("_span"),
    )
    agg = melted.groupBy("column", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("_mn").alias("_mn"),
        F.min("_span").alias("_span"),
    )
    # closed bucket bounds: lo = min + ceil(b*span/n), hi = the next lo − 1
    lo = F.col("_mn") + F.expr(
        f"(bucket * _span + {n_buckets} - 1) div {n_buckets}"
    )
    hi = F.col("_mn") + F.expr(
        f"((bucket + 1) * _span + {n_buckets} - 1) div {n_buckets}"
    ) - F.lit(1)
    return agg.select(
        "column",
        "bucket",
        F.when(F.col("bucket") >= 0, lo).cast("long").alias("lo"),
        F.when(F.col("bucket") >= 0, hi).cast("long").alias("hi"),
        "n_rows",
    )


#: Drift rates are integers in millionths.
DRIFT_SCALE = 10**6


def schema_drift(
    old: DataFrame,
    new: DataFrame,
    *,
    null_shift_ppm: int = 50_000,
    distinct_shift_ppm: int = 500_000,
) -> DataFrame:
    """Snapshot-over-snapshot drift report — the data-ops gate a daily
    100-TB ingestion runs before promoting a new snapshot: which columns
    appeared, disappeared, changed type, or shifted their null rate /
    distinct cardinality beyond tolerance. Catches the upstream schema
    break BEFORE it poisons downstream joins (a renamed column is a
    100%-null column to every consumer).

    Status per column (one row each, union of both schemas):

    - ``added`` / ``removed`` — present in only one side
    - ``type_changed`` — same name, different Spark type
    - ``null_rate_shift`` — |null_ppm_new − null_ppm_old| > threshold
    - ``distinct_shift`` — relative distinct-count change
      ``|d_new − d_old|·1e6 div max(d_old, 1)`` > threshold
    - ``ok`` — none of the above (kept, so the report is the full
      column inventory, not just the alarms — silence distinguishable
      from absence)

    Exactness: both rates are integer ppm floor divisions over
    :func:`profile_columns` outputs — gate-checkable end to end.
    Distributed shape: two single-pass profile aggregations (each ONE
    map-side-combinable agg over the data), then a schema-sized join —
    the comparison itself never touches data rows.
    """
    if null_shift_ppm < 0 or distinct_shift_ppm < 0:
        raise ValueError("thresholds must be >= 0")
    o_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n_types = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    po = profile_columns(old).select(
        F.col("column"),
        F.col("n_rows").alias("o_rows"),
        F.col("n_null").alias("o_null"),
        F.col("n_distinct").alias("o_distinct"),
    )
    pn = profile_columns(new).select(
        F.col("column"),
        F.col("n_rows").alias("n_rows"),
        F.col("n_null").alias("n_null"),
        F.col("n_distinct").alias("n_distinct"),
    )
    type_entries = F.map_from_arrays(
        F.array(*[F.lit(c) for c in o_types]),
        F.array(*[F.lit(t) for t in o_types.values()]),
    )
    ntype_entries = F.map_from_arrays(
        F.array(*[F.lit(c) for c in n_types]),
        F.array(*[F.lit(t) for t in n_types.values()]),
    )
    j = po.join(pn, "column", "full_outer").select(
        "column",
        F.element_at(type_entries, F.col("column")).alias("old_type"),
        F.element_at(ntype_entries, F.col("column")).alias("new_type"),
        "o_rows", "o_null", "o_distinct", "n_rows", "n_null", "n_distinct",
    )
    null_o = F.expr(f"({DRIFT_SCALE} * o_null) div greatest(o_rows, 1)")
    null_n = F.expr(f"({DRIFT_SCALE} * n_null) div greatest(n_rows, 1)")
    dist_shift = F.expr(
        f"(abs(n_distinct - o_distinct) * {DRIFT_SCALE})"
        f" div greatest(o_distinct, 1)"
    )
    return j.select(
        "column",
        "old_type",
        "new_type",
        F.col("o_null").alias("old_null"),
        F.col("n_null").alias("new_null"),
        F.col("o_distinct").alias("old_distinct"),
        F.col("n_distinct").alias("new_distinct"),
        F.when(F.col("old_type").isNull(), F.lit("added"))
        .when(F.col("new_type").isNull(), F.lit("removed"))
        .when(F.col("old_type") != F.col("new_type"), F.lit("type_changed"))
        .when(
            F.abs(null_n - null_o) > null_shift_ppm, F.lit("null_rate_shift")
        )
        .when(dist_shift > distinct_shift_ppm, F.lit("distinct_shift"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def join_size_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Pre-join cardinality estimate — the System-R/CBO arithmetic that
    decides broadcast-vs-shuffle and flags the join that would explode
    BEFORE 100 TB gets shuffled: bucket both key columns on their
    combined integer domain, then per bucket estimate

        est = n_left · n_right div max(d_left, d_right, 1)

    (containment-of-value-sets assumption: the side with more distinct
    values contains the other's — the standard equi-join estimator over
    histogram buckets). Total estimate = Σ buckets; compare with the
    histogram row counts to spot fan-out joins (est ≫ max(n_l, n_r)).

    Exactness: bucket math is the exact long floor-div rule of
    :func:`column_histogram` over a broadcast combined min/max (shared
    domain — separate domains would misalign buckets and the estimator
    would compare apples to oranges); counts/distincts are exact; est is
    one DECIMAL(38,0) floor division per bucket (n_l·n_r wraps int64
    past ~3·10⁹ rows per bucket). NULL keys never join — excluded, like
    the join itself excludes them.

    Distributed shape: one partial-aggregable (bucket, count, distinct)
    pass per side, then a ≤ n_buckets-row join. Integral keys by
    contract (the histogram rule).

    Returns per-bucket ``(bucket, n_left, d_left, n_right, d_right,
    est_rows)`` — buckets present on either side; a bucket missing one
    side estimates 0 (inner-join semantics, kept visible).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    for c, side, name in ((left_key, left, "left"), (right_key, right, "right")):
        if c not in side.columns:
            raise ValueError(f"column {c!r} not in {name} input: {side.columns}")
        if not isinstance(
            side.schema[c].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ):
            raise ValueError(
                f"{name} key {c!r} must be integral (the histogram rule), "
                f"got {side.schema[c].dataType.simpleString()}"
            )
    lk = left.select(F.col(left_key).cast("long").alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    rk = right.select(F.col(right_key).cast("long").alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    # combined domain: one 1-row agg over the union of the two key columns
    dom = lk.unionByName(rk).agg(
        F.min("_k").alias("_mn"), F.max("_k").alias("_mx")
    )

    def bucketize(keys: DataFrame, nc: str, dc: str) -> DataFrame:
        return (
            keys.crossJoin(F.broadcast(dom))
            .withColumn(
                "bucket",
                guarded_bucket(
                    "_k - _mn", n_buckets, op="join_size_estimate"
                ).cast("int"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(nc),
                F.count_distinct("_k").cast("long").alias(dc),
            )
        )

    lb = bucketize(lk, "n_left", "d_left")
    rb = bucketize(rk, "n_right", "d_right")
    j = lb.join(rb, "bucket", "full_outer")
    return j.select(
        "bucket",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_left", "d_left", "n_right", "d_right")
        ],
    ).withColumn(
        "est_rows",
        F.expr(
            "(CAST(n_left AS DECIMAL(38,0)) * n_right)"
            " div CAST(greatest(d_left, d_right, 1) AS DECIMAL(38,0))"
        ).cast("long"),
    )


def robust_outliers(
    df: DataFrame,
    *,
    key_col: str,
    value_col: str,
    id_col: str,
    k_ppm: int = 3_500_000,
    scale: int = 10**6,
) -> DataFrame:
    """Per-key robust outlier profile via median/MAD (Hampel identifier,
    Leys 2013 form): per key, the (lower) median of the values, the
    median absolute deviation around it, and the count of values whose
    absolute deviation exceeds ``k_ppm/1e6 × MAD`` — the
    standard-deviation-free anomaly gate that a mean/stddev z-score
    gets wrong under the very outliers it hunts (one corrupted 1e9
    reading inflates σ and masks itself; the median never moves).
    Default ``k_ppm=3.5e6`` ≈ the classic 3.5-MAD Hampel cut.

    Exactness: values quantize to ``floor(value · scale)`` fixed-point
    longs (floor, not round — identical on any engine given identical
    IEEE doubles, the int_kmeans discipline); the median is an ELEMENT
    PICK — the row at position ``(n+1)//2`` in ``(value, id)`` order —
    so no averaging, no float, engine-identical including even-n (lower
    median, documented). MAD is the lower median of ``|v − med|`` in
    ``(dev, id)`` order. The outlier test ``dev · 1_000_000 > k_ppm ·
    MAD`` is pure int64 (dev ≤ 2^43-ish micro-units × 1e6 stays under
    2^63 for |value| < ~9e5 — beyond that pick a smaller scale).
    MAD = 0 (over half the key's values identical) flags exactly the
    values that differ at all — the natural degenerate semantics.

    NULL values are counted per key (``n_null``) and excluded from the
    statistics — visible, never a fake zero (the profile_columns
    contract). Keys whose values are all NULL report NULL medians.

    Distributed shape: two per-key ``row_number`` window passes (median
    pick, MAD pick) + two key-equi-joins — all exchanges on the key
    column, values never travel as keys. Per-key window sorts are the
    mega-key caveat (operators/temporal.py): at 100 TB a key above the
    skew threshold wants the salted two-level pick (token_budget's
    machinery); per-user/per-entity cardinalities sit far below it.
    """
    for c in (key_col, value_col, id_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in the frame")
    if k_ppm < 0:
        raise ValueError(f"k_ppm must be >= 0, got {k_ppm}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    from pyspark.sql.window import Window

    base = df.select(
        F.col(key_col).alias("_k"),
        F.floor(F.col(value_col).cast("double") * float(scale))
        .cast("long")
        .alias("_v"),
        F.col(id_col).alias("_id"),
    )
    nulls = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
    )
    vals = base.filter(F.col("_v").isNotNull())
    wv = Window.partitionBy("_k").orderBy(F.col("_v").asc(), F.col("_id").asc())
    counts = vals.groupBy("_k").agg(F.count(F.lit(1)).alias("_n"))
    # lower median = the element at 1-based position (n+1)//2 — spelled as
    # a floor to keep integer semantics explicit under Spark's / promotion
    med = (
        vals.withColumn("_rn", F.row_number().over(wv))
        .join(counts, "_k")
        .filter(F.col("_rn") == F.floor((F.col("_n") + F.lit(1)) / F.lit(2)))
        .select("_k", F.col("_v").alias("median_q"))
    )
    dev = vals.join(med, "_k").select(
        "_k", "_id", "_v", F.abs(F.col("_v") - F.col("median_q")).alias("_d")
    )
    wd = Window.partitionBy("_k").orderBy(F.col("_d").asc(), F.col("_id").asc())
    mad = (
        dev.withColumn("_rn", F.row_number().over(wd))
        .join(counts, "_k")
        .filter(F.col("_rn") == F.floor((F.col("_n") + F.lit(1)) / F.lit(2)))
        .select("_k", F.col("_d").alias("mad_q"))
    )
    flagged = (
        dev.join(mad, "_k")
        .groupBy("_k")
        .agg(
            F.sum(
                F.when(
                    F.col("_d") * F.lit(1_000_000) > F.lit(k_ppm) * F.col("mad_q"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        nulls.join(med, "_k", "left")
        .join(mad, "_k", "left")
        .join(flagged, "_k", "left")
        .select(
            F.col("_k").alias(key_col),
            "n_rows",
            "n_null",
            F.col("median_q").cast("long").alias("median_q"),
            F.col("mad_q").cast("long").alias("mad_q"),
            F.coalesce(F.col("n_outliers"), F.lit(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
    *,
    group_cols: list[str] | None = None,
    n_buckets: int = 4096,
) -> DataFrame:
    """EXACT discrete quantiles (order statistics) of an integral column
    by two-pass histogram-refinement selection — the scale-correct
    alternative to a global sort: pass A builds a ``n_buckets``-cell
    equal-width histogram (one partial-agg'd scan, ≤ |groups|·B cells of
    state), locates each percentile's bucket and its rank WITHIN that
    bucket from the cumulative counts; pass B touches ONLY the rows of
    the target buckets (≈ n/B of the data) and rank-picks inside them.
    A total sort moves the whole table through one exchange; this moves
    histogram cells plus 1/B-th of the rows.

    Quantile rule: the ELEMENT at 0-based index ``(n−1)·p div 100`` of
    the value multiset — an exact integer pick, never interpolation, so
    the output carries input values bit-identically (the
    hash_sample_quantiles discipline) and the whole result is a pure
    function of the multiset (ties at a rank share a value by
    definition). NULLs are excluded (SQL aggregate semantics).

    Integral-only by contract (like zorder_key): quantize floats
    caller-side — float bucket math is engine-divergent. Bucket
    arithmetic ``(x−min)·(B−1)`` stays exact in int64 for any range up
    to 2^50; degenerate single-bucket groups (constant-ish columns)
    degrade to one in-bucket rank — correct, just unpruned.

    Output ``(*group_cols, pct, value)`` — one row per group per
    requested percentile.
    """
    if not percentiles or any(not 0 <= p <= 100 for p in percentiles):
        raise ValueError(f"percentiles must be in [0, 100]: {percentiles}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if col not in df.columns:
        raise ValueError(f"column {col!r} not in input: {df.columns}")
    groups = list(group_cols or [])
    if col in groups:
        raise ValueError(f"col {col!r} cannot also be a group column")
    dt = {f.name: f.dataType for f in df.schema.fields}[col]
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(dt, integral):
        raise ValueError(
            f"exact_quantiles needs an integral column (quantize floats "
            f"caller-side): {col} is {dt.simpleString()}"
        )
    from pyspark.sql.window import Window as W

    base = df.filter(F.col(col).isNotNull()).select(
        *groups, F.col(col).cast("long").alias("_v")
    )
    stats = base.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    b = n_buckets - 1
    bucket = F.expr(f"((_v - _mn) * {b}) div greatest(_mx - _mn, 1)")
    hist = (
        base.join(F.broadcast(stats), groups) if groups
        else base.crossJoin(F.broadcast(stats))
    ).select(*groups, "_n", "_mn", "_mx", bucket.alias("_b"))
    cells = hist.groupBy(*groups, "_n", "_mn", "_mx", "_b").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    cum = cells.withColumn(
        "_cum",
        F.sum("_cnt").over(
            W.partitionBy(*groups).orderBy("_b") if groups
            else W.partitionBy().orderBy("_b")
        ),
    )
    pcts = F.explode(
        F.array(*[F.lit(int(p)).cast("long") for p in percentiles])
    ).alias("pct")
    targets = (
        cum.select(*groups, "_n", "_mn", "_mx", "_b", "_cnt", "_cum", pcts)
        .withColumn("_kth", F.expr("((_n - 1) * pct) div 100") + 1)
        .filter(
            (F.col("_cum") >= F.col("_kth"))
            & (F.col("_cum") - F.col("_cnt") < F.col("_kth"))
        )
        .select(
            *groups, "pct", "_b", "_mn", "_mx",
            (F.col("_kth") - (F.col("_cum") - F.col("_cnt")))
            .alias("_local_rank"),
        )
    )
    probe = (
        base.join(F.broadcast(stats.select(*groups, "_mn", "_mx")), groups)
        if groups
        else base.crossJoin(F.broadcast(stats.select("_mn", "_mx")))
    ).select(*groups, "_v", bucket.alias("_b"))
    picked = probe.join(
        F.broadcast(targets), [*groups, "_b"]
    ).withColumn(
        "_rn",
        F.row_number().over(
            W.partitionBy(*groups, "pct").orderBy("_v")
            if groups else W.partitionBy("pct").orderBy("_v")
        ),
    ).filter(F.col("_rn") == F.col("_local_rank"))
    return picked.select(
        *groups, F.col("pct"), F.col("_v").alias("value")
    )


def column_overlap(
    left: DataFrame,
    right: DataFrame,
    cols_left: list[str],
    cols_right: list[str],
    *,
    k: int = 256,
    salt: str = "colmatch",
) -> DataFrame:
    """Schema matching by value overlap — "which column of THAT table is
    this column?" for data integration / FK discovery when names don't
    line up: every (left, right) column pair scores a KMV-Jaccard
    estimate of its value-set overlap, computed entirely on bottom-k
    hash SKETCHES (k longs per column), never on the data pairwise.

    Estimator (Bar-Yossef et al. / Beyer et al.): among the k smallest
    hashes of the pair's value-set UNION, the fraction present in both
    sets is an unbiased Jaccard estimate — exact when the union fits in
    k (the sketch is lossless below capacity). Reported as the integer
    ``(100·n_both) div n_k`` so the score is hash-stable.

    Distributed shape: one melt pass per side (|cols| fixed-width
    (col, hash) cells per row — values never shuffle), bottom-k per
    column via a WindowGroupLimit rank; the pairwise stage runs on the
    sketch tables (≤ |cols|·k rows — METADATA-sized, the point: |L|·|R|
    column pairs cost |pairs|·k sketch rows, not a data-sized join per
    pair).

    Returns ``(left_col, right_col, n_k, n_both, jaccard_pct)``.
    """
    if k < 16:
        raise ValueError(f"k must be >= 16, got {k}")
    for c in cols_left:
        if c not in left.columns:
            raise ValueError(f"column {c!r} not in left: {left.columns}")
    for c in cols_right:
        if c not in right.columns:
            raise ValueError(f"column {c!r} not in right: {right.columns}")
    if not cols_left or not cols_right:
        raise ValueError("cols_left and cols_right must be non-empty")
    from pyspark.sql.window import Window as W

    def sketch(df: DataFrame, cols: list[str], name: str) -> DataFrame:
        cells = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias(name),
                        _kmv_hash_str(F.col(c), salt).alias("_h"),
                    )
                    for c in cols
                ]
            )
        ).alias("_c")
        hx = (
            df.select(cells)
            .select(f"_c.{name}", F.col("_c._h").alias("_h"))
            .filter(F.col("_h").isNotNull())
            .distinct()
        )
        w = W.partitionBy(name).orderBy("_h")
        return hx.withColumn("_r", F.row_number().over(w)).filter(
            F.col("_r") <= k
        ).select(name, "_h")

    s_l = sketch(left, cols_left, "left_col")
    s_r = sketch(right, cols_right, "right_col")
    rn = s_r.select("right_col").distinct()
    ln = s_l.select("left_col").distinct()
    u = (
        s_l.crossJoin(F.broadcast(rn)).select(
            "left_col", "right_col", "_h",
            F.lit(1).alias("_inl"), F.lit(0).alias("_inr"),
        )
        .unionByName(
            s_r.crossJoin(F.broadcast(ln)).select(
                "left_col", "right_col", "_h",
                F.lit(0).alias("_inl"), F.lit(1).alias("_inr"),
            )
        )
        .groupBy("left_col", "right_col", "_h")
        .agg(F.max("_inl").alias("_inl"), F.max("_inr").alias("_inr"))
    )
    wu = W.partitionBy("left_col", "right_col").orderBy("_h")
    ranked = u.withColumn("_r", F.row_number().over(wu)).filter(
        F.col("_r") <= k
    )
    return (
        ranked.groupBy("left_col", "right_col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum(F.col("_inl") * F.col("_inr")).cast("long").alias("n_both"),
        )
        .select(
            "left_col", "right_col", "n_k", "n_both",
            F.expr("(100 * n_both) div n_k").cast("long")
            .alias("jaccard_pct"),
        )
    )


def _kmv_hash_str(col, salt: str):
    """The sketch-module 52-bit md5 hash, locally (profile.py melts mixed
    column types through a string cast first — NULLs stay NULL and are
    filtered, matching SQL set semantics)."""
    return F.when(
        col.isNotNull(),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("long"),
    )


def moment_profile(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    quant: int = 1000,
) -> DataFrame:
    """Exact higher-moment column profile — mean, variance, skewness,
    kurtosis per group from EXACT int64 raw power sums (the
    embedding_correlation discipline applied to shape statistics): the
    distribution-shape QA that catches heavy tails and asymmetry a
    min/max/histogram profile misses, with none of the float-sum
    partition drift ``F.skewness``/``F.kurtosis`` carry (their merges
    accumulate doubles in partition order).

    Values floor-quantize ONCE to ``1/quant`` units; Σq, Σq², Σq³, Σq⁴
    are exact int64 sums (bound: n·(quant·max|x|)⁴ < 2^63 — e.g. 10⁶
    rows of |x| ≤ 30 at quant=1000; raise/lower quant to trade
    resolution for headroom, documented not silent). Central moments
    come from the raw sums by the standard expansions computed as FIXED
    IEEE chains on exactly-representable int64 inputs — bit-identical
    on any engine: m2 = s2/n − μ², m3 = s3/n − 3μs2/n + 2μ³,
    m4 = s4/n − 4μs3/n + 6μ²s2/n − 3μ⁴; skew = m3/m2^1.5,
    kurt = m4/m2² − 3 (excess). Zero-variance groups yield NULL
    skew/kurt.

    Distributed shape: ONE partial-agg'd aggregation pass — adding
    moments adds agg columns, not jobs. NULLs excluded.

    Returns ``(*group_cols, n, s1, s2, s3, s4, mean, variance,
    skewness, kurtosis)`` — the raw sums travel with the moments so
    sketches merge by plain addition and any divergence is diagnosable.
    """
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    if value_col not in df.columns:
        raise ValueError(f"column {value_col!r} not in input: {df.columns}")
    groups = list(group_cols or [])
    q = F.floor(F.col(value_col).cast("double") * quant).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *groups, q.alias("_q")
    )
    agg = base.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_q").cast("long").alias("s1"),
        F.sum(F.col("_q") * F.col("_q")).cast("long").alias("s2"),
        F.sum(F.col("_q") * F.col("_q") * F.col("_q")).cast("long")
        .alias("s3"),
        F.sum(F.col("_q") * F.col("_q") * F.col("_q") * F.col("_q"))
        .cast("long").alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = (
        F.col("s3").cast("double") / n
        - 3 * mu * (F.col("s2").cast("double") / n)
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4 * mu * (F.col("s3").cast("double") / n)
        + 6 * mu * mu * (F.col("s2").cast("double") / n)
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        *groups, "n", "s1", "s2", "s3", "s4",
        (mu / quant).alias("mean"),
        (m2 / (quant * quant)).alias("variance"),
        # m2^1.5 as m2·sqrt(m2): sqrt is IEEE-754 correctly rounded on
        # every engine, libm pow is not — the last-ulp parity detail
        F.when(m2 > 0, m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        F.when(m2 > 0, m4 / (m2 * m2) - 3).alias("kurtosis"),
    )


def exact_weighted_quantiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
    *,
    group_cols: list[str] | None = None,
    n_buckets: int = 4096,
) -> DataFrame:
    """EXACT weighted discrete quantiles — :func:`exact_quantiles` with
    every row counting ``weight`` times (token-weighted document length
    percentiles, duration-weighted latency percentiles): the value at
    WEIGHT-rank ``(W−1)·p div 100 + 1`` of the value-ordered multiset,
    where W is the group's total weight. Same two-pass histogram-
    refinement shape — pass A's cells sum weights instead of counts,
    pass B resolves the in-bucket weight rank with one cumulative-weight
    window over ONLY the target bucket's rows (≈ 1/B of the data), no
    global sort.

    Integral values AND integral positive weights by contract (quantize
    caller-side — float weight sums are partition-order-dependent, the
    exact point of this operator). Zero/negative weights are rejected
    loudly: a zero-weight row is a filter decision, not a quantile one.

    Returns ``(*group_cols, pct, value)``.
    """
    if not percentiles or any(not 0 <= p <= 100 for p in percentiles):
        raise ValueError(f"percentiles must be in [0, 100]: {percentiles}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    for c in (col, weight_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    groups = list(group_cols or [])
    if col in groups or weight_col in groups:
        raise ValueError("col/weight_col cannot also be group columns")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for c in (col, weight_col):
        if not isinstance(by_name[c], integral):
            raise ValueError(
                f"exact_weighted_quantiles needs integral columns: {c} is "
                f"{by_name[c].simpleString()}"
            )
    from pyspark.sql.window import Window as W

    base = df.filter(
        F.col(col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(
        *groups,
        F.col(col).cast("long").alias("_v"),
        F.col(weight_col).cast("long").alias("_wt"),
    )
    # loud zero/negative-weight guard (limit(1) probe, no second scan)
    if base.filter(F.col("_wt") <= 0).take(1):
        raise ValueError("weights must be strictly positive")
    stats = base.groupBy(*groups).agg(
        F.sum("_wt").alias("_n"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    b = n_buckets - 1
    bucket = F.expr(f"((_v - _mn) * {b}) div greatest(_mx - _mn, 1)")
    hist = (
        base.join(F.broadcast(stats), groups) if groups
        else base.crossJoin(F.broadcast(stats))
    ).select(*groups, "_n", "_mn", "_mx", "_wt", bucket.alias("_b"))
    cells = hist.groupBy(*groups, "_n", "_mn", "_mx", "_b").agg(
        F.sum("_wt").alias("_cnt")
    )
    cum = cells.withColumn(
        "_cum",
        F.sum("_cnt").over(
            W.partitionBy(*groups).orderBy("_b") if groups
            else W.partitionBy().orderBy("_b")
        ),
    )
    pcts = F.explode(
        F.array(*[F.lit(int(p)).cast("long") for p in percentiles])
    ).alias("pct")
    targets = (
        cum.select(*groups, "_n", "_b", "_cnt", "_cum", pcts)
        .withColumn("_kth", F.expr("((_n - 1) * pct) div 100") + 1)
        .filter(
            (F.col("_cum") >= F.col("_kth"))
            & (F.col("_cum") - F.col("_cnt") < F.col("_kth"))
        )
        .select(
            *groups, "pct", "_b",
            (F.col("_kth") - (F.col("_cum") - F.col("_cnt")))
            .alias("_local_rank"),
        )
    )
    probe = (
        base.join(F.broadcast(stats.select(*groups, "_mn", "_mx")), groups)
        if groups
        else base.crossJoin(F.broadcast(stats.select("_mn", "_mx")))
    ).select(*groups, "_v", "_wt", bucket.alias("_b"))
    picked = probe.join(
        F.broadcast(targets), [*groups, "_b"]
    ).withColumn(
        "_cw",
        F.sum("_wt").over(
            (W.partitionBy(*groups, "pct") if groups
             else W.partitionBy("pct")).orderBy("_v", "_wt")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    ).filter(
        (F.col("_cw") >= F.col("_local_rank"))
        & (F.col("_cw") - F.col("_wt") < F.col("_local_rank"))
    )
    return picked.select(
        *groups, F.col("pct"), F.col("_v").alias("value")
    )


def voptimal_histogram(
    df: DataFrame,
    col: str,
    *,
    n_cells: int = 32,
    k: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """V-optimal histogram (Jagadish et al., "Optimal Histograms with
    Quality Guarantees", VLDB 1998): partition a column's value range
    into ``k`` variable-width buckets minimizing total within-bucket
    variance — the histogram a CBO wants for skewed columns, where
    equi-width buckets (column_histogram) put one mega-cell next to
    empty ones.

    Two-level design — the "aggregate massively, optimize on the
    bounded sketch" pattern: ONE data pass folds the column into
    ≤ ``n_cells`` equi-width fine cells (count, sum, sum-of-squares,
    min, max — all exact integers, same ``((x−mn)·n) div span`` rule as
    column_histogram), and the O(k·m²) dynamic program then runs
    entirely on that m ≤ n_cells METADATA table: per DP level one
    equi-join of the previous level's boundary costs against the cell
    prefix sums + an argmin agg, localCheckpointed. Data volume touches
    only the first pass; the DP never sees a data row.

    Objective (defined, not approximated): per segment the MICRO-
    QUANTIZED sum of squared errors ``sse = sumsq·scale −
    (sum²·scale) div cnt`` (one truncating DECIMAL(38,0) div per
    segment — exactly reproducible on any engine; monotone-equivalent
    to SSE up to the micro quantum), minimized over segmentations of
    the PRESENT cells; ties broken toward the smallest split index, so
    the optimum is UNIQUE and gate-checkable. Granularity caveat: the
    optimum is over cell boundaries, not raw values — n_cells bounds
    the resolution (the VLDB'98 sketch-first formulation).

    NULLs are dropped (a CBO histogram describes values); fewer present
    cells than ``k`` degrades to one bucket per cell. Empty input
    returns an empty frame.

    Returns ``(bucket, lo, hi, n_rows, sse_micro)`` — bucket 1..k in
    value order, ``[lo, hi]`` the ACTUAL min/max data values inside.
    """
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > n_cells:
        raise ValueError(f"k ({k}) must be <= n_cells ({n_cells})")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    if col not in by_name:
        raise ValueError(f"column {col!r} not in input: {df.columns}")
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(by_name[col], integral):
        raise ValueError(
            f"column {col!r} must be integral (got {by_name[col]}) — "
            "quantize floats caller-side (the zorder_key rule)"
        )
    from pyspark.sql.window import Window

    spark = df.sparkSession
    d38 = "decimal(38,0)"
    out_schema = (
        "bucket long, lo long, hi long, n_rows long, sse_micro long"
    )
    vals = df.select(F.col(col).cast("long").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    bounds = vals.agg(
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx")
    ).collect()[0]
    if bounds["_mn"] is None:
        return spark.createDataFrame([], out_schema)
    mn, mx = int(bounds["_mn"]), int(bounds["_mx"])
    span = mx - mn + 1
    cells = (
        vals.select(
            F.expr(f"((_v - {mn}) * {n_cells}) div {span}").alias("_c"),
            "_v",
        )
        .groupBy("_c")
        .agg(
            F.count("*").cast(d38).alias("_cnt"),
            F.sum(F.col("_v").cast(d38)).alias("_sum"),
            F.sum(
                F.col("_v").cast(d38) * F.col("_v").cast(d38)
            ).alias("_ss"),
            F.min("_v").alias("_vmin"),
            F.max("_v").alias("_vmax"),
        )
    )
    # metadata from here on: m <= n_cells rows. The single-partition
    # window is deliberate — it indexes/prefixes the SKETCH, not data.
    widx = Window.orderBy("_c")
    wpre = widx.rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        cells.select(
            (F.row_number().over(widx) - 1).alias("_j"),
            F.sum("_cnt").over(wpre).alias("_pc"),
            F.sum("_sum").over(wpre).alias("_ps"),
            F.sum("_ss").over(wpre).alias("_pss"),
            "_vmin",
            "_vmax",
        )
        .localCheckpoint(eager=True)
    )
    m = pre.count()
    k_eff = min(k, m)

    # level 1: one bucket over cells 0..j (sse from plain prefixes)
    lvl = pre.select(
        "_j",
        F.expr(
            f"_pss * CAST({scale} AS {d38}) - "
            f"(_ps * _ps * CAST({scale} AS {d38})) div _pc"
        ).alias("_cost"),
    ).localCheckpoint(eager=True)
    argmins: list[DataFrame] = []  # level b (2..k_eff): (_j, _i)
    for _b in range(2, k_eff + 1):
        cand = (
            lvl.select(F.col("_j").alias("_i"), F.col("_cost").alias(
                "_pcost"))
            .join(
                pre.select(
                    F.col("_j"), F.col("_pc"), F.col("_ps"), F.col("_pss")
                ),
                F.col("_j") > F.col("_i"),
            )
            .join(
                pre.select(
                    F.col("_j").alias("_i"),
                    F.col("_pc").alias("_qc"),
                    F.col("_ps").alias("_qs"),
                    F.col("_pss").alias("_qss"),
                ),
                "_i",
            )
            .select(
                "_j",
                "_i",
                (
                    F.col("_pcost")
                    + F.expr(
                        f"(_pss - _qss) * CAST({scale} AS {d38}) - "
                        f"((_ps - _qs) * (_ps - _qs) * "
                        f"CAST({scale} AS {d38})) div (_pc - _qc)"
                    )
                ).alias("_cost"),
            )
        )
        best = (
            cand.groupBy("_j")
            .agg(F.min(F.struct("_cost", "_i")).alias("_m"))
            .select(
                "_j",
                F.col("_m._cost").alias("_cost"),
                F.col("_m._i").alias("_i"),
            )
            .localCheckpoint(eager=True)
        )
        argmins.append(best)
        lvl = best.select("_j", "_cost")

    # backtrack: bucket k_eff ends at the last cell; walk argmins down
    sel = pre.agg(F.max("_j").alias("_j"))
    spans: list[DataFrame] = []
    for b in range(k_eff, 0, -1):
        if b >= 2:
            step = sel.join(argmins[b - 2], "_j")
            spans.append(
                step.select(
                    F.lit(b).cast("long").alias("bucket"),
                    (F.col("_i") + 1).alias("_lo"),
                    F.col("_j").alias("_hi"),
                )
            )
            sel = step.select(F.col("_i").alias("_j"))
        else:
            spans.append(
                sel.select(
                    F.lit(1).cast("long").alias("bucket"),
                    F.lit(0).cast("long").alias("_lo"),
                    F.col("_j").alias("_hi"),
                )
            )
    out = spans[0]
    for s in spans[1:]:
        out = out.unionByName(s)
    joined = out.join(
        pre.select("_j", "_vmin", "_vmax"),
        (F.col("_j") >= F.col("_lo")) & (F.col("_j") <= F.col("_hi")),
    ).groupBy("bucket", "_lo", "_hi").agg(
        F.min("_vmin").alias("lo"), F.max("_vmax").alias("hi")
    )
    hi_pre = pre.select(
        F.col("_j").alias("_hi"), "_pc", "_ps", "_pss"
    )
    lo_pre = pre.select(
        (F.col("_j") + 1).alias("_lo"),
        F.col("_pc").alias("_qc"),
        F.col("_ps").alias("_qs"),
        F.col("_pss").alias("_qss"),
    )
    return (
        joined.join(hi_pre, "_hi")
        .join(lo_pre, "_lo", "left")
        .select(
            "bucket",
            "lo",
            "hi",
            (
                F.col("_pc") - F.coalesce("_qc", F.lit(0).cast(d38))
            ).cast("long").alias("n_rows"),
            F.expr(
                f"CAST((_pss - COALESCE(_qss, 0)) * CAST({scale} AS {d38})"
                f" - ((_ps - COALESCE(_qs, 0)) * (_ps - COALESCE(_qs, 0))"
                f" * CAST({scale} AS {d38}))"
                f" div (_pc - COALESCE(_qc, 0)) AS BIGINT)"
            ).alias("sse_micro"),
        )
        .orderBy("bucket")
    )


def chi_square_assoc(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    scale: int = 1_000_000,
    max_levels: int = 1000,
    max_rows: int = 10**7,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the "are these columns associated?" audit a profiler runs
    before trusting a stratification key or declaring a schema-matched
    pair redundant (column_overlap finds value overlap; this finds
    statistical DEPENDENCE, which overlap can't see).

    Sketch-first: ONE data pass folds the table into the (x, y)
    contingency grid (≤ max_levels² metadata rows — the validated
    bound); marginals, the full r×c grid (INCLUDING empty cells, which
    carry expected-count mass the observed grid omits), and the
    statistic all derive from that metadata table. Per cell the exact
    rational contribution (O − E)²/E with E = R·C/N is cross-multiplied
    to integers as

        cell_micro = floor((O·N − R·C)² · scale / (N·R·C))

    and ``chi2_micro = Σ cell_micro`` — floor-per-cell then exact long
    sum, so the result is bit-identical on any engine or partitioning
    (operational quantized semantics, same device as voptimal_histogram;
    the true chi² differs by < one micro per cell). ``v2_micro`` is
    Cramér's V² on the same quantized statistic:
    ``chi2_micro div (n · min(r−1, c−1))`` — NULL when dof = 0.

    Rows with NULL in either column are dropped (stated; a NULL level
    is not a category). Raises when a side exceeds ``max_levels``
    (a chi² over an id-like column is a bug, and the grid must stay
    metadata-sized) or n exceeds ``max_rows`` (DECIMAL(38,0) headroom:
    the cross-multiplied numerator is ≤ N⁴·scale — pre-aggregate or
    sample beyond 10⁷).

    Returns ONE row:
    ``(n, levels_x, levels_y, dof, chi2_micro, v2_micro)``.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if max_levels < 2:
        raise ValueError(f"max_levels must be >= 2, got {max_levels}")
    for c in (x_col, y_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    if x_col == y_col:
        raise ValueError("x_col and y_col must differ")
    d38 = "decimal(38,0)"
    obs = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(
            F.col(x_col).cast("string").alias("_x"),
            F.col(y_col).cast("string").alias("_y"),
        )
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
        .localCheckpoint(eager=True)
    )
    rx = obs.groupBy("_x").agg(F.sum("_o").alias("_r"))
    cy = obs.groupBy("_y").agg(F.sum("_o").alias("_c"))
    tot = obs.agg(
        F.sum("_o").alias("_n"),
        F.countDistinct("_x").alias("_lx"),
        F.countDistinct("_y").alias("_ly"),
    ).collect()[0]
    n = int(tot["_n"] or 0)
    lx, ly = int(tot["_lx"]), int(tot["_ly"])
    if n == 0:
        return df.sparkSession.createDataFrame(
            [],
            "n long, levels_x long, levels_y long, dof long, "
            "chi2_micro long, v2_micro long",
        )
    if lx > max_levels or ly > max_levels:
        raise ValueError(
            f"levels ({lx}×{ly}) exceed max_levels={max_levels}; "
            "chi-square over id-like columns is unbounded — bucket first"
        )
    if n > max_rows:
        raise ValueError(
            f"n={n} exceeds max_rows={max_rows} (DECIMAL(38,0) headroom "
            "for the cross-multiplied statistic) — pre-aggregate or sample"
        )
    grid = (
        rx.crossJoin(cy)
        .join(obs, ["_x", "_y"], "left")
        .select(
            "_r",
            "_c",
            F.coalesce("_o", F.lit(0)).cast("long").alias("_o"),
        )
    )
    dof = (lx - 1) * (ly - 1)
    kmin = min(lx - 1, ly - 1)
    cell = F.expr(
        f"((CAST(_o AS {d38}) * {n} - CAST(_r AS {d38}) * _c)"
        f" * (CAST(_o AS {d38}) * {n} - CAST(_r AS {d38}) * _c)"
        f" * CAST({scale} AS {d38}))"
        f" div (CAST({n} AS {d38}) * _r * _c)"
    )
    out = grid.agg(F.sum(cell).cast("long").alias("chi2_micro")).select(
        F.lit(n).cast("long").alias("n"),
        F.lit(lx).cast("long").alias("levels_x"),
        F.lit(ly).cast("long").alias("levels_y"),
        F.lit(dof).cast("long").alias("dof"),
        "chi2_micro",
        (
            F.expr(f"CAST(chi2_micro AS {d38}) div {n * kmin}").cast("long")
            if kmin > 0
            else F.lit(None).cast("long")
        ).alias("v2_micro"),
    )
    return out


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    n_cells: int = 64,
    scale: int = 1_000_000,
    max_rows: int = 10**7,
) -> DataFrame:
    """Kendall rank correlation between two integral columns — the
    monotone-association profile that survives outliers and nonlinearity
    where an OLS slope (ols_trend) or Pearson moment doesn't.

    Sketch-first: ONE data pass quantizes both columns into ≤ n_cells
    equi-width cells each (the ``((v−mn)·n) div span`` rule shared with
    voptimal_histogram) and folds the table into the ≤ n_cells² joint
    grid; concordant/discordant pair counts are then the exact
    cell-pair sums ``Σ n_ab·n_cd`` over the METADATA grid self-join
    (grid ⋈ grid with cx strictly increasing — ≤ n_cells⁴ arithmetic on
    a few-KB table, zero data rows). Semantics are the exact Kendall
    counts of the QUANTIZED pairs: values sharing a cell are ties
    (stated, same capped-universe discipline as ngram_jaccard_pairs);
    with spans ≤ n_cells the quantization is the identity and the
    result is the exact raw-value tau.

    Outputs exact longs ``(n, n0, concordant, discordant, tied_x,
    tied_y, tied_xy)`` with ``n0 = n(n−1)/2`` (ties counted per
    marginal, both-tied pairs in all three tied columns; the identity
    n0 = C + D + tied_x + tied_y − tied_xy holds), plus

    - ``tau_a_micro`` = floor((C−D)·scale / n0) — true floor (negative-
      safe via the pmod device), NULL when n0 = 0;
    - ``tau_b2_signed_micro`` = sign(C−D) · floor((C−D)²·scale /
      ((n0−tied_x)·(n0−tied_y))) — Kendall tau-b is (C−D)/√(…); the
      square avoids the irrational root while staying monotone in |τ_b|
      and sign-correct. NULL when either tie-corrected margin is 0.

    NULL rows (either column) are dropped. Raises on non-integral
    columns (quantize floats caller-side) and when n exceeds
    ``max_rows`` (DECIMAL(38,0) headroom: the cross-multiplied tau-b
    numerator is ≤ n⁴·scale/4).

    Returns ONE row.
    """
    if n_cells < 2:
        raise ValueError(f"n_cells must be >= 2, got {n_cells}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for c in (x_col, y_col):
        if c not in by_name:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
        if not isinstance(by_name[c], integral):
            raise ValueError(
                f"column {c!r} must be integral (got {by_name[c]}) — "
                "quantize floats caller-side (the zorder_key rule)"
            )
    if x_col == y_col:
        raise ValueError("x_col and y_col must differ")
    d38 = "decimal(38,0)"
    spark = df.sparkSession
    out_schema = (
        "n long, n0 long, concordant long, discordant long, tied_x long, "
        "tied_y long, tied_xy long, tau_a_micro long, "
        "tau_b2_signed_micro long"
    )
    vals = df.select(
        F.col(x_col).cast("long").alias("_vx"),
        F.col(y_col).cast("long").alias("_vy"),
    ).filter(F.col("_vx").isNotNull() & F.col("_vy").isNotNull())
    b = vals.agg(
        F.min("_vx").alias("_mnx"),
        F.max("_vx").alias("_mxx"),
        F.min("_vy").alias("_mny"),
        F.max("_vy").alias("_mxy"),
    ).collect()[0]
    if b["_mnx"] is None:
        return spark.createDataFrame([], out_schema)
    spx = int(b["_mxx"]) - int(b["_mnx"]) + 1
    spy = int(b["_mxy"]) - int(b["_mny"]) + 1
    grid = (
        vals.select(
            F.expr(
                f"(( _vx - {int(b['_mnx'])} ) * {n_cells}) div {spx}"
            ).alias("_cx"),
            F.expr(
                f"(( _vy - {int(b['_mny'])} ) * {n_cells}) div {spy}"
            ).alias("_cy"),
        )
        .groupBy("_cx", "_cy")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .localCheckpoint(eager=True)
    )
    n = grid.agg(F.sum("_n")).collect()[0][0]
    n = int(n or 0)
    if n > max_rows:
        raise ValueError(
            f"n={n} exceeds max_rows={max_rows} (DECIMAL(38,0) headroom "
            "for the cross-multiplied tau-b terms) — sample first"
        )
    a, c = grid.alias("a"), grid.alias("c")
    pairs = (
        a.join(c, F.col("a._cx") < F.col("c._cx"))
        .select(
            (
                F.when(F.col("c._cy") > F.col("a._cy"), F.col("a._n") * F.col("c._n"))
                .otherwise(F.lit(0))
            ).alias("_conc"),
            (
                F.when(F.col("c._cy") < F.col("a._cy"), F.col("a._n") * F.col("c._n"))
                .otherwise(F.lit(0))
            ).alias("_disc"),
        )
        .agg(
            F.sum("_conc").cast("long").alias("concordant"),
            F.sum("_disc").cast("long").alias("discordant"),
        )
    )
    tx = (
        grid.groupBy("_cx")
        .agg(F.sum("_n").alias("_m"))
        .agg(F.sum(F.expr("_m * (_m - 1) div 2")).cast("long").alias("tied_x"))
    )
    ty = (
        grid.groupBy("_cy")
        .agg(F.sum("_n").alias("_m"))
        .agg(F.sum(F.expr("_m * (_m - 1) div 2")).cast("long").alias("tied_y"))
    )
    txy = grid.agg(
        F.sum(F.expr("_n * (_n - 1) div 2")).cast("long").alias("tied_xy")
    )
    n0 = n * (n - 1) // 2
    row = (
        pairs.crossJoin(tx).crossJoin(ty).crossJoin(txy)
        .select(
            F.lit(n).cast("long").alias("n"),
            F.lit(n0).cast("long").alias("n0"),
            F.coalesce("concordant", F.lit(0)).alias("concordant"),
            F.coalesce("discordant", F.lit(0)).alias("discordant"),
            "tied_x",
            "tied_y",
            "tied_xy",
        )
        .withColumn("_num", F.expr("concordant - discordant"))
    )
    if n0 == 0:
        return row.select(
            "n", "n0", "concordant", "discordant", "tied_x", "tied_y",
            "tied_xy",
            F.lit(None).cast("long").alias("tau_a_micro"),
            F.lit(None).cast("long").alias("tau_b2_signed_micro"),
        )
    # floor((C−D)·scale / n0): pmod makes the numerator divisible, so the
    # div is exact — true floor even for negative numerators, on any engine
    tau_a = F.expr(
        f"CAST((CAST(_num AS {d38}) * {scale}"
        f" - pmod(CAST(_num AS {d38}) * {scale}, {n0})) div {n0} AS BIGINT)"
    )
    tau_b2 = F.expr(
        f"CASE WHEN (CAST({n0} AS {d38}) - tied_x) * ({n0} - tied_y) = 0"
        f" THEN NULL ELSE"
        f" CAST(sign(_num) AS BIGINT)"
        f" * CAST((CAST(_num AS {d38}) * _num * {scale})"
        f" div ((CAST({n0} AS {d38}) - tied_x) * ({n0} - tied_y)) AS BIGINT)"
        f" END"
    )
    return row.select(
        "n", "n0", "concordant", "discordant", "tied_x", "tied_y", "tied_xy",
        tau_a.alias("tau_a_micro"),
        tau_b2.alias("tau_b2_signed_micro"),
    )


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Functional-dependency audit: does ``lhs → rhs`` hold, and if not,
    how badly — the data-quality probe behind key discovery, denormal-
    ization safety ("can I collapse this column into the dim table?"),
    and CDC sanity (a changing "immutable" attribute is an upstream
    bug). Violations are counted as the MINIMUM number of rows to
    delete to make the FD hold: per LHS group, rows outside the
    group's majority RHS value (Σ (group_size − max_value_count) — the
    standard g3 error measure, Kivinen & Mannila 1995).

    Sketch-first: ONE data pass folds rows into the (lhs…, rhs) grid;
    group sizes, majority counts, and the summary all derive from that
    metadata table (bounded by the ACTIVE domain, not rows). SQL GROUP
    BY semantics throughout: a NULL LHS forms its own group and a NULL
    RHS is its own value (engine-identical, stated). ``violation_ppm``
    is the exact quantized rational ``violations·scale div n_rows``.

    Returns ONE row: ``(n_rows, n_groups, n_violating_groups,
    n_violation_rows, holds, violation_ppm)`` — ``holds`` true iff
    zero violations; empty input yields the all-zero row with
    ``holds = true`` and NULL ppm (0/0 undefined, not fake 0).
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if not lhs_cols:
        raise ValueError("lhs_cols must be non-empty")
    for c in [*lhs_cols, rhs_col]:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    if rhs_col in lhs_cols:
        raise ValueError("rhs_col must not be in lhs_cols")
    d38 = "decimal(38,0)"
    cells = (
        df.groupBy(*lhs_cols, rhs_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    groups = cells.groupBy(*lhs_cols).agg(
        F.sum("_n").alias("_tot"),
        F.max("_n").alias("_mx"),
        F.count(F.lit(1)).alias("_nv"),
    )
    return groups.agg(
        F.coalesce(F.sum("_tot"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN _nv > 1 THEN 1 ELSE 0 END")), F.lit(0)
        ).cast("long").alias("n_violating_groups"),
        F.coalesce(F.sum(F.expr("_tot - _mx")), F.lit(0))
        .cast("long")
        .alias("n_violation_rows"),
    ).select(
        "n_rows",
        "n_groups",
        "n_violating_groups",
        "n_violation_rows",
        (F.col("n_violation_rows") == 0).alias("holds"),
        F.expr(
            f"CASE WHEN n_rows = 0 THEN NULL ELSE CAST("
            f"CAST(n_violation_rows AS {d38}) * {scale} div n_rows"
            f" AS BIGINT) END"
        ).alias("violation_ppm"),
    )


#: Anchored literal-shape patterns shared by infer_column_types and its
#: oracles — deliberately restricted to syntax that means the same thing
#: in Java regex (Spark rlike) and RE2 (DuckDB regexp_full_match).
TYPE_PATTERNS: list[tuple[str, str]] = [
    ("bool", r"(?i)^(true|false)$"),
    ("int", r"^[+-]?(0[xX][0-9a-fA-F]+|[0-9]+)$"),
    (
        "float",
        r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$",
    ),
    ("date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("time", r"^[0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}(\.[0-9]+)?$"),
    (
        "datetime",
        r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{1,2}:[0-9]{1,2}:"
        r"[0-9]{1,2}(\.[0-9]+)?$",
    ),
]

#: Inference priority: first class whose pattern EVERY evidence value
#: matches wins. INT before DOUBLE (ints also parse as doubles); the
#: hex-INT form follows the reference's integer grammar
#: (/root/reference/pkg/utils/string.go:5-48).
_TYPE_PRIORITY = [
    ("bool", "BOOL"),
    ("int", "INT"),
    ("float", "DOUBLE"),
    ("date", "DATE"),
    ("time", "TIME"),
    ("datetime", "DATETIME"),
]


def infer_column_types(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Schema sniffing over string columns — the step between "a 100-TB
    CSV drop landed" and "a typed source config exists": per column,
    how many values parse as each literal class, and the type the
    evidence supports. The reference trusts its YAML to declare types
    and rejects rows at parse time (/root/reference/pkg/reader/
    reader.go, pkg/picker/converter_type.go:58-121); this op is how
    that YAML gets WRITTEN (suggest_source_config renders it) —
    profile_columns counts nulls/distincts, this one reads SYNTAX.

    ONE aggregation pass computes every per-class match count for every
    column simultaneously (anchored rlike per class — whole-stage-
    codegen'd conditional sums, map-side combinable; the melt to rows
    happens on the single aggregated row, schema-sized). Evidence =
    non-NULL, non-blank values; blanks count separately (they are
    nullValue candidates, not type evidence). ``inferred_type`` is the
    FIRST class in (BOOL, INT, DOUBLE, DATE, TIME, DATETIME) that ALL
    evidence matches — STRING when none does or when there is no
    evidence (no evidence is not evidence of STRING-ness, but STRING
    is the only safe declaration; stated). Patterns live in
    ``TYPE_PATTERNS`` and are Java/RE2-portable (the oracle contract).

    Returns one row per column: ``(column, n_rows, n_null, n_blank,
    n_evidence, n_bool, n_int, n_float, n_date, n_time, n_datetime,
    inferred_type)``. Raises on non-string columns (typed columns
    already have a schema — sniffing them is a bug).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("infer_column_types needs at least one column")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    typed = [c for c in cols if not isinstance(by_name[c], T.StringType)]
    if typed:
        raise ValueError(
            f"non-string columns {typed} already carry a schema — "
            "infer_column_types reads string syntax only"
        )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        col = F.col(c)
        blank = col.isNotNull() & (F.trim(col) == "")
        ev = col.isNotNull() & (F.trim(col) != "")
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_null_{i}"))
        aggs.append(F.sum(F.when(blank, 1).otherwise(0)).alias(f"_blank_{i}"))
        aggs.append(F.sum(F.when(ev, 1).otherwise(0)).alias(f"_ev_{i}"))
        for name, pat in TYPE_PATTERNS:
            aggs.append(
                F.sum(F.when(ev & col.rlike(pat), 1).otherwise(0)).alias(
                    f"_{name}_{i}"
                )
            )
    one = df.agg(*aggs)

    entries = []
    for i, c in enumerate(cols):
        ev = F.col(f"_ev_{i}")
        inferred = F.lit("STRING")
        # build the CASE in reverse priority so the FIRST match wins
        for name, label in reversed(_TYPE_PRIORITY):
            inferred = F.when(
                (ev > 0) & (F.col(f"_{name}_{i}") == ev), F.lit(label)
            ).otherwise(inferred)
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").cast("long").alias("n_rows"),
                F.col(f"_null_{i}").cast("long").alias("n_null"),
                F.col(f"_blank_{i}").cast("long").alias("n_blank"),
                ev.cast("long").alias("n_evidence"),
                *[
                    F.col(f"_{name}_{i}").cast("long").alias(f"n_{name}")
                    for name, _ in TYPE_PATTERNS
                ],
                inferred.alias("inferred_type"),
            )
        )
    return one.select(F.explode(F.array(*entries)).alias("_p")).select("_p.*")


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    group_a: str,
    group_b: str,
    n_cells: int = 256,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between two groups'
    distributions of an integral column — the NUMERIC distribution-
    drift test beside chi_square_assoc (categorical dependence) and
    centroid_drift (embedding shift): "did latency/length/price move
    between snapshot A and B?" answered by the sup-distance between
    empirical CDFs.

    Sketch-first: ONE data pass quantizes the column into ≤ n_cells
    equi-width cells over the two groups' COMBINED range (the shared
    grid is what makes the CDFs comparable) and folds rows to per-
    (group, cell) counts; cumulative sums and the sup run on that
    metadata. Exact under quantization (stated, the kendall_tau
    capped-semantics discipline): the statistic is the exact rational
    ``max_cells |cum_a·n_b − cum_b·n_a| / (n_a·n_b)`` floored once to
    micro units, with the ARGMAX cell's upper value boundary reported
    (ties → smallest cell: deterministic). With spans ≤ n_cells the
    quantization is the identity and this is the exact raw-value KS.

    NULL values drop; a missing group raises (an absent sample is an
    upstream bug, not distance 1). Returns ONE row: ``(n_a, n_b,
    ks_micro, ks_at_value)``.
    """
    if n_cells < 2:
        raise ValueError(f"n_cells must be >= 2, got {n_cells}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    for c in (group_col, value_col):
        if c not in by_name:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(by_name[value_col], integral):
        raise ValueError(
            f"column {value_col!r} must be integral (got "
            f"{by_name[value_col]}) — quantize floats caller-side"
        )
    d38 = "decimal(38,0)"
    from pyspark.sql.window import Window

    vals = df.filter(
        F.col(group_col).isin(group_a, group_b)
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
    )
    b = vals.agg(F.min("_v").alias("_mn"), F.max("_v").alias("_mx")).collect()[0]
    if b["_mn"] is None:
        raise ValueError("no rows in either group after NULL drop")
    mn, mx = int(b["_mn"]), int(b["_mx"])
    span = mx - mn + 1
    cells = (
        vals.select(
            "_g",
            F.expr(f"((_v - {mn}) * {n_cells}) div {span}").alias("_c"),
            "_v",
        )
        .groupBy("_g", "_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.max("_v").alias("_vmax"),
        )
        .localCheckpoint(eager=True)
    )
    present = {r["_g"] for r in cells.select("_g").distinct().collect()}
    for g in (group_a, group_b):
        if g not in present:
            raise ValueError(f"group {g!r} has no rows — absent sample")
    # dense per-cell (a, b) counts via full cell list
    grid = (
        cells.groupBy("_c")
        .agg(
            F.sum(F.when(F.col("_g") == group_a, F.col("_n"))).alias("_na"),
            F.sum(F.when(F.col("_g") == group_b, F.col("_n"))).alias("_nb"),
            F.max("_vmax").alias("_vm"),
        )
        .select(
            "_c",
            F.coalesce("_na", F.lit(0)).alias("_na"),
            F.coalesce("_nb", F.lit(0)).alias("_nb"),
            "_vm",
        )
    )
    w = Window.orderBy("_c").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    scored = grid.select(
        "_c",
        "_vm",
        F.sum("_na").over(w).alias("_ca"),
        F.sum("_nb").over(w).alias("_cb"),
        F.sum("_na").over(tot).alias("_ta"),
        F.sum("_nb").over(tot).alias("_tb"),
    ).withColumn(
        "_gap",
        F.abs(
            F.expr(f"CAST(_ca AS {d38}) * _tb - CAST(_cb AS {d38}) * _ta")
        ),
    )
    best = scored.select(
        F.max(
            F.struct(
                F.col("_gap").alias("g"),
                (-F.col("_c")).alias("negc"),
                F.col("_vm").alias("v"),
                F.col("_ta").alias("ta"),
                F.col("_tb").alias("tb"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col("_b.ta").cast("long").alias("n_a"),
        F.col("_b.tb").cast("long").alias("n_b"),
        F.expr(
            f"CAST(_b.g * {scale} div (CAST(_b.ta AS {d38}) * _b.tb)"
            f" AS BIGINT)"
        ).alias("ks_micro"),
        F.col("_b.v").cast("long").alias("ks_at_value"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Cross-group quantile normalization — map every group's value
    distribution onto the GLOBAL distribution, so scores from different
    domains/judges/shards become comparable (the calibration step
    before mixing per-domain quality scores into one keep/drop
    threshold: a "0.8 from a lenient judge" and a "0.5 from a harsh
    one" land on the same scale).

    Pinned contract (exact, engine-identical): a row at within-group
    rank ``r`` of ``n_g`` (strict (value, id) order — the id tiebreak
    makes ties deterministic) takes the global value at rank
    ``g = 1 + round((r−1)·(N−1) / (n_g−1))`` (half-up, exact integer
    arithmetic; a singleton group takes the global median rank
    ``(N+1) div 2``). The picked value carries BIT-IDENTICALLY (element
    pick, never interpolation — the exact_quantiles rule).

    Distributed shape: within-group ranks are value-sub-bucketed (the
    balanced_shards discipline — a hot group spreads over ~n_buckets
    window partitions); the global rank→value lookup materializes each
    DISTINCT value's rank interval once and equi-joins through
    rank-range buckets (the interval explode adds ≤ n_buckets rows
    total because intervals partition [1, N]) — no global sort, no
    per-row range scan. Integral values only (quantize floats
    caller-side). NULL values/groups are excluded and reported via the
    ``n_null`` count every row carries.

    Returns ``(id_col, group_col, value_col, norm_value)``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    for c in (group_col, value_col, id_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(by_name[value_col], integral):
        raise ValueError(
            f"quantile_normalize needs an integral value (quantize floats "
            f"caller-side): {value_col} is {by_name[value_col]}"
        )
    from pyspark.sql.window import Window

    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(
        F.col("_id").isNotNull()
        & F.col("_g").isNotNull()
        & F.col("_v").isNotNull()
    )
    # the projection feeds four subtrees (group ranks, group sizes,
    # distinct-value intervals, the total) — materialize once instead of
    # re-scanning the source per branch (the HITS multi-reference rule)
    rows = rows.localCheckpoint(eager=True)

    # ---- within-group rank r over (value, id), value-sub-bucketed
    vstats = rows.agg(F.min("_v").alias("_mn"), F.max("_v").alias("_mx"))
    b = rows.crossJoin(F.broadcast(vstats)).withColumn(
        "_vb", guarded_bucket("_v - _mn", n_buckets, op="quantile_normalize")
    )
    wl = (
        Window.partitionBy("_g", "_vb")
        .orderBy("_v", "_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = b.withColumn(
        "_rl", F.coalesce(F.count(F.lit(1)).over(wl), F.lit(0))
    )
    gtot = b.groupBy("_g", "_vb").agg(F.count(F.lit(1)).alias("_gt"))
    wgo = Window.partitionBy("_g").orderBy("_vb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    goffs = gtot.select(
        "_g", "_vb",
        F.coalesce(F.sum("_gt").over(wgo), F.lit(0)).alias("_goff"),
    )
    sizes = rows.groupBy("_g").agg(F.count(F.lit(1)).alias("_ng"))
    ranked = (
        loc.join(goffs, ["_g", "_vb"])
        .join(sizes, "_g")
        .withColumn("_r", F.col("_rl") + F.col("_goff") + 1)
    )

    # ---- global rank intervals per DISTINCT value (two-level machinery)
    per_v = rows.groupBy("_v").agg(F.count(F.lit(1)).alias("_n"))
    pb = per_v.crossJoin(F.broadcast(vstats)).withColumn(
        "_vb", guarded_bucket("_v - _mn", n_buckets, op="quantile_normalize")
    )
    wpl = Window.partitionBy("_vb").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ploc = pb.withColumn(
        "_bl", F.coalesce(F.sum("_n").over(wpl), F.lit(0))
    )
    ptot = pb.groupBy("_vb").agg(F.sum("_n").alias("_bt"))
    wpo = Window.orderBy("_vb").rowsBetween(Window.unboundedPreceding, -1)
    poffs = ptot.select(
        "_vb", F.coalesce(F.sum("_bt").over(wpo), F.lit(0)).alias("_poff")
    )
    n_total = rows.agg(F.count(F.lit(1)).cast("long").alias("_nt"))
    iv = (
        ploc.join(F.broadcast(poffs), "_vb")
        .select(
            F.col("_v").alias("_gv"),
            (F.col("_bl") + F.col("_poff") + 1).alias("_lo"),
            (F.col("_bl") + F.col("_poff") + F.col("_n")).alias("_hi"),
        )
    )
    # explode each interval over the rank buckets it spans
    ivb = iv.join(F.broadcast(n_total)).select(
        "_gv", "_lo", "_hi",
        F.explode(
            F.sequence(
                F.expr(f"((_lo - 1) * {n_buckets}) div _nt"),
                F.expr(f"((_hi - 1) * {n_buckets}) div _nt"),
            )
        ).alias("_rb"),
    )

    # ---- target global rank g per row, then the bucketed interval join
    tgt = ranked.join(F.broadcast(n_total)).withColumn(
        "_gtr",
        F.expr(
            "CASE WHEN _ng = 1 THEN div(_nt + 1, 2)"
            " ELSE 1 + div((_r - 1) * (_nt - 1) * 2 + (_ng - 1), (_ng - 1) * 2)"
            " END"
        ),
    ).withColumn("_rb", F.expr(f"((_gtr - 1) * {n_buckets}) div _nt"))
    out = tgt.join(ivb, "_rb").filter(
        (F.col("_gtr") >= F.col("_lo")) & (F.col("_gtr") <= F.col("_hi"))
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_g").alias(group_col),
        F.col("_v").alias(value_col),
        F.col("_gv").alias("norm_value"),
    )


def fd_discovery(
    df: DataFrame,
    id_col: str,
    columns: list[str],
) -> DataFrame:
    """Functional-dependency DISCOVERY over every ordered column pair —
    the schema-mining sweep behind source onboarding ("which columns
    determine which?"): for each pair ``A → B`` the exact g3 violation
    count (minimum rows to delete for the FD to hold: ``Σ_a (n_a −
    max_b n_ab)``) and the held-fraction in ppm. The single-pair audit
    (``dq.fd_violations``) checks a KNOWN dependency; this finds the
    candidates.

    Distributed shape: ONE melt keyed by the caller's row id (k rows
    per input row), ONE id-keyed self-join producing the k·(k−1)
    ordered pair stream map-side, then two partial-agg'd aggregations
    — (pair, v_a, v_b) counts, then per-(pair, v_a) argmax — and a
    pair-level rollup. Everything shuffles on fixed-width keys; no
    per-pair rescan of the input (k² scans is the naive shape this
    avoids). Values vote as canonical strings; rows where either side
    is NULL are excluded from that pair (and counted).

    Returns ``(col_a, col_b, n_rows, n_violations, fd_ppm)`` per
    ordered pair, ``fd_ppm = (n_rows − viol)·10⁶ div n_rows``.
    """
    if not columns or len(columns) < 2:
        raise ValueError("columns must list at least two column names")
    if len(set(columns)) != len(columns):
        raise ValueError("columns must be distinct")
    for c in [id_col, *columns]:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from pyspark.sql.window import Window as W

    melted = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("_f"), F.col(c).cast("string").alias("_v")
                )
                for c in columns
            ])
        ).alias("_m"),
    ).select("_id", F.col("_m._f").alias("_f"), F.col("_m._v").alias("_v"))
    a = melted.select(
        F.col("_id").alias("_ida"), F.col("_f").alias("col_a"),
        F.col("_v").alias("_va"),
    )
    b = melted.select(
        F.col("_id").alias("_idb"), F.col("_f").alias("col_b"),
        F.col("_v").alias("_vb"),
    )
    pairs = a.join(b, F.col("_ida") == F.col("_idb")).filter(
        (F.col("col_a") != F.col("col_b"))
        & F.col("_va").isNotNull()
        & F.col("_vb").isNotNull()
    )
    cell = pairs.groupBy("col_a", "col_b", "_va", "_vb").agg(
        F.count(F.lit(1)).alias("_n")
    )
    per_a = cell.groupBy("col_a", "col_b", "_va").agg(
        F.sum("_n").alias("_na"), F.max("_n").alias("_maxb")
    )
    out = per_a.groupBy("col_a", "col_b").agg(
        F.sum("_na").cast("long").alias("n_rows"),
        F.sum(F.col("_na") - F.col("_maxb")).cast("long").alias("n_violations"),
    )
    return out.select(
        "col_a",
        "col_b",
        "n_rows",
        "n_violations",
        F.expr("(n_rows - n_violations) * 1000000L div n_rows")
        .cast("long")
        .alias("fd_ppm"),
    )


def psi_drift(
    df: DataFrame,
    label_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_cells: int = 10,
) -> DataFrame:
    """Population Stability Index between two slices' numeric
    distributions — the deployment-monitoring standard (PSI < 0.1
    stable, > 0.25 drifted) beside :func:`ks_two_sample`'s sup-distance
    test: ``PSI = Σ_buckets (p_i − q_i)·ln(p_i / q_i)`` over a shared
    equal-width binning, sensitive to WHERE mass moved, not just the
    worst gap.

    Pinned exactness: buckets are exact integer floor-division cells
    over the combined min/max (the column_histogram rule); per-bucket
    probabilities take add-one smoothing ``(c_i + 1)/(N + B)`` (an
    empty bucket on one side must not produce ln(0)); each bucket's
    contribution floors to micro-units from a fixed IEEE double chain
    (exact-int counts → two divisions, one ln, one multiply), so the
    total is a sum of EXACTLY ``n_cells`` exact integers — order-proof.
    The sum really is over all ``n_cells`` buckets: cell counts are
    right-joined against the full 0..n_cells−1 grid (counts coalesced
    to 0), because under add-one smoothing a bucket empty on BOTH
    sides still contributes a non-zero positive term whenever
    ``n_a != n_b`` — dropping both-empty buckets (what a bare groupBy
    does) would understate the documented PSI.

    One data pass (partial-agg'd bucket counts), a 1-row bounds
    broadcast, a ≤ n_cells-row finish. Returns one row
    ``(n_a, n_b, n_cells, psi_micro)``; raises if either slice is
    empty.
    """
    if not 2 <= n_cells <= 1000:
        raise ValueError(f"n_cells must be in [2, 1000], got {n_cells}")
    for c in (label_col, value_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")

    vals = df.select(
        (F.col(label_col) == group_a).alias("_isa"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(
        F.col(label_col).isin(group_a, group_b) & F.col("_v").isNotNull()
    )
    bounds = vals.agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    cells = (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            guarded_bucket("_v - _mn", n_cells, op="psi_drift").alias("_c"),
            "_isa",
        )
        .groupBy("_c")
        .agg(
            F.sum(F.when(F.col("_isa"), 1).otherwise(0)).cast("long").alias("_ca"),
            F.sum(F.when(F.col("_isa"), 0).otherwise(1)).cast("long").alias("_cb"),
        )
    )
    # both-empty buckets still carry a smoothing term — complete the grid
    grid = df.sparkSession.range(int(n_cells)).select(
        F.col("id").cast("long").alias("_c")
    )
    cells = grid.join(cells, "_c", "left").select(
        "_c",
        F.coalesce("_ca", F.lit(0)).cast("long").alias("_ca"),
        F.coalesce("_cb", F.lit(0)).cast("long").alias("_cb"),
    )
    tot = cells.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    b = int(n_cells)
    term = (
        (
            (F.col("_ca") + 1).cast("double") / (F.col("_na") + b)
            - (F.col("_cb") + 1).cast("double") / (F.col("_nb") + b)
        )
        * F.log(
            ((F.col("_ca") + 1).cast("double") / (F.col("_na") + b))
            / ((F.col("_cb") + 1).cast("double") / (F.col("_nb") + b))
        )
    )
    agg = cells.join(F.broadcast(tot)).agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.sum(F.floor(term * 10**6).cast("long")).cast("long").alias("_psi"),
    )
    return agg.select(
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("n_a")
        )
        .otherwise(
            F.raise_error(F.lit("psi_drift: a slice is empty")).cast("long")
        )
        .alias("n_a"),
        "n_b",
        F.lit(b).cast("long").alias("n_cells"),
        F.col("_psi").alias("psi_micro"),
    )
