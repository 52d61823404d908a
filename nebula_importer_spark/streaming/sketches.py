"""Incremental sketch maintenance over streams.

The count-min matrix (operators/sketch.py:cms_matrix) is MERGEABLE —
a union's matrix is the cell-wise sum of the parts' matrices — which is
exactly the property that makes it streamable: each micro-batch writes
its own matrix partition, and the read-side cell-wise sum IS the batch
sketch of everything drained so far. No state store, no complete-mode
re-emit of a growing aggregate; per-batch cost is flat at any history
length (the run_incremental_novelty discipline applied to sketch
state), and replay is idempotent because each batch's partition is
keyed by ``_batch_id`` and dynamically overwritten (the
streaming/transcripts.py exactly-once pattern).

At 100 TB streaming ingest this is how per-key frequency telemetry
stays cheap: depth×width longs per batch partition, compactable by the
same cell-wise sum whenever the partition count grows.

The HyperLogLog registers (operators/sketch.py:hll_registers) stream the
same way but merge by bucket-wise MAX — idempotent, so a replay cannot
even overcount; distinct-user telemetry costs ≤ 2^p rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.plans.merge import replace_partition


def run_incremental_cms(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "cms",
    available_now: bool = True,
) -> dict:
    """Drain a stream into per-batch count-min matrix partitions at
    ``<out_dir>/cms/_batch_id=N``. Read the live sketch back with
    :func:`read_cms` — cell-wise-sum merge, equal to the batch
    ``cms_matrix`` over the union of all drained rows (the mergeability
    pytest in test_sketch is the proof obligation; the gate row hashes
    the end state against the batch oracle).

    Returns {"batches": n}; with ``available_now=False`` the live
    StreamingQuery handle is under "query".
    """
    from nebula_importer_spark.operators.sketch import cms_matrix

    cms_dir = f"{str(out_dir).rstrip('/')}/cms"
    seen: dict = {"batches": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        m = cms_matrix(batch_df, col, depth=depth, width=width, salt=salt)
        replace_partition(m, cms_dir, "_batch_id", batch_id)
        seen["batches"] += 1

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def run_incremental_hll(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    col: str,
    p: int = 12,
    group_cols: list[str] | None = None,
    salt: str = "hll",
    available_now: bool = True,
) -> dict:
    """Drain a stream into per-batch HyperLogLog register partitions at
    ``<out_dir>/hll/_batch_id=N`` (operators/sketch.py:hll_registers).
    Registers merge by bucket-wise MAX — max is idempotent AND
    insensitive to double-counting, so unlike the CMS (whose cells sum)
    an HLL replay can't even overcount: the merged sketch equals the
    batch sketch of the union under ANY replay. Read the live estimate
    back with :func:`read_hll`. Per-batch state is ≤ 2^p rows per group
    at any history length.

    Returns {"batches": n}; with ``available_now=False`` the live
    StreamingQuery handle is under "query".
    """
    from nebula_importer_spark.operators.sketch import hll_registers

    hll_dir = f"{str(out_dir).rstrip('/')}/hll"
    seen: dict = {"batches": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(
            batch_df, col, p=p, group_cols=group_cols, salt=salt
        )
        replace_partition(regs, hll_dir, "_batch_id", batch_id)
        seen["batches"] += 1

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def read_hll(
    spark,
    out_dir: str,
    *,
    p: int = 12,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The live merged HLL estimate across every drained batch
    partition: registers re-max per bucket inside
    ``hll_estimate``, so this equals the batch ``hll_distinct`` over
    the union of all drained rows."""
    from nebula_importer_spark.operators.sketch import hll_estimate

    regs = spark.read.parquet(f"{str(out_dir).rstrip('/')}/hll")
    return hll_estimate(regs, p=p, group_cols=group_cols)


def read_cms(spark, out_dir: str) -> DataFrame:
    """The live merged sketch: cell-wise sum across every drained batch
    partition — ≤ depth·width rows out, usable anywhere a batch
    ``cms_matrix`` result is (cms_estimate, further merges)."""
    return (
        spark.read.parquet(f"{str(out_dir).rstrip('/')}/cms")
        .groupBy("r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def run_incremental_buckets(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket_sec: int = 3600,
    available_now: bool = True,
) -> dict:
    """Drain a stream into per-batch (key, bucket) partial-count
    partitions at ``<out_dir>/buckets/_batch_id=N`` — the streamable
    state behind CUSUM change-point telemetry: bucket counts are
    mergeable partial SUMS (the CMS discipline, not HLL's max), each
    batch's partition is keyed by ``_batch_id`` and dynamically
    overwritten, so replay is idempotent and per-batch cost is flat at
    any history length (state rows per batch ≤ keys·buckets touched by
    THAT batch, never the full horizon). Read the live change-point
    report back with :func:`read_cusum` — equal to the batch
    ``cusum_change`` over the union of all drained rows.

    Returns {"batches": n}; with ``available_now=False`` the live
    StreamingQuery handle is under "query".
    """
    b_dir = f"{str(out_dir).rstrip('/')}/buckets"
    seen: dict = {"batches": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(
                F.col(key_col).alias("key"),
                F.floor(
                    F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_sec)
                ).cast("long").alias("bucket"),
            )
            .groupBy("key", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        replace_partition(counts, b_dir, "_batch_id", batch_id)
        seen["batches"] += 1

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def read_cusum(
    spark,
    out_dir: str,
    *,
    key_col: str = "event_type",
    max_span_buckets: int = 100_000,
) -> DataFrame:
    """The live CUSUM change-point report across every drained batch
    partition: partial bucket counts re-SUM inside
    ``cusum_from_buckets``, so this equals the batch ``cusum_change``
    over the union of all drained rows (the gate row hashes the end
    state against exactly that oracle)."""
    from nebula_importer_spark.operators.temporal import cusum_from_buckets

    buckets = spark.read.parquet(f"{str(out_dir).rstrip('/')}/buckets")
    out = cusum_from_buckets(
        buckets, key_col="key", max_span_buckets=max_span_buckets
    )
    return out.withColumnRenamed("key", key_col)


def run_incremental_kmv(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
    salt: str = "kmv",
    available_now: bool = True,
) -> dict:
    """Drain a stream into per-batch KMV bottom-k sketch partitions at
    ``<out_dir>/kmv/_batch_id=N`` — the streaming leg of
    ``operators/sketch.py:kmv_distinct`` (and the register source
    ``kmv_set_ops`` needs for live audience-overlap estimates).
    Bottom-k is MERGEABLE AND replay-proof: the k smallest distinct
    hashes of a union equal the k smallest over the per-batch bottom-k
    sets, re-min'd — a replayed batch re-contributes the same hashes,
    which the read-side distinct absorbs, so stream ≡ batch under any
    replay (the HLL max-merge argument, for order statistics).
    Per-batch state is ≤ k rows per group at any history length.

    Returns {"batches": n}; with ``available_now=False`` the live
    StreamingQuery handle is under "query".
    """
    from pyspark.sql.window import Window as W

    from nebula_importer_spark.operators.sketch import _kmv_hash

    if k < 16:
        raise ValueError(f"k must be >= 16 for a usable estimate, got {k}")
    groups = list(group_cols or [])
    kmv_dir = f"{str(out_dir).rstrip('/')}/kmv"
    seen: dict = {"batches": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        hx = batch_df.select(
            *groups, _kmv_hash(F.col(col), salt).alias("_h")
        ).distinct()
        if groups:
            w = W.partitionBy(*groups).orderBy("_h")
            kept = hx.withColumn("_r", F.row_number().over(w)).filter(
                F.col("_r") <= k
            ).drop("_r")
        else:
            kept = hx.orderBy("_h").limit(k)
        replace_partition(kept, kmv_dir, "_batch_id", batch_id)
        seen["batches"] += 1

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def read_kmv(
    spark,
    out_dir: str,
    *,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The live merged KMV estimate across every drained batch
    partition: batch sketches union, re-distinct (replay absorption),
    re-bottom-k, then the same ``(k−1)·2^52 div h_(k)`` estimate as the
    batch operator — so the result is bit-identical to
    ``kmv_distinct`` over the union of all drained rows, which is what
    lets the gate row share the batch oracle. Output schema matches
    ``kmv_distinct``: ``(*group_cols, n_kept, est_distinct)``.
    """
    from pyspark.sql.window import Window as W

    from nebula_importer_spark.operators.sketch import KMV_SPACE

    groups = list(group_cols or [])
    kmv_dir = f"{str(out_dir).rstrip('/')}/kmv"
    hx = spark.read.parquet(kmv_dir).select(*groups, "_h").distinct()
    if groups:
        w = W.partitionBy(*groups).orderBy("_h")
        kept = hx.withColumn("_r", F.row_number().over(w)).filter(
            F.col("_r") <= k
        )
        agg = kept.groupBy(*groups).agg(
            F.count(F.lit(1)).alias("n_kept"), F.max("_h").alias("_kth")
        )
    else:
        kept = hx.orderBy("_h").limit(k)
        agg = kept.agg(
            F.count(F.lit(1)).alias("n_kept"), F.max("_h").alias("_kth")
        )
    return agg.select(
        *groups,
        F.col("n_kept").cast("long").alias("n_kept"),
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(F.expr(f"({k - 1} * {KMV_SPACE}) div _kth"))
        .cast("long")
        .alias("est_distinct"),
    )
