"""Incremental conversation analytics: streaming per-conversation stats.

Transcript lakes grow continuously, and a conversation's turns can be
split across drops (a live thread keeps appending). This is the
Structured Streaming twin of ``transcripts/analytics.py:conv_stats``:
each micro-batch folds its turns into PARTIAL per-conversation
aggregates; the read view merge-combines partials into exactly the
batch operator's output.

Design (and why):

- **Partial aggregates, not raw turns.** The store keeps one row per
  (conv_id, _batch_id): turn counts by role, char sum, min/max epoch,
  arg-min/arg-max role by turn_idx, and the batch's DISTINCT tool set
  (a tiny array — conversations are bounded). Store size is
  ∝ conversations-touched-per-batch, not turns.
- **Every merge is order-free**, which is what makes the streamed
  result ROW-IDENTICAL to the batch operator on the union of all
  batches regardless of arrival order or how a conversation's turns are
  split across triggers: sums for counts/chars, min/max for the time
  span, arg-min/arg-max on the UNIQUE turn_idx for first/last role, set
  union for distinct tools. (Stronger than the novelty store's
  id-ordered-arrival caveat — no ordering assumption at all.)
- **foreachBatch + _batch_id-partitioned parquet with DYNAMIC partition
  overwrite**: a replayed batch (crash between write and checkpoint
  commit) rewrites its own partition instead of double-counting — the
  exactly-once shape shared with the gram store and the KG reject
  stream. Idempotence holds because the partial row is a pure function
  of the batch's data.
- **At scale**: per-trigger cost is one partial agg over the batch; the
  store accrues one partition per batch — compact periodically by
  merge-combining into a single partition (``compact_conv_stats``),
  the same lambda-style slot as ``compact_canonicalize``; the merge
  being associative is exactly what makes compaction safe.

Reference analog: nebula-importer's running per-file stats counters
(pkg/stats) — here the unit is the conversation and the counters are
mergeable algebraic aggregates instead of a mutex'd struct.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.plans.merge import replace_partition

_STORE_COLS = [
    "conv_id",
    "n_turns",
    "n_user",
    "n_assistant",
    "n_tool_calls",
    "tools",
    "total_chars",
    "first_idx",
    "first_role",
    "last_idx",
    "last_role",
    "min_ts",
    "max_ts",
]


def _partial_stats(turns: DataFrame) -> DataFrame:
    """Per-conv partial aggregate of one batch of turns — every column
    merge-combinable order-free (see module docstring)."""
    per = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.length("text").alias("_chars"),
        F.col("ts").cast("timestamp").cast("long").alias("_ts"),
    )
    return per.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
            "n_assistant"
        ),
        F.sum(F.col("tool").isNotNull().cast("int")).alias("n_tool_calls"),
        F.array_distinct(
            F.filter(F.collect_list("tool"), lambda t: t.isNotNull())
        ).alias("tools"),
        F.sum("_chars").alias("total_chars"),
        F.min("turn_idx").alias("first_idx"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max("turn_idx").alias("last_idx"),
        F.max_by("role", "turn_idx").alias("last_role"),
        F.min("_ts").alias("min_ts"),
        F.max("_ts").alias("max_ts"),
    )


def run_incremental_conv_stats(
    stream: DataFrame,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    *,
    available_now: bool = True,
) -> None:
    """Drive a transcript-turn stream into the partial-stats store.
    Blocks until the availableNow replay drains (the gate/test mode);
    pass available_now=False for a continuous query (caller manages the
    handle)."""
    out = str(out_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        replace_partition(_partial_stats(batch_df), out, "_batch_id", batch_id)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        writer.trigger(availableNow=True).start().awaitTermination()
    else:  # pragma: no cover - continuous mode is caller-managed
        writer.start()


def _merge_partials(partials: DataFrame) -> DataFrame:
    """Merge-combine partial rows back into the STORE schema. This is the
    single source of truth for the combine: the store schema is closed
    under it, so both the read view (_merge) and compaction
    (compact_conv_stats) are projections of this one aggregation —
    adding a stat to _partial_stats requires touching exactly one merge.
    """
    return partials.groupBy("conv_id").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("n_user").alias("n_user"),
        F.sum("n_assistant").alias("n_assistant"),
        F.sum("n_tool_calls").alias("n_tool_calls"),
        F.array_distinct(F.flatten(F.collect_list("tools"))).alias("tools"),
        F.sum("total_chars").alias("total_chars"),
        F.min("first_idx").alias("_fi"),
        F.min_by("first_role", "first_idx").alias("first_role"),
        F.max("last_idx").alias("_li"),
        F.max_by("last_role", "last_idx").alias("last_role"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    ).select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool_calls",
        "tools",
        "total_chars",
        F.col("_fi").alias("first_idx"),
        "first_role",
        F.col("_li").alias("last_idx"),
        "last_role",
        "min_ts",
        "max_ts",
    )


def _merge(partials: DataFrame) -> DataFrame:
    """Merge-combine partial rows into the batch operator's exact output
    schema (transcripts/analytics.py:conv_stats)."""
    return _merge_partials(partials).select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool_calls",
        F.size("tools").cast("long").alias("n_distinct_tools"),
        "total_chars",
        "first_role",
        "last_role",
        (F.col("max_ts") - F.col("min_ts")).alias("duration_sec"),
    )


def read_conv_stats(spark, out_dir: str | Path) -> DataFrame:
    """Current merged view of the store — row-identical to
    ``conv_stats(union of all arrived turns)``."""
    return _merge(spark.read.parquet(str(out_dir)).select(*_STORE_COLS))


def _hadoop_delete(spark, path: str) -> None:
    """Recursive delete through the session's Hadoop filesystem (works on
    any scheme the session can write to, not just local disk)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)


def compact_conv_stats(spark, out_dir: str | Path) -> None:
    """Rewrite the store's per-batch partials into one merged partition
    (_batch_id = -1). Safe because the merge is associative and the
    partial schema is closed under it.

    Two-phase rewrite: the merged result is first MATERIALIZED to a
    durable staging directory, and only then does the overwrite of the
    store read FROM that staging copy. Overwriting a table from its own
    lineage with nothing but a localCheckpoint barrier is not
    crash-safe on a cluster: checkpoint blocks live in executor storage,
    so a lost executor after the overwrite job started deleting source
    files would leave the store unrecoverable (the partials are the only
    place merged history lives once the source stream ages out). With
    staging, every phase reads only from durable files — a crash
    mid-overwrite is recoverable by re-running the overwrite from the
    intact staging copy."""
    out = str(out_dir).rstrip("/")
    staging = out + "__compact_staging"
    compacted = _merge_partials(
        spark.read.parquet(out).select(*_STORE_COLS)
    ).withColumn("_batch_id", F.lit(-1).cast("long"))
    compacted.write.mode("overwrite").parquet(staging)
    (
        spark.read.parquet(staging)
        .write.mode("overwrite")
        .partitionBy("_batch_id")
        .parquet(out)
    )
    _hadoop_delete(spark, staging)
