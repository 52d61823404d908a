"""Incremental corpus curation: streaming cross-batch n-gram novelty dedup.

Web-corpus pipelines don't deduplicate once — new crawl drops arrive
continuously and every drop must be scored against EVERYTHING already
ingested. This is the Structured Streaming twin of
``operators/dedup.py:gram_novelty``, built from the same gram-hash stage
function (``doc_gram_hashes``) so the batch and streaming paths cannot
drift: per micro-batch, each document's distinct word n-grams are checked
against the accumulated gram store (first-owner doc id per gram) plus the
batch's own earlier documents, and a per-doc staleness report is emitted.

Design (and why):

- **foreachBatch + partition-keyed parquet, no Spark state store.** The
  "seen grams" state is corpus-sized (one row per distinct gram ever) —
  exactly the thing NOT to put in a streaming state store. It lives as a
  parquet table partitioned by ``_batch_id``; each micro-batch appends its
  own gram-firsts partition with DYNAMIC partition overwrite, so a
  replayed batch (crash between write and checkpoint commit) rewrites its
  own partition instead of duplicating — the same exactly-once shape as
  the incremental-KG reject stream. Reads additionally filter
  ``_batch_id < current`` so a replay never sees its own failed write.
- **min is the merge.** The store's per-gram value is the minimum doc id
  seen so far; min is idempotent and associative, so replays and
  partition-level recomputes can never corrupt it.
- **Stream ≡ batch when arrival respects id order.** ``gram_novelty``
  defines "earlier" as any smaller doc id; a stream can only know docs
  that already arrived. If document ids arrive in (batch-wise) ascending
  order the streaming output is ROW-IDENTICAL to the batch operator over
  the union of all batches — the equality the gate hash and the pytest
  soak check. Out-of-order arrival diverges only in the direction
  streaming must: an early-arriving high-id doc is scored novel before a
  lower-id doc exists (no retraction), while late-arriving low-id docs
  are still scored correctly (min over seen ⊇ min over smaller ids).
- **At scale**: per-trigger cost is ∝ the batch's grams (one store join);
  the store accrues one partition per batch — compact periodically by
  rewriting ``groupBy(_h).min(_first)`` into a single partition (the same
  lambda-style compaction slot as the KG's ``compact_canonicalize``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from nebula_importer_spark.plans.merge import replace_partition


def _join(base: str, *parts: str) -> str:
    """URI-safe path join: plain string concat so scheme-qualified paths
    (``s3://…``, ``hdfs://…``) keep their ``//`` — ``pathlib.Path`` would
    collapse it and break every non-local filesystem."""
    return "/".join([str(base).rstrip("/")] + [p.strip("/") for p in parts])


def _try_read_parquet(spark, path: str) -> DataFrame | None:
    """Read a parquet table that may not exist yet, through the session's
    Hadoop filesystem (NOT a driver-local ``os.path`` check, which is
    always False for object stores and would silently reset incremental
    state every batch)."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark, input_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream of document parquet drops (the crawl-drop shape;
    Kafka at scale — the downstream plan is identical)."""
    return (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_incremental_novelty(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    available_now: bool = True,
) -> dict:
    """Drain a document stream into per-doc novelty reports incrementally.

    Per micro-batch: distinct gram hashes (shared ``doc_gram_hashes``
    stage) → join against the prior-batch gram store → staleness =
    first-owner-anywhere-earlier < my id (store side OR the batch's own
    min) → per-doc report written to ``<out>/novelty/_batch_id=N`` and the
    batch's gram-firsts appended to ``<out>/grams/_batch_id=N`` (both
    dynamic-overwrite keyed by batch id — replay-idempotent).

    Returns {"batches": n, "docs": cumulative batch doc counts}; with
    ``available_now=False`` the StreamingQuery handle is under "query".
    """
    from nebula_importer_spark.operators.dedup import doc_gram_hashes, novelty_stats

    spark = stream.sparkSession
    grams_dir = _join(out_dir, "grams")
    novelty_dir = _join(out_dir, "novelty")
    seen: dict = {"batches": 0, "docs": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ex = doc_gram_hashes(batch_df, id_col=id_col, text_col=text_col, n=n)
        ex = ex.persist()
        try:
            bfirst = ex.groupBy("_h").agg(F.min("_id").alias("_bfirst"))
            prior = _try_read_parquet(spark, grams_dir)
            if prior is not None:
                prior = (
                    prior.filter(F.col("_batch_id") < batch_id)
                    .groupBy("_h")
                    .agg(F.min("_first").alias("_pfirst"))
                )
            flagged = ex.join(bfirst, "_h")
            if prior is not None:
                flagged = flagged.join(prior, "_h", "left")
            else:
                flagged = flagged.withColumn("_pfirst", F.lit(None).cast("long"))
            stale = (
                F.coalesce(F.col("_pfirst") < F.col("_id"), F.lit(False))
                | (F.col("_bfirst") < F.col("_id"))
            )
            report = novelty_stats(
                flagged.select("_id", stale.cast("long").alias("_stale")),
                id_col=id_col,
            )
            replace_partition(report, novelty_dir, "_batch_id", batch_id)
            grams = bfirst.select("_h", F.col("_bfirst").alias("_first"))
            replace_partition(grams, grams_dir, "_batch_id", batch_id)
            seen["batches"] += 1
            seen["docs"] += report.count()  # batch-sized (persisted grams)
        finally:
            ex.unpersist()

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def read_novelty(spark, out_dir: str) -> DataFrame:
    """The accumulated per-doc novelty table (all batches)."""
    return spark.read.parquet(_join(out_dir, "novelty")).drop("_batch_id")
