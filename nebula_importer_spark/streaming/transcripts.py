"""Incremental KG construction: transcript stream → canonical triples.

The batch north-star pipeline (transcripts/pipeline.py) reruns over the
full corpus; this is its Structured Streaming twin for CONTINUOUS arrival —
new transcript files land, only the new turns are extracted/linked, and the
triple tables grow incrementally. The reference has no streaming surface at
all (batch CSV import only); this is the engine's extension, built from the
same stage functions so batch and stream cannot drift.

Design (and why):

- **foreachBatch over writeStream sinks.** Extraction + linking are plain
  DataFrame transforms and run fine inside a streaming plan, but the sink
  must be the keyed TableStore merge (idempotence, below) — a foreachBatch
  re-uses the exact batch-mode stage code per micro-batch, persisting its
  surface triples for the batch so each turn is extracted once.
- **Exactly-once via at-least-once replay × idempotent merge.** Structured
  Streaming's checkpoint guarantees each micro-batch is delivered at least
  once to foreachBatch; the TableStore INSERT merge is keyed on the full
  triple identity (conv_id, turn_idx, subj, pred, obj), so a replayed batch
  rewrites the same rows — the observable table state is exactly-once.
  This is the standard Spark pattern for non-transactional sinks.
- **Canonicalization is deliberately NOT per-batch.** Entity linking
  (broadcast alias dict + fuzzy) is batch-local and cheap; connected
  components over same-as pairs is a GLOBAL fixpoint — running it inside
  every micro-batch would re-canonicalize history per trigger. The stream
  writes alias-linked triples; `compact_canonicalize` runs the global CC
  as a periodic batch compaction over the accumulated table (same
  lambda-style split Iceberg/Delta pipelines use for clustering work).
- **At 10^12 turns**: the stream shards by arriving file; each micro-batch
  pays extraction ∝ new turns only. The merge rewrites only the key-hash
  buckets the batch touches. State on the streaming side is just the file
  ledger in the checkpoint — no Spark state store is involved.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebula_importer_spark.config.model import Mode
from nebula_importer_spark.plans.merge import TableStore, replace_partition

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

TRIPLE_KEY = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream of transcript parquet drops (Kafka at scale; the
    downstream plan is identical). maxFilesPerTrigger bounds micro-batch
    size so extraction latency stays predictable."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_incremental_kg(
    stream: DataFrame,
    alias_dict: DataFrame,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
) -> dict:
    """Drain the transcript stream into the triple store incrementally.

    Per micro-batch: extract surface triples (Arrow-batched mapInPandas
    after a hash repartition on (conv_id, turn_idx)) → link mentions
    against the broadcast alias dict → keyed INSERT-merge into
    `<out>/kg/triples`; unlinked mentions replace the batch's `_batch_id`
    partition of `<out>/kg/_rejects/stream`. With ``available_now`` the call
    processes every file currently present and returns (incremental batch
    job shape);
    pass False for a continuously-running query — the caller gets the
    StreamingQuery handle under "query" (stop/awaitTermination/exception
    are the caller's to manage).

    Returns {"batches": n, "rows": cumulative-batch-triple-rows} — each
    batch's triples are counted by an Observation riding its triple merge,
    NOT by a re-scan of the accumulated table or an extra action:
    per-trigger cost stays ∝ the new turns.
    """
    from nebula_importer_spark.transcripts.pipeline import TranscriptPipeline

    spark = stream.sparkSession
    out = Path(out_dir)
    store = TableStore(out / "kg", spark)
    pipe = TranscriptPipeline(spark)
    seen: dict = {"batches": 0, "rows": 0}

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        surface = pipe.triples_surface(batch_df).persist()
        try:
            links = pipe.link_table(surface, alias_dict)
            triples, unlinked = pipe.canonical_triples(surface, links, same_as=None)
            tri_obs = Observation()
            store.merge_commit(
                triples.observe(tri_obs, F.count(F.lit(1)).alias("n")),
                "triples", Mode.INSERT, TRIPLE_KEY,
            )
            # Rejects keyed by batch_id: a replayed micro-batch (crash
            # between this write and the checkpoint commit) rewrites its
            # own _batch_id partition instead of appending duplicates — the
            # reject stream gets the same exactly-once shape as the keyed
            # triple merge.
            replace_partition(
                unlinked, out / "kg" / "_rejects" / "stream", "_batch_id", batch_id
            )
            seen["batches"] += 1
            seen["rows"] += _observed_rows(tri_obs)
        finally:
            surface.unpersist()

    writer = stream.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return dict(seen)
    seen["query"] = writer.start()
    return seen


def _observed_rows(obs: Observation) -> int:
    """The ``n`` an Observation counted. When adaptive execution replaces
    the observed plan by an empty relation (a micro-batch that yields no
    triples), Spark completes the Observation with an empty row, which
    ``Observation.get`` cannot read: that is 0 rows."""
    return int(obs.get["n"]) if obs._jo.getRow().length() else 0


def compact_canonicalize(store: TableStore, same_as: DataFrame) -> int:
    """Periodic global canonicalization compaction: canonicalize the
    same-as graph (``canonical_mapping``'s driver-side union-find; the
    mapping is broadcast, so same_as must be broadcast-sized) and rewrite
    the accumulated triple table with canonical entity ids (min id per
    equivalence class). Returns the new snapshot version (0 when there is
    nothing to compact). Idempotent — canonical ids are fixpoints of the
    mapping, so re-running is a no-op rewrite of identical rows."""
    from nebula_importer_spark.operators.connected_components import (
        canonical_mapping,
    )

    triples = store.read("triples")
    if triples is None or same_as.isEmpty():
        return 0
    # Non-fixpoint mappings only: entities already canonical need no rewrite,
    # so the affected row set (and the buckets both merges touch) is ∝ the
    # NEW equivalences, not the table size.
    canon = canonical_mapping(same_as).filter(
        F.col("entity_id") != F.col("canonical_id")
    )
    cs = canon.select(F.col("entity_id").alias("subj"), F.col("canonical_id").alias("_cs"))
    co = canon.select(F.col("entity_id").alias("obj"), F.col("canonical_id").alias("_co"))
    affected = (
        triples.join(F.broadcast(cs), "subj", "left")
        .join(F.broadcast(co), "obj", "left")
        .filter(F.col("_cs").isNotNull() | F.col("_co").isNotNull())
    )
    # Old identities out, canonical identities in. Snapshots are immutable,
    # so `affected` (whose lineage reads the pre-delete version's files)
    # stays valid for the second merge's recomputation.
    store.merge_commit(
        affected.select(*TRIPLE_KEY), "triples", Mode.DELETE, TRIPLE_KEY
    )
    rewritten = affected.select(
        "conv_id",
        "turn_idx",
        F.coalesce("_cs", F.col("subj")).alias("subj"),
        "pred",
        F.coalesce("_co", F.col("obj")).alias("obj"),
    ).distinct()
    v, _ = store.merge_commit(rewritten, "triples", Mode.INSERT, TRIPLE_KEY)
    return v


def refresh_analytics(store: TableStore, *, pagerank_iterations: int = 4) -> int:
    """Recompute the graph-analytics tables over the CURRENT triples table
    and commit them as a new ``entity_rank`` snapshot (entity, out_deg,
    in_deg, rank_scaled). Rides the same maintenance cadence as
    ``compact_canonicalize`` — analytics are a full recompute, not an
    incremental merge, because PageRank is a global fixpoint like CC: a new
    snapshot per refresh is the lambda-style split (hot path appends
    triples; the periodic job rebuilds the derived view).

    Exact-integer PageRank means the refreshed table is BIT-IDENTICAL to a
    batch run over the same triples — streamed-then-refreshed vs
    batch-computed analytics cannot drift (tested), which is the property
    an incremental float implementation could not give. Returns the new
    snapshot version (0 when there are no triples yet)."""
    from nebula_importer_spark.operators.graph import degree_counts, pagerank

    triples = store.read("triples")
    if triples is None:
        return 0
    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    # degrees = triple participation (parallel predicates each count);
    # pagerank collapses parallel edges internally (rank is a topology
    # property) — the asymmetry is deliberate and shared with the
    # kg_degree / graph_pagerank driver-gate queries.
    deg = degree_counts(edges).withColumnRenamed("node", "entity")
    pr = pagerank(edges, iterations=pagerank_iterations)
    ranked = deg.join(pr, deg["entity"] == pr["node"]).select(
        "entity", "out_deg", "in_deg", "rank_scaled"
    )
    return store.commit(ranked, "entity_rank")
