"""End-to-end transcript → knowledge-graph pipeline (the north star).

Stages (each a checkpointable snapshot in the TableStore):

1. order     — stable turn ordering window over (conv_id, turn_idx)
2. extract   — Arrow-batched mapInPandas triple extraction (surface forms),
               salted-repartitioned on conv_id so a mega-thread spreads over
               many tasks (extraction is row-local → salting is safe)
3. link      — broadcast-exact + MinHash-LSH fuzzy entity linking of the
               distinct mention vocabulary
4. canon     — every entity id maps to the min id of its same_as
               equivalence class. canonical_mapping collects the same_as
               pairs in one Spark job and unions them on the driver
               (min-root union-find); the mapping is broadcast into the
               link join, so same_as must be broadcast-sized
5. material  — vertex + edge tables in the reference's tag/edge schema shape
               (tags/entity: vid + name + kind; edges/<pred>: src, dst, rank,
               conv_id, turn_idx) + rejects (unlinked mentions) + per-stage
               metrics

Everything between parquet reads and writes is DataFrame expressions + one
mapInPandas kernel; the only rows collected to the driver are the same_as
pairs of stage 4. run()'s counts (turns, triples, unlinked mentions) are
Observations riding the writes that already happen, not extra actions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.config.model import Mode
from nebula_importer_spark.operators.connected_components import canonical_mapping
from nebula_importer_spark.operators.linking import link_mentions
from nebula_importer_spark.operators.skew import salted_repartition
from nebula_importer_spark.plans.merge import TableStore
from nebula_importer_spark.transcripts.extract import (
    extract_triples,
    normalize_mention,
    ordered_turns,
)


@dataclass
class TranscriptRunResult:
    triples: int = 0
    unlinked_mentions: int = 0
    turns: int = 0
    duration_sec: float = 0.0
    stages: dict[str, float] = field(default_factory=dict)

    def turns_per_sec(self) -> float:
        return self.turns / self.duration_sec if self.duration_sec else 0.0


class TranscriptPipeline:
    def __init__(
        self,
        spark: SparkSession,
        fuzzy_threshold: float = 0.5,
        salt_buckets: int = 32,
    ):
        self.spark = spark
        self.fuzzy_threshold = fuzzy_threshold
        self.salt_buckets = salt_buckets
        # persisted frames registered by stages; release() unpersists them
        # so cached blocks do not accumulate across runs in a long session
        self._persisted: list[DataFrame] = []

    def release(self) -> None:
        """Unpersist every frame the stages cached (call after the consuming
        actions finish; run() does this automatically)."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:  # pragma: no cover — session already stopped
                pass
        self._persisted.clear()

    # -- composable stages (each returns a DataFrame; no side effects) -----
    def triples_surface(self, transcripts: DataFrame) -> DataFrame:
        """Stages 1-2: turns → surface-form triples.

        Extraction is row-local, so no ordering window is needed here (the
        stable (conv_id, turn_idx) window — ordered_turns — backs the
        text-equality invariant and any per-conversation operator, not the
        extraction kernel). The salted repartition spreads mega-threads that
        arrive clustered in input splits across all tasks: one conv_id with
        10^6 turns in one parquet file must not serialize into one task.
        Only the slim (conv_id, turn_idx, text) projection is shuffled.
        """
        turns = transcripts.select("conv_id", "turn_idx", "text")
        turns = salted_repartition(turns, "conv_id", self.salt_buckets)
        return extract_triples(turns)

    def link_table(self, surface_triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
        """Stage 3: distinct mention vocabulary → entity ids."""
        mentions = (
            surface_triples.select(normalize_mention(F.col("subj_sf")).alias("mention_norm"))
            .unionByName(
                surface_triples.select(normalize_mention(F.col("obj_sf")).alias("mention_norm"))
            )
            .distinct()
        )
        aliases = alias_dict.select(
            normalize_mention(F.col("alias")).alias("alias_norm"), "entity_id"
        )
        return link_mentions(
            mentions, aliases, fuzzy_threshold=self.fuzzy_threshold,
            track=self._persisted,
        )

    def canonical_triples(
        self,
        surface_triples: DataFrame,
        links: DataFrame,
        same_as: DataFrame | None,
    ) -> tuple[DataFrame, DataFrame]:
        """Stages 3b-4: resolve surface forms → canonical entity triples.
        Returns (triples, unlinked_mentions)."""
        links = links.select("mention_norm", "entity_id")
        if same_as is not None:
            canon = canonical_mapping(same_as)
            links = (
                links.join(F.broadcast(canon), "entity_id", "left")
                .select(
                    "mention_norm",
                    F.coalesce("canonical_id", "entity_id").alias("entity_id"),
                )
            )
        st = surface_triples.withColumn(
            "subj_norm", normalize_mention(F.col("subj_sf"))
        ).withColumn("obj_norm", normalize_mention(F.col("obj_sf")))
        s_link = links.withColumnRenamed("mention_norm", "subj_norm").withColumnRenamed(
            "entity_id", "subj"
        )
        o_link = links.withColumnRenamed("mention_norm", "obj_norm").withColumnRenamed(
            "entity_id", "obj"
        )
        # Both outputs (ok-triples and unlinked-rejects) are counted/written
        # by callers as separate actions; persist the joined frame so the
        # extraction join tree runs once, not once per output.
        joined = st.join(F.broadcast(s_link), "subj_norm", "left").join(
            F.broadcast(o_link), "obj_norm", "left"
        ).persist()
        self._persisted.append(joined)
        ok = joined.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
        triples = ok.select("conv_id", "turn_idx", "subj", "pred", "obj").distinct()
        unlinked = (
            joined.filter(F.col("subj").isNull() | F.col("obj").isNull())
            .select(
                "conv_id",
                "turn_idx",
                F.when(F.col("subj").isNull(), F.col("subj_sf"))
                .otherwise(F.col("obj_sf"))
                .alias("mention"),
                F.lit("unlinked_mention").alias("reason"),
            )
        )
        return triples, unlinked

    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame | None,
        out_dir: str | Path,
        resume: bool = False,
        stats_interval_sec: float = 10.0,
    ) -> TranscriptRunResult:
        """Full materialization with per-stage snapshots + metrics + rejects.
        A StatsMeter ticks every ``stats_interval_sec`` (M2 analog:
        turns processed, rate, live executor activity on stderr)."""
        from nebula_importer_spark.plans.metrics import StatsMeter

        t0 = time.time()
        store = TableStore(Path(out_dir) / "kg", self.spark)
        res = TranscriptRunResult()
        meter = StatsMeter(self.spark, interval_sec=stats_interval_sec)
        meter.start()
        try:
            return self._run_metered(
                transcripts, alias_dict, same_as, store, res, resume, t0, meter
            )
        finally:
            meter.stop()

    def _run_metered(
        self, transcripts, alias_dict, same_as, store, res, resume, t0, meter
    ) -> TranscriptRunResult:
        def _stage(name: str, fn):
            def snapshot() -> str:
                return str(store.root / name / f"v={store.current_version(name)}")

            if resume and store.stage_completed(name):
                return self.spark.read.parquet(snapshot())
            t = time.time()
            df = fn()
            store.commit(df, name)
            store.mark_stage(name)
            res.stages[name] = time.time() - t
            # read back with the schema just written: inferring it from the
            # parquet footers would cost a Spark job per stage
            return self.spark.read.schema(df.schema).parquet(snapshot())

        # Each count rides a write the run does anyway. A resumed run skips
        # the surface write, so no action fires its observation: count the
        # turns directly there instead of blocking on turns_obs.get.
        turns_obs = Observation()
        surface = _stage(
            "stage/surface_triples",
            lambda: self.triples_surface(
                transcripts.observe(turns_obs, F.count(F.lit(1)).alias("n"))
            ),
        )
        if "stage/surface_triples" in res.stages:
            res.turns = int(turns_obs.get["n"])
        else:
            res.turns = transcripts.count()
        meter.add(res.turns)
        links = _stage("stage/links", lambda: self.link_table(surface, alias_dict))

        t = time.time()
        triples, unlinked = self.canonical_triples(surface, links, same_as)
        triples = triples.cache()
        self._persisted.append(triples)
        res.stages["canon"] = time.time() - t

        # -- materialize in tag/edge schema shape (G1/G2 analog) -----------
        t = time.time()
        entities = (
            triples.select(F.col("subj").alias("vid"))
            .unionByName(triples.select(F.col("obj").alias("vid")))
            .distinct()
            .select(
                "vid",
                F.regexp_extract("vid", r"^(\w+):", 1).alias("kind"),
                F.regexp_extract("vid", r"^\w+:(.+?)(__dup)?$", 1).alias("name"),
            )
        )
        store.merge_commit(entities, "tags/entity", Mode.INSERT, ["vid"])
        tri_obs = Observation()
        edges = triples.select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.lit(0).cast("long").alias("rank"),
            "pred",
            "conv_id",
            "turn_idx",
        ).observe(tri_obs, F.count(F.lit(1)).alias("n"))
        store.merge_commit(edges, "edges/relation", Mode.INSERT, ["src", "dst", "rank", "pred", "conv_id", "turn_idx"])
        res.triples = int(tri_obs.get["n"])
        meter.add(res.triples)
        # Rejects and metrics hold the latest run (overwrite, written even
        # when empty), like the returned TranscriptRunResult: a rerun into
        # the same output must not append a second copy.
        unl_obs = Observation()
        unlinked.observe(unl_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(str(store.root / "_rejects" / "unlinked"))
        res.unlinked_mentions = int(unl_obs.get["n"])
        # per-partition lineage metrics (M1-M3 analog)
        pm = triples.groupBy(F.spark_partition_id().alias("partition")).agg(
            F.count("*").alias("rows")
        )
        pm.write.mode("overwrite").parquet(str(store.root / "_metrics" / "triples_by_partition"))
        res.stages["materialize"] = time.time() - t
        res.duration_sec = time.time() - t0
        self.release()
        return res

    # -- evaluation ---------------------------------------------------------
    def triples_set(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame | None,
    ) -> set[tuple]:
        surface = self.triples_surface(transcripts)
        links = self.link_table(surface, alias_dict)
        triples, _ = self.canonical_triples(surface, links, same_as)
        out = {
            (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
            for r in triples.collect()
        }
        self.release()
        return out


def extraction_coverage(transcripts: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-conversation extraction yield — the recall-side lineage metric
    the pipeline's per-partition counters (plans/metrics.py analog of the
    reference's per-file stats, /root/reference/pkg/stats/stats.go) roll
    up too coarsely to show: which conversations produced HOW MANY
    triples and entities, and which produced none at all. Zero-yield
    conversations are the extraction-recall debugging queue — they stay
    in the output with zeros rather than vanishing into a join.

    Distributed shape: both sides pre-aggregate to one row per
    conversation (partial-agg'd counts; the entity count explodes
    subj/obj map-side then dedups on the fixed-width (conv, entity) key),
    then ONE left equi-join from the transcript side — conversations
    never fan out.

    Returns ``(conv_id, n_turns, n_triples, n_entities)``.
    """
    turns = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )
    tri = triples.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples")
    )
    ents = (
        triples.select(
            "conv_id",
            F.explode(F.array(F.col("subj"), F.col("obj"))).alias("_e"),
        )
        .distinct()
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
    )
    return (
        turns.join(tri, "conv_id", "left")
        .join(ents, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
            F.coalesce("n_entities", F.lit(0)).alias("n_entities"),
        )
    )
