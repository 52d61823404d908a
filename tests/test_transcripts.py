"""North-star pipeline tests: deterministic corpus, stable ordering
invariant, triple extraction P/R ≥ 0.95 vs the independent reference
extractor, and end-to-end materialization with skew present."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.transcripts.extract import extract_triples, ordered_turns
from nebula_importer_spark.transcripts.generate import gen_corpus_local
from nebula_importer_spark.transcripts.pipeline import TranscriptPipeline
from nebula_importer_spark.transcripts.reference import (
    precision_recall,
    reference_extract,
)


@pytest.fixture(scope="module")
def corpus():
    return gen_corpus_local(seed=42, n_convs=20, turns_per_conv=15, mega_conv_turns=120)


@pytest.fixture(scope="module")
def sdfs(spark, corpus):
    return corpus.to_spark(spark)


def test_generator_deterministic():
    a = gen_corpus_local(seed=7, n_convs=3, turns_per_conv=5)
    b = gen_corpus_local(seed=7, n_convs=3, turns_per_conv=5)
    pd.testing.assert_frame_equal(a.transcripts, b.transcripts)
    pd.testing.assert_frame_equal(a.golden_triples, b.golden_triples)


def test_generator_skew_present(corpus):
    counts = corpus.transcripts.groupby("conv_id").size()
    assert counts["conv_00000"] == 120  # mega-thread
    assert counts.drop("conv_00000").max() == 15


def test_stable_turn_ordering_invariant(spark, sdfs, corpus):
    """Per-turn text equality under stable ordering: rows are shuffled on
    disk; the ordering window must recover exactly the generated sequence."""
    got = (
        ordered_turns(sdfs["transcripts"])
        .filter(F.col("conv_id") == "conv_00003")
        .orderBy("turn_pos")
        .select("turn_idx", "text")
        .collect()
    )
    want = (
        corpus.transcripts[corpus.transcripts.conv_id == "conv_00003"]
        .sort_values("turn_idx")[["turn_idx", "text"]]
        .itertuples(index=False)
    )
    for g, w in zip(got, list(want), strict=True):
        assert g["turn_idx"] == w.turn_idx
        assert g["text"] == w.text  # per-turn text equality


def test_extraction_matches_reference_pr(spark, sdfs, corpus):
    """Engine triples vs independent reference extractor: P/R ≥ 0.95
    (BASELINE.json:metric)."""
    pipe = TranscriptPipeline(spark)
    got = pipe.triples_set(sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    want = reference_extract(
        [tuple(r) for r in corpus.transcripts[["conv_id", "turn_idx", "text"]].itertuples(index=False)],
        [tuple(r) for r in corpus.alias_dict.itertuples(index=False)],
        [tuple(r) for r in corpus.same_as.itertuples(index=False)],
    )
    p, r, f1 = precision_recall(got, want)
    assert p >= 0.95, f"precision {p:.3f} < 0.95 (|got|={len(got)}, |want|={len(want)})"
    assert r >= 0.95, f"recall {r:.3f} < 0.95"


def test_extraction_recall_vs_golden(spark, sdfs, corpus):
    """Sanity floor vs generation ground truth (typos make 100% unreachable
    by design; linking should recover most)."""
    pipe = TranscriptPipeline(spark)
    got = pipe.triples_set(sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    want = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in corpus.golden_triples.itertuples(index=False)
    }
    p, r, _ = precision_recall(got, want)
    # 10% of mentions carry a deletion typo; typos on SHORT aliases (e.g.
    # "Pris" vs "Paris": 3-gram Jaccard 0.25) are unlinkable below the 0.5
    # threshold by design — in the engine AND the reference extractor alike
    # (which is why engine-vs-reference P/R stays ≥ 0.95 while the golden
    # ceiling sits lower).
    assert r >= 0.85, f"recall vs golden {r:.3f}"
    assert p >= 0.85, f"precision vs golden {p:.3f}"


def test_triples_surface_spreads_a_mega_thread(spark):
    """One conversation of 400 turns arriving as one partition spreads over
    the extraction tasks by its row key: one hash exchange on (conv_id,
    turn_idx), no task holding more than twice the mean."""
    import re

    mega = gen_corpus_local(
        seed=5, n_convs=1, turns_per_conv=1, mega_conv_turns=400, relation_rate=1.0
    )
    turns = mega.to_spark(spark)["transcripts"].coalesce(1)
    out = TranscriptPipeline(spark).triples_surface(turns)
    counts = [
        r["n"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(counts) >= 4, counts
    assert max(counts) <= 2 * sum(counts) / len(counts), counts
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"\w*Exchange .*", plan)
    assert len(exchanges) == 1, plan
    assert re.match(
        r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, \d+\)", exchanges[0]
    ), plan


def test_end_to_end_materialization(spark, sdfs, tmp_path):
    pipe = TranscriptPipeline(spark)
    res = pipe.run(sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"], tmp_path)
    assert res.triples > 0
    assert res.turns == sdfs["transcripts"].count()
    from nebula_importer_spark.plans.merge import TableStore

    store = TableStore(tmp_path / "kg", spark)
    ent = store.read("tags/entity")
    rel = store.read("edges/relation")
    assert set(ent.columns) == {"vid", "kind", "name"}
    assert {"src", "dst", "rank", "pred"} <= set(rel.columns)
    # canonicalization: no __dup entity may survive as a vid
    assert ent.filter(F.col("vid").endswith("__dup")).count() == 0
    # resume: re-run skips extraction/link stages
    res2 = pipe.run(sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"], tmp_path, resume=True)
    assert res2.stages.get("stage/surface_triples") is None
    # the skipped surface write carries no turn count: resume counts itself
    assert res2.turns == res.turns
    assert res2.triples == res.triples


def _output_counts(spark, out) -> dict:
    from nebula_importer_spark.plans.merge import TableStore

    root = out / "kg"
    store = TableStore(root, spark)
    ent = store.read("tags/entity")
    rel = store.read("edges/relation")
    rel_key = ["src", "dst", "rank", "pred", "conv_id", "turn_idx"]
    metrics = spark.read.parquet(str(root / "_metrics" / "triples_by_partition"))
    return {
        "entity_rows": ent.count(),
        "entity_keys": ent.select("vid").distinct().count(),
        "relation_rows": rel.count(),
        "relation_keys": rel.select(*rel_key).distinct().count(),
        "unlinked_rows": spark.read.parquet(str(root / "_rejects" / "unlinked")).count(),
        "metric_partitions": metrics.count(),
        "metric_rows": metrics.agg(F.sum("rows")).first()[0],
    }


def test_rerun_into_same_output_equals_one_run(spark, sdfs, tmp_path):
    """A second run() into the same output leaves the tables, the unlinked
    rejects and the partition metrics as one run left them."""
    pipe = TranscriptPipeline(spark)
    args = (sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"], tmp_path)
    res = pipe.run(*args)
    once = _output_counts(spark, tmp_path)
    assert once["unlinked_rows"] == res.unlinked_mentions > 0
    assert once["relation_keys"] == once["relation_rows"] == res.triples
    assert once["metric_rows"] == res.triples
    res2 = pipe.run(*args)
    assert _output_counts(spark, tmp_path) == once
    assert (res2.turns, res2.triples, res2.unlinked_mentions) == (
        res.turns, res.triples, res.unlinked_mentions
    )


def _sorted_outputs(spark, out, res) -> dict:
    """Sorted rows of the kg tables and the unlinked rejects, the rows the
    partition metrics count, and the run's counts."""
    from nebula_importer_spark.plans.merge import TableStore

    root = out / "kg"
    store = TableStore(root, spark)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    return {
        "tags/entity": rows(store.read("tags/entity")),
        "edges/relation": rows(store.read("edges/relation")),
        "_rejects/unlinked": rows(spark.read.parquet(str(root / "_rejects" / "unlinked"))),
        "_metrics/triples_by_partition": spark.read.parquet(
            str(root / "_metrics" / "triples_by_partition")
        ).agg(F.sum("rows")).first()[0],
        "counts": (res.turns, res.triples, res.unlinked_mentions),
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, sdfs, tmp_path_factory):
    """The sorted outputs of one uninterrupted run()."""
    out = tmp_path_factory.mktemp("uninterrupted")
    res = TranscriptPipeline(spark).run(
        sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"], out
    )
    return _sorted_outputs(spark, out, res)


def test_resume_after_a_crash_in_the_links_stage(
    spark, sdfs, uninterrupted, tmp_path, monkeypatch
):
    """link_table fails once after stage/surface_triples is committed: the
    resumed run reads the surface snapshot instead of extracting again, and
    its outputs equal an uninterrupted run's."""
    args = (sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    link_table = TranscriptPipeline.link_table

    def crash(self, *a, **k):
        monkeypatch.setattr(TranscriptPipeline, "link_table", link_table)
        raise RuntimeError("links stage crashed")

    monkeypatch.setattr(TranscriptPipeline, "link_table", crash)
    out = tmp_path / "crashed"
    with pytest.raises(RuntimeError, match="links stage crashed"):
        TranscriptPipeline(spark).run(*args, out)
    res = TranscriptPipeline(spark).run(*args, out, resume=True)
    assert "stage/surface_triples" not in res.stages
    assert "stage/links" in res.stages
    assert _sorted_outputs(spark, out, res) == uninterrupted


def test_resume_after_a_crash_between_the_materialize_merges(
    spark, sdfs, uninterrupted, tmp_path, monkeypatch
):
    """The edges/relation merge fails once after tags/entity is committed:
    the resumed run INSERTs into the live tags/entity buckets, and its
    outputs equal an uninterrupted run's."""
    from nebula_importer_spark.plans.merge import TableStore

    args = (sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    merge_commit = TableStore.merge_commit

    def crash(self, df, table, *a, **k):
        if table != "edges/relation":
            return merge_commit(self, df, table, *a, **k)
        monkeypatch.setattr(TableStore, "merge_commit", merge_commit)
        raise RuntimeError("relation merge crashed")

    monkeypatch.setattr(TableStore, "merge_commit", crash)
    out = tmp_path / "crashed"
    with pytest.raises(RuntimeError, match="relation merge crashed"):
        TranscriptPipeline(spark).run(*args, out)
    store = TableStore(out / "kg", spark)

    def entity_buckets() -> dict[str, int]:
        return store.read_manifest()["tables"]["tags/entity"]["buckets"]

    live = entity_buckets()
    assert live and set(live.values()) == {1}
    assert store.current_version("edges/relation") is None
    res = TranscriptPipeline(spark).run(*args, out, resume=True)
    assert not {"stage/surface_triples", "stage/links"} & set(res.stages)
    # the resumed entity merge rewrote every live bucket as version 2
    assert entity_buckets() == dict.fromkeys(live, 2)
    assert _sorted_outputs(spark, out, res) == uninterrupted


def test_resume_after_a_crash_between_the_relation_merge_and_the_side_outputs(
    spark, sdfs, uninterrupted, tmp_path, monkeypatch
):
    """The run crashes once after the edges/relation merge is committed and
    before the unlinked rejects and partition metrics are written: the
    resumed run merges into the live buckets again and writes both, and
    its outputs equal an uninterrupted run's."""
    from nebula_importer_spark.plans.merge import TableStore

    args = (sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    merge_commit = TableStore.merge_commit

    def crash(self, df, table, *a, **k):
        out = merge_commit(self, df, table, *a, **k)
        if table == "edges/relation":
            monkeypatch.setattr(TableStore, "merge_commit", merge_commit)
            raise RuntimeError("crashed after the relation merge")
        return out

    monkeypatch.setattr(TableStore, "merge_commit", crash)
    out = tmp_path / "crashed"
    with pytest.raises(RuntimeError, match="crashed after the relation merge"):
        TranscriptPipeline(spark).run(*args, out)
    assert TableStore(out / "kg", spark).current_version("edges/relation") == 1
    assert not (out / "kg" / "_rejects").exists()
    assert not (out / "kg" / "_metrics").exists()
    res = TranscriptPipeline(spark).run(*args, out, resume=True)
    assert not {"stage/surface_triples", "stage/links"} & set(res.stages)
    assert _sorted_outputs(spark, out, res) == uninterrupted


def _job_names(sc, group: str) -> list[str]:
    """Names of a job group's Spark jobs, as the UI names them: the name of
    the job's last stage."""
    st = sc.statusTracker()
    names = []
    for jid in st.getJobIdsForGroup(group):
        stage = st.getStageInfo(max(st.getJobInfo(jid).stageIds))
        names.append(stage.name)
    return names


def test_run_spark_job_guard(spark, sdfs, tmp_path, monkeypatch):
    """run() carries its counts on the writes it does anyway (no count or
    isEmpty actions) and canonicalizes on the driver in one Spark job."""
    import nebula_importer_spark.transcripts.pipeline as kg_pipeline

    sc = spark.sparkContext
    group = f"kg-guard-{tmp_path.name}"
    canonical_mapping = kg_pipeline.canonical_mapping

    def grouped_canonical_mapping(*a, **k):
        sc.setJobGroup(group + "-cc", "canonical_mapping")
        try:
            return canonical_mapping(*a, **k)
        finally:
            sc.setJobGroup(group, "run")

    monkeypatch.setattr(kg_pipeline, "canonical_mapping", grouped_canonical_mapping)
    sc.setJobGroup(group, "run")
    try:
        TranscriptPipeline(spark).run(
            sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"], tmp_path
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    names = _job_names(sc, group) + _job_names(sc, group + "-cc")
    assert names, "no Spark jobs recorded for the run"
    assert not [n for n in names if n.startswith(("count at", "isEmpty at"))], names
    assert len(_job_names(sc, group + "-cc")) <= 1


def _cache_state(spark) -> tuple[bool, int]:
    """(no DataFrame is cached, number of persisted RDDs) of the session."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    return cache.isEmpty(), spark.sparkContext._jsc.getPersistentRDDs().size()


def test_stages_cache_nothing(spark, sdfs):
    """Calling the stages only builds plans: nothing is cached before an
    action runs on their outputs."""
    spark.catalog.clearCache()
    p = TranscriptPipeline(spark)
    surface = p.triples_surface(sdfs["transcripts"])
    links = p.link_table(surface, sdfs["alias_dict"])
    p.canonical_triples(surface, links, sdfs["same_as"])
    assert _cache_state(spark)[0]


def test_runs_leave_no_cached_data(spark, sdfs, tmp_path):
    """run(), triples_set() and an available-now incremental run leave
    nothing cached: in a long-lived session every run's blocks would
    otherwise pile up."""
    from nebula_importer_spark.streaming.transcripts import (
        read_transcript_stream,
        run_incremental_kg,
    )

    spark.catalog.clearCache()
    empty, rdds = _cache_state(spark)
    assert empty
    args = (sdfs["transcripts"], sdfs["alias_dict"], sdfs["same_as"])
    TranscriptPipeline(spark).run(*args, tmp_path / "run")
    assert _cache_state(spark) == (True, rdds)
    assert TranscriptPipeline(spark).triples_set(*args)
    assert _cache_state(spark) == (True, rdds)
    indir = tmp_path / "in"
    sdfs["transcripts"].withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    ).coalesce(1).write.parquet(str(indir))
    res = run_incremental_kg(
        read_transcript_stream(spark, str(indir)),
        sdfs["alias_dict"],
        tmp_path / "stream",
        tmp_path / "ckpt",
        available_now=True,
    )
    assert res["batches"] >= 1
    assert _cache_state(spark) == (True, rdds)


def test_extraction_coverage_keeps_zero_yield_convs(spark):
    from nebula_importer_spark.transcripts.pipeline import extraction_coverage

    transcripts = spark.createDataFrame(
        [("a", 0, "x"), ("a", 1, "y"), ("b", 0, "no entities here")],
        "conv_id string, turn_idx int, text string",
    )
    triples = spark.createDataFrame(
        [("a", 0, "e1", "knows", "e2"), ("a", 1, "e1", "uses", "e3")],
        "conv_id string, turn_idx int, subj string, pred string, obj string",
    )
    got = {
        r.conv_id: (r.n_turns, r.n_triples, r.n_entities)
        for r in extraction_coverage(transcripts, triples).collect()
    }
    # conv b yielded nothing: present with zeros, not dropped
    assert got == {"a": (2, 2, 3), "b": (1, 0, 0)}
