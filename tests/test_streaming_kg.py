"""Incremental KG construction stream: batch/stream equivalence, true
incrementality across triggers, replay idempotence (exactly-once table
state), and the global canonicalization compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from nebula_importer_spark.plans.merge import TableStore
from nebula_importer_spark.streaming.transcripts import (
    compact_canonicalize,
    read_transcript_stream,
    run_incremental_kg,
)
from nebula_importer_spark.transcripts.generate import gen_corpus_local
from nebula_importer_spark.transcripts.pipeline import TranscriptPipeline


def _setup(spark):
    c = gen_corpus_local(seed=7, n_convs=12, turns_per_conv=6)
    d = c.to_spark(spark)
    t = d["transcripts"].withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    half_a = t.filter(F.col("conv_id") < "conv_00006")
    half_b = t.filter(F.col("conv_id") >= "conv_00006")
    return d, half_a, half_b, t


def _triples_set(df):
    return {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in df.collect()
    }


def test_stream_matches_batch_and_is_incremental(spark, tmp_path):
    d, half_a, half_b, full = _setup(spark)
    indir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    half_a.coalesce(1).write.mode("append").parquet(str(indir))

    stream = read_transcript_stream(spark, str(indir))
    r1 = run_incremental_kg(stream, d["alias_dict"], out, ckpt)
    assert r1["batches"] >= 1

    store = TableStore(out / "kg", spark)
    p = TranscriptPipeline(spark)
    surface = p.triples_surface(half_a)
    links = p.link_table(surface, d["alias_dict"])
    batch_triples, _ = p.canonical_triples(surface, links, same_as=None)
    assert _triples_set(store.read("triples")) == _triples_set(batch_triples)

    # drop a second file: only the new turns are processed; the table ends
    # equal to a batch run over the full corpus
    half_b.coalesce(1).write.mode("append").parquet(str(indir))
    stream2 = read_transcript_stream(spark, str(indir))
    run_incremental_kg(stream2, d["alias_dict"], out, ckpt)

    p2 = TranscriptPipeline(spark)
    surface_f = p2.triples_surface(full)
    links_f = p2.link_table(surface_f, d["alias_dict"])
    full_triples, _ = p2.canonical_triples(surface_f, links_f, same_as=None)
    assert _triples_set(store.read("triples")) == _triples_set(full_triples)

    # no new files → the checkpoint ledger yields zero batches, zero writes
    v_before = store.current_version("triples")
    stream3 = read_transcript_stream(spark, str(indir))
    r3 = run_incremental_kg(stream3, d["alias_dict"], out, ckpt)
    assert r3["batches"] == 0
    assert store.current_version("triples") == v_before


def test_stream_counts_rows_on_the_triple_merge(spark, tmp_path, monkeypatch):
    """rows adds up each micro-batch's triples from an Observation on its
    triple merge: it equals a batch run's count over the same turns, on a
    first load and on a merge into live buckets, and the stream runs no
    count action."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    d, first, second, _ = _setup(spark)
    indir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    counted = []
    count = ClassicDataFrame.count

    def recording_count(self):
        counted.append(self)
        return count(self)

    monkeypatch.setattr(ClassicDataFrame, "count", recording_count)
    p = TranscriptPipeline(spark)
    for half in (first, second):
        half.coalesce(1).write.mode("append").parquet(str(indir))
        res = run_incremental_kg(
            read_transcript_stream(spark, str(indir)), d["alias_dict"], out, ckpt
        )
        surface = p.triples_surface(half)
        links = p.link_table(surface, d["alias_dict"])
        batch_triples, _ = p.canonical_triples(surface, links, same_as=None)
        assert res["batches"] == 1
        assert res["rows"] == len(_triples_set(batch_triples)) > 0
    assert counted == []


def test_stream_extracts_each_turn_once(spark, tmp_path, monkeypatch):
    """A micro-batch sends each of its turns through the extraction kernel
    once: linking, the triple merge and the rejects write share its
    persisted surface triples."""
    import nebula_importer_spark.transcripts.extract as extract

    d, half_a, _, _ = _setup(spark)
    indir = tmp_path / "in"
    half_a.coalesce(1).write.mode("append").parquet(str(indir))
    kernel_rows = spark.sparkContext.accumulator(0)
    kernel = extract._extract_batches

    def counting_kernel(batches):
        def tapped():
            for pdf in batches:
                kernel_rows.add(len(pdf))
                yield pdf

        return kernel(tapped())

    monkeypatch.setattr(extract, "_extract_batches", counting_kernel)
    res = run_incremental_kg(
        read_transcript_stream(spark, str(indir)),
        d["alias_dict"],
        tmp_path / "out",
        tmp_path / "ckpt",
    )
    assert res["batches"] == 1 and res["rows"] > 0
    assert kernel_rows.value == half_a.count()


def test_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (fresh checkpoint over already-merged input)
    must leave the table unchanged: keyed merge absorbs the duplicates."""
    d, half_a, _, _ = _setup(spark)
    indir, out = tmp_path / "in", tmp_path / "out"
    half_a.coalesce(1).write.mode("append").parquet(str(indir))

    store = TableStore(out / "kg", spark)
    rejects_counts = []
    for ckpt in (tmp_path / "ckpt1", tmp_path / "ckpt2"):  # 2nd = full replay
        stream = read_transcript_stream(spark, str(indir))
        run_incremental_kg(stream, d["alias_dict"], out, ckpt)
        rej = spark.read.parquet(str(out / "kg" / "_rejects" / "stream"))
        rejects_counts.append(rej.count())
    first = _triples_set(store.read("triples", version=1))
    assert _triples_set(store.read("triples")) == first
    # the reject stream is batch-id-keyed: replay overwrites, not appends
    assert rejects_counts[0] == rejects_counts[1]


def test_compact_canonicalize(spark, tmp_path):
    d, half_a, _, _ = _setup(spark)
    indir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    half_a.coalesce(1).write.mode("append").parquet(str(indir))
    stream = read_transcript_stream(spark, str(indir))
    run_incremental_kg(stream, d["alias_dict"], out, ckpt)

    store = TableStore(out / "kg", spark)
    before = store.read("triples")
    dup_ids = {r["dup_id"] for r in d["same_as"].collect()}
    assert any(
        r["subj"] in dup_ids or r["obj"] in dup_ids for r in before.collect()
    ), "corpus should link some mentions to dup entity ids"

    v = compact_canonicalize(store, d["same_as"])
    assert v > 0
    after = store.read("triples")
    remaining = {
        x
        for r in after.collect()
        for x in (r["subj"], r["obj"])
        if x in dup_ids
    }
    assert remaining == set(), f"dup ids survived compaction: {remaining}"

    # idempotent: a second compaction rewrites nothing it shouldn't
    compact_canonicalize(store, d["same_as"])
    assert _triples_set(store.read("triples")) == _triples_set(after)


def test_refresh_analytics_matches_batch_bit_exact(spark, tmp_path):
    """Analytics refreshed after streaming ingest must be BIT-IDENTICAL to
    the same analytics computed over a batch run — the exact-integer
    PageRank makes this an equality test, not an approx comparison."""
    from nebula_importer_spark.operators.graph import pagerank
    from nebula_importer_spark.streaming.transcripts import refresh_analytics

    d, half_a, _, _ = _setup(spark)
    indir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    half_a.coalesce(1).write.mode("append").parquet(str(indir))
    stream = read_transcript_stream(spark, str(indir))
    run_incremental_kg(stream, d["alias_dict"], out, ckpt)

    store = TableStore(out / "kg", spark)
    # empty store (no triples yet) → version 0, nothing written
    empty = TableStore(tmp_path / "none", spark)
    assert refresh_analytics(empty) == 0

    v = refresh_analytics(store)
    assert v == 1
    got = {
        r["entity"]: (r["out_deg"], r["in_deg"], r["rank_scaled"])
        for r in store.read("entity_rank").collect()
    }

    p = TranscriptPipeline(spark)
    surface = p.triples_surface(half_a)
    links = p.link_table(surface, d["alias_dict"])
    batch_triples, _ = p.canonical_triples(surface, links, same_as=None)
    edges = batch_triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    want_rank = {r.node: r.rank_scaled for r in pagerank(edges, iterations=4).collect()}

    assert set(got) == set(want_rank)
    assert {k: v[2] for k, v in got.items()} == want_rank
    # degrees count triple participation (parallel predicates included)
    n_triples = batch_triples.count()
    assert sum(v[0] for v in got.values()) == n_triples
    assert sum(v[1] for v in got.values()) == n_triples

    # refresh again: a new immutable snapshot, same content
    v2 = refresh_analytics(store)
    assert v2 == 2
    again = {
        r["entity"]: (r["out_deg"], r["in_deg"], r["rank_scaled"])
        for r in store.read("entity_rank").collect()
    }
    assert again == got
