"""Physical-plan shape guards: the properties that keep an import, a KG
build and the corpus passes fast at scale must survive refactors — filter
pushdown into the parquet scan, column pruning, broadcast joins against the
alias dictionary, map-only text passes, single-exchange windows and
equi-join-only graph and range iterations."""

from __future__ import annotations

import contextlib
import datetime as dt
import io

from pyspark.sql import functions as F

from nebula_importer_spark.config.model import (
    GraphConfig,
    NodeIDSpec,
    NodeSpec,
    PropSpec,
    SourceSpec,
)
from nebula_importer_spark.operators.decontaminate import ngram_overlap
from nebula_importer_spark.operators.graph import pagerank, triangle_counts
from nebula_importer_spark.operators.linking import link_mentions
from nebula_importer_spark.operators.multimodal import sample_frames
from nebula_importer_spark.operators.sampling import token_budget_sample
from nebula_importer_spark.operators.search import bm25_scores
from nebula_importer_spark.operators.temporal import (
    asof_join,
    range_self_join,
    sessionize_batch,
)
from nebula_importer_spark.operators.text import (
    chunk_documents,
    corpus_filter_flags,
    dup_token_fraction,
    pii_counts,
    redact_pii,
)
from nebula_importer_spark.plans.pipeline import Pipeline
from nebula_importer_spark.transcripts.analytics import sft_pairs


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _parquet_pipeline(spark, tmp_path) -> Pipeline:
    """A parquet source with five columns; the tag reads columns 0 and 2 and
    filters on column 1, so columns 3 and 4 are never referenced."""
    path = tmp_path / "people.parquet"
    spark.createDataFrame(
        [
            ("p1", "active", "ann", "2024-01-01", "x" * 10),
            ("p2", "closed", "bob", "2024-01-02", "y" * 10),
            ("p3", "active", "cy", "2024-01-03", "z" * 10),
        ],
        "pid string, status string, name string, created string, payload string",
    ).write.parquet(str(path))
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                path=str(path),
                format="parquet",
                tags=[
                    NodeSpec(
                        "Person",
                        NodeIDSpec(type="STRING", index=0),
                        [PropSpec("name", "STRING", 2)],
                        filter='Record[1] == "active"',
                    )
                ],
            )
        ],
    )
    return Pipeline(cfg, spark)


def test_filter_dsl_pushes_to_parquet_scan(spark, tmp_path):
    df = _parquet_pipeline(spark, tmp_path).vertices("Person")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(status,active)" in plan, plan
    assert sorted(r.name for r in df.collect()) == ["ann", "cy"]


def test_projection_prunes_scan_columns(spark, tmp_path):
    plan = _plan(_parquet_pipeline(spark, tmp_path).vertices("Person"))
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    # only the id, filter and prop columns are read
    assert read and "pid" in read[0] and "status" in read[0], plan
    assert "created" not in read[0] and "payload" not in read[0], read[0]


def test_shipdate_filter_pushes_down(spark, tmp_path):
    """A range filter on a date-string column reaches the scan as a pushed
    ``LessThanOrEqual``, so parquet row groups past the cut are skipped."""
    path = tmp_path / "lineitem.parquet"
    spark.createDataFrame(
        [("l1", "1998-09-01", 3), ("l2", "1998-09-03", 5), ("l3", "1998-09-02", 7)],
        "lid string, shipdate string, qty int",
    ).write.parquet(str(path))
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                path=str(path),
                format="parquet",
                tags=[
                    NodeSpec(
                        "Item",
                        NodeIDSpec(type="STRING", index=0),
                        [PropSpec("qty", "INT", 2)],
                        filter='Record[1] <= "1998-09-02"',
                    )
                ],
            )
        ],
    )
    df = Pipeline(cfg, spark).vertices("Item")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(shipdate,1998-09-02)" in plan, plan
    assert sorted(r.qty for r in df.collect()) == [3, 7]


def _join_keys(plan: str, join: str) -> list[str]:
    """The left and right key lines of every ``join`` node in a formatted
    plan."""
    lines = plan.splitlines()
    return [
        lines[i + 1] + " " + lines[i + 2]
        for i, line in enumerate(lines)
        if line.startswith("(") and line.endswith(f") {join}")
    ]


def test_dimension_joins_broadcast(spark):
    """Every join against the (small) alias dictionary — the exact match,
    the fuzzy candidates' dictionary signatures and the entity lookup — is
    a broadcast. The only shuffled joins are the mention vocabulary's joins
    with itself, keyed on the mention, and no join degenerates to a
    cartesian product. Size-based broadcasting is switched off, so only the
    explicit broadcast hints count."""
    mentions = spark.createDataFrame(
        [("acme corp",), ("acme corpp",), ("initech",), ("nobody",)],
        "mention_norm string",
    )
    aliases = spark.createDataFrame(
        [("acme corp", "E1"), ("initech", "E2")],
        "alias_norm string, entity_id string",
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    track: list = []
    try:
        plan = _plan(link_mentions(mentions, aliases, track=track))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        for df in track:
            df.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    broadcast = _join_keys(plan, "BroadcastHashJoin")
    assert any("alias_norm" in k for k in broadcast), broadcast
    assert len(broadcast) >= 4, broadcast
    for keys in _join_keys(plan, "SortMergeJoin"):
        assert "alias_norm" not in keys and "_rk" not in keys, keys
        assert "mention_norm" in keys or "_lk" in keys, keys


def test_pagerank_all_equi_joins(spark):
    """Every PageRank superstep is an equi-join + partial-agg'd groupBy —
    no nested-loop joins, no cartesian products, nothing collected."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    plan = _plan(pagerank(edges, iterations=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _documents(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(1, "mail ann@example.com or call 555-123-4567"), (2, "the the cat"), (3, None)],
        "doc_id long, text string",
    ).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_chunking_and_redaction_are_map_only(spark, tmp_path):
    """Corpus-prep passes (chunking, PII redaction) must be pure map
    pipelines: tokenize/slice/explode and regexp chains add ZERO exchanges."""
    docs = _documents(spark, tmp_path)
    redacted = docs.select(
        "doc_id", redact_pii("text").alias("text"), *[
            c.alias(f"n_{name}") for name, c in pii_counts("text").items()
        ]
    )
    for df in (chunk_documents(docs, "text", k=2, id_cols=["doc_id"]), redacted):
        plan = _plan(df)
        assert ") Exchange" not in plan, plan


def test_corpus_filter_is_map_only(spark, tmp_path):
    """The cleaning cascade must stay a zero-shuffle scan."""
    plan = _plan(corpus_filter_flags(_documents(spark, tmp_path)))
    assert ") Exchange" not in plan, plan
    assert "Join" not in plan


def test_text_dup_tokens_is_map_only(spark, tmp_path):
    docs = _documents(spark, tmp_path)
    plan = _plan(docs.select("doc_id", dup_token_fraction("text").alias("f")))
    assert ") Exchange" not in plan, plan


def test_triangles_all_equi_joins(spark):
    """Degree-ordered triangle counting must stay in hash/sort equi-joins:
    no BroadcastNestedLoopJoin / CartesianProduct anywhere (the naive
    all-pairs formulation would smuggle one in)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src long, dst long"
    )
    plan = _plan(triangle_counts(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _events(spark, tmp_path):
    path = tmp_path / "events.parquet"
    t0 = dt.datetime(2024, 1, 1)
    types = ["click", "error", "view"]
    spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(seconds=37 * i), i % 5, types[i % 3], float(i))
            for i in range(60)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_asof_join_single_exchange_no_join(spark, tmp_path):
    """The as-of join must stay a union+window plan: ONE hash exchange on the
    key and NO join operator of any kind (a range/theta join here would
    explode at scale)."""
    ev = _events(spark, tmp_path)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    plan = _plan(
        asof_join(
            clicks,
            errors,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_cols=["event_id", "value"],
            right_seq="event_id",
        )
    )
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # formatted explain mentions each node twice (tree + details)
    assert plan.count(") Exchange") == 1, plan


def test_range_join_is_equi_join(spark, tmp_path):
    """The bounded range join must compile to a hash equi-join on
    (key, bucket) — never BroadcastNestedLoopJoin / CartesianProduct."""
    plan = _plan(
        range_self_join(
            _events(spark, tmp_path),
            key="user_id",
            ts="ts",
            id_col="event_id",
            max_gap_sec=60.0,
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_sessionize_shares_one_exchange(spark, tmp_path):
    """Window (lag + running sum) and the session groupBy partition on the
    same key: Catalyst must plan exactly one shuffle."""
    plan = _plan(
        sessionize_batch(
            _events(spark, tmp_path),
            key="user_id",
            ts="ts",
            id_col="event_id",
            gap_sec=1800.0,
            value_col="value",
        )
    )
    assert plan.count(") Exchange") == 1, plan


def test_window_frames_share_one_exchange(spark, tmp_path):
    """SFT pair mining computes a bounded ROWS frame (the context collect)
    and two lead() columns over the same conversation window: one exchange,
    one sort, every frame in a single Window node."""
    path = tmp_path / "turns.parquet"
    roles = ["user", "assistant"]
    spark.createDataFrame(
        [(f"c{i % 3}", i, roles[i % 2], f"turn {i}") for i in range(12)],
        "conv_id string, turn_idx int, role string, text string",
    ).write.parquet(str(path))
    plan = _plan(sft_pairs(spark.read.parquet(str(path)), max_context_turns=2))
    assert plan.count(") Exchange") == 1, plan
    assert plan.count(") Sort") == 1, plan
    assert plan.count(") Window") == 1, plan


def test_decontaminate_broadcasts_eval_side(spark, tmp_path):
    """The corpus side must never shuffle: eval grams broadcast, the only
    Exchange is the per-pair count aggregation (∝ contaminated pairs)."""
    d = _documents(spark, tmp_path)
    ev = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    co = d.filter(F.col("doc_id") % 2 != 0)
    plan = _plan(ngram_overlap(co, ev, n=3, min_overlap=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.replace("SortMergeJoin(skew=", "")
    assert plan.count(") Exchange") == 1, plan


def test_bm25_single_one_row_exchange(spark, tmp_path):
    """BM25 = map pass + ONE 1-row stats aggregate broadcast back — no
    explode, no data shuffle, no sort-merge join."""
    plan = _plan(bm25_scores(_documents(spark, tmp_path), ["cat", "call", "mail"]))
    assert "Generate" not in plan  # no explode anywhere
    assert "SortMergeJoin" not in plan
    assert plan.count(") Exchange") == 1, plan


def test_token_budget_offsets_broadcast_back(spark, tmp_path):
    """The two-level prefix sum joins its (tiny) bucket-offset table back as
    a broadcast — the data side is shuffled only by the window's
    (domain, bucket) partitioning, never sort-merge-joined."""
    docs = _documents(spark, tmp_path).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 2).cast("string"))
    )
    plan = _plan(token_budget_sample(docs, 4, domain_col="source", id_col="doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.replace("SortMergeJoin(skew=", "")


def test_frame_sampling_is_map_only(spark, tmp_path):
    """Frame sampling = sequence/explode over duration metadata: one
    Generate, zero exchanges (a video catalog samples in one scan)."""
    assets = _documents(spark, tmp_path).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("kind"),
        (F.lit(100) + F.col("doc_id") * 37).cast("int").alias("duration_ms"),
    )
    plan = _plan(sample_frames(assets, every_ms=500))
    assert ") Exchange" not in plan, plan
    assert "Generate" in plan
