"""Data Selection with Importance Resampling (DSIR, Xie et al., NeurIPS
2023) — the pretraining-corpus selection step: score every raw document by
how much more likely its hashed n-gram features are under a small TARGET
corpus (the quality/domain exemplar — e.g. Wikipedia, or in-language text)
than under the RAW corpus itself, then keep the top of the ranking. This is
the importance weight ``log p_target(x) - log p_raw(x)`` of the paper,
section 3, with both densities the hashed bag-of-n-grams product the paper
uses at web scale precisely because it needs NO vocabulary, NO model, and
NO coordination — any executor featurizes any shard statelessly.

Exactness (the gate discipline shared with bigram_lm_score / graph_pmi): a
float sum of per-term log-ratios is accumulation-order-dependent, so each
bucket's log-ratio is floored ONCE to integer micro-nats —

    lam_b = floor(P * ln((tgt_b + 1) / (T + B)))
          - floor(P * ln((raw_b + 1) / (R + B)))

with ``T``/``R`` the corpus gram totals and ``B`` the bucket count (add-one
smoothing over the bucket domain, so unseen buckets degrade smoothly) —
and the per-document weight is the exact-int64 SUM of its term buckets'
``lam_b``. Identical on any engine, partitioning, or accumulation order;
magnitudes are bounded (|lam| ≤ P·ln(max(T,R)+B) < 2^45 at 100 TB, times
per-doc term counts stays far inside int64).

Buckets come from the first 8 hex chars of ``md5(salt ‖ term)`` mod
``n_buckets`` — the repo's engine-portable hashing convention
(operators/text.py:hashed_features, sampling.py, SimHash md5_32) so a SQL
oracle reproduces them bit-exactly. Hash collisions are the hashing-trick
semantics (the paper's own estimator), not an error.

Distributed shape (100 TB): the two bucket-count tables are ``n_buckets``
rows (VW-style 2^18 at scale — KB, always broadcast); totals ride 1-row
broadcasts; the raw corpus is scanned once, terms explode map-side and
shuffle ONLY as (doc_id, bucket_int) pairs into a partial-agg'd per-doc
sum — document text never enters an exchange. Selection (``dsir_topk``)
is a global TakeOrdered on the int64 weight, no window.

Reference analog: nebula-importer has no corpus-selection surface at all
(SURVEY §2.7); this extends the training-data family (sampling.py,
text.py quality filters) with the importance-resampling selector those
filters feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.operators.text import NOT_WS


def _term_buckets(
    df: DataFrame,
    id_col: str | None,
    text_col: str,
    n_buckets: int,
    use_bigrams: bool,
    salt: str,
) -> DataFrame:
    """Explode a corpus into (id?, _b) hashed term-bucket rows — the
    hashed_features recipe verbatim (NOT_WS tokens, space-joined bigrams,
    md5-first-8-hex bucket). ``_b`` is NULL for documents with no terms
    (explode_outer keeps them so callers can emit zero-weight rows)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.regexp_extract_all(c, F.lit(NOT_WS + "+"), F.lit(0))
    terms = toks
    if use_bigrams:
        bigrams = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        terms = F.concat(toks, bigrams)
    cols = [F.col(id_col)] if id_col else []
    bucket = F.when(
        F.col("_term").isNotNull(),
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("_term"))), 1, 8),
            16,
            10,
        ).cast("long")
        % F.lit(n_buckets),
    ).alias("_b")
    return (
        df.select(*cols, terms.alias("_terms"))
        .select(*cols, F.explode_outer("_terms").alias("_term"))
        .select(*cols, bucket)
    )


def _bucket_lambda(
    raw_b: DataFrame,
    target_b: DataFrame,
    n_buckets: int,
    precision: int,
) -> DataFrame:
    """Per-bucket integer micro-nat log-ratio table (n_buckets rows).

    Built over the FULL bucket domain (a sequence explode) so buckets
    unseen in either corpus still carry their smoothing term — the
    add-one estimator is defined everywhere, not only where counts
    landed."""
    tgt = target_b.filter(F.col("_b").isNotNull()).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_ct")
    )
    raw = raw_b.filter(F.col("_b").isNotNull()).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr")
    )
    tot = (
        tgt.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_T"))
        .crossJoin(raw.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_R")))
    )
    domain = raw_b.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("_b")
    )
    p = float(precision)
    return (
        domain.join(F.broadcast(tgt), "_b", "left")
        .join(F.broadcast(raw), "_b", "left")
        .join(F.broadcast(tot))
        .select(
            "_b",
            (
                F.floor(
                    F.log(
                        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("_T") + F.lit(n_buckets)).cast("double")
                    )
                    * p
                )
                - F.floor(
                    F.log(
                        (F.coalesce(F.col("_cr"), F.lit(0)) + 1).cast("double")
                        / (F.col("_R") + F.lit(n_buckets)).cast("double")
                    )
                    * p
                )
            )
            .cast("long")
            .alias("_lam"),
        )
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    use_bigrams: bool = True,
    salt: str = "dsir",
    precision: int = 1_000_000,
) -> DataFrame:
    """Per-document DSIR importance weight of every ``raw`` row against the
    ``target`` exemplar corpus.

    Returns ``(id_col, n_terms, weight_unats, avg_logratio)``:
    ``weight_unats`` the exact-int64 micro-nat log importance weight
    (higher = more target-like), ``n_terms`` the document's hashed term
    count, ``avg_logratio`` the per-term mean in nats (one float division
    per OUTPUT row, 6dp — diagnostics, not an accumulation). Documents
    with no terms weigh exactly 0 and are PRESENT (a selector that
    silently drops empty docs mis-counts its budget).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    for c in (id_col, text_col):
        if c not in raw.columns:
            raise ValueError(f"column {c!r} not in raw input: {raw.columns}")
    if text_col not in target.columns:
        raise ValueError(
            f"column {text_col!r} not in target input: {target.columns}"
        )
    if id_col in ("_b", "_lam", "_term", "_terms"):
        raise ValueError(
            f"id_col may not be the reserved scratch name {id_col!r}"
        )
    raw_b = _term_buckets(raw, id_col, text_col, n_buckets, use_bigrams, salt)
    tgt_b = _term_buckets(target, None, text_col, n_buckets, use_bigrams, salt)
    lam = _bucket_lambda(raw_b, tgt_b, n_buckets, precision)
    per_doc = (
        raw_b.join(F.broadcast(lam), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_terms"),
            F.coalesce(
                F.sum(F.when(F.col("_b").isNotNull(), F.col("_lam"))),
                F.lit(0),
            )
            .cast("long")
            .alias("weight_unats"),
        )
    )
    avg = F.when(
        F.col("n_terms") > 0,
        F.round(
            F.col("weight_unats").cast("double")
            / (F.lit(float(precision)) * F.col("n_terms")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return per_doc.select(id_col, "n_terms", "weight_unats", avg.alias("avg_logratio"))


def dsir_topk(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    **kwargs,
) -> DataFrame:
    """The selection step: top-``k`` raw documents by DSIR importance
    weight, ties broken on ascending id (deterministic). A global
    TakeOrdered (sort+limit) on the int64 weight — no window, no shuffle
    of document text; join the ids back to the corpus to materialize."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_col = kwargs.get("id_col", "doc_id")
    w = dsir_importance(raw, target, **kwargs)
    return w.orderBy(F.col("weight_unats").desc(), F.col(id_col).asc()).limit(k)
