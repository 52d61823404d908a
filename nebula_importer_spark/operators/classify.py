"""Supervised text classification — the trained-filter surface.

A production corpus pipeline trains cheap classifiers ON the corpus it
curates (language ID, quality tiers, domain routing) and applies them at
full scale. The operator here is the classic multinomial Naive Bayes
(McCallum & Nigam 1998) — the one linear-scan model whose training AND
scoring are exact aggregations, so the whole train→predict loop is
oracle-checkable, unlike SGD-trained models whose result depends on
visitation order.

Determinism discipline (the ``bigram_lm_score`` ethos): every per-token
log-likelihood term is floored to integer micro-nats before the per-doc
sum, so accumulation order cannot change a score; the argmax tiebreak is
pinned (smallest label wins); priors and smoothing are exact integer
ratios entering ONE ``ln`` per term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.operators.text import _word_ngrams_all


def nb_classify(
    train_df: DataFrame,
    score_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    precision: int = 1_000_000,
) -> DataFrame:
    """Train multinomial NB on ``train_df`` (labeled), predict labels for
    ``score_df`` — in one plan, no driver round-trip.

    Model: ``score(d, l) = ln(docs_l / D) + Σ_t ln((c(l,t) + 1) /
    (N_l + V))`` over the document's tokens WITH multiplicity
    (``NOT_WS``-run tokens, the repo tokenizer); ``V`` = train
    vocabulary size, add-one smoothing, unseen tokens degrade to the
    additive floor. Every term lands as ``floor(ln(·) · precision)``
    micro-nats, so per-document sums are exact integers
    (partition-order-proof — a float log-sum would be accumulation-order
    dependent and uncheckable).

    Distributed shape: token counts shuffle as ``xxhash64`` keys only
    (the raw-string oracle would surface a realized collision as a gate
    diff); the label dimension (totals + priors) is a broadcast of
    |labels| rows; vocabulary size is a 1-row broadcast; scoring is the
    token explode × |labels| fan-out (bounded by the label vocabulary,
    not the corpus), one count join, one (id, label) partial agg, and
    one id-keyed window for the argmax/margin. At 100 TB the count table
    is vocabulary×labels-sized (Zipf-bounded), never corpus-sized.

    Documents with zero tokens have no evidence and are absent (same
    contract as ``bigram_lm_score``). Returns ``(id_col, pred_label,
    score_micro, margin_micro, n_tokens)`` — ``margin_micro`` is the gap
    to the runner-up label (NULL when only one label exists); ties on
    score go to the smallest label.
    """
    if precision < 1:
        raise ValueError(f"precision must be >= 1, got {precision}")
    for c, d, side in (
        (text_col, train_df, "train"),
        (label_col, train_df, "train"),
        (id_col, score_df, "score"),
        (text_col, score_df, "score"),
    ):
        if c not in d.columns:
            raise ValueError(f"column {c!r} not in {side} input: {d.columns}")
    from pyspark.sql.window import Window as W

    tc = F.coalesce(F.col(text_col), F.lit(""))
    tr = train_df.filter(F.col(label_col).isNotNull())
    # tokenize + hash the training corpus ONCE: ltoks feeds three
    # aggregations (per-(label,token) counts, per-label totals, vocab
    # size) — unmaterialized, the explode would run three times, and the
    # token STRINGS never need to exist past the hash (every consumer
    # keys on xxhash64)
    ltoks = tr.select(
        F.col(label_col).alias("_l"), F.explode(_word_ngrams_all(tc, 1)).alias("_w")
    ).select("_l", F.xxhash64("_w").alias("_k")).localCheckpoint(eager=True)
    counts = ltoks.groupBy("_l", "_k").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # label dim: token totals + document priors (|labels| rows, broadcast)
    ntok = ltoks.groupBy("_l").agg(F.count(F.lit(1)).alias("_nl"))
    prior = tr.groupBy(F.col(label_col).alias("_l")).agg(
        F.count(F.lit(1)).alias("_dl")
    )
    dtot = tr.agg(F.count(F.lit(1)).alias("_d"))
    vocab = ltoks.agg(F.count_distinct("_k").alias("_v"))
    ldim = (
        ntok.join(prior, "_l")
        .join(F.broadcast(dtot))
        .join(F.broadcast(vocab))
        .select(
            "_l",
            "_nl",
            F.floor(
                F.log(F.col("_dl").cast("double") / F.col("_d")) * precision
            ).cast("long").alias("_prior_micro"),
            "_v",
        )
    )

    stoks = score_df.select(
        F.col(id_col).alias("_id"), F.explode(_word_ngrams_all(tc, 1)).alias("_w")
    )
    terms = (
        stoks.select("_id", F.xxhash64("_w").alias("_k"))
        .join(F.broadcast(ldim.select("_l", "_nl", "_v")))
        .join(counts, ["_l", "_k"], "left")
        .select(
            "_id",
            "_l",
            F.floor(
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + 1).cast("double")
                    / (F.col("_nl") + F.col("_v"))
                )
                * precision
            )
            .cast("long")
            .alias("_micro"),
        )
    )
    per = (
        terms.groupBy("_id", "_l")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_micro").alias("_s"))
        .join(F.broadcast(ldim.select("_l", "_prior_micro")), "_l")
        .select(
            "_id",
            "_l",
            "_n",
            (F.col("_s") + F.col("_prior_micro")).alias("_score"),
        )
    )
    w = W.partitionBy("_id").orderBy(F.col("_score").desc(), F.col("_l").asc())
    ranked = per.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_next", F.lead("_score").over(w)
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col("_id").alias(id_col),
        F.col("_l").alias("pred_label"),
        F.col("_score").alias("score_micro"),
        (F.col("_score") - F.col("_next")).alias("margin_micro"),
        F.col("_n").cast("long").alias("n_tokens"),
    )
