"""Diverse top-k selection (Maximal Marginal Relevance, Carbonell & Goldstein
SIGIR 1998) — the training-data / retrieval selection step that pure
relevance ranking misses: pick items that are relevant to the query AND
dissimilar to everything already picked.

Why this is gate-checkable where naive MMR is not: the greedy argmax chain
is exquisitely sensitive to float noise (one ulp flips a pick and every later
step diverges). We make every comparison EXACT-INTEGER:

- relevance and pairwise similarity are cosine in double precision with the
  repo's sequential-fold dot (``F.aggregate`` left-to-right — bit-reproducible
  vs a sequential SQL oracle), then scaled to int64 micro-units
  (``ROUND(cos * 1e6)``, the shared 6dp discipline);
- the MMR objective ``lam6 * rel6 - (1_000_000 - lam6) * max_sim6`` is pure
  int64 arithmetic; ties break on ascending item id. The greedy chain is
  therefore bit-identical on any engine, partitioning, or accumulation order.

Scale shape (100 TB): relevance scoring is the proven broadcast-queries NLJ
(queries are dimension-sized); a per-query window keeps only the top ``pool``
candidates, so the quadratic pairwise stage is bounded at pool² rows per
query and the greedy kernel state is a pool×pool int64 matrix (~3 KB at
pool=20). Queries parallelize across partitions via ``applyInPandas`` on
query_id; raw vectors never enter the Python kernel — similarities are
precomputed JVM-side and only (id, rel6, sim6) ints cross the Arrow boundary.

Reference analog: nebula-importer has no ranking surface at all (SURVEY §2.7);
this extends the ANN family (operators/similarity.py) with the selection step
a curation pipeline runs after retrieval.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from nebula_importer_spark.operators.similarity import _as_double, cosine


MICRO = 1_000_000


def _mmr_kernel(k: int, lam6: int):
    """Greedy MMR over one query's candidate pool (pure int64 numpy).

    Input rows: (query_id, da, db, sim6, rel6) — the pool's pairwise
    similarity table with each row carrying da's relevance; self rows
    (da == db) guarantee singleton pools survive the pair join.
    """
    penal6 = MICRO - lam6

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = np.sort(pdf["da"].unique().astype(np.int64))
        p = len(docs)
        idx = {int(d): i for i, d in enumerate(docs)}
        ia = pdf["da"].map(idx).to_numpy()
        ib = pdf["db"].map(idx).to_numpy()
        rel = np.zeros(p, dtype=np.int64)
        rel[ia] = pdf["rel6"].to_numpy(dtype=np.int64)
        sim = np.zeros((p, p), dtype=np.int64)
        sim[ia, ib] = pdf["sim6"].to_numpy(dtype=np.int64)
        np.fill_diagonal(sim, 0)  # self-sim never scored (d not in picked)

        qid = int(pdf["query_id"].iloc[0])
        taken = np.zeros(p, dtype=bool)
        neg_inf = np.iinfo(np.int64).min
        # max-sim-to-picked starts at -inf, NOT 0: cosines can be negative,
        # and clamping at 0 would understate the objective for candidates
        # anti-correlated with everything picked so far. The sentinel is
        # overwritten by the first real update before any step-2 score.
        maxsim = np.full(p, neg_inf, dtype=np.int64)
        out_step, out_doc, out_score = [], [], []
        for step in range(1, min(k, p) + 1):
            if step == 1:
                score = lam6 * rel
            else:
                score = lam6 * rel - penal6 * maxsim
            score = np.where(taken, neg_inf, score)
            # argmax score, ties to the smallest doc id (docs is sorted, and
            # np.argmax returns the first max — exactly the tie rule)
            pick = int(np.argmax(score))
            taken[pick] = True
            maxsim = np.maximum(maxsim, sim[:, pick])
            out_step.append(step)
            out_doc.append(int(docs[pick]))
            out_score.append(int(score[pick]))
        return pd.DataFrame(
            {
                "query_id": np.int64(qid),
                "step": np.array(out_step, dtype=np.int64),
                "doc": np.array(out_doc, dtype=np.int64),
                "mmr_scaled": np.array(out_score, dtype=np.int64),
            }
        )

    return fn


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam6: int = 700_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, step, doc, mmr_scaled) — greedy MMR selection of ``k``
    items per query from the ``pool`` most relevant candidates.

    ``mmr_scaled`` is the exact integer objective at pick time
    (``lam6 * rel6`` for step 1). ``lam6`` is the relevance weight in
    micro-units (700_000 == λ=0.7).
    """
    if not 0 <= lam6 <= MICRO:
        raise ValueError(f"lam6 must be in [0, {MICRO}], got {lam6}")
    if pool < 1 or k < 1:
        raise ValueError("pool and k must be >= 1")

    c = corpus.select(
        F.col(id_col).alias("doc"), _as_double(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("_qv"),
    )
    rel = c.join(F.broadcast(q), F.col("doc") != F.col("query_id")).select(
        "query_id",
        "doc",
        F.round(cosine(F.col("_qv"), F.col("_cv")) * MICRO, 0)
        .cast("long")
        .alias("rel6"),
        F.col("_cv"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel6").desc(), F.col("doc").asc())
    pool_df = (
        rel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pool)
        .drop("_rn")
    )
    a = pool_df.select("query_id", F.col("doc").alias("da"), F.col("rel6"), F.col("_cv").alias("_va"))
    b = pool_df.select("query_id", F.col("doc").alias("db"), F.col("_cv").alias("_vb"))
    pairs = (
        a.join(b, ["query_id"])
        .filter(F.col("da") != F.col("db"))
        .select(
            "query_id",
            "da",
            "db",
            F.round(cosine(F.col("_va"), F.col("_vb")) * MICRO, 0)
            .cast("long")
            .alias("sim6"),
            "rel6",
        )
    )
    # self rows keep singleton pools alive through the pair join
    selfs = pool_df.select(
        "query_id",
        F.col("doc").alias("da"),
        F.col("doc").alias("db"),
        F.lit(0).cast("long").alias("sim6"),
        "rel6",
    )
    kernel_in = pairs.unionByName(selfs)
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("step", LongType()),
            StructField("doc", LongType()),
            StructField("mmr_scaled", LongType()),
        ]
    )
    return kernel_in.groupBy("query_id").applyInPandas(_mmr_kernel(k, lam6), schema)


def pareto_skyline(
    df: DataFrame,
    *,
    dims: list[tuple[str, str]],
    chunk: int = 2048,
) -> DataFrame:
    """Pareto frontier (skyline query, Börzsönyi/Kossmann/Stocker ICDE
    2001): the rows no other row dominates — better-or-equal on EVERY
    criterion and strictly better on at least one. The multi-objective
    selection step a curation pipeline runs when "best" has more than
    one axis (cheapest-per-size parts, highest-quality-per-token docs);
    contrast :func:`mmr_topk` (scalarized trade-off) — the skyline keeps
    every undominated trade-off point instead of picking one weighting.

    ``dims`` is a list of ``(column, 'min'|'max')`` orientation pairs
    (≥ 2 entries). Rows with NULL in any dimension are excluded (a NULL
    criterion can neither dominate nor defend). Full ties — rows equal
    on every dimension — are all kept: equality never dominates.

    Distributed shape (the classic two-phase skyline): phase 1 computes
    each partition's LOCAL skyline with a chunked-numpy kernel inside
    ``mapInPandas`` (running-skyline vs 2048-row blocks, one broadcasted
    boolean tensor per block — no per-row Python). Local pruning is
    SOUND: a row dominated within its partition is dominated globally,
    so the survivors are a superset of the answer. Phase 2 resolves the
    (typically tiny) candidate union exactly with a broadcast
    nested-loop LEFT ANTI self-join on the ORIGINAL column types — the
    declarative dominance test Catalyst plans as one BNLJ over a
    dimension-sized broadcast. Adversarial inputs (a huge anti-chain)
    degrade phase 2's broadcast, exactly like every bucketed candidate
    generator here degrades on adversarial keys — documented, not
    hidden.

    Exactness contract: the phase-1 kernel compares float64 renderings;
    monotonicity makes a strict float64 ``<`` imply the real ``<``, so a
    FALSE drop needs two distinct values colliding in float64 — keep
    dimension values exactly float64-representable (int64 below 2^53,
    short decimals) and phase 1 never over-prunes; phase 2 then compares
    the original Spark types, so the final frontier is exact.
    """
    if len(dims) < 2:
        raise ValueError(f"need >= 2 dims, got {len(dims)}")
    for c, o in dims:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
        if o not in ("min", "max"):
            raise ValueError(f"orientation must be 'min' or 'max': {o!r}")
    if len({c for c, _ in dims}) != len(dims):
        raise ValueError("duplicate dimension columns")
    if chunk < 1:
        raise ValueError(f"chunk must be >= 1, got {chunk}")

    cols = df.columns
    dim_cols = [c for c, _ in dims]
    signs = np.array([1.0 if o == "min" else -1.0 for _, o in dims])
    base = df.filter(
        F.lit(True)
        & F.expr(
            " AND ".join(f"`{c}` IS NOT NULL" for c in dim_cols)
        )
    )

    def _local(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vals = pdf[dim_cols].to_numpy(dtype="float64") * signs
            keep_idx = np.empty(0, dtype="int64")
            sky = np.empty((0, len(dims)))
            order = np.lexsort(tuple(vals[:, i] for i in range(len(dims))))
            for s in range(0, len(order), chunk):
                blk_i = order[s : s + chunk]
                blk = vals[blk_i]
                cand = np.vstack([sky, blk])
                # dominated[j] over blk: any cand row <= blk[j] on all
                # dims AND < on one (self rows compare equal: never
                # dominate). (|sky|+chunk) x chunk x d tensor, fully
                # vectorized.
                le = (cand[:, None, :] <= blk[None, :, :]).all(axis=2)
                lt = (cand[:, None, :] < blk[None, :, :]).any(axis=2)
                dominated = (le & lt).any(axis=0)
                surv = blk_i[~dominated]
                keep_idx = np.concatenate([keep_idx, surv])
                sky = np.vstack([sky, vals[surv]])
            yield pdf.iloc[np.sort(keep_idx)]

    cand = base.mapInPandas(_local, schema=base.schema)
    a = cand.alias("a")
    b = cand.alias("b")
    dominates = F.lit(True)
    strict = F.lit(False)
    for c, o in dims:
        if o == "min":
            dominates = dominates & (F.col(f"b.{c}") <= F.col(f"a.{c}"))
            strict = strict | (F.col(f"b.{c}") < F.col(f"a.{c}"))
        else:
            dominates = dominates & (F.col(f"b.{c}") >= F.col(f"a.{c}"))
            strict = strict | (F.col(f"b.{c}") > F.col(f"a.{c}"))
    out = a.join(F.broadcast(b), dominates & strict, "left_anti")
    return out.select(*[F.col(f"a.{c}").alias(c) for c in cols])


def max_coverage_select(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    n: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage document selection: pick ``k`` documents
    that together cover the most DISTINCT word n-grams — each round adds
    the document with the largest count of still-uncovered grams. The
    classic (1−1/e)-approximation to max-coverage (Nemhauser/Wolsey/
    Fisher 1978, submodular greedy), and the LEXICAL-diversity selector
    of a training-data pipeline: :func:`~nebula_importer_spark.operators.
    similarity.kcenter_select` spreads picks in EMBEDDING space, this
    spreads them in SURFACE-FORM space (seed corpora, eval slices,
    dedup-aware sampling anchors).

    Determinism contract: gains are exact integer counts of distinct
    64-bit gram hashes; every argmax breaks ties by id ASC, so the
    selection sequence is unique and hash-stable (the bpe/kcenter argmax
    discipline — ONE aggregate row crosses to the driver per round).
    Greedy stops early when the best remaining gain is 0 (all grams
    covered): later rounds could only add 0, so the output is the full
    greedy solution, not a truncation.

    Distributed shape: grams stage ONCE as ``(id, xxhash64(gram))`` —
    per-doc-distinct, fixed-width, gram strings never travel after the
    first pass (the decontaminate discipline). Each round is one
    left-anti join against the covered-hash set + one partial-agg count
    + one TakeOrdered; the covered set grows by the winner's grams only
    and is ``localCheckpoint``ed per round (the k-core lineage lesson).
    Collision note: two distinct grams colliding in xxhash64 would
    merge — at ~10⁶-gram corpora the probability is ~10⁻⁷, the same
    accepted trade every hash-keyed funnel here makes.

    Returns ``(rank, <id_col>, gain, covered_total)`` in selection
    order; ``covered_total`` is the running distinct-gram count.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from nebula_importer_spark.operators.linking import word_ngrams

    spark = df.sparkSession
    grams = (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
        )
        .select("_id", F.xxhash64("_g").alias("_h"))
        .localCheckpoint(eager=True)
    )
    covered = spark.createDataFrame([], "_h long")
    selected: list[tuple] = []
    total = 0
    for rank in range(1, k + 1):
        uncov = grams.join(covered, "_h", "left_anti")
        top = (
            uncov.groupBy("_id")
            .agg(F.count("*").alias("_gain"))
            .orderBy(F.col("_gain").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["_gain"]) == 0:
            break
        win, gain = top[0]["_id"], int(top[0]["_gain"])
        total += gain
        selected.append((rank, win, gain, total))
        covered = covered.unionByName(
            uncov.filter(F.col("_id") == F.lit(win)).select("_h")
        ).localCheckpoint(eager=True)
        grams = grams.filter(F.col("_id") != F.lit(win))
    id_type = dict(df.dtypes)[id_col]
    return spark.createDataFrame(
        selected,
        f"rank long, {id_col} {id_type}, gain long, covered_total long",
    )
