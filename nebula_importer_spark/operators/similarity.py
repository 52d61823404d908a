"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k of every query against the corpus.
  Queries are dimension-sized → broadcast; the corpus is scanned ONCE
  (queries × corpus via broadcast nested-loop join, ranked per query).
  This is the correctness baseline and the oracle shape.
- lsh_topk: random-hyperplane bucket prefilter (the scale path): only
  candidates agreeing with the query on ≥1 band of sign bits are scored.
  Hyperplanes are seeded plan constants → deterministic, resumable.
- ivf_topk: inverted-file index (IVF-flat): k-means coarse quantizer over
  a bounded sample, corpus partitioned by nearest centroid, queries probe
  the ``nprobe`` closest cells. Centroids are seeded plan constants;
  assignment is a vectorized Arrow-batched argmax (one numpy matmul per
  batch). At 100 TB the cell id doubles as the table's cluster/bucket key
  so a probe reads only its cells' files.
- embedding_bucket_purity: per-LSH-bucket majority label + purity — the
  label-noise audit over embedding space (integer aggregates only after
  the plan-constant hyperplane dots).

brute_force/lsh arithmetic is JVM expressions (zip_with/aggregate in double
precision, summed left-to-right — bit-reproducible against a sequential
oracle); IVF's hot paths are vectorized pandas UDFs (assignment + scoring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a, b):
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — exact top-k per query.
    Deterministic tie-break on neighbor id. Self-matches (same id) excluded
    when id columns share a domain."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(query_vec_col)).alias("_qv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _kmeans(sample, nlist: int, iters: int, seed: int):
    """Tiny deterministic k-means (numpy, seeded kmeans++-ish init) over an
    L2-normalized sample. Returns unit centroids. Driver-side by design:
    the sample is bounded (train_size rows), and the centroids must become
    broadcast plan constants — this replaces a pyspark.ml KMeans fit whose
    model would live outside the plan."""
    rng = np.random.RandomState(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    # init: first centroid random, rest = farthest-from-nearest (maximin)
    idx = [int(rng.randint(len(x)))]
    d = 1.0 - x @ x[idx[0]]
    while len(idx) < min(nlist, len(x)):
        idx.append(int(np.argmax(d)))
        d = np.minimum(d, 1.0 - x @ x[idx[-1]])
    c = x[idx].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                c[j] = m / max(np.linalg.norm(m), 1e-12)
    return c


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    nlist: int = 16,
    nprobe: int = 4,
    train_size: int = 4096,
    kmeans_iters: int = 8,
    seed: int = 42,
    jvm_scores: bool = False,
) -> DataFrame:
    """Approximate top-k via an inverted-file index: corpus rows live in the
    cell of their nearest (cosine) centroid; each query scores only rows in
    its ``nprobe`` nearest cells. Same output schema as brute_force_topk.

    Work per query ∝ corpus × (nprobe/nlist) instead of the full corpus;
    recall depends on how well cells capture the data's cluster structure
    (pytest gates recall vs brute force on the clustered test embeddings).
    The train sample is a bounded driver-side collect (``train_size`` rows
    via a deterministic per-id hash order — NOT the full corpus).

    With ``nprobe == nlist`` the search is EXACT by the cell-partition
    property: every corpus row lives in exactly one cell and each probed
    (query, cell) pair is distinct, so the candidate set is the whole
    corpus with no duplicates — any drop/dup in assignment or probing
    breaks the equality with brute force (that invariant is what the
    full-probe driver oracle checks). ``jvm_scores=True`` scores candidates
    with the same left-to-right JVM aggregate as brute_force_topk (the
    vectorized numpy kernel uses pairwise summation — equal to ~1e-15 but
    not bit-identical, which matters only for engine-vs-engine hashing).
    """
    from pyspark.sql.functions import pandas_udf

    sample = (
        corpus.select(_as_double(F.col(vec_col)).alias("_v"), F.col(id_col).alias("_id"))
        .orderBy(F.xxhash64(F.col("_id")))  # deterministic, id-spread sample
        .limit(train_size)
        .toPandas()
    )
    if sample.empty:
        return brute_force_topk(
            corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
        ).limit(0)
    cents = _kmeans(np.stack(sample["_v"].to_numpy()), nlist, kmeans_iters, seed)
    nprobe = min(nprobe, len(cents))

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(x @ cents.T, axis=1)).astype("int32")

    @pandas_udf("array<int>")
    def _probes(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(x @ cents.T), axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    @pandas_udf("double")
    def _cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        a = np.stack(qv.to_numpy()).astype(np.float64)
        b = np.stack(cv.to_numpy()).astype(np.float64)
        denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series((a * b).sum(axis=1) / np.maximum(denom, 1e-12))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cell", _cell("_cv"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("_qv"),
    ).withColumn("_cell", F.explode(_probes("_qv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    score = (
        cosine(F.col("_qv"), F.col("_cv")) if jvm_scores else _cos("_qv", "_cv")
    )
    return (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_bucket_purity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_planes: int = 12,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Label-noise audit over embedding space: bucket every vector by its
    LSH band keys (the same seeded hyperplane sign bits the ANN path uses),
    then report each (band, bucket)'s majority label and purity — impure
    buckets are where geometrically-close vectors disagree on their label,
    the standard first look for mislabeled / contaminated training data.

    Everything after the (plan-constant) hyperplane dots is INTEGER
    arithmetic: one explode (n_bands rows per vector, ids+two ints — the
    vectors never travel) and two partial-agg'd groupBys. Majority ties
    break to the SMALLEST label (min over a (−count, label) struct — a
    sort-free argmax). Rows with a NULL label are excluded up front.

    ``dim`` should be passed explicitly at scale; when None it is probed
    from one row (empty input → empty result).

    Returns ``(band, bucket, n_vecs, top_label, top_n, purity)``.
    """
    df = df.filter(F.col(label_col).isNotNull())
    if dim is None:
        head = df.select(vec_col).head(1)
        if not head:
            return df.sparkSession.createDataFrame(
                [], "band int, bucket long, n_vecs long, "
                    f"top_label {df.schema[label_col].dataType.simpleString()}, "
                    "top_n long, purity double"
            )
        dim = len(head[0][0])
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    per_band = n_planes // n_bands

    full = _sign_bucket(_as_double(F.col(vec_col)), planes)
    bands = F.array(
        *[
            F.shiftright(full, b * per_band).bitwiseAND(F.lit((1 << per_band) - 1))
            for b in range(n_bands)
        ]
    )
    ex = df.select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(bands).alias("band", "bucket"),
    )
    cnt = ex.groupBy("band", "bucket", "_lbl").agg(F.count("*").alias("_c"))
    top = cnt.groupBy("band", "bucket").agg(
        F.sum("_c").alias("n_vecs"),
        F.min(F.struct((-F.col("_c")).alias("negc"), F.col("_lbl").alias("lbl"))).alias(
            "_top"
        ),
    )
    return top.select(
        "band",
        "bucket",
        "n_vecs",
        F.col("_top.lbl").alias("top_label"),
        (-F.col("_top.negc")).alias("top_n"),
        ((-F.col("_top.negc")).cast("double") / F.col("n_vecs").cast("double")).alias(
            "purity"
        ),
    )


def _sign_bucket(vec_col, planes) -> "F.Column":
    bucket = None
    for p, row in enumerate(planes):
        w = F.array(*[F.lit(float(v)) for v in row])
        bit = F.when(dot(vec_col, w) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, p)
        bucket = term if bucket is None else bucket.bitwiseXOR(term)
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_planes: int = 12,
    n_bands: int = 3,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane sign bits split into bands; candidates
    share ≥1 band with the query. Recall rises with n_bands (multi-probe).
    Same output schema as brute_force_topk.

    ``dim`` (vector width) should be passed explicitly at scale; when None
    it is probed from one corpus row (an empty corpus yields an empty
    result instead of a driver crash)."""
    if dim is None:
        head = corpus.select(vec_col).head(1)
        if not head:
            return brute_force_topk(
                corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
            ).limit(0)
        dim = len(head[0][0])
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    per_band = n_planes // n_bands

    def bands_of(vec):
        full = _sign_bucket(vec, planes)
        return F.array(
            *[
                F.shiftright(full, b * per_band).bitwiseAND(F.lit((1 << per_band) - 1))
                for b in range(n_bands)
            ]
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_cv"),
    ).select(
        "neighbor_id", "_cv", F.posexplode(bands_of(F.col("_cv"))).alias("_b", "_bk")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("_qv"),
    ).select("query_id", "_qv", F.posexplode(bands_of(F.col("_qv"))).alias("_b", "_bk"))
    cand = (
        c.join(F.broadcast(q), ["_b", "_bk"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "anchor_vec",
    anchor_label_col: str = "anchor_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    top-k most-COSINE-SIMILAR corpus vectors with a DIFFERENT label —
    exactly the near-miss negatives a contrastive objective learns most
    from (vs. random negatives, which are trivially far). Returns
    ``(anchor_id, rank, negative_id, cosine)``; deterministic tie-break on
    negative id; NULL-label corpus rows are excluded (unknown label can't
    be certified as a negative).

    Same plan shape as brute_force_topk (the proven exact baseline):
    anchors are training-batch-sized → broadcast; the corpus scans ONCE
    through a broadcast NLJ whose join condition already drops same-label
    pairs, so the per-task score work shrinks by the label-match fraction.
    Scoring is the shared JVM zip_with/aggregate cosine (double precision,
    summed left-to-right — bit-reproducible against the sequential SQL
    oracle). At corpus-wide anchor counts, swap the NLJ for the lsh_topk /
    ivf_topk candidate funnels with a label-inequality residual filter —
    this operator is the correctness baseline of that funnel.
    """
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("_nl"),
        _as_double(F.col(vec_col)).alias("_cv"),
    ).filter(F.col("_nl").isNotNull())
    a = anchors.select(
        F.col(anchor_id_col).alias("anchor_id"),
        F.col(anchor_label_col).alias("_al"),
        _as_double(F.col(anchor_vec_col)).alias("_av"),
    )
    scored = c.join(
        F.broadcast(a),
        (F.col("negative_id") != F.col("anchor_id"))
        & (F.col("_nl") != F.col("_al")),
    ).select(
        "anchor_id",
        "negative_id",
        cosine(F.col("_av"), F.col("_cv")).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "rank", "negative_id", "cosine")
    )


KMEANS_Q = 1 << 20  # quantization scale: floor(x · 2^20) — see int_kmeans


def int_kmeans(
    df: DataFrame,
    *,
    k: int = 8,
    iterations: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_abs: float = 2.0,
) -> DataFrame:
    """Exact-integer Lloyd k-means over an embedding column — the semantic
    clustering step of data curation (cluster-balanced sampling, semantic
    dedup, diversity audits), built so an ITERATIVE float algorithm
    becomes hash-gateable (the PageRank/HITS discipline applied to
    geometry):

    - Vectors are quantized ``q_i = floor(double(x_i) · 2²⁰) + 2·2²⁰``:
      float→double is exact and multiplying by a power of two only shifts
      the exponent, so quantization is bit-determined (no float-rounding
      hazard anywhere); the offset keeps every component positive, making
      centroid floor-division unambiguous across engines (floor == trunc
      on non-negatives) — and squared distances are translation-invariant,
      so the offset never affects an assignment.
    - Assignment is an exact-integer argmin of squared L2 distance with
      ties broken to the smallest cluster id (the fold keeps the earlier
      centroid on equal distance over a cid-sorted pack).
    - Centroid update is an exact integer component sum + floor division.
      Every quantity is partition-order-proof, so the result is
      bit-identical on any layout, retry, or engine.

    Scale shape: init is the k smallest ids (deterministic, no sampling
    job); each iteration is ONE map-only pass over the points (the k
    centroids travel as a broadcast 1-row pack; the per-point argmin is a
    JVM fold over the pack) plus one partial-agg'd groupBy on the cluster
    id (k keys, ``dim`` integer sums each). Centroids are
    ``localCheckpoint``-ed per round (k rows — the lineage otherwise
    doubles per iteration); empty clusters keep their previous centroid.

    Returns ``(id_col, cluster, sq_dist)`` — the final assignment and its
    exact quantized squared distance.
    """
    if k < 1 or iterations < 1 or dim < 1:
        raise ValueError(f"k/iterations/dim must be >= 1, got {k}/{iterations}/{dim}")
    offset = int(max_abs) * KMEANS_Q
    pts = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * float(KMEANS_Q)).cast("long")
            + F.lit(offset),
        ).alias("_q"),
    ).localCheckpoint()

    cents = (
        pts.orderBy("_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_id")) - 1).alias("_cid"),
            F.col("_q").alias("_cq"),
        )
    )

    def assign(points, cents_df):
        pack = cents_df.groupBy().agg(
            F.sort_array(F.collect_list(F.struct("_cid", "_cq"))).alias("_cents")
        )

        def dist(cq):
            return F.aggregate(
                F.zip_with(F.col("_q"), cq, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            )

        init = F.struct(
            F.lit(2**62).cast("long").alias("d"),
            F.lit(-1).cast("int").alias("cid"),
        )
        best = F.aggregate(
            F.col("_cents"),
            init,
            lambda acc, c: F.when(
                dist(c["_cq"]) < acc["d"],
                F.struct(dist(c["_cq"]).alias("d"), c["_cid"].alias("cid")),
            ).otherwise(acc),
        )
        return points.join(F.broadcast(pack)).select(
            "_id", "_q", best.alias("_best")
        ).select(
            "_id",
            "_q",
            F.col("_best.cid").alias("_cid"),
            F.col("_best.d").alias("_d"),
        )

    for _ in range(iterations):
        assigned = assign(pts, cents)
        sums = assigned.groupBy("_cid").agg(
            F.count("*").alias("_n"),
            F.array(*[F.sum(F.col("_q")[i]).alias(f"_s{i}") for i in range(dim)]).alias(
                "_sums"
            ),
        )
        new_c = sums.select(
            "_cid", F.expr("transform(_sums, s -> s div _n)").alias("_ncq")
        )
        cents = (
            cents.join(new_c, "_cid", "left")
            .select("_cid", F.coalesce("_ncq", "_cq").alias("_cq"))
            .localCheckpoint()
        )

    final = assign(pts, cents)
    return final.select(
        F.col("_id").alias(id_col),
        F.col("_cid").alias("cluster"),
        F.col("_d").alias("sq_dist"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    k: int = 8,
    iterations: int = 4,
    dim: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with k-means, then scan for near-duplicate
    pairs ONLY within each cluster — the cluster bounds the quadratic pair
    blow-up that an all-pairs cosine scan would hit. Returns
    ``(id_a, id_b, cosine)`` with id_a < id_b and cosine ≥ threshold.

    Because the quantizer is int_kmeans (bit-exact on any engine), the
    candidate set is deterministic, which is what makes a DuckDB twin an
    exact oracle for the whole composition. Recall semantics are the
    published method's: a near-duplicate pair split across cluster
    boundaries is NOT reported (that is the accepted trade; raise k slower
    than n so clusters stay tight). Scale shape: one equi-join on the
    cluster id; choose k ≈ n/target_cluster_size so per-cluster pair scans
    stay bounded, and `max_cluster_size` drops oversize clusters outright
    (counted via one cheap agg) rather than letting one degenerate cell go
    quadratic — same guard discipline as cooccurrence_edges.
    """
    cl = int_kmeans(
        df, k=k, iterations=iterations, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster")
    v = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).join(cl.select(F.col(id_col).alias("_id"), "cluster"), "_id")
    if max_cluster_size is not None:
        sizes = v.groupBy("cluster").agg(F.count("*").alias("_n"))
        v = v.join(
            F.broadcast(sizes.filter(F.col("_n") <= max_cluster_size)), "cluster"
        ).drop("_n")
    a = v.select(
        F.col("cluster"), F.col("_id").alias("id_a"), F.col("_v").alias("_va")
    )
    b = v.select(
        F.col("cluster"), F.col("_id").alias("id_b"), F.col("_v").alias("_vb")
    )
    return (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_vec(col, max_abs: float, bits: int = 8):
    """Symmetric scalar quantization of a float vector to signed ints:
    ``q = clamp(round(x · (2^(b-1)-1) / max_abs))``. With a shared
    ``max_abs`` the quantized grid is a plan constant, so the same vector
    quantizes identically on any engine."""
    qmax = 2 ** (bits - 1) - 1
    return F.transform(
        col,
        lambda x: F.greatest(
            F.lit(-qmax),
            F.least(
                F.lit(qmax),
                F.round(x.cast("double") * qmax / max_abs).cast("int"),
            ),
        ),
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_abs: float | None = None,
) -> DataFrame:
    """Exact top-k over SCALAR-QUANTIZED int8 vectors — the memory-bound
    ANN scale path: a 64-dim float32 corpus shrinks 4× (100 TB of
    embeddings → 25 TB resident), scan bandwidth shrinks with it, and
    every dot product is EXACT int arithmetic (|q| ≤ 127, 64 dims →
    |Σ qa·qb| ≤ 127²·64 ≈ 2²⁰ — longs never overflow, sums are
    order-free). The cosine over exact integer num/norms divides and
    IEEE-sqrt's identically on any engine, so the rounded score is
    gate-checkable — the property float-accumulated cosines only get
    from a fixed evaluation order.

    ``max_abs`` (the shared quantization range) defaults to the corpus
    max |component| — ONE scalar aggregate collected driver-side (bounded
    material, same class as the IVF train sample); queries quantize on
    the corpus grid, clamped. Recall vs the float baseline is the
    quantization trade — gated in pytest, not assumed.

    Returns ``(query_id, rank, neighbor_id, cosine_q)`` with the same
    NLJ + per-query top-k shape as :func:`brute_force_topk`.
    """
    if max_abs is None:
        max_abs = float(
            corpus.select(
                F.max(
                    F.aggregate(
                        _as_double(F.col(vec_col)),
                        F.lit(0.0),
                        lambda s, x: F.greatest(s, F.abs(x)),
                    )
                ).alias("m")
            ).first()["m"]
        )
    if not max_abs > 0:
        raise ValueError(f"max_abs must be positive, got {max_abs}")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_vec(F.col(vec_col), max_abs).alias("_cq"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_vec(F.col(query_vec_col), max_abs).alias("_qq"),
    )

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )

    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _idot(F.col("_qq"), F.col("_cq"))
            / (
                F.sqrt(_idot(F.col("_qq"), F.col("_qq")).cast("double"))
                * F.sqrt(_idot(F.col("_cq"), F.col("_cq")).cast("double"))
            ),
            6,
        ).alias("cosine_q"),
    )
    # an all-zero quantized vector has no cosine: drop it rather than let
    # NULL ordering (engine-dependent) place it in the ranking
    scored = scored.filter(F.col("cosine_q").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_q")
    )


def random_project(
    df: DataFrame,
    *,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    scale: int = 10**6,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map ``dim``-dimensional
    embeddings to ``out_dim`` dimensions with a seeded Gaussian matrix
    scaled by ``1/sqrt(out_dim)`` — the JL estimator whose pairwise
    squared distances are unbiased and concentrate for
    ``out_dim = O(log n / eps²)``. The cheap first stage before ANN /
    clustering when the raw embedding is too wide to shuffle at corpus
    scale (projecting 1024→64 cuts every downstream shuffle 16×).

    The projection matrix is a SEEDED PLAN CONSTANT (the lsh_topk
    discipline: numpy RandomState(seed), embedded as array literals) —
    deterministic, resumable, travels with the plan instead of a
    broadcast. The whole operator is ONE map-side projection: no shuffle,
    no UDF, whole-stage codegen end-to-end; each output coordinate is the
    shared left-to-right JVM aggregate dot, rounded to 6dp and scaled to
    int64 micro-units so results hash identically on any engine.

    Returns ``(id_col, proj)`` with ``proj: array<long>`` of length
    ``out_dim`` (micro-unit fixed point).
    """
    if out_dim <= 0 or dim <= 0:
        raise ValueError(f"out_dim/dim must be positive, got {out_dim}/{dim}")
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((out_dim, dim))
    planes = planes / float(np.sqrt(out_dim))
    v = _as_double(F.col(vec_col))
    coords = [
        F.round(
            dot(v, F.array(*[F.lit(float(x)) for x in row])) * scale
        ).cast("long")
        for row in planes
    ]
    return df.select(F.col(id_col), F.array(*coords).alias("proj"))


def power_iteration_pca(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_iter: int = 8,
    seed: int = 42,
    scale: int = 10**6,
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    by distributed power iteration: ``v ← normalize(Xᵀ(Xv))`` — the
    spectral step under PCA whitening, spectral dedup, and
    embedding-drift monitoring. The d×d covariance is NEVER
    materialized: each iteration is one map-side per-row dot (``Xv``,
    the shared left-to-right aggregate) and ONE d-sum aggregation
    (``Xᵀscores`` — d partial-agg'd sums, a single row to the driver),
    so per-iteration cost is one corpus scan regardless of d², and
    driver state is d doubles.

    Hash-stability discipline for an ITERATIVE FLOAT algorithm (the part
    a naive port gets wrong): the iterate ``v`` is re-quantized to 6dp
    micro-units on the driver after every normalization, so cross-engine
    accumulation-order drift (~1e-14 relative per pass) is squashed
    before it can compound; the start vector is a seeded plan constant
    (RandomState, the lsh_topk discipline); the sign is canonicalized
    (first nonzero loading positive) because ±v are the same direction.
    The DuckDB oracle replays the identical quantized recurrence.

    Returns ``(dim_idx, loading6)`` — the unit principal direction in
    int64 micro-units, one row per dimension.
    """
    if dim <= 0 or n_iter <= 0:
        raise ValueError(f"dim/n_iter must be positive, got {dim}/{n_iter}")
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")

    spark = df.sparkSession
    rng = np.random.RandomState(seed)
    v = rng.standard_normal(dim)
    v = _quantize_unit(v, scale)

    vecs = df.select(_as_double(F.col(vec_col)).alias("_v"))
    for _ in range(n_iter):
        vlit = F.array(*[F.lit(float(x)) for x in v])
        score = dot(F.col("_v"), vlit)
        sums = vecs.agg(
            *[
                F.sum(score * F.element_at(F.col("_v"), j + 1)).alias(f"_t{j}")
                for j in range(dim)
            ]
        ).collect()[0]
        t = np.array([float(sums[f"_t{j}"] or 0.0) for j in range(dim)])
        v = _quantize_unit(t, scale)

    v = _canonical_sign(v)
    return spark.createDataFrame(
        [(j, int(round(v[j] * scale))) for j in range(dim)],
        "dim_idx long, loading6 long",
    )


def _quantize_unit(t, scale: int):
    n = float(np.sqrt(float(np.dot(t, t))))
    if n == 0.0:
        raise ValueError("power iteration collapsed to the zero vector")
    u = t / n
    # half-away-from-zero at 6dp — SQL ROUND semantics, NOT numpy's
    # banker's rounding, so the oracle's replayed iterates match exactly
    return np.sign(u) * np.floor(np.abs(u) * scale + 0.5) / scale


def _canonical_sign(v):
    for x in v:
        if x != 0.0:
            return v if x > 0 else -v
    return v


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
    max_abs: float | None = None,
    salt: str = "pq",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011) — the
    compression step BEYOND int8: the vector splits into ``m`` subspaces,
    each encoded as one of ``n_codes`` codebook centroids, so a 64-dim
    float32 vector becomes ``m`` code bytes (64× smaller residency) and
    query distance is an asymmetric-distance (ADC) table lookup — the
    codes, not the vectors, are what a 100-TB scan reads.

    Determinism contract (what makes a quantizer gate-checkable): the
    codebook is the ``n_codes`` corpus rows with the smallest
    ``md5(salt‖id)`` — the KMV bottom-k sample discipline — on the int8
    grid of :func:`quantize_vec`, NOT Lloyd-trained (k-means codebooks
    improve recall and compose via :func:`int_kmeans`; the sampled
    codebook keeps every arithmetic step exact-integer). Assignment is
    the argmin of EXACT integer squared distances with ties to the
    smallest code id; ADC distances are integer sums of integer tables.

    Distributed shape: the codebook is m·n_codes rows (broadcast
    everywhere); encoding is one broadcast join + an (id, subspace)
    partial-agg argmin; the query pass joins the N·m code table against
    the broadcast Q·m·n_codes ADC tables and sums per (query, vector) —
    still a full code scan per query (PQ compresses, IVF prunes; they
    compose), but the scan reads m longs per vector. Top-k per query is
    a WindowGroupLimit rank.

    Returns ``(query_id, rank, neighbor_id, adc_dist)`` — ``adc_dist``
    the exact integer ADC squared distance on the int8 grid. Recall vs
    the float baseline is the quantization trade, gated in pytest.
    """
    if k < 1 or m < 1 or n_codes < 1:
        raise ValueError(f"k, m, n_codes must be >= 1: {k}, {m}, {n_codes}")
    for df_, c in ((corpus, id_col), (corpus, vec_col),
                   (queries, query_id_col), (queries, query_vec_col)):
        if c not in df_.columns:
            raise ValueError(f"column {c!r} not in input: {df_.columns}")
    if dim is None:
        probe = corpus.select(F.size(vec_col).alias("d")).first()
        if probe is None:
            raise ValueError("pq_topk: empty corpus")
        dim = int(probe["d"])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    if max_abs is None:
        max_abs = float(
            corpus.select(
                F.max(
                    F.aggregate(
                        _as_double(F.col(vec_col)),
                        F.lit(0.0),
                        lambda s, x: F.greatest(s, F.abs(x)),
                    )
                ).alias("mx")
            ).first()["mx"]
        )
    if not max_abs > 0:
        raise ValueError(f"max_abs must be positive, got {max_abs}")

    def _subspaces(vec, out):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(vec, j * sub + 1, sub).alias(out),
                    )
                    for j in range(m)
                ]
            )
        )

    qcorpus = corpus.select(
        F.col(id_col).alias("_id"),
        quantize_vec(F.col(vec_col), max_abs).alias("_qv"),
    )
    hx = F.md5(F.concat(F.lit(salt), F.col("_id").cast("string")))
    from pyspark.sql.window import Window as W

    sampled = (
        qcorpus.orderBy(hx.asc(), F.col("_id").asc())
        .limit(n_codes)
        .withColumn(
            "code",
            F.row_number().over(W.orderBy(hx.asc(), F.col("_id").asc())),
        )
    )
    codebook = sampled.select(
        "code", _subspaces(F.col("_qv"), "_cb").alias("_s")
    ).select("code", F.col("_s.j").alias("j"), F.col("_s._cb").alias("_cb"))

    def _sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast("long")),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )

    corpus_sub = qcorpus.select(
        "_id", _subspaces(F.col("_qv"), "_sv").alias("_s")
    ).select("_id", F.col("_s.j").alias("j"), F.col("_s._sv").alias("_sv"))
    codes = (
        corpus_sub.join(F.broadcast(codebook), "j")
        .select(
            "_id",
            "j",
            F.struct(
                _sqdist(F.col("_sv"), F.col("_cb")).alias("d"),
                F.col("code").alias("c"),
            ).alias("_dc"),
        )
        .groupBy("_id", "j")
        .agg(F.min("_dc")["c"].alias("code"))
    )

    qsub = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_vec(F.col(query_vec_col), max_abs).alias("_qq"),
    ).select(
        "query_id", _subspaces(F.col("_qq"), "_qs").alias("_s")
    ).select(
        "query_id", F.col("_s.j").alias("j"), F.col("_s._qs").alias("_qs")
    )
    adc = qsub.join(F.broadcast(codebook), "j").select(
        "query_id",
        "j",
        "code",
        _sqdist(F.col("_qs"), F.col("_cb")).alias("_dq"),
    )
    scored = (
        codes.join(F.broadcast(adc), ["j", "code"])
        .groupBy("query_id", F.col("_id").alias("neighbor_id"))
        .agg(F.sum("_dq").cast("long").alias("adc_dist"))
    )
    wk = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def embedding_correlation(
    df: "DataFrame",
    col: str = "embedding",
    *,
    dim: int,
    quant: int = 1000,
) -> "DataFrame":
    """Exact Pearson correlation matrix over an embedding column — the
    feature-QA pass that catches dead dimensions (zero variance),
    duplicated dimensions (|r| ≈ 1) and batch-effect stripes before a
    similarity index is built on the vectors.

    Exactness contract (the power_iteration_pca discipline): values are
    floor-quantized ONCE to ``1/quant`` units, then every sufficient
    statistic (Σx, Σy, Σxy, Σx², Σy², n) is an EXACT int64 sum —
    accumulation-order-proof where a float covariance would drift per
    partitioning. The final ``r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) ·
    √(nΣy²−(Σy)²))`` is a fixed chain of exactly-rounded IEEE ops on
    exactly-representable int64 inputs — bit-identical on any engine.
    Int64 bounds: |q| ≤ quant·max|x| and n·Σxy must stay < 2^63 —
    quant=1000 holds to ~10¹⁰ unit-normed rows; raise at your scale's
    expense of quantization, not correctness. Zero-variance dimensions
    yield NULL r (the dead-dimension flag itself).

    Distributed shape: one map pass expands each row into its d·(d+1)/2
    upper-triangle cells (bounded fan-out d², the explicit cost of an
    exact matrix — the PCA operator is the scale path when only the top
    direction is needed) and ONE partial-aggregable groupBy over ≤ d²
    cells; the shuffle carries d²·partitions rows, not data.

    Returns ``(i, j, n, sx, sy, sxx, syy, sxy, corr)`` with 1-based
    ``i ≤ j``.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    if col not in df.columns:
        raise ValueError(f"column {col!r} not in input: {df.columns}")
    q = F.transform(
        F.col(col),
        lambda x: F.floor(x.cast("double") * quant).cast("long"),
    )
    base = df.filter(
        F.col(col).isNotNull() & (F.size(col) == dim)
    ).select(q.alias("_q"))
    cells = F.filter(
        F.flatten(
            F.transform(
                "_q",
                lambda qi, i: F.transform(
                    "_q",
                    lambda qj, j: F.struct(
                        (i + 1).alias("i"),
                        (j + 1).alias("j"),
                        qi.alias("qi"),
                        qj.alias("qj"),
                    ),
                ),
            )
        ),
        lambda c: c["i"] <= c["j"],
    )
    stats = (
        base.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.i").alias("i"), F.col("_c.j").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_c.qi").cast("long").alias("sx"),
            F.sum("_c.qj").cast("long").alias("sy"),
            F.sum(F.col("_c.qi") * F.col("_c.qi")).cast("long").alias("sxx"),
            F.sum(F.col("_c.qj") * F.col("_c.qj")).cast("long").alias("syy"),
            F.sum(F.col("_c.qi") * F.col("_c.qj")).cast("long").alias("sxy"),
        )
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    corr = F.when(
        (vx > 0) & (vy > 0),
        num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return stats.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n", "sx", "sy", "sxx", "syy", "sxy",
        corr.alias("corr"),
    )


def kcenter_select(
    df: "DataFrame",
    id_col: str,
    vec_col: str,
    *,
    k: int,
    dim: int,
    quant: int = 1000,
) -> "DataFrame":
    """Greedy k-center coreset selection (Gonzalez 1985; the classic
    2-approximation to the k-center cover) — the DIVERSITY selector of a
    training-data pipeline: each round adds the point FARTHEST from
    everything already selected, so k points cover the embedding space
    with provable radius ≤ 2·OPT (contrast mmr_topk, which trades
    relevance against diversity; this is pure coverage).

    Determinism contract: vectors are milli-quantized once and distances
    are EXACT int64 squared euclidean (Σ(qa−qb)² ≤ d·(2·quant·max|x|)²
    — int-exact at any partitioning); the seed is the MIN id and each
    argmax breaks ties by id ASC, so the selection sequence is unique
    and hash-stable (the bpe_train argmax discipline: ONE row crosses to
    the driver per round).

    Distributed shape: the running state is ``(id, qvec, min_d)`` —
    min_d updates against ONLY the newest center (a map pass with the
    center as a plan literal, no join), because
    ``min(d(x, S ∪ {c})) = min(min_d, d(x, c))``. Per round: one
    map-side update + one TakeOrderedAndProject argmax;
    ``localCheckpoint`` truncates the k-round lineage (the k-core OOM
    lesson).

    Returns ``(rank, id, dist_sq)`` — ``dist_sq`` is the point's
    distance² to the previously-selected set at the moment it was
    chosen (NULL for the seed); rank 1..k in selection order. The last
    row's dist_sq IS the cover radius² witness.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if dim < 1 or quant < 1:
        raise ValueError(f"dim and quant must be >= 1: {dim}, {quant}")
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant).cast("long"),
    )
    state = (
        df.filter(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & (F.size(vec_col) == dim)
        )
        .select(F.col(id_col).alias("_id"), q.alias("_q"))
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    seed_row = state.orderBy("_id").limit(1).collect()
    if not seed_row:
        return spark.createDataFrame(
            [], f"rank long, {id_col} long, dist_sq long"
        )
    selected = [(1, seed_row[0]["_id"], None)]
    center = seed_row[0]["_q"]
    state = state.filter(F.col("_id") != seed_row[0]["_id"]).withColumn(
        "_min_d", F.lit(None).cast("long")
    )
    for rank in range(2, k + 1):
        cvec = F.array(*[F.lit(int(v)).cast("long") for v in center])
        d_new = F.aggregate(
            F.zip_with("_q", cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        state = state.withColumn(
            "_min_d", F.least(F.coalesce(F.col("_min_d"), d_new), d_new)
        ).localCheckpoint(eager=True)
        far = (
            state.orderBy(F.col("_min_d").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not far:
            break
        selected.append((rank, far[0]["_id"], int(far[0]["_min_d"])))
        center = far[0]["_q"]
        state = state.filter(F.col("_id") != far[0]["_id"])
    return spark.createDataFrame(
        selected, f"rank long, {id_col} long, dist_sq long"
    )


def simplified_silhouette(
    points: DataFrame,
    assignments: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dim: int = 64,
    max_abs: float = 2.0,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette (Hruschka/Campello/de Castro
    2004: centroid distances instead of all-pairs — the O(n·k) form that
    scales where Rousseeuw's O(n²) silhouette cannot) — the clustering
    quality audit run after :func:`int_kmeans`: near +1 = tight and
    separated, near 0 = boundary, negative = likely mis-assigned.

    Variant contract (stated, not hidden): distances are the SQUARED
    quantized L2 — the same exact-integer metric the clustering itself
    optimizes — so per point ``a`` = dist² to OWN centroid, ``b`` = min
    dist² to any OTHER centroid, ``s = (b − a) / max(a, b)`` scaled to
    micro-units with one DECIMAL(38,0) truncating div ((b−a)·10⁶ wraps
    int64 at 64-dim·2²⁰-quantized magnitudes). ``s = 0`` when
    ``max(a,b) = 0``; a singleton cluster scores +10⁶ (its centroid IS
    the point — the centroid form has no Rousseeuw 0-convention).
    Centroids are recomputed from the GIVEN assignment (exact component
    sums + floor division, the int_kmeans update rule) — callers get the
    silhouette of the labeling they actually hold, not of the clusterer's
    last internal update.

    Distributed shape: one partial-agg'd groupBy builds the k centroids;
    they travel back as a broadcast 1-row sorted pack and a single
    map-only JVM fold computes (a, b) per point; one final k-key partial
    agg emits the table. Points cross no shuffle with their vectors —
    the only exchanges carry k centroid rows and k result rows.

    Returns ``(cluster, n_points, sil_sum_micro, sil_mean_micro)``;
    ``sil_mean_micro`` is NULL only when k = 1 (no "other" centroid —
    b is undefined).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    for c, where in ((id_col, points), (vec_col, points)):
        if c not in where.columns:
            raise ValueError(f"column {c!r} not in input: {where.columns}")
    for c in (id_col, cluster_col):
        if c not in assignments.columns:
            raise ValueError(
                f"column {c!r} not in assignments: {assignments.columns}"
            )
    offset = int(max_abs) * KMEANS_Q
    pts = points.filter(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
    ).select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * float(KMEANS_Q)).cast("long")
            + F.lit(offset),
        ).alias("_q"),
    )
    lab = assignments.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cid")
    )
    both = pts.join(lab, "_id")
    cents = (
        both.groupBy("_cid")
        .agg(
            F.count("*").alias("_n"),
            F.array(
                *[F.sum(F.col("_q")[i]).alias(f"_s{i}") for i in range(dim)]
            ).alias("_sums"),
        )
        .select("_cid", F.expr("transform(_sums, s -> s div _n)").alias("_cq"))
    )
    pack = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cq"))).alias("_cents")
    )

    def dist(cq):
        return F.aggregate(
            F.zip_with(F.col("_q"), cq, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )

    a_init = F.lit(None).cast("long")
    b_init = F.lit(None).cast("long")
    a_own = F.aggregate(
        F.col("_cents"),
        a_init,
        lambda acc, c: F.when(c["_cid"] == F.col("_cid"), dist(c["_cq"]))
        .otherwise(acc),
    )
    b_other = F.aggregate(
        F.col("_cents"),
        b_init,
        lambda acc, c: F.when(
            c["_cid"] != F.col("_cid"),
            F.least(F.coalesce(acc, F.lit(2**62).cast("long")), dist(c["_cq"])),
        ).otherwise(acc),
    )
    d38 = "decimal(38,0)"
    scored = both.join(F.broadcast(pack)).select(
        "_cid", a_own.alias("_a"), b_other.alias("_b")
    ).withColumn(
        "_smicro",
        F.when(F.col("_b").isNull(), F.lit(None).cast("long"))
        .when(F.greatest("_a", "_b") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"CAST(((CAST(_b AS {d38}) - CAST(_a AS {d38}))"
                f" * CAST(1000000 AS {d38}))"
                f" div CAST(greatest(_a, _b) AS {d38}) AS LONG)"
            )
        ),
    )
    return scored.groupBy(F.col("_cid").alias(cluster_col)).agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("_smicro").cast("long").alias("sil_sum_micro"),
        F.expr("sum(_smicro) div count(*)").cast("long").alias(
            "sil_mean_micro"
        ),
    )


def centroid_drift(
    df: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    quant: int = 1_000,
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-drift distance matrix: exact squared L2 distance
    between every pair of group CENTROIDS — the corpus-drift /
    domain-shift monitor ("did this source's embedding distribution
    move between snapshots?", "which domains are embedding-space
    neighbors?") that needs only sufficient statistics, never a pairwise
    row join. embedding_bucket_purity grades an index's bucketing; this
    grades the CORPUS itself.

    Exactness device: vectors are quantized to integers once
    (``floor(x·quant)`` — the zorder_key rule, stated operational
    semantics), so each group's sufficient statistic is an exact
    integer (Σ-vector, count) pair from ONE aggregation. The centroid
    distance is then the exact cross-multiplied rational
    ``Σ_d (s_ad·n_b − s_bd·n_a)² / (n_a·n_b·quant)²`` floored once to
    micro units — bit-identical anywhere. DECIMAL(38,0) headroom
    demands ``quant·n ≤ 10⁹`` per group (|s·n| ≤ 10¹⁵ → the micro-
    scaled squared sum over ≤128 dims stays under 10³⁸) — guard-raised;
    lower ``quant`` for bigger groups (drift is a centroid-scale
    signal, 3 quantized digits is plenty). Group pairs are emitted
    once (a < b, canonical order).

    Distributed shape: one groupBy over posexploded components
    (map-side combinable; (groups·dims) metadata rows out), centroids
    re-assembled per group, then a groups² metadata self-join — data
    rows are touched exactly once. NULL vectors/groups drop. Returns
    ``(group_a, group_b, n_a, n_b, dist2_micro)``.
    """
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    for c in (group_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    d38 = "decimal(38,0)"
    comps = (
        df.filter(F.col(group_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("_g"),
            F.posexplode(F.col(vec_col)).alias("_d", "_x"),
        )
        .select(
            "_g",
            "_d",
            F.floor(F.col("_x").cast("double") * quant)
            .cast("long")
            .alias("_q"),
        )
    )
    stats = comps.groupBy("_g", "_d").agg(
        F.sum("_q").cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    ).localCheckpoint(eager=True)
    max_n = 10**9 // quant
    over = stats.filter(F.col("_n") > max_n).take(1)
    if over:
        raise ValueError(
            f"group {over[0]['_g']!r} has {over[0]['_n']} rows > "
            f"{max_n} (= 1e9/quant, the DECIMAL(38,0) headroom bound) — "
            "lower quant or sample groups first"
        )
    a = stats.select(
        F.col("_g").alias("ga"), "_d",
        F.col("_s").alias("sa"), F.col("_n").alias("na"),
    )
    b = stats.select(
        F.col("_g").alias("gb"), F.col("_d").alias("_db"),
        F.col("_s").alias("sb"), F.col("_n").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("ga") < F.col("gb")) & (F.col("_d") == F.col("_db"))
    )
    num = (
        f"(CAST(sa AS {d38}) * nb - CAST(sb AS {d38}) * na)"
    )
    return (
        pairs.groupBy("ga", "gb")
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            F.sum(F.expr(f"{num} * {num}")).alias("_num"),
        )
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            F.expr(
                f"CAST(_num * {scale} div"
                f" (CAST(n_a AS {d38}) * n_b * {quant}"
                f"  * CAST(n_a AS {d38}) * n_b * {quant}) AS BIGINT)"
            ).alias("dist2_micro"),
        )
    )
