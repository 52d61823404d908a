"""Entity linking: broadcast exact join + MinHash-LSH fuzzy blocking.

All JVM-side: shingling via SQL ``transform/sequence/substring``, K
minhashes as one array column (``array_min`` over K xxhash64 seeds of the
shingle array — per-row expressions, no shuffle), banding by hashing R
consecutive minhash slots, and candidate verification with exact Jaccard
on shingle arrays (array_intersect/array_union). No Python UDFs and no
persisted frames anywhere.

Scale shape (the part that must survive 100×):
- dictionary side is dimension-sized → ``F.broadcast`` for the exact and
  anti joins, the band join and the signature join (bands of a
  10^6-alias dict ≈ a few 10^6 rows — still broadcastable; beyond that set
  broadcast_right=False and the band join degrades gracefully to a shuffle
  equi-join on band_key, never to a cross join).
- mention side is deduplicated FIRST (distinct normalized surface forms):
  linking cost scales with |vocabulary|, not |corpus|.

Derived operator per SURVEY §2.8 — the reference's only "linking" surface is
the fixed HASH id function (pkg/picker/converter_function.go:21-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_NUM_HASHES = 12
DEFAULT_BAND_SIZE = 2


def word_ngrams(col, n: int):
    """Array of distinct word n-grams (space-joined) of a text column.

    Built as n-1 ``zip_with`` passes over progressively shifted token
    arrays (zip_with pads the shorter side with null; concat-with-null
    nulls the tail entries, which are filtered). The obvious per-element
    ``transform(slice + array_join)`` formulation allocates a subarray per
    token and measured ~8× slower on the sf0.1 documents table (8.5 s →
    1.0 s for 5000 docs).

    Tokenization is exactly ``NOT_WS+`` (regexp ``\\S+`` under RE2
    semantics): a bare split can emit empty strings for leading/trailing
    whitespace (``F.trim`` strips spaces only, not tabs/newlines), so empty
    tokens are filtered out — otherwise a doc starting with a tab would
    grow a phantom ``' a b'`` gram that the ``regexp_extract_all``-based
    DuckDB oracles never see."""
    c = F.col(col) if isinstance(col, str) else col
    from nebula_importer_spark.operators.text import WS

    toks = F.filter(F.split(c, WS + "+"), lambda t: t != "")
    if n == 1:
        return F.array_distinct(toks)
    sz = F.size(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.array_distinct(F.filter(grams, lambda x: x.isNotNull()))


def _with_shingles(df: DataFrame, text_col: str, n: int, mode: str = "char") -> DataFrame:
    """Add ``_shingles``: distinct char n-grams (mode='char'; strings shorter
    than n map to a single shingle = the string itself) or word n-grams
    (mode='word' — far more selective on small-vocabulary corpora)."""
    c = F.col(text_col)
    if mode == "word":
        return df.withColumn("_shingles", word_ngrams(c, n))
    arr = F.when(F.length(c) < n, F.array(c)).otherwise(
        F.expr(
            f"transform(sequence(1, length(`{text_col}`) - {n - 1}),"
            f" i -> substring(`{text_col}`, i, {n}))"
        )
    )
    return df.withColumn("_shingles", F.array_distinct(arr))


def jaccard(a, b):
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_text: str,
    right_text: str,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
    shingle_mode: str = "char",
    broadcast_right: bool = True,
    est_margin: float = 0.25,
) -> DataFrame:
    """Approximate-similarity join: (left_key, right_key, jaccard) for pairs
    whose n-gram Jaccard ≥ threshold AND that collide in ≥1 LSH band.

    Each side is ONE signature frame: key, distinct shingles and ``_mh``,
    the array of ``num_hashes`` minhashes. Three joins, the right side
    broadcast in two:
      1. band join  — every ``band_size`` consecutive ``_mh`` slots hash to
                      a band key; equality on (band, key), then distinct
                      (left, right) candidates
      2. one signature join per side, then the estimate filter (equal
         ``_mh`` slots / K ≥ threshold - est_margin — kills the false
         candidates low-selectivity corpora produce before any array set
         operation) and exact Jaccard (array_intersect/array_union)
    Nothing is persisted: the signatures are per-row maps, cheaper to
    recompute per plan branch than a cached frame's extra job and scans.
    A self-join (``right is left``) builds one side and renames it.

    Recall follows the LSH s-curve P(collide) = 1-(1-s^band_size)^n_bands;
    with 12 hashes in bands of 2: s=0.5 → ~0.90, s=0.7 → ~0.99. The estimate
    filter's false-negative rate at margin 0.25 is the binomial tail
    P(Binom(K, s) < K·(threshold-margin)) — negligible for s ≥ threshold.

    The minhashes are SQL strings, NOT Python lambdas: PySpark deduplicates
    higher-order-function lambdas by code object, so K structurally
    identical ``lambda s, k=k: xxhash64(s, lit(k))`` closures all collapse
    to the k=0 expression (verified on 4.1.2) — every signature slot came
    out identical and LSH silently lost its seeds.
    """
    # No repartition before the per-row shingling and minhashing:
    # link_mentions passes distinct() output, already spread over the
    # shuffle partitions.
    self_join = right is left and right_key != left_key
    mh = F.array(*[
        F.expr(f"array_min(transform(_shingles, s -> xxhash64(s, {k}L)))")
        for k in range(num_hashes)
    ])

    def signatures(df: DataFrame, key: str, text: str, side: str) -> DataFrame:
        sh = _with_shingles(
            df.select(F.col(key).alias(f"_{side}k"), F.col(text).alias("_t")),
            "_t", shingle_n, shingle_mode,
        )
        return sh.select(f"_{side}k", F.col("_shingles").alias(f"_{side}sh"), mh.alias(f"_{side}mh"))

    def bands(sig: DataFrame, side: str) -> DataFrame:
        slot = F.col(f"_{side}mh")
        keys = F.array(*[
            F.xxhash64(F.lit(b), *[slot[b * band_size + r] for r in range(band_size)])
            for b in range(num_hashes // band_size)
        ])
        return sig.select(f"_{side}k", F.posexplode(keys).alias("_band_idx", "_band_key"))

    l_sig = signatures(left, left_key, left_text, "l")
    if self_join:
        r_sig = l_sig.toDF("_rk", "_rsh", "_rmh")
    else:
        r_sig = signatures(right, right_key, right_text, "r")
    r_bands = bands(r_sig, "r")
    if broadcast_right:
        r_bands, r_sig = F.broadcast(r_bands), F.broadcast(r_sig)
    cand = bands(l_sig, "l").join(r_bands, ["_band_idx", "_band_key"]).select("_lk", "_rk").distinct()
    same_slots = F.expr("size(filter(zip_with(_lmh, _rmh, (a, b) -> a = b), x -> x))")
    return (
        cand.join(l_sig, "_lk")
        .join(r_sig, "_rk")
        .filter(same_slots / F.lit(float(num_hashes)) >= F.lit(max(threshold - est_margin, 0.0)))
        .select(
            F.col("_lk").alias(left_key),
            F.col("_rk").alias(right_key),
            jaccard(F.col("_lsh"), F.col("_rsh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    mention_col: str = "mention_norm",
    alias_col: str = "alias_norm",
    entity_col: str = "entity_id",
    fuzzy_threshold: float = 0.5,
) -> DataFrame:
    """Resolve distinct mention surface forms against the alias dictionary.

    Returns (mention_norm, entity_id, method['exact'|'fuzzy'], score).
    Deterministic tie-breaks: min entity_id on exact; (max jaccard, then min
    entity_id) on fuzzy. Mentions matching nothing are absent from the output
    (callers route them to rejects).

    The distinct mention vocabulary meets the broadcast dictionary three
    times: an inner join (exact links), a left-anti join (the mentions no
    alias spells exactly; they go to minhash_lsh_join) and the entity
    lookup of the fuzzy pairs. Nothing is persisted: each branch plans its
    own vocabulary distinct, and Spark reuses the dictionary's distinct
    shuffle across all of them.
    """
    m = mentions.select(mention_col).distinct()
    d = alias_dict.select(alias_col, entity_col).distinct()
    on_alias = m[mention_col] == d[alias_col]

    exact = (
        m.join(F.broadcast(d), on_alias, "inner")
        .groupBy(mention_col)
        .agg(F.min(entity_col).alias(entity_col))
        .select(
            mention_col,
            entity_col,
            F.lit("exact").alias("method"),
            F.lit(1.0).alias("score"),
        )
    )
    unmatched = m.join(F.broadcast(d), on_alias, "left_anti")
    fuzzy_pairs = minhash_lsh_join(
        unmatched,
        d,
        left_key=mention_col,
        right_key=alias_col,
        left_text=mention_col,
        right_text=alias_col,
        threshold=fuzzy_threshold,
    )
    w = Window.partitionBy(mention_col).orderBy(
        F.col("jaccard").desc(), F.col(entity_col).asc()
    )
    best = (
        fuzzy_pairs.join(F.broadcast(d), alias_col)
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") == 1)
        .select(
            mention_col,
            entity_col,
            F.lit("fuzzy").alias("method"),
            F.col("jaccard").alias("score"),
        )
    )
    return exact.unionByName(best)


def blocking_audit(
    candidates: DataFrame,
    truth: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    scale: int = 10**12,
) -> DataFrame:
    """Pair-completeness / pair-quality audit of a blocking (candidate
    generation) stage — the record-linkage literature's standard pair of
    metrics (Christen 2012): recall = |candidates ∩ truth| / |truth|
    (what fraction of true matching pairs the blocker kept) and
    precision = |candidates ∩ truth| / |candidates|. Run it whenever a
    candidate funnel changes (band count, shingle cap, block width) —
    the number that says whether the cheap stage is silently dropping
    real duplicates before the expensive verify ever sees them.

    Pairs are canonicalized (least/greatest) and deduped on both sides,
    so orientation and repetition cannot skew the counts. Ratios are
    integer-scaled floor divisions (hash-stable); empty truth or empty
    candidates yield NULL for the undefined ratio rather than a fake 0.

    Distributed shape: one pair-key dedup per side, ONE left join of
    truth onto candidate pairs (fixed-width keys), two single-row
    aggregates combined on a literal key (broadcast, never a cartesian).

    Returns one row: ``(n_truth, n_candidates, n_caught, recall_scaled,
    precision_scaled)``.
    """

    def _canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias(id_a),
            F.greatest(F.col(id_a), F.col(id_b)).alias(id_b),
        ).distinct()

    cd = _canon(candidates)
    td = _canon(truth)
    j = td.join(cd.withColumn("_hit", F.lit(1)), [id_a, id_b], "left")
    t_stats = j.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_caught"),
    ).withColumn("_k", F.lit(1))
    c_stats = cd.agg(F.count(F.lit(1)).alias("n_candidates")).withColumn(
        "_k", F.lit(1)
    )
    return (
        t_stats.join(F.broadcast(c_stats), "_k")
        .drop("_k")
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            "n_caught",
            F.when(
                F.col("n_truth") > 0,
                F.expr(f"({scale} * n_caught) div n_truth"),
            ).alias("recall_scaled"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr(f"({scale} * n_caught) div n_candidates"),
            ).alias("precision_scaled"),
        )
    )


def fuzzy_join_editdist(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str = "id_a",
    left_text: str = "name_a",
    right_id: str = "id_b",
    right_text: str = "name_b",
    max_dist: int = 1,
) -> DataFrame:
    """EXACT edit-distance fuzzy join via symmetric-delete blocking
    (Garbe's SymSpell insight, distributed): if ``lev(a, b) <= d`` then the
    sets of strings reachable from ``a`` and ``b`` by deleting at most ``d``
    characters intersect — so an equi-join on deletion variants is a
    COMPLETE candidate generator (zero recall loss, unlike q-gram or LSH
    blocking), and a ``levenshtein() <= d`` verify makes it exact.

    Scale shape: each side explodes to ``1 + C(len, 1) + ... + C(len, d)``
    variant rows (len+1 per string at d=1) — map-side, pure SQL
    ``transform``/``sequence``/``substring``; the join is an equi-join on
    the variant string whose fan-out is bounded by variant-key frequency,
    never |L|×|R|; the verify is JVM ``levenshtein``. Candidates are
    deduplicated on the (id, id) pair BEFORE the verify so a pair sharing
    many variants is verified once. Both sides should be pre-deduplicated
    vocabularies (the link_mentions discipline: cost scales with
    |vocabulary|, not |corpus|).

    ``max_dist`` is capped at 2 — beyond that the variant blow-up
    (C(len,3) ≈ len³/6 rows per string) wants a different algorithm
    (minhash_lsh_join), and the cap keeps the contract honest.

    Returns ``(left_id, right_id, left_text, right_text, dist)`` with
    ``dist <= max_dist``. Reference analog: none — nebula-importer's only
    string matching is exact CSV-column equality; this is the linking
    step its HASH-id world cannot express (SURVEY §2.8).
    """
    if not 0 <= max_dist <= 2:
        raise ValueError(f"max_dist must be in [0, 2], got {max_dist}")
    for df, cols, side in ((left, (left_id, left_text), "left"),
                           (right, (right_id, right_text), "right")):
        for c in cols:
            if c not in df.columns:
                raise ValueError(f"column {c!r} not in {side} input: {df.columns}")

    def _variants(text_col: str):
        s = F.col(text_col)
        del1 = F.expr(
            f"transform(sequence(1, length({text_col})), "
            f"i -> concat(substring({text_col}, 1, i - 1), "
            f"substring({text_col}, i + 1, length({text_col}))))"
        )
        if max_dist == 0:
            return F.array(s)
        if max_dist == 1:
            return F.array_union(F.array(s), del1)
        # d=2: all single deletes of all single deletes, flattened
        del2 = F.expr(
            f"flatten(transform("
            f"  transform(sequence(1, length({text_col})), "
            f"    i -> concat(substring({text_col}, 1, i - 1), "
            f"         substring({text_col}, i + 1, length({text_col})))), "
            f"  v -> transform(sequence(1, length(v)), "
            f"    j -> concat(substring(v, 1, j - 1), "
            f"         substring(v, j + 1, length(v))))))"
        )
        return F.array_union(F.array_union(F.array(s), del1), del2)

    lv = left.select(
        F.col(left_id), F.col(left_text),
        F.explode(_variants(left_text)).alias("_var"),
    )
    rv = right.select(
        F.col(right_id), F.col(right_text),
        F.explode(_variants(right_text)).alias("_var"),
    )
    cand = (
        lv.join(rv, "_var")
        .select(left_id, left_text, right_id, right_text)
        .distinct()
    )
    return cand.select(
        left_id,
        right_id,
        left_text,
        right_text,
        F.levenshtein(F.col(left_text), F.col(right_text)).alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str,
    key_col: str,
    window: int = 5,
    prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the third
    classic candidate generator beside MinHash-LSH (minhash_lsh_join)
    and symmetric-delete (fuzzy_join_editdist): sort records by a
    blocking key and emit every pair within ``window`` positions.
    Linear |R|·window candidates; catches near-matches the others
    price differently (LSH is probabilistic, SymSpell is edit-bounded;
    the neighborhood is whatever the sort key clusters).

    The global sort rank is computed WITHOUT a single-partition sort —
    the two-level exact_auc/token_budget discipline with a STRING key:
    coarse buckets are the key's first ``prefix_len`` characters
    (prefix buckets are ORDER-PRESERVING: every key under 'ab' sorts
    before every key under 'ac'), ranks are local (bucket-keyed window
    ordered by (key, id) — the id tie-break makes ranks unique) plus an
    exclusive prefix over the ≤ |alphabet|^prefix_len bucket totals.
    A hot prefix is a hot bucket — raise ``prefix_len`` for skewed key
    distributions (the knob is the contract, documented not silent).
    Pairing is a rank-bucket equi-join (``rank div window`` joins its
    own and the adjacent bucket) — never a global self-join.

    Returns ``(id_a, id_b, key_a, key_b, rank_dist)`` with
    ``1 <= rank_dist < window``, ids ordered by rank. NULL keys are
    excluded (they have no sort neighborhood).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1, got {prefix_len}")
    for c in (id_col, key_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from pyspark.sql.window import Window as W

    base = df.filter(
        F.col(key_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_k"),
        F.substring(F.col(key_col), 1, prefix_len).alias("_p"),
    )
    local = base.withColumn(
        "_lr",
        F.row_number().over(W.partitionBy("_p").orderBy("_k", "_id")),
    )
    totals = base.groupBy("_p").agg(F.count(F.lit(1)).alias("_n"))
    woff = W.orderBy("_p").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_p",
        F.coalesce(F.sum("_n").over(woff), F.lit(0).cast("long"))
        .alias("_off"),
    )
    ranked = local.join(F.broadcast(offsets), "_p").select(
        "_id", "_k", (F.col("_lr") + F.col("_off")).alias("_r")
    )
    lhs = ranked.select(
        F.col("_id").alias("id_a"), F.col("_k").alias("key_a"),
        F.col("_r").alias("_ra"),
        F.explode(
            F.array(
                F.expr(f"_r div {window}"),
                F.expr(f"_r div {window} + 1"),
            )
        ).alias("_rb"),
    )
    rhs = ranked.select(
        F.col("_id").alias("id_b"), F.col("_k").alias("key_b"),
        F.col("_r").alias("_rbr"),
        F.expr(f"_r div {window}").alias("_rb"),
    )
    return (
        lhs.join(rhs, "_rb")
        .filter(
            (F.col("_rbr") > F.col("_ra"))
            & (F.col("_rbr") - F.col("_ra") < window)
        )
        .select(
            "id_a", "id_b", "key_a", "key_b",
            (F.col("_rbr") - F.col("_ra")).cast("long").alias("rank_dist"),
        )
    )


def linking_ambiguity(
    mentions: DataFrame,
    alias_dict: DataFrame,
    *,
    mention_col: str = "mention_norm",
    alias_col: str = "alias_norm",
    entity_col: str = "entity_id",
) -> DataFrame:
    """Linking-quality audit: for every mention surface form that the
    alias dictionary CAN resolve, how contested is the resolution? The
    link_mentions exact path silently settles one-alias-many-entities
    collisions with MIN(entity_id); this operator makes every such
    tie-break VISIBLE — the dictionary-hygiene report a KG-construction
    owner reads before trusting the canonical graph (nebula-importer is
    handed unambiguous vid mappings in YAML, /root/reference/pkg/spec/
    v3/node.go; an extraction pipeline must audit what it induced).

    Per resolvable mention: occurrence mass (how many mention slots ride
    the pick), candidate count, the winning entity under the exact-link
    MIN rule, and the max-entity witness (so an ambiguous row shows a
    concrete competing id without collecting the full candidate set —
    the kg_conflicts min/max-witness discipline).

    Distributed shape: mentions collapse to their distinct-vocabulary
    counts FIRST (one partial-agg shuffle — the link_mentions
    vocabulary-distinct discipline), the alias dictionary aggregates to
    per-alias candidate stats (dimension-sized, broadcast). One
    broadcast join, no data-sized key ever shuffles twice.

    Returns ``(mention_norm, n_mentions, n_candidates, picked_entity,
    max_entity, ambiguous)`` — ``ambiguous`` a 0/1 long.
    """
    for c, df_, nm in (
        (mention_col, mentions, "mentions"),
        (alias_col, alias_dict, "alias_dict"),
        (entity_col, alias_dict, "alias_dict"),
    ):
        if c not in df_.columns:
            raise ValueError(
                f"column {c!r} not in {nm}: {df_.columns}"
            )
    occ = (
        mentions.select(F.col(mention_col).alias("mention_norm"))
        .filter(F.col("mention_norm").isNotNull())
        .groupBy("mention_norm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
    )
    cand = (
        alias_dict.select(
            F.col(alias_col).alias("mention_norm"),
            F.col(entity_col).alias("_e"),
        )
        .filter(
            F.col("mention_norm").isNotNull() & F.col("_e").isNotNull()
        )
        .distinct()
        .groupBy("mention_norm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.min("_e").alias("picked_entity"),
            F.max("_e").alias("max_entity"),
        )
    )
    return occ.join(F.broadcast(cand), "mention_norm").select(
        "mention_norm",
        "n_mentions",
        "n_candidates",
        "picked_entity",
        "max_entity",
        (F.col("n_candidates") >= 2).cast("long").alias("ambiguous"),
    )


def nil_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    *,
    mention_col: str = "mention_norm",
    alias_col: str = "alias_norm",
    min_cluster: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """NIL detection + surface clustering — the entity-discovery stage
    of an EL pipeline (McNamee & Dang, TAC-KBP): mentions that link to
    NOTHING in the alias dictionary, clustered by normalized surface
    form and ranked by mass, are the candidate NEW entities the next
    dictionary revision should add. link_mentions resolves what the
    dictionary knows; this is the report of what it doesn't.

    Distributed shape: one broadcast-able anti-join against the
    DISTINCT alias surface (vocabulary-sized, the link_mentions
    discipline) + one groupBy on the normalized surface. Surfaces are
    short normalized strings (bounded mention grammar), so the group
    key is acceptable as-is — unlike document text (the exact_dedup
    hash-key rule) there is no long-payload shuffle to avoid; the
    cluster table is vocabulary-sized, not mention-sized.

    Caller supplies ALREADY-NORMALIZED columns on both sides (the same
    normalize_mention both the linker and the dictionary use — stated:
    this op does not re-normalize, so its notion of "unlinked" is
    exactly the linker's). NULL mentions are dropped. Returns one row
    per unlinked surface with ``n_mentions >= min_cluster``:
    ``(mention_norm, n_mentions, unlinked_ppm)`` — ``unlinked_ppm``
    the cluster's exact share of ALL unlinked mention mass (including
    below-threshold clusters, so the visible rows state how much of
    the problem they cover).
    """
    if min_cluster < 1:
        raise ValueError(f"min_cluster must be >= 1, got {min_cluster}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if mention_col not in mentions.columns:
        raise ValueError(
            f"column {mention_col!r} not in mentions: {mentions.columns}"
        )
    if alias_col not in aliases.columns:
        raise ValueError(
            f"column {alias_col!r} not in aliases: {aliases.columns}"
        )
    d38 = "decimal(38,0)"
    vocab = aliases.select(F.col(alias_col).alias("_a")).distinct()
    unlinked = (
        mentions.filter(F.col(mention_col).isNotNull())
        .select(F.col(mention_col).alias("_m"))
        .join(vocab, F.col("_m") == F.col("_a"), "left_anti")
    )
    clusters = unlinked.groupBy("_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions")
    )
    total = clusters.agg(
        F.coalesce(F.sum("n_mentions"), F.lit(0)).alias("_tot")
    )
    return (
        clusters.filter(F.col("n_mentions") >= min_cluster)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("_m").alias(mention_col),
            "n_mentions",
            F.expr(
                f"CAST(CAST(n_mentions AS {d38}) * {scale} div _tot"
                f" AS BIGINT)"
            ).alias("unlinked_ppm"),
        )
    )


def alias_bootstrap(
    links: DataFrame,
    aliases: DataFrame,
    *,
    mention_col: str = "mention_norm",
    entity_col: str = "entity_id",
    alias_col: str = "alias_norm",
    alias_entity_col: str = "entity_id",
    min_count: int = 2,
    min_purity_ppm: int = 800_000,
    scale: int = 1_000_000,
) -> DataFrame:
    """Alias-dictionary bootstrap — the self-training enrichment loop
    of an EL pipeline: surface forms that the linker resolved (fuzzily,
    via coref, via context) to an entity, consistently enough, become
    NEW dictionary rows for the next revision. The quality gates are
    exact integers: ``n_links`` (evidence mass) and ``purity_ppm``
    (how exclusively this surface maps to this entity across ALL its
    links — a surface torn between entities is ambiguity, not a new
    alias; linking_ambiguity audits the dictionary, this op grows it).

    Distributed shape: one (surface, entity) grid aggregation + a
    surface-marginal join on that metadata table + one anti-join
    against the existing (alias, entity) pairs, so already-known
    aliases never resurface. NULL mention/entity rows are dropped.

    Returns ``(mention_norm, entity_id, n_links, n_surface_links,
    purity_ppm)`` for candidates with ``n_links >= min_count`` and
    ``purity_ppm >= min_purity_ppm``.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if not 0 <= min_purity_ppm <= scale:
        raise ValueError(
            f"min_purity_ppm must be in [0, {scale}], got {min_purity_ppm}"
        )
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if mention_col not in links.columns or entity_col not in links.columns:
        raise ValueError(
            f"columns {mention_col!r}/{entity_col!r} not in links: "
            f"{links.columns}"
        )
    if (
        alias_col not in aliases.columns
        or alias_entity_col not in aliases.columns
    ):
        raise ValueError(
            f"columns {alias_col!r}/{alias_entity_col!r} not in aliases: "
            f"{aliases.columns}"
        )
    d38 = "decimal(38,0)"
    grid = (
        links.filter(
            F.col(mention_col).isNotNull() & F.col(entity_col).isNotNull()
        )
        .select(
            F.col(mention_col).alias("_m"), F.col(entity_col).alias("_e")
        )
        .groupBy("_m", "_e")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )
    surf = grid.groupBy("_m").agg(
        F.sum("n_links").cast("long").alias("n_surface_links")
    )
    known = aliases.select(
        F.col(alias_col).alias("_m"), F.col(alias_entity_col).alias("_e")
    ).distinct()
    return (
        grid.join(surf, "_m")
        .join(known, ["_m", "_e"], "left_anti")
        .withColumn(
            "purity_ppm",
            F.expr(
                f"CAST(CAST(n_links AS {d38}) * {scale}"
                f" div n_surface_links AS BIGINT)"
            ),
        )
        .filter(
            (F.col("n_links") >= min_count)
            & (F.col("purity_ppm") >= min_purity_ppm)
        )
        .select(
            F.col("_m").alias(mention_col),
            F.col("_e").alias(entity_col),
            "n_links",
            "n_surface_links",
            "purity_ppm",
        )
    )


#: Letter → Soundex digit map (A..Z). H and W take 0 (vowel-like), i.e.
#: the SIMPLIFIED Soundex variant: classic American Soundex additionally
#: merges same-coded letters separated by H/W, a rule that needs
#: backreferences RE2 (the DuckDB oracle engine) cannot express. The
#: variant is pinned here as the operator contract — every engine
#: computes the same chain, which is what blocking needs (key equality,
#: not archival-standard codes).
SOUNDEX_MAP = "01230120022455012623010202"
_SOUNDEX_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def soundex_key(col) -> Column:
    """Simplified-Soundex phonetic key (see :data:`SOUNDEX_MAP`) as a
    pure expression chain — uppercase, strip non-ASCII-alpha, code
    letters, collapse same-digit runs (six alternation-free regexp
    passes, RE2-safe), drop the first letter's own code, strip the
    vowel zeros, pad/truncate to ``X123`` shape. NULL/empty/no-letter
    input → NULL key. Map-only; the classic ER blocking key (typos that
    preserve sound land in the same block: Robert/Rupert → R163)."""
    c = F.col(col) if isinstance(col, str) else col
    up = F.upper(F.regexp_replace(F.coalesce(c, F.lit("")), "[^A-Za-z]", ""))
    coded = F.translate(up, _SOUNDEX_ALPHA, SOUNDEX_MAP)
    for d in "123456":
        coded = F.regexp_replace(coded, f"{d}{d}+", d)
    digits = F.regexp_replace(F.substring(coded, 2, 1000), "0", "")
    key = F.concat(
        F.substring(up, 1, 1), F.substring(F.concat(digits, F.lit("000")), 1, 3)
    )
    return F.when(up == "", F.lit(None).cast("string")).otherwise(key)


def phonetic_block_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_block_size: int = 1000,
) -> DataFrame:
    """Phonetic candidate pairs: ids whose names share a Soundex key —
    the classic cheap ER blocking step before an edit-distance or
    alias-dictionary verify (SymSpell catches typos that CHANGE sound;
    Soundex catches spelling variants that preserve it — the two
    blockers are complementary). One map-only key projection + one
    key equi-join with ``id_a < id_b``; blocks larger than
    ``max_block_size`` are DROPPED AND REPORTED via the capped-universe
    contract used by cooccurrence_edges (a mega-block is a stop-name —
    pairing inside it is noise at quadratic cost).

    Returns ``(id_a, id_b, skey)``.
    """
    if max_block_size < 2:
        raise ValueError(f"max_block_size must be >= 2, got {max_block_size}")
    for c in (id_col, name_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    keyed = df.select(
        F.col(id_col).alias("_id"), soundex_key(name_col).alias("skey")
    ).filter(F.col("skey").isNotNull() & F.col("_id").isNotNull())
    sizes = keyed.groupBy("skey").agg(F.count(F.lit(1)).alias("_n"))
    ok = keyed.join(
        F.broadcast(sizes.filter(F.col("_n") <= max_block_size).select("skey")),
        "skey",
    )
    a, b = ok.alias("a"), ok.alias("b")
    return (
        a.join(
            b,
            (F.col("a.skey") == F.col("b.skey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.skey").alias("skey"),
        )
    )


def fuse_records(
    records: DataFrame,
    *,
    cluster_col: str = "canonical_id",
    id_col: str = "doc_id",
    fields: list[str] | None = None,
) -> DataFrame:
    """Golden-record field fusion — the master-data step AFTER
    connected components and survivor selection: instead of keeping one
    member's row wholesale (``dedup.select_survivors``), fuse each
    FIELD independently by majority vote across the cluster's members,
    so the golden record combines the most-attested value per column
    (two members agree on the phone, a third has the newer address —
    the fused row takes both).

    Deterministic contract: per (cluster, field) the winning value is
    the exact argmax of ``(vote count, value)`` — count descending,
    value ascending as the tiebreak; NULLs do not vote (a field with no
    non-NULL values fuses to NULL, visible). Values vote as their
    canonical string rendering (document: casts are engine-pinned for
    ints/strings — the repo's id/key types).

    Distributed shape: one melt (|fields| rows per member — map-side),
    one partial-agg'd vote count on (cluster, field, value), one
    top-1 window Spark ≥3.5 plans as WindowGroupLimit, and one
    cluster-keyed pivot back (max-when over |fields| literals). Cluster
    sizes are dup-cluster sizes — bounded by the upstream pair
    threshold, never corpus-scale.

    Returns one row per cluster: ``(cluster_col, n_members,
    fused_<field>...)``.
    """
    if not fields:
        raise ValueError("fields must be a non-empty list of column names")
    for c in [cluster_col, id_col, *fields]:
        if c not in records.columns:
            raise ValueError(f"column {c!r} not in input: {records.columns}")
    from pyspark.sql.window import Window as W

    base = records.filter(
        F.col(cluster_col).isNotNull() & F.col(id_col).isNotNull()
    )
    members = base.groupBy(F.col(cluster_col).alias("_c")).agg(
        F.count_distinct(id_col).cast("long").alias("n_members")
    )
    melted = base.select(
        F.col(cluster_col).alias("_c"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(f).alias("_f"),
                    F.col(f).cast("string").alias("_v"),
                )
                for f in fields
            ])
        ).alias("_m"),
    ).select("_c", F.col("_m._f").alias("_f"), F.col("_m._v").alias("_v"))
    votes = (
        melted.filter(F.col("_v").isNotNull())
        .groupBy("_c", "_f", "_v")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = W.partitionBy("_c", "_f").orderBy(
        F.col("_n").desc(), F.col("_v").asc()
    )
    winners = votes.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    fused = winners.groupBy("_c").agg(
        *[
            F.max(F.when(F.col("_f") == f, F.col("_v"))).alias(f"fused_{f}")
            for f in fields
        ]
    )
    return members.join(fused, "_c", "left").select(
        F.col("_c").alias(cluster_col),
        "n_members",
        *[f"fused_{f}" for f in fields],
    )
