"""Document deduplication operators (training-data pipeline surface).

Five strategies, all over a ``documents(doc_id, text, ...)``-shaped table:

- exact_dedup          hash-groupBy on the full text, keep min id
- gram_novelty         per-doc fraction of n-grams first seen in an EARLIER
                       doc — substring-level incremental dedup signal
- ngram_jaccard_pairs  EXACT all-pairs n-gram Jaccard via a shared-shingle
                       equi-join (never a cross join) — also the oracle shape
- ngram_containment_pairs  EXACT containment (|A∩B|/min) — subset dup catch
- minhash_lsh_pairs    approximate near-dup pairs via MinHash-LSH banding
                       (the 100-TB scale path; reuses operators/linking.py)
- simhash              64-bit SimHash per document, JVM-only (64 agg bits),
                       + hamming-distance pair search over band prefixes
- embedding_dup_pairs  cosine near-dup over an embedding column

Scale notes: every strategy shuffles on content-derived keys (shingle, band,
hash prefix), so work is proportional to candidate pairs, not |docs|².
Frequent-shingle hotspots in the exact join are capped with a document-
frequency cutoff (stop-shingles are dropped like stop-words).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.operators.linking import minhash_lsh_join, word_ngrams


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text; survivor = min id (deterministic).

    Groups on ``sha2(text, 256)`` — a fixed-width digest — never on the raw
    text: at corpus scale a text grouping key would shuffle-compare every
    byte of every document. The text column still travels once as an
    aggregation payload (all values within a digest group are byte-identical,
    so ``first`` is deterministic in value); NULL text digests to NULL and
    groups together, matching the raw-text grouping semantics.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("_k"))
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .select(id_col, text_col)
    )


def gram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against all earlier documents — the
    substring-level incremental dedup signal (the "fraction of this page
    already seen in the crawl so far" filter of web-corpus pipelines such
    as RefinedWeb/CCNet, which exact- and near-dup matching both miss:
    a fresh page quoting three seen paragraphs is 0.6-stale yet pairs
    with nobody).

    "Earlier" = any document with a smaller ``id_col`` (ingestion order at
    scale). For each document: the count of its DISTINCT word n-grams,
    how many of those were first seen in an earlier document, and the
    stale fraction. Dedup policy is then a filter on ``stale_frac``.

    Distributed shape (no arrays or gram strings ever shuffle):
    explode distinct grams → key every gram by ``xxhash64`` (fixed-width
    shuffle key, same discipline as :func:`exact_dedup`'s sha2 group key)
    → ``min(id)`` per gram key (partial-agg'd — the "first owner" table)
    → join back on the hash key → per-doc count/sum (document-scoped,
    partial-agg'd). A gram-hash collision would alias two distinct grams
    (probability ~2⁻⁶⁴ per pair); the oracle twin keys on the raw gram,
    so the gate would catch a realized collision rather than hide one.

    Documents with fewer than ``n`` tokens have no grams and are absent
    from the output (mirrored by the oracle's unnest semantics).

    Output: ``(id_col, n_grams, n_stale, stale_frac)``.
    """
    ex = doc_gram_hashes(df, id_col=id_col, text_col=text_col, n=n)
    first = ex.groupBy("_h").agg(F.min("_id").alias("_first"))
    flagged = ex.join(first, "_h").select(
        "_id", (F.col("_first") < F.col("_id")).cast("long").alias("_stale")
    )
    return novelty_stats(flagged, id_col=id_col)


def doc_gram_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """``(_id, _h)`` — one row per DISTINCT word n-gram per document, the
    gram carried only as its ``xxhash64`` (fixed-width; gram strings never
    leave the map side). Shared by batch :func:`gram_novelty` and the
    streaming incremental twin (streaming/corpus.py) so the two paths
    cannot drift."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
    ).select("_id", F.xxhash64("_g").alias("_h"))


def novelty_stats(flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc novelty report from a ``(_id, _stale)`` gram-flag table:
    ``(id_col, n_grams, n_stale, stale_frac)`` (document-scoped partial-
    agg'd groupBy). Shared by the batch and streaming novelty paths."""
    return (
        flagged.groupBy("_id")
        .agg(F.count("*").alias("n_grams"), F.sum("_stale").alias("n_stale"))
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_stale",
            (F.col("n_stale").cast("double") / F.col("n_grams").cast("double")).alias(
                "stale_frac"
            ),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003) —
    the PARTIAL-overlap detector: from every sliding window of ``window``
    consecutive word-n-gram hashes, select the minimum; two documents
    sharing any sufficiently long passage are guaranteed to share a
    selected fingerprint, which whole-document fingerprints (min over ALL
    shingles — :func:`nebula_importer_spark.operators.text.fingerprint`)
    and thresholded pair metrics both miss for small overlaps. Candidate
    pairs are then an equi-join on the fingerprint — the same
    content-keyed funnel shape as every LSH family here.

    Hashes are ``md5`` hex strings (engine-reproducible, like the
    SimHash md5 twin); the min is lexicographic, byte-identical across
    engines on hex. Gram OCCURRENCES keep positions (duplicates matter —
    winnowing is positional). Documents with fewer grams than the window
    contribute their single overall min; documents with no grams are
    absent. Plan shape: one explode + ONE exchange on the doc id (both
    window passes share the partition key; the short-doc fallback is a
    conditional projection, not a union — a union would duplicate the
    whole scan+window subtree); the trailing distinct on
    (doc, fingerprint) reuses the doc-id partitioning (hashpartitioning
    on a key subset satisfies the aggregate's ClusteredDistribution), so
    no second exchange. Selected density is ~2/(window+1) of grams.

    Returns ``(id_col, fingerprint)`` distinct rows.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql.window import Window as W

    from nebula_importer_spark.operators.text import _word_ngrams_all

    g = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            _word_ngrams_all(F.coalesce(F.col(text_col), F.lit("")), n)
        ).alias("_pos", "_g"),
    ).select("_id", "_pos", F.md5(F.col("_g").cast("binary")).alias("_h"))
    part = W.partitionBy("_id")
    frame = part.orderBy("_pos").rowsBetween(0, window - 1)
    scored = g.select(
        "_id",
        "_pos",
        F.count("*").over(part).alias("_n"),
        F.min("_h").over(frame).alias("_fp"),
        F.min("_h").over(part).alias("_all"),
    )
    short = F.col("_n") < window
    return (
        scored.filter(short | (F.col("_pos") <= F.col("_n") - window))
        .select(
            "_id",
            F.when(short, F.col("_all")).otherwise(F.col("_fp")).alias("fingerprint"),
        )
        .distinct()
        .select(F.col("_id").alias(id_col), "fingerprint")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥ threshold).

    Counts-based formulation: shingle sets are distinct per doc, so the
    intersection size of a pair is the COUNT of rows the shared-shingle
    equi-join produces for it, and |A ∪ B| = |A| + |B| − |A ∩ B|. The whole
    operator is explode → join on shingle → count per pair → two size
    lookups: shingle ARRAYS never travel through a shuffle and there is no
    per-pair array_intersect/array_union pass (which dominated runtime —
    ~4× faster on the sf0.01 documents table).

    Shingles with document frequency > ``max_shingle_df`` are dropped as
    stop-shingles BEFORE pairing (bounds the hot-key blowup: a shingle seen
    in d docs contributes d² join rows). Sizes are computed over the same
    capped universe, so jaccard stays internally consistent; with any
    corpus where no shingle exceeds the cap (all test scales) the result is
    exactly the uncapped Jaccard.
    """
    sized = _shared_shingle_counts(df, id_col, text_col, n, max_shingle_df)
    return sized.select(
        "id_a",
        "id_b",
        (
            F.col("_inter")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _shared_shingle_counts(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int
) -> DataFrame:
    """Candidate pairs with intersection + per-side set sizes:
    ``(id_a, id_b, _inter, _sza, _szb)`` for id_a < id_b, over the
    stop-shingle-capped universe (shared by the Jaccard and containment
    operators)."""
    sh = df.select(F.col(id_col).alias("_id"), word_ngrams(F.col(text_col), n).alias("_sh"))
    ex = sh.select("_id", F.explode("_sh").alias("_g"))
    rare = (
        ex.groupBy("_g").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_shingle_df)
    )
    ex = ex.join(rare.select("_g"), "_g")
    sizes = ex.groupBy("_id").agg(F.count("*").alias("_sz"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "_g")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("_inter"))
    )
    return inter.join(
        sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza")), "id_a"
    ).join(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb")), "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: ``containment = |A∩B| / min(|A|,|B|)``
    (the Broder containment of the smaller side in the larger). Catches
    subset duplication Jaccard misses — a doc embedded verbatim inside a
    10× larger one has containment 1.0 but Jaccard ≈ 0.1, so a
    Jaccard-thresholded dedup never pairs them. Same shared-shingle
    counts-based machinery as :func:`ngram_jaccard_pairs` (arrays never
    shuffle; stop-shingle cap bounds hot keys) — and the same capped-
    universe semantics: intersection AND set sizes are computed over the
    stop-shingle-capped universe, so containment stays internally
    consistent under the cap and equals the uncapped containment exactly
    whenever no shingle exceeds ``max_shingle_df`` (all test scales)."""
    sized = _shared_shingle_counts(df, id_col, text_col, n, max_shingle_df)
    return sized.select(
        "id_a",
        "id_b",
        (F.col("_inter") / F.least("_sza", "_szb")).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """Approximate near-dup pairs via MinHash-LSH banding.

    Defaults tuned for near-duplicate semantics: WORD 3-gram shingles
    (selective even on tiny-vocabulary corpora, where char shingles make
    every pair a band candidate) and threshold 0.7; the minhash-estimate
    prefilter inside minhash_lsh_join keeps verification off the false
    candidates. Self-join variant — the scale path when the exact
    shared-shingle join is too hot."""
    side = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_t"))
    pairs = minhash_lsh_join(
        side,
        side,  # identical object → join prepares one side (self-join path)
        left_key="id_a",
        right_key="id_b",
        left_text="_t",
        right_text="_t",
        threshold=threshold,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
        shingle_mode=shingle_mode,
        broadcast_right=False,  # self-join: both sides are corpus-sized
    )
    return pairs.filter(F.col("id_a") < F.col("id_b"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash per document — entirely JVM expressions.

    Token hash: ``hash_mode='xxhash64'`` (default, fastest — one JVM hash per
    token, 64 bits) or ``'md5_32'`` (first 8 hex chars of md5 parsed as a
    32-bit value — slightly slower but reproducible in any engine with md5,
    which is how the DuckDB oracle value-checks this operator; pass
    ``bits=32`` with it). Bit k of the signature is the sign of sum over
    tokens of (2*((hash>>k)&1) - 1). One explode + one groupBy with ``bits``
    conditional-sum aggregates (single shuffle). Tokens are ``\\S+`` runs
    (whitespace-only text yields no tokens and therefore no signature row —
    identical semantics across engines, unlike split('') quirks).
    """
    if hash_mode == "xxhash64":
        h = F.xxhash64("_tok")
    elif hash_mode == "md5_32":
        if bits > 32:
            raise ValueError("md5_32 token hashes carry 32 bits; pass bits<=32")
        h = F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 8), 16, 10).cast(
            "long"
        )
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    from nebula_importer_spark.operators.text import NOT_WS

    toks = df.select(
        F.col(id_col).alias("_id"),
        # explicit RE2-compatible class, not \S: Java counts \x0B as
        # whitespace, RE2 (the DuckDB oracle) does not
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(NOT_WS + "+"), F.lit(0))
        ).alias("_tok"),
    ).withColumn("_h", h)
    aggs = [
        F.sum(
            (F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"_b{k}")
        for k in range(bits)
    ]
    sums = toks.groupBy("_id").agg(*aggs)
    sig = None
    for k in range(bits):
        bit = F.when(F.col(f"_b{k}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, k)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return sums.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the ``bits``-wide signature into ``n_blocks``
    equal blocks; any pair within distance < n_blocks agrees on ≥1 block →
    equi-join per block, then exact popcount verification (bit_count). No
    cross join. With ``max_hamming < n_blocks`` the result is EXACT (the
    pigeonhole cover is complete); beyond that it is a high-recall
    approximation (documented, like every LSH family here).
    """
    sigs = simhash(df, id_col, text_col, bits=bits, hash_mode=hash_mode)
    width = bits // n_blocks
    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("_blk_idx", "_blk"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, ["_blk_idx", "_blk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ threshold).

    Blocking: random-hyperplane sign bits split into ``n_bands`` bands
    (hyperplanes drawn once on the driver from a seeded RNG → deterministic
    plan constants); a pair is a candidate if ANY band agrees, giving recall
    1-(1-p^(planes/bands))^bands with p = 1-θ/π (≈0.995 at cosine 0.95 with
    12 planes / 4 bands). Verification: exact cosine over PRE-NORMALIZED
    vectors with a vectorized Arrow-batched pandas UDF (one numpy
    elementwise-multiply/sum per batch) — the SQL higher-order-function dot
    product is interpreted per element and was ~50× slower per candidate.
    Precision is exact either way; only recall is LSH-bounded.
    """
    from pyspark.sql.functions import pandas_udf

    if dim is None:
        # probe one row for the vector width; empty input → empty result
        # (``dim`` should be passed explicitly at scale — no driver probe)
        head = df.select(vec_col).head(1)
        if not head:
            return df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, "
                    "cosine double"
            )
        dim = len(head[0][0])
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    per_band = n_planes // n_bands

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.transform(vec_d, lambda x: x / norm)
    bits = []
    for p in range(n_planes):
        w = F.array(*[F.lit(float(v)) for v in planes[p]])
        dotp = F.aggregate(
            F.zip_with(vec_d, w, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bits.append(F.when(dotp >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")))
    band_keys = []
    for b in range(n_bands):
        key = None
        for r in range(per_band):
            term = F.shiftleft(bits[b * per_band + r], r)
            key = term if key is None else key.bitwiseXOR(term)
        band_keys.append(key)

    # Bands travel WITHOUT the vectors (ids + two longs per row); unit
    # vectors attach to the deduplicated candidate pairs afterwards — at
    # n_bands bands the explode would otherwise shuffle every vector
    # n_bands times and again per colliding pair.
    v = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array(*band_keys)).alias("_band", "_bkt"),
    )
    a, b = v.alias("a"), v.alias("b")
    units = df.select(F.col(id_col).alias("_id"), unit.alias("_u"))
    cand = (
        a.join(b, (F.col("a._band") == F.col("b._band")) & (F.col("a._bkt") == F.col("b._bkt")))
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(units.select(F.col("_id").alias("id_a"), F.col("_u").alias("_ua")), "id_a")
        .join(units.select(F.col("_id").alias("id_b"), F.col("_u").alias("_ub")), "id_b")
    )

    @pandas_udf("double")
    def _cos(ua: pd.Series, ub: pd.Series) -> pd.Series:
        va = np.stack(ua.to_numpy())
        vb = np.stack(ub.to_numpy())
        return pd.Series((va * vb).sum(axis=1))

    return cand.select("id_a", "id_b", _cos("_ua", "_ub").alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring SPANS (the distributed shape of the
    suffix-array substring dedup of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a word position is
    DUPLICATED when the ``n``-gram starting there occurs at least
    ``min_count`` times corpus-wide (all occurrences — within- and
    cross-document both count, exactly the suffix-array criterion);
    consecutive duplicated positions merge into MAXIMAL spans. Whole-doc
    dedup (exact/minhash) misses these: a fresh page quoting one seen
    paragraph pairs with nobody, yet that paragraph should be cut before
    training. Downstream policy filters or clips on the returned spans.

    Distributed shape (the suffix array itself does not distribute; the
    n-gram occurrence table is its scale-out stand-in):

    1. one explode        — positional word n-grams, immediately reduced to
                            ``(id, pos, xxhash64(gram))`` — gram STRINGS
                            never leave the map side (gram_novelty
                            discipline; the oracle twin keys on raw grams,
                            so a realized 64-bit collision surfaces as a
                            gate mismatch rather than being mirrored),
    2. one hash shuffle   — global occurrence count per gram hash
                            (partial-agg'd: tasks emit (hash, count)
                            partials, bytes per distinct gram per task),
    3. one semi-join back — keep duplicated positions (same hash
                            partitioning both sides — no extra exchange),
    4. one id shuffle     — gaps-and-islands: ``pos − row_number()`` is
                            constant exactly on runs of consecutive
                            positions; the grouping agg reuses the window's
                            ``id`` partitioning (key-subset clustering), so
                            the merge adds NO exchange.

    A span of gram positions ``[i..j]`` covers tokens ``i..j+n−1``; spans
    are 1-based inclusive token ranges. ``min_count`` > 2 raises the bar
    to "appears in ≥k places" (the common memorization-risk variant).

    Returns ``(id_col, span_start, span_end, n_dup_grams)`` — one row per
    maximal span; documents with no duplicated position are absent.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    from pyspark.sql.window import Window as W

    from nebula_importer_spark.operators.text import _word_ngrams_all

    pos = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_word_ngrams_all(F.col(text_col), n)).alias("_p0", "_g"),
    ).select("_id", (F.col("_p0") + 1).cast("long").alias("_pos"), F.xxhash64("_g").alias("_h"))
    dup_grams = (
        pos.groupBy("_h")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_h")
    )
    dup_pos = pos.join(dup_grams, "_h", "left_semi").select("_id", "_pos")
    w = W.partitionBy("_id").orderBy("_pos")
    isl = dup_pos.select(
        "_id", "_pos", (F.col("_pos") - F.row_number().over(w)).alias("_grp")
    )
    return (
        isl.groupBy("_id", "_grp")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + F.lit(n - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end", "n_dup_grams")
    )


def select_survivors(
    components: DataFrame,
    quality: DataFrame,
    *,
    node_col: str = "doc_id",
    component_col: str = "canonical_id",
    quality_id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivor selection — the canonicalization step AFTER
    connected components: within each duplicate cluster keep the member
    with the best quality score (ties → smallest id), instead of the
    blind min-id rule. This is what production dedup actually ships: the
    cluster's best-written copy survives, the rest map to it.

    Deterministic contract: the survivor is the max of
    ``(score, -id)`` — an exact argmax with an id tiebreak, no engine
    ordering anywhere. Scores compare as stored (exact for the repo's
    integer-scaled quality metrics; floats compare consistently across
    engines because comparison, unlike accumulation, is order-free).

    Distributed shape: one component-keyed window rank over the cluster
    members (map-side WindowGroupLimit under Spark ≥3.5 since rank ≤ 1),
    after ONE join attaching scores. Cluster sizes are dup-cluster sizes
    — bounded by the upstream pair threshold, not corpus scale. Members
    missing a quality row participate with a NULL score, which sorts
    LAST (they survive only if the whole cluster lacks scores — visible,
    not silently dropped).

    Returns ``(node_col, component_col, survivor_id, is_survivor)`` —
    one row per cluster member, the full rewrite map a downstream join
    applies.
    """
    for c, d, side in (
        (node_col, components, "components"),
        (component_col, components, "components"),
        (quality_id_col, quality, "quality"),
        (score_col, quality, "quality"),
    ):
        if c not in d.columns:
            raise ValueError(f"column {c!r} not in {side} input: {d.columns}")

    from pyspark.sql.window import Window

    q = quality.select(
        F.col(quality_id_col).alias("_qid"), F.col(score_col).alias("_score")
    )
    scored = components.join(
        q, components[node_col] == q["_qid"], "left"
    ).select(node_col, component_col, "_score")
    w = Window.partitionBy(component_col).orderBy(
        F.col("_score").desc_nulls_last(), F.col(node_col).asc()
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    surv = ranked.filter(F.col("_rn") == 1).select(
        F.col(component_col).alias("_c"), F.col(node_col).alias("survivor_id")
    )
    return (
        ranked.join(surv, ranked[component_col] == surv["_c"])
        .select(
            node_col,
            component_col,
            "survivor_id",
            (F.col(node_col) == F.col("survivor_id")).alias("is_survivor"),
        )
    )


def ssjoin_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT threshold set-similarity join with PREFIX FILTERING
    (Chaudhuri et al. ICDE 2006 / Xiao et al. WWW 2008 "PPJoin") — the
    deterministic complement to MinHash-LSH: same output contract as
    :func:`ngram_jaccard_pairs` (id_a < id_b, jaccard ≥ threshold over
    word n-gram sets) but with a candidate generator that is PROVABLY
    COMPLETE, no probabilistic misses and no stop-shingle cap caveat.

    The prefix principle: order the gram universe globally by (document
    frequency, gram) ascending — rarest first. A set of size ``s`` keeps
    only its first ``p = s − ceil(t·s) + 1`` grams in that order; if two
    sets have Jaccard ≥ t they overlap in ≥ ceil(t·max(|A|,|B|)) grams
    and MUST share at least one prefix gram (pigeonhole on the shared
    ordering). Candidates = the equi-join on prefix grams only.

    Scale shape: one gram-df aggregation (the order key), one doc-keyed
    window rank selecting the prefix (rows per doc = its gram count),
    the pair join over PREFIX grams only — fan-out is bounded by
    construction because prefixes hold each doc's RAREST grams (the join
    key frequencies are minimal among all complete filters of this form)
    — then an exact verify that joins each candidate pair's full gram
    sets (candidate-bounded, never corpus²). At threshold 0.8 a 100-gram
    doc exposes 21 grams instead of 100 — and the 21 least-frequent ones.

    Returns ``(id_a, id_b, jaccard)`` — the exact uncapped Jaccard.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from pyspark.sql.window import Window as W

    # floor, not round: t6/1e6 ≤ threshold keeps ceil(t6·s/1e6) ≤ ceil(t·s),
    # so the prefix can only come out LONGER than the theory needs —
    # completeness survives thresholds that are not 1e-6-representable
    t6 = int(threshold * 10**6)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
    )
    gdf = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    sized = ex.join(gdf, "_g")
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    w = W.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_g").asc())
    prefix = (
        sized.withColumn("_r", F.row_number().over(w))
        .join(sizes, "_id")
        # p = sz − ceil(t·sz) + 1, ceil as exact integer arithmetic
        .filter(
            F.col("_r")
            <= F.col("_sz")
            - F.expr(f"({t6} * _sz + {10**6 - 1}) div {10**6}")
            + F.lit(1)
        )
        .select("_id", "_g")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_g")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(ex.alias("fa"), cand["id_a"] == F.col("fa._id"))
        .join(
            ex.alias("fb"),
            (cand["id_b"] == F.col("fb._id"))
            & (F.col("fa._g") == F.col("fb._g")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_inter"))
    )
    scored = inter.join(
        sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza")),
        "id_a",
    ).join(
        sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb")),
        "id_b",
    )
    # threshold test on the double ratio — the SAME comparison
    # ngram_jaccard_pairs and every Jaccard oracle twin use, so the two
    # operators (and the gate) agree bit-for-bit at threshold boundaries
    return scored.select(
        "id_a",
        "id_b",
        (
            F.col("_inter")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def hamming_pairs(
    df: DataFrame,
    id_col: str = "asset_id",
    hash_col: str = "hash64",
    max_dist: int = 3,
    bits: int = 63,
) -> DataFrame:
    """Banded Hamming-distance pair join — all pairs of fixed-width
    integer fingerprints (SimHash, perceptual aHash/dHash) within
    ``max_dist`` flipped bits, WITHOUT an all-pairs scan.

    Pigeonhole completeness: the ``bits``-wide hash is cut into
    ``max_dist + 1`` contiguous bands. Two hashes within Hamming
    distance ``max_dist`` differ in at most ``max_dist`` bands, so at
    least one band is bit-identical — the equi-join on
    ``(band_index, band_value)`` misses NO qualifying pair. The exact
    ``bit_count(xor)`` verify then removes band-collision false
    positives, so the output is exactly the all-pairs result (which is
    what the gate oracle computes — the hash match IS the completeness
    proof).

    Scale shape: candidates = band-value collisions only. Random
    fingerprints collide on a w-bit band with probability 2^-w (w = 15
    for the default 63/4 split), so fan-out is driven by genuinely
    near-duplicate content, not corpus size; the verify join carries
    two BIGINTs per candidate, never payloads. This is the SimHash
    block-join generalized to any precomputed fingerprint column and
    any distance budget.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if max_dist >= bits:
        raise ValueError(
            f"max_dist {max_dist} leaves no discriminating band at {bits} bits"
        )
    for c in (id_col, hash_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")

    n_bands = max_dist + 1
    width = -(-bits // n_bands)  # ceil — last band may be narrower
    h = df.select(
        F.col(id_col).alias("_id"), F.col(hash_col).cast("long").alias("_h")
    ).filter(F.col("_id").isNotNull() & F.col("_h").isNotNull())
    bands = h.select(
        "_id",
        "_h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.shiftright(F.col("_h"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("bv"),
                )
                for i in range(n_bands)
            ])
        ).alias("_b"),
    ).select("_id", "_h", F.col("_b.bi").alias("_bi"), F.col("_b.bv").alias("_bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._bi") == F.col("b._bi"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("long").alias("dist"),
    ).filter(F.col("dist") <= F.lit(max_dist))
