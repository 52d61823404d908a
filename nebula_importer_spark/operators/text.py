"""Text analysis operators (training-data pipeline surface).

All pure JVM expressions (regexp_count / split / length arithmetic) chosen so
each has an exactly-equivalent ANSI-SQL form for the DuckDB oracle:

- token_count          whitespace tokens
- lang_id              n-gram/stopword-ratio heuristic over small wordlists
- quality_score        length / punctuation / stopword-ratio composite
- fingerprint          document fingerprint = min MD5 over char shingles
                       (rolling-hash style; MD5 so Spark and DuckDB agree
                       bit-for-bit — xxhash has no DuckDB twin)
- dup_token_fraction   Gopher-style repetition: repeated-token fraction
- top_ngram_stats      Gopher-style repetition: top n-gram char coverage
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nebula_importer_spark.operators._buckets import guarded_bucket

# Whitespace written as an EXPLICIT class rather than \s/\S: Java regex
# (Spark) counts \x0B (vertical tab) as whitespace, RE2 (the DuckDB oracles)
# does not — the literal class pins both engines to identical RE2 semantics,
# so a \x0B in data cannot silently diverge tokenization (review finding).
WS = "[\t\n\f\r ]"
NOT_WS = "[^\t\n\f\r ]"

# Tiny deterministic stopword lists (heuristic language ID, not a model).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con", "para"],
}


def _word_re(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count(col) -> Column:
    """Whitespace token count (empty/null → 0). regexp_count(NOT_WS+) rather
    than split(): identical semantics in ANSI SQL engines (oracle parity) and
    no empty-string edge case."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(NOT_WS + "+")).cast("long")


def stopword_ratio(col, lang: str = "en") -> Column:
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    hits = F.regexp_count(F.lower(c), F.lit(_word_re(STOPWORDS[lang])))
    toks = token_count(c)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits.cast("double") / toks)


def lang_id(col) -> Column:
    """argmax of per-language stopword ratios; 'und' (undetermined) when all
    zero. Deterministic tie-break: language list order en>de>fr>es."""
    ratios = {lang: stopword_ratio(col, lang) for lang in STOPWORDS}
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        r = ratios[lang]
        cond = r >= best_score
        # strict '>' for later langs is achieved by iterating reversed with >=
        best_lang = F.when((r > 0) & cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, r).otherwise(best_score)
    return best_lang


def quality_score(col) -> Column:
    """Composite quality in [0,1]:
    0.4 * min(tokens/50, 1) + 0.3 * (1 - punct_ratio) + 0.3 * min(stop_en*5, 1).
    A length term, a symbol-noise term, and a natural-language term."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    toks = token_count(c).cast("double")
    nchars = F.greatest(F.length(c).cast("double"), F.lit(1.0))
    punct = F.regexp_count(c, F.lit("[^\\w\t\n\f\r ]")).cast("double") / nchars
    stop = stopword_ratio(c, "en")
    return (
        F.least(toks / F.lit(50.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - punct) * 0.3
        + F.least(stop * 5.0, F.lit(1.0)) * 0.3
    ).alias("quality")


# PII patterns shared by the redactor and its oracle: RE2-safe (no
# lookaround — DuckDB is RE2, Spark is java.util.regex; the intersection
# keeps both engines bit-identical), ordered so earlier redactions cannot
# manufacture later matches.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def pii_counts(col) -> dict[str, Column]:
    """Per-category PII match counts (name → long Column)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return {
        name: F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(col) -> Column:
    """Replace every PII match with its category placeholder. Pure JVM
    regexp_replace chain (zero-shuffle scan-level transform — corpus-prep
    redaction at 100 TB is a map-only pass)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def chunk_documents(df, text_col: str, k: int, id_cols: list[str]):
    """Split each document into consecutive ``k``-token chunks (the
    context-window packing step of training-data prep): returns one row per
    chunk with ``chunk_idx``, ``chunk_text`` and ``n_chunk_tokens`` (< k
    only for the tail chunk). Zero-shuffle: tokenize → slice → posexplode
    is a map-only pass at any scale; empty/null docs produce no rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(c, WS + "+"), lambda t: t != "")
    n = F.size(toks)
    chunks = F.when(n == 0, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(k)).cast("int") - 1),
            lambda i: F.slice(toks, i * k + 1, k),
        )
    )
    return df.select(*id_cols, F.posexplode(chunks).alias("chunk_idx", "_toks")).select(
        *id_cols,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join("_toks", " ").alias("chunk_text"),
        F.size("_toks").cast("long").alias("n_chunk_tokens"),
    )


def dup_token_fraction(col) -> Column:
    """Gopher-style repetition signal: fraction of whitespace tokens that are
    repeats of a token already seen in the same document
    (``(n_tokens − n_distinct_tokens) / n_tokens``; 0 for empty/null docs).

    Map-only JVM expression — corpus-wide repetition filtering at 100 TB is a
    zero-shuffle scan (the unigram analogue of Gopher's duplicate-line /
    duplicate-paragraph fractions; this corpus has no line structure).
    DuckDB twin: ``len(l) − len(list_distinct(l))`` over
    ``regexp_extract_all``."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    toks = F.regexp_extract_all(c, F.lit(NOT_WS + "+"), 0)
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(toks))).cast("double") / n
    )


def _word_ngrams_all(c: Column, n: int) -> Column:
    """ALL word n-gram occurrences (space-joined, duplicates kept — unlike
    ``linking.word_ngrams`` which dedups). Same shifted ``zip_with`` build
    (measured ~8× faster than per-element slice+array_join)."""
    toks = F.regexp_extract_all(c, F.lit(NOT_WS + "+"), 0)
    if n == 1:
        return toks
    sz = F.size(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.filter(grams, lambda x: x.isNotNull())


def top_ngram_stats(df, text_col: str = "text", id_col: str = "doc_id", n: int = 2):
    """Most-frequent word n-gram per document plus the fraction of the
    document's characters its occurrences cover (``count · len(gram) /
    n_chars``) — the Gopher "top n-gram character fraction" repetition
    filter (Rae et al. 2021, §A1.1).

    Distributed shape: explode occurrences → groupBy (doc, gram) →
    ``max(struct(cnt, gram))`` per doc. Both aggregations get map-side
    partial combine, and every key is document-scoped, so the hottest key
    is bounded by the longest document, never by corpus-wide gram
    popularity — this survives a 100× scale-up unchanged. A window
    (row_number over the doc partition) would sort where a max suffices.
    Tie-break on equal counts: lexicographically LARGEST gram (struct max);
    the oracle mirrors with ``ORDER BY cnt DESC, gram DESC``. Documents
    with fewer than ``n`` tokens yield no grams and are absent from the
    output (mirrored by the oracle's unnest).

    Output: ``(id_col, top_gram, top_n, top_gram_char_frac)``.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    ex = df.select(
        F.col(id_col),
        F.length(c).alias("_nc"),
        F.explode(_word_ngrams_all(c, n)).alias("_g"),
    )
    cnt = ex.groupBy(id_col, "_nc", "_g").agg(F.count("*").alias("_cnt"))
    top = cnt.groupBy(id_col, "_nc").agg(
        F.max(F.struct(F.col("_cnt").alias("cnt"), F.col("_g").alias("gram"))).alias("_top")
    )
    return top.select(
        F.col(id_col),
        F.col("_top.gram").alias("top_gram"),
        F.col("_top.cnt").alias("top_n"),
        (
            F.col("_top.cnt") * F.length("_top.gram")
            / F.greatest(F.col("_nc").cast("double"), F.lit(1.0))
        ).alias("top_gram_char_frac"),
    )


def domain_vocab_stats(
    df,
    *,
    domain_col: str = "source",
    text_col: str = "text",
):
    """Per-domain corpus statistics: document count, total whitespace tokens,
    vocabulary size (distinct tokens), and type-token ratio — the
    "what does each slice of the mix look like" report of corpus prep.

    Two subplans joined on the (tiny) domain key: a map-side-combined scan
    agg for counts/totals, and explode(array_distinct) → two-level distinct
    for the vocabulary (keys are (domain, token) — popular tokens don't
    hot-spot because each doc contributes a token at most once, and the
    count itself is a partial-agg'd groupBy, never a countDistinct expand).
    At 100-TB scale swap the exact vocabulary for approx_count_distinct —
    the one-line variant is noted rather than defaulted so the oracle stays
    exact.

    Output: ``(domain_col, n_docs, total_tokens, vocab, ttr)``.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.regexp_extract_all(c, F.lit(NOT_WS + "+"), 0)
    totals = df.groupBy(domain_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
    )
    vocab = (
        df.select(F.col(domain_col), F.explode(F.array_distinct(toks)).alias("_tok"))
        .distinct()
        .groupBy(domain_col)
        .agg(F.count("*").alias("vocab"))
    )
    return totals.join(vocab, domain_col, "left").select(
        F.col(domain_col),
        "n_docs",
        "total_tokens",
        F.coalesce("vocab", F.lit(0)).cast("long").alias("vocab"),
        F.when(F.col("total_tokens") == 0, F.lit(0.0))
        .otherwise(F.coalesce("vocab", F.lit(0)).cast("double") / F.col("total_tokens"))
        .alias("ttr"),
    )


def corpus_filter_flags(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 5000,
    max_symbol_ratio: float = 0.2,
    max_dup_token_frac: float = 0.6,
    min_stopword_ratio: float = 0.02,
):
    """C4/Gopher-style quality rule cascade: every document gets a
    ``keep`` verdict plus the FIRST failing rule's name (``reject_reason``,
    null when kept). Rule order (fixed, documented, mirrored by the oracle):
    ``too_short → too_long → high_symbol → repetition → low_stopword``.

    Map-only JVM expressions end-to-end — a 100-TB corpus-cleaning pass is a
    single zero-shuffle scan, and keeping the reason column makes the drop
    auditable (the per-rule drop counts a pipeline reports come free from a
    groupBy on reject_reason). Every signal reuses an oracle-proven
    expression (token_count, dup_token_fraction, stopword_ratio, the
    text_quality symbol ratio).

    Output: ``(id_col, n_tokens, keep, reject_reason)``.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = token_count(c)
    nchars = F.greatest(F.length(c).cast("double"), F.lit(1.0))
    symbol = F.regexp_count(c, F.lit("[^\\w\t\n\f\r ]")).cast("double") / nchars
    dup = dup_token_fraction(c)
    stop = stopword_ratio(c, "en")
    reason = (
        F.when(toks < min_tokens, F.lit("too_short"))
        .when(toks > max_tokens, F.lit("too_long"))
        .when(symbol > max_symbol_ratio, F.lit("high_symbol"))
        .when(dup > max_dup_token_frac, F.lit("repetition"))
        .when(stop < min_stopword_ratio, F.lit("low_stopword"))
    )
    return df.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


def bpe_pair_counts(
    df,
    text_col: str = "text",
    min_count: int = 1,
):
    """Corpus-wide adjacent-symbol pair counts — the inner statistic of
    BPE tokenizer training (the pair with the max count is the next
    merge). One BPE training step at corpus scale is exactly this table.

    Distributed shape — the part that matters at 100 TB: the corpus text
    is touched ONCE, to build the word frequency table (explode tokens +
    one partial-agg'd groupBy); pair enumeration then runs over the
    VOCABULARY (distinct words — millions of rows, not terabytes),
    weighting each word's pairs by its corpus frequency. This is the same
    vocabulary-first factorization real BPE trainers use, and it means
    adding merge rounds later re-reads the small side only. Pairs are
    character pairs within tokens (``NOT_WS``-run tokenization, same
    class as every other operator here); counts include multiplicity
    within a word ("aaa" contributes "aa" twice per occurrence).

    Returns ``(pair, pair_count)`` with ``pair_count >= min_count``.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = df.select(
        F.explode(F.regexp_extract_all(c, F.lit(NOT_WS + "+"), F.lit(0))).alias("_w")
    )
    freq = toks.groupBy("_w").agg(F.count("*").alias("_f"))
    chars = F.split(F.col("_w"), "")
    shifted = F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(chars, shifted, lambda x, y: F.concat(x, y)),
        lambda p: p.isNotNull() & (F.length(p) == 2),
    )
    out = (
        freq.select("_f", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("_f").alias("pair_count"))
    )
    if min_count > 1:
        out = out.filter(F.col("pair_count") >= min_count)
    return out


def bigram_lm_score(
    score_df,
    train_df=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    precision: int = 1_000_000,
):
    """Bigram language-model perplexity scoring — the CCNet-style quality
    filter (Wenzek et al. 2020): train add-one-smoothed bigram counts on a
    reference corpus, score each document's per-token cross-entropy; high
    perplexity = off-distribution text, the classic pretraining-data
    quality signal. ``P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V + 1)`` with
    ``V`` the train vocabulary size and plain-unigram denominators (the
    standard approximation); unseen bigrams/contexts degrade smoothly to
    the additive floor.

    Partition-order-proof by construction (same ethos as the
    exact-integer PageRank/HITS): a float SUM of per-bigram logs would be
    accumulation-order-dependent and could hash-diverge from the oracle,
    so each term is floored to integer micro-nats
    (``floor(ln(p) * precision)``) and the per-doc SUM runs over exact
    integers; the final cross-entropy is a single deterministic division
    and ``exp`` (one libm call per output row, the ``graph_pmi``
    precedent).

    Distributed shape: train-side unigram/bigram counts shuffle only as
    ``xxhash64`` keys (token strings never travel as exchange keys —
    a realized collision would surface as a gate diff against the
    raw-string oracle, not be mirrored); the vocabulary size is a 1-row
    broadcast; scoring is two equi-joins on 64-bit keys; the per-doc
    reduce is a partial-agg'd groupBy on the doc id. At 100 TB the count
    tables are vocabulary-sized (Zipf-bounded), not corpus-sized, and
    AQE picks broadcast when they fit.

    Documents with fewer than 2 tokens have no bigrams and are absent.
    Returns ``(id_col, n_bigrams, cross_entropy, perplexity)`` with the
    floats rounded to 6 places.
    """
    if train_df is None:
        train_df = score_df
    tc = F.coalesce(F.col(text_col), F.lit(""))
    ttoks = train_df.select(F.explode(_word_ngrams_all(tc, 1)).alias("_w"))
    uni = ttoks.groupBy(F.xxhash64("_w").alias("_k1")).agg(
        F.count("*").alias("_cu")
    )
    vocab = ttoks.agg(F.count_distinct(F.xxhash64("_w")).alias("_v"))
    bi = (
        train_df.select(F.explode(_word_ngrams_all(tc, 2)).alias("_g"))
        .groupBy(F.xxhash64("_g").alias("_k2"))
        .agg(F.count("*").alias("_cb"))
    )
    sb = score_df.select(
        F.col(id_col).alias("_id"),
        F.explode(_word_ngrams_all(tc, 2)).alias("_g"),
    )
    terms = (
        sb.select(
            "_id",
            F.xxhash64("_g").alias("_k2"),
            F.xxhash64(F.substring_index("_g", " ", 1)).alias("_k1"),
        )
        .join(bi, "_k2", "left")
        .join(uni, "_k1", "left")
        .join(F.broadcast(vocab))
        .select(
            "_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("_cb"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("_cu"), F.lit(0)) + F.col("_v") + 1)
                )
                * precision
            )
            .cast("long")
            .alias("_micro"),
        )
    )
    per_doc = terms.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("_micro").alias("_s")
    )
    ce = -F.col("_s").cast("double") / (
        F.lit(float(precision)) * F.col("n_bigrams")
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


def kneser_ney_lm_score(
    score_df,
    train_df=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    precision: int = 1_000_000,
):
    """Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1999's benchmark winner) — the stronger sibling of
    :func:`bigram_lm_score`: instead of add-one mass, probability mass
    freed by an absolute discount flows to a CONTINUATION prior
    ("how many contexts does w2 follow?"), the fix for the
    high-frequency-but-one-context failure (the "San Francisco" effect:
    "Francisco" is frequent yet should be unlikely after anything but
    "San").

    ``P(w2|w1) = max(C(w1w2) − d, 0)/C(w1·) + d·N1+(w1·)/C(w1·) · Pc``
    with the textbook discount ``d = 3/4`` kept as an exact rational
    (the whole term becomes ONE integer fraction — numerator
    ``max(4·C−3,0)·Dp + 3·N1+(w1·)·(N1+(·w2)+1)``, denominator
    ``4·C(w1·)·Dp``), and the continuation prior add-one-floored over
    ``Dp = types + V + 1`` so unseen continuations keep nonzero mass.
    Unseen contexts back off to the prior alone. Each term is ONE
    ``ln`` of an exactly-computed int64 fraction, floored to micro-nats
    (the bigram_lm_score discipline — floats never accumulate). The
    int64 products bound the corpus at ``C(w1·)·Dp < 2^61`` —
    beyond that, shard the LM or scale counts (documented, not silent).

    Distributed shape mirrors bigram_lm_score: count tables shuffle as
    xxhash64 keys (strings never travel as exchange keys), scoring is
    four equi-joins on 64-bit keys + two 1-row broadcasts, the per-doc
    reduce is one partial-agg'd groupBy. The two extra tables (context
    totals, predecessor counts) are vocabulary-sized.

    Returns ``(id_col, n_bigrams, cross_entropy, perplexity)``; docs
    with < 2 tokens are absent.
    """
    if train_df is None:
        train_df = score_df
    tc = F.coalesce(F.col(text_col), F.lit(""))
    tb = train_df.select(F.explode(_word_ngrams_all(tc, 2)).alias("_g")).select(
        "_g",
        F.substring_index("_g", " ", 1).alias("_w1"),
        F.substring_index("_g", " ", -1).alias("_w2"),
    )
    bic = tb.groupBy(F.xxhash64("_g").alias("_k2")).agg(
        F.count("*").alias("_cb")
    )
    ctx = tb.groupBy(F.xxhash64("_w1").alias("_k1")).agg(
        F.count("*").alias("_cw"), F.count_distinct("_w2").alias("_n1")
    )
    pred = tb.groupBy(F.xxhash64("_w2").alias("_kp")).agg(
        F.count_distinct("_w1").alias("_np")
    )
    types = tb.agg(F.count_distinct("_g").alias("_t"))
    vocab = train_df.select(
        F.explode(_word_ngrams_all(tc, 1)).alias("_w")
    ).agg(F.count_distinct("_w").alias("_v"))
    sb = score_df.select(
        F.col(id_col).alias("_id"),
        F.explode(_word_ngrams_all(tc, 2)).alias("_g"),
    )
    joined = (
        sb.select(
            "_id",
            F.xxhash64("_g").alias("_k2"),
            F.xxhash64(F.substring_index("_g", " ", 1)).alias("_k1"),
            F.xxhash64(F.substring_index("_g", " ", -1)).alias("_kp"),
        )
        .join(bic, "_k2", "left")
        .join(ctx, "_k1", "left")
        .join(pred, "_kp", "left")
        .join(F.broadcast(types))
        .join(F.broadcast(vocab))
    )
    dp = F.col("_t") + F.col("_v") + 1
    npp = F.coalesce(F.col("_np"), F.lit(0)) + 1
    num_seen = (
        F.greatest(4 * F.coalesce(F.col("_cb"), F.lit(0)) - 3, F.lit(0)) * dp
        + 3 * F.col("_n1") * npp
    )
    den_seen = 4 * F.col("_cw") * dp
    micro = F.floor(
        F.log(
            F.when(F.col("_cw").isNotNull(), num_seen / den_seen)
            .otherwise(npp / dp)
        )
        * precision
    ).cast("long")
    per_doc = joined.select("_id", micro.alias("_micro")).groupBy("_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("_micro").alias("_s")
    )
    ce = -F.col("_s").cast("double") / (
        F.lit(float(precision)) * F.col("n_bigrams")
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


def fingerprint(col, shingle_n: int = 8) -> Column:
    """Rolling document fingerprint: min MD5 digest over all char n-gram
    shingles (n=8). Equal texts → equal fingerprints; near-equal texts
    usually share the minimal shingle (winnowing-style robustness)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    shingles = F.when(F.length(c) < shingle_n, F.array(c)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (shingle_n - 1)),
            lambda i: F.substring(c, i, shingle_n),
        )
    )
    return F.array_min(F.transform(shingles, F.md5))


TILE_SCALE = 10**12  # jaccard 1.0 == 10^12; same unit as the other scaled ratios


def topic_tiles(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 16,
    threshold_scaled: int = 550_000_000_000,
    scale: int = TILE_SCALE,
):
    """TextTiling-style topic segmentation (Hearst 1997) in its fixed-size
    pseudo-sentence form: split each document into consecutive
    ``block_tokens``-token blocks, score adjacent blocks by distinct-token
    Jaccard, and start a new segment wherever cohesion drops below the
    threshold. The long-document preprocessing step a training pipeline
    runs before chunking — tile boundaries are semantically better cut
    points than fixed offsets (compare :func:`chunk_documents`, which this
    composes with).

    Exact-integer contract: the Jaccard is ``scale·|A∩B| div |A∪B|`` over
    distinct-token COUNTS — floor division on longs, bit-identical in any
    engine/aggregation order, so the output is driver-hashable (the same
    reason PageRank here is integer-scaled).

    Distributed shape: tokens explode map-side with their positions;
    ONE dedup exchange on the fixed-width (doc, block, token) key; block
    sizes and adjacent-block intersections are partial-agg'd counts (the
    intersection is an equi-join on (doc, token, block) — the shifted
    copy, never a doc-wide product); boundary flags + the running segment
    id ride one per-doc window over the BLOCK table (|doc|·blocks rows,
    ~tokens/16 — orders of magnitude smaller than the token table). No
    arrays cross a shuffle; token strings travel once, into the dedup.

    Returns ``(id_col, seg_id, start_blk, end_blk, n_blocks)`` — one row
    per tile, ``seg_id`` 1-based in block order.
    """
    from pyspark.sql import Window

    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    for reserved in ("pos", "token", "blk", "_n", "_nb", "_i", "_j", "_b", "seg_id"):
        if id_col == reserved:
            raise ValueError(f"id_col may not be the reserved name {reserved!r}")

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(lower(coalesce({text_col}, '')), "
                f"'{NOT_WS}+', 0)"
            )
        ).alias("pos", "token"),
    )
    bt = toks.select(
        id_col, F.expr(f"pos div {block_tokens}").alias("blk"), "token"
    ).distinct()
    sz = bt.groupBy(id_col, "blk").agg(F.count("*").alias("_n"))
    nxt = bt.select(id_col, (F.col("blk") - 1).alias("blk"), "token")
    inter = (
        bt.join(nxt, [id_col, "blk", "token"])
        .groupBy(id_col, "blk")
        .agg(F.count("*").alias("_i"))
    )
    szb = sz.select(id_col, (F.col("blk") - 1).alias("blk"), F.col("_n").alias("_nb"))
    j = (
        sz.join(szb, [id_col, "blk"])
        .join(inter, [id_col, "blk"], "left")
        .select(
            id_col,
            "blk",
            F.expr(
                f"({scale} * coalesce(_i, 0)) div (_n + _nb - coalesce(_i, 0))"
            ).alias("_j"),
        )
    )
    jprev = j.select(id_col, (F.col("blk") + 1).alias("blk"), "_j")
    flags = (
        sz.select(id_col, "blk")
        .join(jprev, [id_col, "blk"], "left")
        .select(
            id_col,
            "blk",
            F.when(
                (F.col("blk") > 0)
                & (F.coalesce("_j", F.lit(0)) < threshold_scaled),
                1,
            )
            .otherwise(0)
            .alias("_b"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("blk")
    seg = flags.select(
        id_col, "blk", (F.lit(1) + F.sum("_b").over(w)).cast("long").alias("seg_id")
    )
    return seg.groupBy(id_col, "seg_id").agg(
        F.min("blk").cast("long").alias("start_blk"),
        F.max("blk").cast("long").alias("end_blk"),
        F.count("*").cast("long").alias("n_blocks"),
    )


def strip_boilerplate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_line_df: int = 1,
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb cleaning
    step): drop every line whose trimmed form appears in MORE THAN
    ``max_line_df`` distinct documents — navigation chrome, cookie
    banners, repeated headers — while keeping each document's remaining
    lines in their original order. Line-level dedup catches what
    document-level dedup structurally cannot: the 90%-unique page whose
    first 10 lines are the same site template.

    Exactness contract: lines are ``split(text, sep)`` with trimmed
    EXACT matching (no normalization beyond trim — normalize upstream if
    wanted); blank lines are never counted as boilerplate and never
    dropped; reassembly is ``concat_ws(sep)`` over the kept lines in
    position order — all values carried, hash-stable.

    Distributed shape: one posexplode (map-side), the line-frequency
    count is ONE partial-agg'd groupBy on ``xxhash64(trimmed line)`` —
    the fixed-width digest, never the line string, travels as the
    shuffle key (the exact_dedup lesson) — then one hash-keyed join back
    and one doc-keyed reassembly agg whose state is the document's own
    line count. ``count_distinct(doc)`` makes within-doc repetition
    irrelevant to the document-frequency semantics.

    Returns ``(id_col, clean_text, n_lines, n_dropped)``.
    """
    if max_line_df < 1:
        raise ValueError(f"max_line_df must be >= 1, got {max_line_df}")
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"column {c!r} not in input: {docs.columns}")

    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            # \Q...\E: split on the LITERAL separator (split's pattern
            # arg is a Java regex)
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit("\\Q" + sep + "\\E"),
                -1,
            )
        ).alias("_pos", "_line"),
    ).withColumn("_t", F.trim(F.col("_line")))
    keyed = lines.withColumn("_h", F.xxhash64(F.col("_t")))
    bp = (
        keyed.filter(F.col("_t") != "")
        .groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_line_df)
        .select("_h", F.lit(True).alias("_bp"))
    )
    flagged = keyed.join(bp, "_h", "left").select(
        id_col,
        "_pos",
        "_line",
        (F.col("_bp").isNotNull() & (F.col("_t") != "")).alias("_drop"),
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop"),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_drop").cast("long")).cast("long").alias("n_dropped"),
    )


def hashed_features(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    use_bigrams: bool = True,
    salt: str = "hf",
) -> DataFrame:
    """Hashing-trick bag-of-terms featurization (fastText / VW style):
    unigrams (and word bigrams) hash into ``n_buckets`` counting buckets —
    the fixed-width feature vector a quality/language/topic classifier
    trains on, with NO vocabulary to build, broadcast, or version. The
    collision trade is the standard one: at 100 TB the win is that the
    featurizer is stateless — any executor featurizes any shard with zero
    coordination, and train/serve skew is impossible.

    Buckets come from the first 8 hex chars of ``md5(salt ‖ term)`` mod
    ``n_buckets`` (the repo's engine-portable hashing convention —
    sampling.py, SimHash) so the DuckDB oracle reproduces them exactly.
    Terms are NOT_WS-run tokens; bigrams join adjacent tokens with a
    single space.

    Distributed shape: map-side term explode, one (doc, bucket)
    partial-agg'd count, one doc-keyed assembly into the dense
    ``array<long>`` (state = n_buckets longs per doc). Documents with no
    terms emit the zero vector — present, not dropped.

    Returns ``(id_col, features array<long>, n_terms)``.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"column {c!r} not in input: {docs.columns}")

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
    base = docs.select(F.col(id_col), terms.alias("_terms"))
    exploded = base.select(
        id_col, F.explode_outer("_terms").alias("_term")
    ).select(
        id_col,
        F.when(
            F.col("_term").isNotNull(),
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), F.col("_term"))), 1, 8),
                16,
                10,
            ).cast("long")
            % F.lit(n_buckets),
        ).alias("_b"),
    )
    bucketed = exploded.groupBy(id_col, "_b").agg(
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("_n")
    )
    assembled = bucketed.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("_b").isNotNull(),
                    F.struct(F.col("_b"), F.col("_n")),
                )
            )
        ).alias("_m"),
        F.sum("_n").cast("long").alias("n_terms"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("long")), F.lit(0).cast("long")
        ),
    )
    return assembled.select(id_col, vec.alias("features"), "n_terms")


# Accent fold map (lowercase, applied AFTER lower()): explicit 1:1 literal
# pairs so Spark translate() and DuckDB translate() perform the IDENTICAL
# mapping — never a locale/ICU-dependent strip_accents. Multi-char
# expansions (æ→ae, œ→oe, ß→ss) are replace() steps, translate is 1:1.
ACCENT_SRC = (
    "àáâãäåāăąèéêëēĕėęěìíîïĩīĭįòóôõöōŏőùúûüũūŭůűų"
    "çćĉċčñńņňýÿŷšśşžźżđďğĝĥĵķĺļľłŕŗřţťŧŵ"
)
ACCENT_DST = (
    "aaaaaaaaaeeeeeeeeeiiiiiiiioooooooouuuuuuuuuu"
    "cccccnnnnyyyssszzzddgghjkllllrrrtttw"
)
assert len(ACCENT_SRC) == len(ACCENT_DST)


def normalize_text(col, *, fold_accents: bool = True, drop_punct: bool = False) -> Column:
    """Canonical text-normalization for dedup/matching (the CCNet /
    RefinedWeb cleaning step run BEFORE hashing): lowercase → fold the
    explicit accent map → control chars to spaces → collapse whitespace
    runs → trim. Near-duplicate pairs that differ only in case, accents,
    or whitespace become EXACT duplicates, so the cheap sha2 dedup path
    catches them before the shingle funnels ever run.

    Determinism contract: every step is a literal 1:1 mapping or an
    RE2-safe explicit character class (the module's WS discipline) — no
    locale, no ICU, no Unicode-version dependence — so Spark and the
    DuckDB oracle normalize bit-identically. ``drop_punct=True``
    additionally removes ASCII non-word/non-space chars (matching-key
    use; keep the default for corpus text, where punctuation is signal).

    Pure map-side Column expression: zero exchanges, composes with
    exact_dedup / ngram funnels / fingerprints by wrapping their text
    input. NULL stays NULL (a missing document is not an empty one).
    """
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    # multi-char expansions first (translate cannot grow strings)
    for src, dst in (("æ", "ae"), ("œ", "oe"), ("ß", "ss")):
        c = F.replace(c, F.lit(src), F.lit(dst))
    if fold_accents:
        c = F.translate(c, ACCENT_SRC, ACCENT_DST)
    # C0 controls + DEL become spaces (a control is a separator, not glue:
    # "a\x00b" must not collapse to "ab"), then runs collapse, then trim
    c = F.regexp_replace(c, r"[\x00-\x1F\x7F]", " ")
    if drop_punct:
        c = F.regexp_replace(c, r"[^a-z0-9_ ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def luhn_valid(col) -> Column:
    """Luhn mod-10 checksum validation (ISO/IEC 7812) of a digit string —
    the step that separates a REAL payment-card number from 16 random
    digits, cutting the false-positive rate of regex-only card redaction
    by ~10× (every CC regex also matches order ids, timestamps and phone
    digit runs; only ~1 in 10 of those passes Luhn).

    Pure integer Column expression: digits reversed, odd positions
    doubled with the >9 → −9 fold, one aggregate sum, ``% 10 == 0``.
    No UDF, no regex backtracking — whole-stage codegen, and the same
    transform/list_sum form exists verbatim in the oracle dialect.
    NULL, empty, or non-digit input is NULL (not false — unparseable is
    not the same claim as checksum-failed).
    """
    if not isinstance(col, str):
        # the checksum expression references the column BY NAME inside
        # aggregate(); project composed expressions to a named column first
        raise ValueError("luhn_valid takes a column NAME")
    c = F.col(col)
    digits_ok = c.rlike("^[0-9]+$")
    check = F.expr(
        f"aggregate(transform(split(reverse({col}), ''), (d, i) -> "
        "CASE WHEN i % 2 = 1 THEN "
        "  CASE WHEN int(d) * 2 > 9 THEN int(d) * 2 - 9 ELSE int(d) * 2 END "
        "ELSE int(d) END), 0, (acc, x) -> acc + x) % 10 = 0"
    )
    return F.when(c.isNull() | ~digits_ok, F.lit(None)).otherwise(check)


def credit_card_audit(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Checksum-validated payment-card detection: extract every 13-19
    digit run (allowing space/dash separators), strip separators, and
    Luhn-validate — returning one row per CANDIDATE with its verdict,
    the triage queue behind redact_pii's blanket masking (redaction can
    afford false positives; a leak REPORT cannot).

    Map-side explode bounded by candidates-per-doc; the digit string is
    masked to its last 4 in the output (the audit must not itself leak).
    Returns ``(id_col, cc_masked, n_digits, luhn_ok)``.
    """
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    cand = df.select(
        id_col,
        F.explode(
            F.expr(
                f"regexp_extract_all(coalesce({text_col}, ''), "
                "'[0-9](?:[0-9 -]{11,21})[0-9]', 0)"
            )
        ).alias("_raw"),
    ).select(
        id_col,
        F.regexp_replace(F.col("_raw"), "[ -]", "").alias("_digits"),
    )
    sized = cand.filter(
        (F.length("_digits") >= 13) & (F.length("_digits") <= 19)
    )
    return sized.select(
        id_col,
        F.concat(
            F.repeat(F.lit("*"), F.length("_digits") - 4),
            F.substring(F.col("_digits"), -4, 4),
        ).alias("cc_masked"),
        F.length("_digits").cast("long").alias("n_digits"),
        luhn_valid("_digits").alias("luhn_ok"),
    )


def textrank_sentences(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_common: int = 2,
    iterations: int = 4,
    window_tokens: int | None = None,
):
    """Extractive summarization by TextRank (Mihalcea & Tarau 2004):
    sentences are nodes, two sentences of the SAME document sharing
    ≥ ``min_common`` distinct tokens are linked, and the exact-integer
    PageRank (operators/graph.py:pagerank — mass-normalized, floor-div,
    partition-order-proof) ranks them; the best-ranked sentence is the
    document's one-line summary. The unweighted shared-token graph
    keeps the whole pipeline in exact integers end-to-end (classic
    TextRank's similarity weights are floats; the ranking signal
    survives the simplification — the pytest proves the topically
    central sentence wins on a crafted doc).

    Sentence segmentation is RE2-safe (split on ``[.!?]+`` runs — no
    lookbehind, which DuckDB's RE2 lacks); sentences index 1-based over
    the RAW split array and blank segments are filtered AFTER indexing,
    so indices are stable across engines. For unpunctuated corpora
    (transcript turns, OCR dumps) pass ``window_tokens``: units become
    consecutive fixed-size token windows instead (the chunk_documents
    split). Sentences with no edge rank 0
    (isolated nodes are outside the pagerank node set by construction);
    a doc whose sentences are all isolated deterministically picks its
    first sentence.

    Distributed shape: the sentence-pair candidate join is an equi-join
    on (doc, token) — within-document fan-out is bounded by sentence
    count, never corpus-wide; the PageRank runs ONCE over the union of
    all per-doc graphs (disconnected components evolve independently, so
    within-doc ranking equals a per-doc run — mass normalization is
    global but comparisons never cross docs).

    Returns ``(id_col, n_sentences, best_sidx, best_rank)``.
    """
    from nebula_importer_spark.operators.graph import pagerank

    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"column {c!r} not in input: {docs.columns}")
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    tc = F.coalesce(F.col(text_col), F.lit(""))
    if window_tokens is not None:
        if window_tokens < 1:
            raise ValueError(f"window_tokens must be >= 1: {window_tokens}")
        toks_all = F.regexp_extract_all(tc, F.lit(NOT_WS + "+"), 0)
        n_t = F.size(toks_all)
        units = F.when(n_t == 0, F.array()).otherwise(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(n_t / F.lit(window_tokens)).cast("int") - 1,
                ),
                lambda i: F.array_join(
                    F.slice(toks_all, i * window_tokens + 1, window_tokens),
                    " ",
                ),
            )
        )
        raw = docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(units).alias("_p0", "_s"),
        )
    else:
        raw = docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(tc, "[.!?]+")).alias("_p0", "_s"),
        )
    sents = raw.select(
        "_id", (F.col("_p0") + 1).alias("_sidx"), F.trim("_s").alias("_s")
    ).filter(F.length("_s") > 0)
    toks = sents.select(
        "_id", "_sidx",
        F.explode(F.array_distinct(F.expr(
            f"regexp_extract_all(_s, '{NOT_WS}+', 0)"
        ))).alias("_w"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._id") == F.col("b._id"))
            & (F.col("a._w") == F.col("b._w"))
            & (F.col("a._sidx") < F.col("b._sidx")),
        )
        .groupBy(
            F.col("a._id").alias("_id"),
            F.col("a._sidx").alias("_i"),
            F.col("b._sidx").alias("_j"),
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_common)
    )
    node = lambda i, s: F.concat(  # noqa: E731
        F.col(i).cast("string"), F.lit("#"), F.col(s).cast("string")
    )
    fwd = pairs.select(node("_id", "_i").alias("src"),
                       node("_id", "_j").alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, iterations=iterations)
    from pyspark.sql.window import Window as W

    scored = (
        sents.withColumn("_node", node("_id", "_sidx"))
        .join(ranks, F.col("_node") == F.col("node"), "left")
        .select(
            "_id", "_sidx",
            F.coalesce(F.col("rank_scaled"), F.lit(0).cast("long"))
            .alias("_rank"),
        )
    )
    w = W.partitionBy("_id").orderBy(F.col("_rank").desc(), F.col("_sidx"))
    best = scored.withColumn("_rn", F.row_number().over(w))
    n = sents.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sentences"))
    return (
        best.filter(F.col("_rn") == 1)
        .join(n, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_sentences").cast("long").alias("n_sentences"),
            F.col("_sidx").cast("long").alias("best_sidx"),
            F.col("_rank").alias("best_rank"),
        )
    )


def log_odds_tokens(
    docs,
    split_col: str,
    text_col: str = "text",
    *,
    min_count: int = 5,
):
    """Differential token analysis between two corpus slices — the
    informative-Dirichlet-prior log-odds z-scores of Monroe, Colaresi &
    Quinn 2008 ("Fightin' Words"), the standard "which words
    characterize THIS slice" comparison for domain drift / contamination
    triage (raw frequency ratios overweight rare words; the prior and
    variance term fix exactly that). ``split_col`` must be boolean —
    True rows form side 1.

    Per token with uniform prior α=1, α0=V:
    ``δ = ln((y1+1)/(n1+V−y1−1)) − ln((y2+1)/(n2+V−y2−1))``,
    ``z = δ / sqrt(1/(y1+1) + 1/(y2+1))``. Counts are exact int64 from
    ONE shared aggregation (both sides in one shuffle via conditional
    sums); δ and z are FIXED chains of exactly-rounded IEEE ops on
    exactly-representable int64 inputs — nothing float ever
    accumulates, so the result is bit-identical on any engine (the
    embedding_correlation discipline).

    Distributed shape: one token explode + ONE partial-agg'd groupBy
    (vocabulary-sized output), totals ride a broadcast 1-row aggregate.
    Returns ``(token, y1, y2, delta, z)`` for tokens with
    ``y1+y2 >= min_count``.
    """
    for c in (split_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"column {c!r} not in input: {docs.columns}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    tc = F.coalesce(F.col(text_col), F.lit(""))
    toks = docs.select(
        F.col(split_col).cast("boolean").alias("_side"),
        F.explode(F.expr(
            f"regexp_extract_all(coalesce({text_col}, ''), '{NOT_WS}+', 0)"
        )).alias("_w"),
    )
    counts = toks.groupBy("_w").agg(
        F.sum(F.when(F.col("_side"), 1).otherwise(0)).cast("long").alias("y1"),
        F.sum(F.when(F.col("_side"), 0).otherwise(1)).cast("long").alias("y2"),
    )
    totals = counts.agg(
        F.sum("y1").cast("long").alias("_n1"),
        F.sum("y2").cast("long").alias("_n2"),
        F.count(F.lit(1)).cast("long").alias("_v"),
    )
    j = counts.crossJoin(F.broadcast(totals)).filter(
        F.col("y1") + F.col("y2") >= min_count
    )
    d1 = (F.col("y1") + 1).cast("double") / (
        F.col("_n1") + F.col("_v") - F.col("y1") - 1
    ).cast("double")
    d2 = (F.col("y2") + 1).cast("double") / (
        F.col("_n2") + F.col("_v") - F.col("y2") - 1
    ).cast("double")
    delta = F.log(d1) - F.log(d2)
    z = delta / F.sqrt(
        F.lit(1.0) / (F.col("y1") + 1).cast("double")
        + F.lit(1.0) / (F.col("y2") + 1).cast("double")
    )
    return j.select(
        F.col("_w").alias("token"), "y1", "y2",
        delta.alias("delta"), z.alias("z"),
    )


def readability(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Exact-integer readability metrics (Flesch 1948 / Kincaid 1975) —
    the classic document-complexity quality signal, computed MAP-ONLY
    (zero Exchange) with every division pinned to integer truncation so
    the result is bit-identical on any engine or layout.

    Pinned contract (documented, both engines implement it verbatim):

    - words     = ``NOT_WS``-run tokens (the repo-wide tokenizer)
    - sentences = runs of ``[.!?]+``, floored to 1 for any non-empty doc
      (a fragment is one sentence, not a division by zero)
    - syllables = vowel-group runs ``[aeiouy]+`` over the lowercased
      text, plus 1 for each token containing NO vowel group (the
      standard min-one-syllable-per-word rule; vowel runs never span
      tokens because whitespace is not a vowel)
    - ``fk_grade_milli``  = trunc((390·W² + 11800·Sy·S − 15590·S·W)
      / (S·W)) — Flesch-Kincaid grade level ×1000 over the common
      denominator S·W; can be negative (trivial text), so the
      truncate-toward-zero semantics of Spark ``div`` and DuckDB ``//``
      (verified to agree on BIGINT) is part of the contract
    - ``reading_ease_milli`` = trunc((206835·S·W − 1015·W² − 84600·Sy·S)
      / (S·W))

    Empty/null docs report zero counts and NULL scores (visible, not
    dropped). Scale: one projection pass, no shuffle, no UDF — the
    whole operator is whole-stage-codegen regexp arithmetic.
    """
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")

    t = F.coalesce(F.col(text_col), F.lit(""))
    lo = F.lower(t)
    words = F.regexp_count(t, F.lit(NOT_WS + "+")).cast("long")
    sents_raw = F.regexp_count(t, F.lit("[.!?]+")).cast("long")
    sents = F.when(words == 0, F.lit(0)).otherwise(
        F.greatest(sents_raw, F.lit(1))
    ).cast("long")
    vruns = F.regexp_count(lo, F.lit("[aeiouy]+")).cast("long")
    novowel = F.size(
        F.filter(
            F.regexp_extract_all(lo, F.lit(NOT_WS + "+"), F.lit(0)),
            lambda w: ~w.rlike("[aeiouy]"),
        )
    ).cast("long")
    sylls = vruns + novowel
    out = df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        sylls.alias("n_syllables"),
    )
    W, S, Sy = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    den = S * W
    grade_num = F.lit(390) * W * W + F.lit(11800) * Sy * S - F.lit(15590) * den
    ease_num = F.lit(206835) * den - F.lit(1015) * W * W - F.lit(84600) * Sy * S
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(den > 0, F.expr(
            f"div({_SQL_GRADE_NUM}, n_sentences * n_words)"
        )).alias("fk_grade_milli"),
        F.when(den > 0, F.expr(
            f"div({_SQL_EASE_NUM}, n_sentences * n_words)"
        )).alias("reading_ease_milli"),
    )


_SQL_GRADE_NUM = (
    "390 * n_words * n_words + 11800 * n_syllables * n_sentences"
    " - 15590 * n_sentences * n_words"
)
_SQL_EASE_NUM = (
    "206835 * n_sentences * n_words - 1015 * n_words * n_words"
    " - 84600 * n_syllables * n_sentences"
)


def vocab_growth(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_points: int = 10,
):
    """Heaps-law vocabulary growth curve — distinct-token count and
    type-token ratio after each prefix of the corpus in crawl order
    (ascending ``id_col``), the instrument behind "how much NEW
    vocabulary does the next crawl tranche buy?" and the sanity check
    that a dedup'd corpus still grows sublinearly (V ≈ K·nᵝ, β < 1; a
    β near 1 means boilerplate or id-like junk is flooding the token
    space).

    Exactness: a token's first appearance is an argmin (the gram_novelty
    first-owner discipline) — ``min(crawl rank of owning doc)`` over one
    partial-agg'd groupBy where token strings shuffle once as grams;
    each token/document then maps to the FIRST checkpoint covering it
    with exact integer math (``p = ceil(rank·P / D)``), so the curve is
    a P-row cumulative sum of exact longs. Crawl ranks come from the
    order-preserving two-level bucket machinery (no global sort).

    Scale shape: one doc-rank pass (distinct ids), one (token → min
    rank) aggregation, two ≤P-row cumulative windows. Returns one row
    per checkpoint: ``(checkpoint, n_docs, n_tokens, vocab, ttr_ppm)``
    where ``ttr_ppm = vocab·10⁶ div n_tokens``.
    """
    if not 1 <= n_points <= 1000:
        raise ValueError(f"n_points must be in [1, 1000], got {n_points}")
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    from pyspark.sql import types as T

    id_type = {f.name: f.dataType for f in df.schema.fields}[id_col]
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"vocab_growth needs an integral crawl-order id: "
            f"{id_col} is {id_type} (a string id would cast to NULL and "
            f"silently drop every document)"
        )
    from pyspark.sql.window import Window as W

    base = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).filter(F.col("_id").isNotNull())

    # crawl rank per doc (ids are distinct): order-preserving buckets +
    # two-level prefix, the exact_auc/token_budget machinery
    ids = base.select(F.col("_id").cast("long").alias("_v")).distinct()
    stats = ids.agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.count(F.lit(1)).alias("_d"),
    )
    bucketed = ids.crossJoin(F.broadcast(stats)).withColumn(
        "_b", guarded_bucket("_v - _mn", 64, op="vocab_growth")
    )
    wloc = W.partitionBy("_b").orderBy("_v").rowsBetween(
        W.unboundedPreceding, -1
    )
    local = bucketed.withColumn(
        "_bl", F.coalesce(F.count(F.lit(1)).over(wloc), F.lit(0))
    )
    totals = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_bt"))
    woff = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_b", F.coalesce(F.sum("_bt").over(woff), F.lit(0)).alias("_off")
    )
    ranks = local.join(F.broadcast(offsets), "_b").select(
        F.col("_v").alias("_rid"),
        (F.col("_bl") + F.col("_off") + 1).cast("long").alias("_r"),
        F.col("_d"),
    )

    toks = base.select(
        F.col("_id").cast("long").alias("_rid"),
        F.explode(F.regexp_extract_all("_t", F.lit(NOT_WS + "+"), F.lit(0))).alias(
            "_w"
        ),
    ).join(ranks, "_rid")
    # first checkpoint covering rank r: p = ceil(r*P/D)
    pexpr = f"div(_r * {int(n_points)} + _d - 1, _d)"
    tok_by_p = toks.select(F.expr(pexpr).alias("_p")).groupBy("_p").agg(
        F.count(F.lit(1)).cast("long").alias("_ntok")
    )
    voc_by_p = (
        toks.groupBy("_w")
        .agg(F.min(F.expr(pexpr)).alias("_p"))
        .groupBy("_p")
        .agg(F.count(F.lit(1)).cast("long").alias("_nvoc"))
    )
    docs_by_p = ranks.select(F.expr(pexpr).alias("_p")).groupBy("_p").agg(
        F.count(F.lit(1)).cast("long").alias("_ndoc")
    )
    spark = df.sparkSession
    grid = spark.range(1, n_points + 1).select(F.col("id").alias("_p"))
    wcum = W.orderBy("_p").rowsBetween(W.unboundedPreceding, 0)
    curve = (
        grid.join(docs_by_p, "_p", "left")
        .join(tok_by_p, "_p", "left")
        .join(voc_by_p, "_p", "left")
        .select(
            "_p",
            F.coalesce("_ndoc", F.lit(0)).alias("_ndoc"),
            F.coalesce("_ntok", F.lit(0)).alias("_ntok"),
            F.coalesce("_nvoc", F.lit(0)).alias("_nvoc"),
        )
        .select(
            F.col("_p").cast("long").alias("checkpoint"),
            F.sum("_ndoc").over(wcum).cast("long").alias("n_docs"),
            F.sum("_ntok").over(wcum).cast("long").alias("n_tokens"),
            F.sum("_nvoc").over(wcum).cast("long").alias("vocab"),
        )
    )
    return curve.select(
        "checkpoint",
        "n_docs",
        "n_tokens",
        "vocab",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("vocab * 1000000L div n_tokens"),
        )
        .cast("long")
        .alias("ttr_ppm"),
    )


def js_divergence(
    df,
    label_col: str,
    group_a: str,
    group_b: str,
    text_col: str = "text",
    precision: int = 1_000_000,
):
    """Jensen–Shannon divergence between two corpus slices' unigram
    token distributions — the symmetric, bounded (≤ ln 2) drift measure
    between domains/languages/snapshots that KL cannot give (KL is
    infinite on any token one side lacks; JSD's mixture midpoint
    absorbs them).

    ``JSD = ½ KL(P‖M) + ½ KL(Q‖M)`` with ``M = (P+Q)/2``; per token the
    log term is ``ln(2p/(p+q))`` where p, q are the slice-relative
    frequencies. Exactness discipline (the bigram_lm/NB ethos): each
    token's log term is floored to integer micro-nats and multiplied by
    its exact count, so both KL sums are exact integers —
    accumulation-order-proof; the probability ratios inside the single
    ``ln`` per distinct token are fixed IEEE double chains
    (``c::double / N``) both engines execute identically. The final
    result is two exact integer divisions and one halving.

    Scale shape: one token-count aggregation shuffling ``xxhash64``
    keys only (the raw-string oracle surfaces any collision), a 1-row
    totals broadcast, ONE final aggregation. Returns one row:
    ``(n_tokens_a, n_tokens_b, vocab_union, jsd_micro)``. Raises if
    either slice has no tokens (a divergence from nothing is not 0).
    """
    if precision < 1:
        raise ValueError(f"precision must be >= 1, got {precision}")
    for c in (label_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    tc = F.coalesce(F.col(text_col), F.lit(""))
    sel = df.filter(F.col(label_col).isin(group_a, group_b)).select(
        (F.col(label_col) == group_a).alias("_isa"),
        F.explode(_word_ngrams_all(tc, 1)).alias("_w"),
    )
    counts = sel.groupBy(F.xxhash64("_w").alias("_k")).agg(
        F.sum(F.when(F.col("_isa"), 1).otherwise(0)).cast("long").alias("_ca"),
        F.sum(F.when(F.col("_isa"), 0).otherwise(1)).cast("long").alias("_cb"),
    )
    tot = counts.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    terms = counts.join(F.broadcast(tot)).select(
        "_ca",
        "_cb",
        "_na",
        "_nb",
        (F.col("_ca").cast("double") / F.col("_na")).alias("_p"),
        (F.col("_cb").cast("double") / F.col("_nb")).alias("_q"),
    )
    micro_a = F.when(
        F.col("_ca") > 0,
        F.col("_ca")
        * F.floor(
            F.log(F.lit(2.0) * F.col("_p") / (F.col("_p") + F.col("_q")))
            * precision
        ).cast("long"),
    ).otherwise(F.lit(0))
    micro_b = F.when(
        F.col("_cb") > 0,
        F.col("_cb")
        * F.floor(
            F.log(F.lit(2.0) * F.col("_q") / (F.col("_p") + F.col("_q")))
            * precision
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = terms.agg(
        F.max("_na").alias("n_tokens_a"),
        F.max("_nb").alias("n_tokens_b"),
        F.count(F.lit(1)).cast("long").alias("vocab_union"),
        F.sum(micro_a).cast("long").alias("_sa"),
        F.sum(micro_b).cast("long").alias("_sb"),
    )
    return agg.select(
        F.when(
            (F.col("n_tokens_a") > 0) & (F.col("n_tokens_b") > 0),
            F.col("n_tokens_a"),
        )
        .otherwise(
            F.raise_error(
                F.lit("js_divergence: a slice has no tokens")
            ).cast("long")
        )
        .alias("n_tokens_a"),
        "n_tokens_b",
        "vocab_union",
        F.expr(
            "div(div(_sa, n_tokens_a) + div(_sb, n_tokens_b), 2L)"
        )
        .cast("long")
        .alias("jsd_micro"),
    )


def compression_signals(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
):
    """Per-document zlib compression ratio — the Gopher/CCNet-class
    quality signal the rule cascade (:func:`corpus_filter_flags`) cannot
    express in SQL: machine-generated or highly repetitive text
    compresses far below natural prose, and near-random noise barely
    compresses at all, so the ratio separates boilerplate, spam, and
    binary-ish junk from language in one number.

    Implementation is an Arrow-batched ``mapInPandas`` kernel (zlib is
    stdlib C; the per-row call costs microseconds against the Arrow
    transfer it rides) — the documented slow-path exception: no Spark or
    DuckDB builtin exposes a compressor, so this operator carries pytest
    model-parity evidence instead of a SQL oracle twin (the same class
    as the remote-source connectors).

    Determinism: zlib output bytes for a fixed (input, level) are
    deterministic within a zlib build, and the repo pins semantics on
    the RATIO's ordering, not exact byte counts, across environments —
    tests assert exact parity against the same interpreter's zlib and
    ordering properties that hold for any conforming deflate.

    Returns ``(id_col, n_bytes, n_compressed, compression_ppm)`` where
    ``compression_ppm = n_compressed·10⁶ div n_bytes`` (0 for empty
    text — stated, not NULL).
    """
    if not 1 <= level <= 9:
        raise ValueError(f"level must be in [1, 9], got {level}")
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")

    import pandas as pd

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    schema = (
        f"{id_col} {dict(df.dtypes)[id_col]}, n_bytes long, "
        "n_compressed long, compression_ppm long"
    )

    def kernel(batches):
        import zlib

        for pdf in batches:
            raw = [
                (t or "").encode("utf-8", "surrogatepass") for t in pdf["_t"]
            ]
            nb = [len(b) for b in raw]
            nc = [len(zlib.compress(b, level)) if b else 0 for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"],
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "n_compressed": pd.Series(nc, dtype="int64"),
                    "compression_ppm": pd.Series(
                        [
                            (c * 10**6) // b if b else 0
                            for b, c in zip(nb, nc)
                        ],
                        dtype="int64",
                    ),
                }
            )

    return src.mapInPandas(kernel, schema)


def mixed_language_profile(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
):
    """Per-document language-consistency profile — the mixed-language
    detector corpus cleaning runs after per-document lang-id: a document
    whose CHUNKS disagree about their language (boilerplate wrappers
    around translated bodies, code-switched spam, concatenation
    artifacts) is a known quality hazard that a single whole-document
    argmax hides.

    Composition of two oracle-proven pieces: :func:`chunk_documents`
    (k-token map-only slicing) and :func:`lang_id` (stopword-ratio
    argmax with the pinned en>de>fr>es tie order) per chunk, then one
    (doc, lang)-keyed partial-agg'd count and a per-doc argmax —
    majority = highest chunk count, ties to the lexicographically
    smallest language (exact ``min(struct(-n, lang))``, no engine
    order). Documents with no tokens produce no row (chunk semantics).

    Returns ``(id_col, n_chunks, n_langs, major_lang, major_ppm,
    is_mixed)`` — ``major_ppm`` is the majority language's chunk share;
    ``is_mixed = n_langs > 1``.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input: {df.columns}")
    ch = chunk_documents(df, text_col, chunk_tokens, [id_col])
    per = ch.select(
        F.col(id_col).alias("_id"), lang_id(F.col("chunk_text")).alias("_l")
    )
    counts = per.groupBy("_id", "_l").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    agg = counts.groupBy("_id").agg(
        F.sum("_n").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min(
            F.struct((-F.col("_n")).alias("nc"), F.col("_l").alias("l"))
        ).alias("_m"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_chunks",
        "n_langs",
        F.col("_m.l").alias("major_lang"),
        F.expr("(-_m.nc) * 1000000L div n_chunks")
        .cast("long")
        .alias("major_ppm"),
        (F.col("n_langs") > 1).alias("is_mixed"),
    )
