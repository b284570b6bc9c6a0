"""Text analysis over the ``documents`` table — training-data-pipeline ops.

The per-document and corpus-statistics family, every operator oracle-
checked: token stats, quality scoring (+ histogram-ECDF percentiles),
heuristic language ID, fingerprinting, repetition and token-rarity
filters, the bigram-LM score, TF-IDF top terms and sparse idf-cosine
pairs, per-source token drift, PMI collocations, and the vocabulary
build/apply pair. Everything stays in JVM-side column expressions
(whole-stage codegen); shuffles exist only where grouping IS the
semantics, and heavyweight intermediates (exploded token/bigram
frames) are materialized once and reused.
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import h31, h31_sql, h64, h64_sql
from ..functions.text import (
    LANG_MARKERS,
    WS_RE2,
    marker_score,
    marker_score_sql,
    shingles,
    tokens,
    with_shingles,
)
from ..sources.catalog import load_table, spread_small_scan


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting op).

    n_tokens (whitespace), n_distinct tokens, byte/char lengths, mean token
    length — the standard size/quality signals a data pipeline filters on.
    """
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    # BPE-style pre-tokenizer classes (letters | digits | other-symbol runs)
    # — the regex is deliberately flavor-neutral (identical under Java
    # regex and RE2) so both engines count the same tokens.
    bpe_pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        F.expr(f"size(regexp_extract_all(text, '{bpe_pat}', 0))")
        .cast("long")
        .alias("n_bpe_ish"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(t)
        ).alias("mean_tok_len"),
    )


TEXT_TOKEN_STATS_SQL = rf"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len(string_split_regex(text, '{WS_RE2}')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(text, '{WS_RE2}'))) AS BIGINT)
               AS n_distinct,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
               AS BIGINT) AS n_bpe_ish,
           length(replace(text, ' ', ''))
               / len(string_split_regex(text, '{WS_RE2}')) AS mean_tok_len
    FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity +
    whitespace sanity, each an exact-integer-derived double (bit-identical
    across engines). ``keep`` is the pipeline's filter decision."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    diversity = F.size(F.array_distinct(t)) / F.size(t)
    len_score = F.least(F.lit(1.0), F.size(t) / F.lit(100.0))
    ws_ratio = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))) / F.length("text")
    score = F.lit(0.5) * len_score + F.lit(0.3) * diversity + F.lit(0.2) * (F.lit(1.0) - ws_ratio)
    return d.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        score.alias("quality"),
        (score >= F.lit(0.5)).alias("keep"),
    )


TEXT_QUALITY_SQL = rf"""
    WITH t AS (
        SELECT doc_id, text, string_split_regex(text, '{WS_RE2}') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           0.5 * least(1.0, len(toks) / 100.0)
             + 0.3 * (len(list_distinct(toks)) / len(toks))
             + 0.2 * (1.0 - (length(text) - length(replace(text, ' ', '')))
                            / length(text)) AS quality,
           (0.5 * least(1.0, len(toks) / 100.0)
             + 0.3 * (len(list_distinct(toks)) / len(toks))
             + 0.2 * (1.0 - (length(text) - length(replace(text, ' ', '')))
                            / length(text))) >= 0.5 AS keep
    FROM t
"""

_LANGS = list(LANG_MARKERS)  # fixed precedence order for ties


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID: score each candidate language
    by padded-marker occurrence counts; argmax with fixed tie order."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        *[marker_score("text", lg).alias(f"s_{lg}") for lg in _LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANGS])
    guess = F.lit(_LANGS[0])
    # reverse precedence so earlier langs win ties via later overwrite
    for lg in reversed(_LANGS):
        guess = F.when(F.col(f"s_{lg}") == best, F.lit(lg)).otherwise(guess)
    return scored.select(
        "doc_id",
        guess.alias("lang_guess"),
        best.cast("long").alias("marker_hits"),
        (guess == F.col("lang")).alias("agrees_with_label"),
    )


def _lang_id_sql() -> str:
    scores = ", ".join(
        f"({marker_score_sql('text', lg)}) AS s_{lg}" for lg in _LANGS
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in _LANGS) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in _LANGS
    ) + " END"
    return f"""
        WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
        SELECT doc_id,
               {case} AS lang_guess,
               CAST({best} AS BIGINT) AS marker_hits,
               ({case} = lang) AS agrees_with_label
        FROM scored
    """


TEXT_LANG_ID_SQL = _lang_id_sql()


_ROLLING_HASH = (
    "CASE WHEN length(text) > 0 THEN "
    "aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), 0L, "
    "(acc, c) -> (acc * 257 + c) % 2147483647) ELSE 0 END"
)

_ROLLING_HASH_SQL = (
    "CASE WHEN length(text) > 0 THEN "
    "list_reduce(list_transform(range(1, length(text)+1), "
    "i -> CAST(ascii(text[i]) AS BIGINT)), "
    "(acc, c) -> (acc * 257 + c) % 2147483647) ELSE 0 END"
)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact-dup digest (md5), 60-bit content hash,
    a polynomial ROLLING hash (base-257 fold over codepoints, the
    Rabin-Karp signal), and a min-shingle-hash (the 1-permutation MinHash
    / winnowing signal). Docs shorter than 3 tokens get min_shingle_hash
    NULL via left join."""
    # Per-doc rolling hash + shingle explode are CPU-heavy row expanders;
    # a small single-row-group documents scan would pin them to 1-2
    # cores (see spread_small_scan) — measured 14.4 s -> ~4 s at sf1.
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        h64("text").alias("content_h60"),
        F.expr(_ROLLING_HASH).alias("rolling_h31"),
    )
    mins = (
        with_shingles(d.select("doc_id", "text"), "text", 3)
        .groupBy("doc_id")
        .agg(F.min(h31(F.col("shingle"))).alias("min_shingle_hash"))
    )
    return base.join(mins, "doc_id", "left").select(
        "doc_id", "md5_hex", "content_h60", "rolling_h31", "min_shingle_hash"
    )


DOC_FINGERPRINT_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '{WS_RE2}') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    mins AS (
        SELECT doc_id, min({h31_sql('shingle')}) AS min_shingle_hash
        FROM sh GROUP BY doc_id
    )
    SELECT d.doc_id, md5(d.text) AS md5_hex,
           {h64_sql('d.text')} AS content_h60,
           {_ROLLING_HASH_SQL.replace('text', 'd.text')} AS rolling_h31,
           m.min_shingle_hash
    FROM documents d LEFT JOIN mins m ON d.doc_id = m.doc_id
"""


# Gopher-style repetition thresholds (Rae et al. 2021, table A1 — adapted
# from line-based to token-based signals since fixture docs are single-
# line): docs dominated by one repeated token/bigram are boilerplate.
TOP_UNIGRAM_MAX = 0.30
TOP_BIGRAM_MAX = 0.18


def _max_eq_run(arr: str) -> str:
    """SQL expr: the highest multiplicity of any element in array ``arr``,
    computed as the longest run of equal adjacent elements after
    ``array_sort`` — O(n log n) per row instead of the O(distinct · n)
    count-each-distinct form (quadratic for long repetitive docs, the
    exact inputs this filter exists to catch)."""
    return f"""
        aggregate(
            array_sort({arr}),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(x <=> acc.prev, acc.run + 1, 1),
                'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),
            acc -> acc.best)
    """


def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter: top-unigram share, top-bigram share and
    duplicate-token fraction per document, with the keep/drop decision.

    Pure per-row compute (``array_sort`` + ``aggregate`` run-length fold
    inside codegen): no explode, no shuffle — at 100 TB this is an
    embarrassingly-parallel corpus map, O(n log n) in document length,
    with zero exchange. The explode+groupBy formulation would shuffle one
    row PER TOKEN of the corpus (~100x the document count) to compute a
    per-document statistic — the wrong data movement direction. (The
    DuckDB twin keeps the straightforward count-each-distinct form; the
    oracle only needs equal values, not equal plans.)

    Shares divide exact integer counts in IEEE double (bit-identical
    across engines); docs with <2 tokens carry a NULL bigram share and
    are kept on the unigram signal alone.
    """
    # spread_small_scan: the run-length/bigram folds are per-row CPU ×
    # tokens inside the scan stage — a 1-2-partition small scan would
    # pin them (measured 7.3 s at the 10× fixture); no-op on wide scans
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents")
    ).withColumn("t", tokens("text"))
    top_uni = F.expr(_max_eq_run("t")) / F.size("t")
    bigrams = shingles("t", 2)
    top_bi = F.when(
        F.size("t") >= 2,
        F.expr(_max_eq_run("b")) / (F.size("t") - 1),
    )
    dup_frac = (F.size("t") - F.size(F.array_distinct("t"))) / F.size("t")
    return (
        d.withColumn("b", bigrams)
        .select(
            "doc_id",
            top_uni.alias("top_unigram_share"),
            top_bi.alias("top_bigram_share"),
            dup_frac.alias("dup_token_frac"),
            (
                (top_uni <= F.lit(TOP_UNIGRAM_MAX))
                & F.coalesce(top_bi <= F.lit(TOP_BIGRAM_MAX), F.lit(True))
            ).alias("keep"),
        )
    )


DOC_REPETITION_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '{WS_RE2}') AS t FROM documents
    ),
    g AS (
        SELECT doc_id, t,
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
        FROM toks
    ),
    shares AS (
        SELECT doc_id,
               list_max(list_transform(list_distinct(t),
                   x -> len(list_filter(t, y -> y = x)))) / len(t)
                   AS top_unigram_share,
               CASE WHEN len(t) >= 2 THEN
                   list_max(list_transform(list_distinct(b),
                       x -> len(list_filter(b, y -> y = x)))) / (len(t) - 1)
               END AS top_bigram_share,
               (len(t) - len(list_distinct(t))) / len(t) AS dup_token_frac
        FROM g
    )
    SELECT doc_id, top_unigram_share, top_bigram_share, dup_token_frac,
           (top_unigram_share <= {TOP_UNIGRAM_MAX}
            AND coalesce(top_bigram_share <= {TOP_BIGRAM_MAX}, TRUE)) AS keep
    FROM shares
"""


# ---------------------------------------------------- TF-IDF top terms

TFIDF_TOP_K = 5
TFIDF_SCALE = 1_000_000  # score = tf * SCALE DIV df — exact rational, no log


def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most distinctive terms per document by a TF-IDF-style score.

    The score is the exact rational ``tf/df`` in fixed-point
    (``tf * SCALE DIV df``, bigint): log-free so both engines compute
    bit-identical integers — same ordering semantics as tf·idf for
    ranking WITHIN a document (idf is monotone-decreasing in df and tf
    multiplies a per-term constant), which is all top-K needs.

    Scale shape — this is the inverted-index build: explode to
    (doc, term), partial-agg counts into tf (one shuffle on (doc, term)),
    re-agg to df (shuffle on term — the posting-list sizes), join df back
    on term (AQE picks broadcast when the vocabulary fits), then
    ``row_number() <= K`` per doc rides the map-side WindowGroupLimit.
    Per-token data movement IS the semantics here (df is a global
    statistic); no stage moves more than the (doc, term) pair table.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # tf feeds two branches (df re-agg + the scored join); materialize it
    # so the token explode + (doc, term) shuffle run once, not twice
    # (round-4 audit: the un-checkpointed form scanned documents 2x).
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(materialize)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score", F.expr(f"tf * {TFIDF_SCALE} DIV df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


DOC_TFIDF_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '{WS_RE2}')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               (tf.tf * {TFIDF_SCALE}) // df.df AS score
        FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, score, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rnk
        FROM scored
    ) WHERE rnk <= {TFIDF_TOP_K}
"""


# ----------------------------------------------------- token-rarity filter

RARE_DF = 2  # a token occurring <= RARE_DF times corpus-wide is "rare"


def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality filter: per-document mean token frequency
    and rare-token ratio — the exact-arithmetic stand-in for CCNet-style
    LM-perplexity filtering.

    CCNet scores documents by a language-model likelihood and drops the
    weird tail; the first-order signal in that score is how UNUSUAL the
    document's tokens are for the corpus. This operator computes that
    signal exactly: corpus-wide unigram counts, then per doc the mean
    corpus frequency of its token instances (``mean_df``, low = rare/
    noisy vocabulary) and the fraction of tokens occurring <= RARE_DF
    times corpus-wide (``rare_ratio``, OOV-rate analog). A float
    ``avg(ln(c/N))`` would be the literal mean log-prob, but float SUMS
    are order-dependent across partitioning, so the engine keeps the
    monotone exact-integer form: int64 sums, one exact double division —
    bit-identical on any plan, any engine (``ln`` is monotone, so
    threshold filters are equivalent).

    Scale shape: explode -> count per token (one shuffle, map-side
    partials) -> join counts back (same shuffle key: token; the Zipf head
    makes the probe side skewed, which AQE skew-join splits) -> per-doc
    aggregation (one shuffle on doc_id). The exploded frame feeds both
    the count and the join, so it is materialized once (non-eager
    localCheckpoint), not re-exploded per branch.
    """
    ex = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .transform(materialize)
    )
    counts = ex.groupBy("tok").agg(F.count("*").alias("c"))
    return (
        ex.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("c").alias("sum_df"),
            F.sum(F.when(F.col("c") <= RARE_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_toks",
            "sum_df",
            (F.col("sum_df").cast("double") / F.col("n_toks")).alias("mean_df"),
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_toks")).alias("rare_ratio"),
        )
    )


DOC_TOKEN_RARITY_SQL = rf"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split_regex(text, '{WS_RE2}')) AS tok
        FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1)
    SELECT doc_id,
           count(*) AS n_toks,
           CAST(sum(c) AS BIGINT) AS sum_df,
           CAST(sum(c) AS DOUBLE) / count(*) AS mean_df,
           CAST(sum(CASE WHEN c <= {RARE_DF} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare,
           CAST(sum(CASE WHEN c <= {RARE_DF} THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS rare_ratio
    FROM ex JOIN counts USING (tok)
    GROUP BY doc_id
"""


# ------------------------------------------- sparse TF-IDF similarity

# Weight scale: w = SCALE DIV df (pure idf — shingle features are
# distinct-per-doc, so tf is binary); 1e4 keeps worst-case dot-product
# sums far inside int64 while preserving ranking resolution.
TFIDF_SIM_SCALE = 10_000
SPARSE_COS_THRESHOLD = 0.5
# Genuine-lexical-overlap floor: a pair sharing a single rare shingle
# has a degenerate cosine near 1.0 when that shingle dominates both
# docs' informative vocabularies; requiring several shared shingles
# keeps the report about real passage overlap.
MIN_SHARED_TERMS = 3


def doc_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-vector document similarity: related/near-dup pairs by
    idf-weighted cosine over SHINGLE features — the lexical complement
    of both the dense-embedding LSH pack (exact term-level overlap that
    embedding geometry can blur) and n-gram Jaccard (which counts every
    shared shingle equally; this weights shared shingles by rarity, so
    two docs sharing distinctive passages outrank two docs sharing
    generic ones at equal overlap).

    Features are the same distinct 3-token shingles as the dedup pack
    (token-level features are degenerate on purpose-small vocabularies:
    the fixture corpus has 31 distinct tokens but ~19k distinct
    shingles). Weights are the exact rational ``SCALE DIV df``; dot
    products and squared norms stay exact int64 over the df-capped
    (``STOP_SHINGLE_DF``, mirrored in the oracle) vocabulary; only the
    final cosine is floating point, a fixed IEEE expression of exact
    integers — identical bits in both engines.

    Scale shape (r20 restructure, guide §2.3/§3): because tf is binary
    the weight is GLOBAL per shingle, so ``dot(a,b) = Σ w_s²`` over
    shared shingles — the pair enumeration does not need a join at all.
    Aggregate each df-capped shingle's posting list once (one shuffle on
    shingle; every list bounded by ``STOP_SHINGLE_DF``, so the per-list
    combination count is ≤ cap·(cap−1)/2, never quadratic in a hot
    shingle), then explode the C(df,2) ordered doc pairs ROW-WISE and
    partial-aggregate the dots map-side. Versus the posting self-join
    this removes the join's sort/hash of the exploded (doc, shingle, w)
    table on the shingle STRING — the pair stream that shuffles is two
    bigints + w with map-side combine, not string-keyed join probes.
    The prior form (self-join of the weight frame on shingle) was
    measured against this one interleaved at 10× fixture scale:
    old 9.23/6.07 s vs new 7.75/5.41 s per cycle, output bit-identical
    (197 rows at sf0.1, 1970 at 10×). A threshold-aware cosine prefix
    filter (Bayardo all-pairs) was prototyped first and REJECTED on
    measurements: near-uniform df≈1..4 weights put ~75% of each doc's
    energy in the t=0.5 prefix (candidate cut only 1.5×) while the
    struct-array verify cost 53 s — see
    ``git show 2c1af62:OPTIMIZATION_r20.md``.

    The posting-list frame is checkpointed (``session.materialize``): it
    feeds both the norms pass and the pair enumeration. It is ~50×
    smaller than the old checkpoint (one row per capped shingle, docs
    array + weight, no per-doc duplication of the shingle string).
    """
    from ..operators.dedup import STOP_SHINGLE_DF, _doc_shingles

    # Full-width spread, NOT the r20 bytes-proportional default
    # (identical from sf1 up): unlike the other _doc_shingles consumers
    # this query does NOT checkpoint the shingle frame (the posting
    # checkpoint downstream is the shared one), so the tokenize+shingle
    # pass RE-RUNS for the df cut and the posting build — the narrow
    # default was measured 1.18× slower end-to-end at sf0.1.
    sh = _doc_shingles(spark, sf_dir, full_width=True)
    # df-cap BEFORE collecting posting lists: a stop-shingle's list is
    # never materialized (at corpus scale a hot shingle may appear in
    # millions of docs; the count-then-semi-join keeps every collected
    # list ≤ STOP_SHINGLE_DF elements).
    dfs = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= STOP_SHINGLE_DF)
        .select("shingle")
    )
    posting = (
        sh.join(dfs, "shingle")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .withColumn("w", F.expr(f"{TFIDF_SIM_SCALE} DIV size(docs)"))
        .select("docs", "w")
        .transform(materialize)
    )
    norms = (
        posting.select(F.explode("docs").alias("doc_id"), "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    )
    # Row-wise C(df,2) enumeration: docs is sorted, so (x, y) with y
    # strictly after x reproduces exactly the self-join's doc_a < doc_b
    # pairs (doc_ids are distinct per shingle — shingles are
    # distinct-per-doc and doc_id is the table key).
    dots = (
        posting.select(
            F.col("w"),
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("pair"),
        )
        .groupBy(
            F.col("pair.a").alias("doc_a"), F.col("pair.b").alias("doc_b")
        )
        .agg(
            F.sum(F.col("w") * F.col("w")).alias("dot"),
            F.count("*").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= MIN_SHARED_TERMS)
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("nb2").cast("double"))
            ),
        )
        .filter(F.col("cosine") >= SPARSE_COS_THRESHOLD)
        .select("doc_a", "doc_b", "n_shared", "dot", "cosine")
    )


def _tfidf_cosine_sql() -> str:
    from ..operators.dedup import STOP_SHINGLE_DF, _SHINGLE_SQL

    return rf"""
    {_SHINGLE_SQL},
    dft AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    w AS (
        SELECT sh.doc_id, sh.shingle, {TFIDF_SIM_SCALE} // dft.df AS w
        FROM sh JOIN dft USING (shingle)
        WHERE dft.df <= {STOP_SHINGLE_DF}
    ),
    norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(a.w * b.w) AS dot, count(*) AS n_shared
        FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_SHARED_TERMS}
    )
    SELECT doc_a, doc_b,
           n_shared,
           CAST(dot AS BIGINT) AS dot,
           CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          >= {SPARSE_COS_THRESHOLD}
"""


DOC_TFIDF_COSINE_SQL = _tfidf_cosine_sql()


# ------------------------------------------- per-source distribution drift


def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-monitoring drift report: for every ``source``, the exact
    total-variation distance between that source's token distribution
    and the whole-corpus distribution — the screen that catches an
    off-distribution or corrupted feed before it trains (the
    set-level complement of the per-document rarity filter
    :func:`doc_token_rarity`).

    TV(source) = ½ Σ_t |c_st/n_s − c_t/n|. Cross-multiplying to the
    common per-source denominator ``2·n_s·n`` makes the numerator an
    exact int64 sum: Σ over tokens PRESENT in the source of
    |c_st·n − c_t·n_s|, plus the absent-token mass ``n_s·(n − Σ_{t∈S}
    c_t)`` in closed form (absent tokens contribute c_t·n_s each, and
    Σ_t c_t = n) — no explicit iteration over the full vocabulary per
    source. One IEEE division at the end; bit-identical across engines.
    int64 bound: c_st·n < 2^63 — fine per shard up to ~10^9·10^9-token
    scales; beyond that the same statistic runs per day-shard and
    averages (TV is bounded [0,1] and shard-decomposable as a report).

    Scale shape: one (source, tok) partial-agg shuffle over the
    exploded corpus (map-side combine collapses to vocab×sources
    rows); token totals and per-source totals derive from THAT frame
    (materialized once — the corpus is tokenized exactly once), both
    broadcast back; the final per-source aggregation touches only
    vocab×sources rows.
    """
    ex = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tok"))
    )
    st = (
        ex.groupBy("source", "tok")
        .agg(F.count("*").alias("c_st"))
        .transform(materialize)
    )
    tot_t = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    tot_s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = tot_t.agg(F.sum("c_t").cast("long").alias("n"))
    per = (
        st.join(F.broadcast(tot_t), "tok")
        .join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_s"),
            F.first("n").alias("n"),
            F.sum(
                F.abs(F.col("c_st") * F.col("n") - F.col("c_t") * F.col("n_s"))
            ).alias("present_abs"),
            F.sum("c_t").alias("cov_ct"),
        )
    )
    return per.select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        (
            F.col("present_abs")
            + F.col("n_s") * (F.col("n") - F.col("cov_ct"))
        )
        .cast("long")
        .alias("tv_num"),
        (
            (
                F.col("present_abs")
                + F.col("n_s") * (F.col("n") - F.col("cov_ct"))
            ).cast("double")
            / (F.lit(2) * F.col("n_s") * F.col("n")).cast("double")
        ).alias("tv"),
    )


SOURCE_TOKEN_DRIFT_SQL = rf"""
    WITH ex AS (
        SELECT source, unnest(string_split_regex(text, '{WS_RE2}')) AS tok
        FROM documents
    ),
    st AS (SELECT source, tok, count(*) AS c_st FROM ex GROUP BY 1, 2),
    tot_t AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY tok),
    tot_s AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM tot_t),
    per AS (
        SELECT st.source,
               max(tot_s.n_s) AS n_s,
               max(tot.n) AS n,
               sum(abs(st.c_st * tot.n - tot_t.c_t * tot_s.n_s))
                   AS present_abs,
               sum(tot_t.c_t) AS cov_ct
        FROM st
        JOIN tot_t USING (tok)
        JOIN tot_s USING (source)
        CROSS JOIN tot
        GROUP BY st.source
    )
    SELECT source,
           CAST(n_s AS BIGINT) AS n_tokens,
           CAST(present_abs + n_s * (n - cov_ct) AS BIGINT) AS tv_num,
           CAST(present_abs + n_s * (n - cov_ct) AS DOUBLE)
               / CAST(2 * n_s * n AS DOUBLE) AS tv
    FROM per
"""


# ------------------------------------------- bigram LM quality score

# Fixed-point scale for the per-instance conditional probability
# p(w2|w1) = c12/c1 <= 1: parts-per-million keeps every quotient an exact
# int64 (integer division), so sums are partition-order independent.
LM_PPM = 1_000_000


def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order corpus-LM quality score: per-document mean bigram
    conditional probability — the bigram upgrade of
    :func:`doc_token_rarity`'s unigram signal (the next rung toward the
    CCNet/KenLM perplexity filter ladder).

    For each adjacent token pair (w1, w2) the corpus MLE conditional is
    p(w2|w1) = count(w1 w2) / count(w1 as a bigram LEFT token). A real
    LM filter averages log p; log is monotone and float sums are
    partition-order dependent, so the engine keeps the exact form: each
    instance contributes the integer ``(c12 * 1e6) DIV c1`` (ppm), the
    per-doc sum is exact int64, and ONE double division yields the mean.
    Word-salad/boilerplate docs (improbable transitions) score low;
    templated docs score high.

    Scale shape: one bigram explode, materialized once (non-eager
    localCheckpoint) and reused by the bigram count, the left-token
    count, and the join-back probe — three aggregations, each with
    map-side partials; joins are on the same (w1, w2)/(w1) keys the
    counts shuffled on. Nothing beyond (doc, bigram) pairs ever moves.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("t"))
    ex = (
        d.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .transform(materialize)
    )
    c12 = ex.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = ex.groupBy("w1").agg(F.count("*").alias("c1"))
    return (
        ex.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        # true integral division (Spark `div`), not floor(double /):
        # a double quotient can round up across an integer boundary and
        # disagree with the oracle's `//` on adversarial counts.
        .withColumn("q_ppm", F.expr(f"c12 * {LM_PPM}L div c1"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("q_ppm").alias("sum_cond_ppm"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_cond_ppm",
            (F.col("sum_cond_ppm").cast("double") / F.col("n_bigrams")).alias(
                "mean_cond_ppm"
            ),
        )
    )


DOC_BIGRAM_LM_SQL = rf"""
    WITH ex AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (
            SELECT doc_id, string_split_regex(text, '{WS_RE2}') AS t
            FROM documents
        ), unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM ex GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM ex GROUP BY 1)
    SELECT ex.doc_id,
           count(*) AS n_bigrams,
           CAST(sum((c12.c12 * {LM_PPM}) // c1.c1) AS BIGINT) AS sum_cond_ppm,
           CAST(sum((c12.c12 * {LM_PPM}) // c1.c1) AS DOUBLE) / count(*)
               AS mean_cond_ppm
    FROM ex JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY ex.doc_id
"""


# ------------------------------------------- vocabulary coverage build

VOCAB_COVERAGE_PCT = 95  # smallest frequency-ranked vocab covering >= 95%


def vocab_coverage_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary build: the smallest frequency-ranked
    vocabulary covering >= VOCAB_COVERAGE_PCT of corpus token INSTANCES,
    with per-token rank and exact cumulative coverage — the data side of
    fitting a word-level tokenizer (BPE merges start from exactly this
    table plus pair counts).

    A token is IN the vocabulary if the cumulative instance count
    through its rank (frequency desc, token asc tie-break — fully
    deterministic) had not yet reached the coverage target BEFORE it,
    i.e. the cut keeps every token needed to first reach the target.
    Comparisons are exact integer cross-multiplies (cum*100 vs pct*N);
    the only doubles are the reported coverage ratios.

    Scale shape: token counts are one partial-agg shuffle over the
    corpus; everything after runs on the VOCABULARY (Zipf: orders of
    magnitude smaller than the corpus — the fixture's 60k token
    instances collapse to dozens of types). The rank/cumsum window is a
    single-partition sort OF THE VOCAB ONLY — acceptable because vocab
    size is bounded by design (a tokenizer wants 32-256k entries); the
    corpus itself is never sorted. At 100 TB the counts shuffle
    dominates and is linear.
    """
    counts = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    total = counts.agg(F.sum("c").alias("n")).select("n")
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(
            "in_vocab",
            (F.col("cum") - F.col("c")) * 100 < F.lit(VOCAB_COVERAGE_PCT) * F.col("n"),
        )
        .select(
            "tok",
            F.col("c").cast("long").alias("n_instances"),
            F.col("rank").cast("long").alias("rank"),
            F.col("cum").cast("long").alias("cum_instances"),
            (F.col("cum").cast("double") / F.col("n")).alias("cum_coverage"),
            "in_vocab",
        )
    )


VOCAB_COVERAGE_SQL = rf"""
    WITH counts AS (
        SELECT tok, count(*) AS c
        FROM (
            SELECT unnest(string_split_regex(text, '{WS_RE2}')) AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    ranked AS (
        SELECT tok, c,
               row_number() OVER (ORDER BY c DESC, tok) AS rank,
               sum(c) OVER (
                   ORDER BY c DESC, tok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(c) OVER () AS n
        FROM counts
    )
    SELECT tok,
           CAST(c AS BIGINT) AS n_instances,
           CAST(rank AS BIGINT) AS rank,
           CAST(cum AS BIGINT) AS cum_instances,
           CAST(cum AS DOUBLE) / n AS cum_coverage,
           (cum - c) * 100 < {VOCAB_COVERAGE_PCT} * n AS in_vocab
    FROM ranked
"""


# ------------------------------------------- quality ECDF (percentile)

ECDF_BINS = 1000


def doc_quality_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality PERCENTILE via a histogram ECDF — the
    curriculum/threshold op ("drop the bottom 20%", "order by quality
    decile") done scale-correctly: a naive ``percent_rank() OVER
    (ORDER BY quality)`` is an unpartitioned global sort (one task owns
    the corpus); the histogram form needs one tiny bin-count shuffle,
    a cumulative over ECDF_BINS rows, and a broadcast join back.

    ``ecdf_lo`` is the exact fraction of the corpus STRICTLY below the
    document's bin (the resolution is the bin width — 1/1000 of the
    score range — which is what a threshold decision needs; exact
    per-document rank would be the global sort this operator exists to
    avoid). Bin arithmetic: the quality score is bit-identical across
    engines (existing oracle), and floor(q * BINS) on the same IEEE
    double yields the same bin everywhere.
    """
    # NULL-quality docs (empty text -> division by zero in the score)
    # are EXCLUDED: least() skips NULLs in both engines, so an unfiltered
    # NULL would silently clamp into the TOP bin and rank garbage as
    # highest-quality. The scored frame is materialized once (it feeds
    # the probe side, the histogram, and the total).
    scored = (
        text_quality_score(spark, sf_dir)
        .filter(F.col("quality").isNotNull())
        .select(
            "doc_id",
            "quality",
            F.least(
                F.floor(F.col("quality") * ECDF_BINS).cast("long"),
                F.lit(ECDF_BINS - 1),
            ).alias("bin"),
        )
        .transform(materialize)
    )
    hist = scored.groupBy("bin").agg(F.count("*").alias("n_bin"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # the window sorts ECDF_BINS rows at most — bounded by design
    cum = hist.withColumn("cum", F.sum("n_bin").over(w))
    total = hist.agg(F.sum("n_bin").alias("n_total"))
    return (
        scored.join(F.broadcast(cum), "bin")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "quality",
            "bin",
            F.col("n_bin").cast("long").alias("n_bin"),
            ((F.col("cum") - F.col("n_bin")).cast("double") / F.col("n_total")).alias(
                "ecdf_lo"
            ),
            (F.col("cum").cast("double") / F.col("n_total")).alias("ecdf_hi"),
        )
    )


DOC_QUALITY_ECDF_SQL = f"""
    WITH scored AS (
        SELECT doc_id, quality,
               least(CAST(floor(quality * {ECDF_BINS}) AS BIGINT),
                     {ECDF_BINS - 1}) AS bin
        FROM ({TEXT_QUALITY_SQL})
        WHERE quality IS NOT NULL
    ),
    hist AS (SELECT bin, count(*) AS n_bin FROM scored GROUP BY bin),
    cum AS (
        SELECT bin, n_bin,
               sum(n_bin) OVER (
                   ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW
               ) AS cum
        FROM hist
    ),
    t AS (SELECT sum(n_bin) AS n_total FROM hist)
    SELECT s.doc_id, s.quality, s.bin,
           CAST(c.n_bin AS BIGINT) AS n_bin,
           CAST(c.cum - c.n_bin AS DOUBLE) / t.n_total AS ecdf_lo,
           CAST(c.cum AS DOUBLE) / t.n_total AS ecdf_hi
    FROM scored s JOIN cum c USING (bin), t
"""


def doc_tokenize_with_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the coverage vocabulary (:func:`vocab_coverage_build`) to
    the corpus — the encode step after tokenizer training: per document,
    in-vocab vs OOV instance counts and an order-sensitive hash of the
    encoded id sequence (OOV -> id 0 = the UNK convention), so two docs
    encode identically iff their id sequences match.

    Scale shape: the vocabulary (with its ranks-as-ids) broadcasts —
    tokenizer vocabularies are bounded by design — so the encode pass is
    one corpus scan + broadcast join on token, then a per-doc
    aggregation. The sequence hash XORs the portable h64 of
    "pos:id" per instance (position baked into each term, O(1) per
    token): order-sensitive in the SEQUENCE yet aggregation-order
    independent and overflow-free.
    """
    vocab = vocab_coverage_build(spark, sf_dir).filter(F.col("in_vocab")).select(
        "tok", F.col("rank").alias("tok_id")
    )
    ex = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
        )
    )
    enc = ex.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("tok_id", F.lit(0)).alias("tok_id"),  # 0 = UNK
    )
    term = h64(
        F.concat_ws(":", F.col("pos").cast("string"), F.col("tok_id").cast("string"))
    )
    return (
        enc.withColumn("term", term)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("tok_id") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_in_vocab"),
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.expr("bit_xor(term)").cast("long").alias("seq_hash"),
        )
    )


def _tokenize_vocab_sql() -> str:
    h = h64_sql("CAST(pos AS VARCHAR) || ':' || CAST(tok_id AS VARCHAR)")
    return rf"""
    WITH v AS (
        SELECT tok, rank AS tok_id
        FROM ({VOCAB_COVERAGE_SQL}) WHERE in_vocab
    ),
    ex AS (
        SELECT doc_id,
               unnest(string_split_regex(text, '{WS_RE2}')) AS tok,
               generate_subscripts(string_split_regex(text, '{WS_RE2}'), 1) - 1
                   AS pos
        FROM documents
    ),
    enc AS (
        SELECT ex.doc_id, ex.pos, coalesce(v.tok_id, 0) AS tok_id
        FROM ex LEFT JOIN v USING (tok)
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN tok_id > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_vocab,
           CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(bit_xor({h}) AS BIGINT) AS seq_hash
    FROM enc
    GROUP BY doc_id
"""


DOC_TOKENIZE_VOCAB_SQL = _tokenize_vocab_sql()


# ------------------------------------------- collocation mining (PMI)

COLLOC_MIN_COUNT = 5  # bigram support floor (PMI is noise below this)
COLLOC_TOP_K = 20


def corpus_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: the TOP-K bigram phrases by
    pointwise mutual information — the phrase-discovery op (naming
    "new york"-style units before tokenizer training or n-gram
    feature building).

    PMI = log(p(ab) / (p(a)p(b))); log is monotone, so ranking uses the
    exact lift ratio c_ab * N / (c_a * c_b) directly: numerator and
    denominator are exact int64 products and the single IEEE division
    of exact integers is bit-identical across engines (the
    doc_token_rarity convention). A support floor keeps the list from
    being dominated by hapax pairs (PMI's classic failure mode).

    Scale shape: one bigram-count shuffle + one unigram-count shuffle
    (both map-side partial), two joins that ride the counts' own keys,
    TakeOrderedAndProject for the top-K — never a global sort. The
    int64 products bound: lift_num = c_ab * N <= N^2, safe to ~3e9
    token instances per job; beyond that the production variant ranks
    in the log domain (monotone-equivalent), noted here because the
    overflow is silent in Spark and loud in DuckDB.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    ex = (
        d.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .transform(materialize)
    )
    uni = ex.select(F.col("w1").alias("w")).unionAll(
        ex.select(F.col("w2").alias("w"))
    )
    # unigram counts over bigram SLOTS (each instance contributes its
    # left and right occupancy) — self-consistent with c_ab's universe
    cu = uni.groupBy("w").agg(F.count("*").alias("c"))
    n_total = uni.agg(F.count("*").alias("n"))
    cb = (
        ex.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
    )
    return (
        cb.join(cu.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(cu.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            (
                (F.col("c_ab") * F.col("n")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(COLLOC_TOP_K)
    )


CORPUS_COLLOCATIONS_SQL = rf"""
    WITH ex AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (
            SELECT string_split_regex(text, '{WS_RE2}') AS t FROM documents
        ), unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    uni AS (
        SELECT w1 AS w FROM ex UNION ALL SELECT w2 AS w FROM ex
    ),
    cu AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    n AS (SELECT count(*) AS n FROM uni),
    cb AS (
        SELECT w1, w2, count(*) AS c_ab FROM ex GROUP BY w1, w2
        HAVING count(*) >= {COLLOC_MIN_COUNT}
    )
    SELECT cb.w1, cb.w2,
           CAST(cb.c_ab AS BIGINT) AS c_ab,
           CAST(a.c AS BIGINT) AS c_a,
           CAST(b.c AS BIGINT) AS c_b,
           CAST(cb.c_ab * n.n AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) AS lift
    FROM cb
    JOIN cu a ON cb.w1 = a.w
    JOIN cu b ON cb.w2 = b.w
    CROSS JOIN n
    ORDER BY lift DESC, cb.w1 ASC, cb.w2 ASC
    LIMIT {COLLOC_TOP_K}
"""


# ----------------------------------------- hashed-feature classifier

CLS_BUCKETS = 4096  # hashing-trick feature space
CLS_W_RANGE = 1000  # weights in [-1000, 1000] fixed-point milli-units


def _cls_weight_spark(tok: str) -> str:
    """Fixed-point weight of token expression ``tok`` (Spark SQL text):
    bucket by the portable md5 h64 mod CLS_BUCKETS, then derive the
    bucket's weight from a second keyed hash — a frozen random linear
    model, reproducible in any engine with md5."""
    h = f"CAST(conv(substr(md5({tok}), 1, 15), 16, 10) AS BIGINT)"
    b = f"({h} % {CLS_BUCKETS})"
    hw = (
        f"CAST(conv(substr(md5(concat('w:', CAST({b} AS STRING))), 1, 15),"
        f" 16, 10) AS BIGINT)"
    )
    return f"({hw} % {2 * CLS_W_RANGE + 1} - {CLS_W_RANGE})"


def _cls_weight_duck(tok: str) -> str:
    h = f"('0x' || substr(md5({tok}), 1, 15))::BIGINT"
    b = f"({h} % {CLS_BUCKETS})"
    hw = f"('0x' || substr(md5('w:' || CAST({b} AS VARCHAR)), 1, 15))::BIGINT"
    return f"({hw} % {2 * CLS_W_RANGE + 1} - {CLS_W_RANGE})"


def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the CCNet/FineWeb pipeline stage the
    heuristic filters approximate: a LINEAR CLASSIFIER over
    hashing-trick token features (fastText-style bag of hashed words),
    scored at inference time. The model here is a frozen pseudo-random
    weight table (bucket weight = keyed md5 of the bucket id) so both
    engines reconstruct identical weights from nothing but the hash —
    swapping in trained weights is a literal-table change, not a plan
    change.

    Scale shape: ZERO shuffles, zero joins — the whole inference is one
    higher-order fold per document (tokenize → per-token bucket hash →
    weight hash → exact int64 logit sum), whole-stage codegen over a
    single corpus scan. This is the right 100 TB shape for classifier
    inference: embarrassingly parallel, no weight broadcast needed
    (the hashing trick makes the weight table a pure function), output
    row-per-doc. ``keep`` is the sign of the exact fixed-point logit,
    so the decision is bit-identical across engines; the per-token
    mean is the one derived double.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = r"filter(split(text, '\\s+'), t -> t <> '')"
    logit = (
        f"aggregate({toks}, 0L, (acc, t) -> acc + {_cls_weight_spark('t')})"
    )
    return d.select(
        "doc_id",
        F.expr(f"size({toks})").cast("long").alias("n_tokens"),
        F.expr(logit).alias("logit_fp"),
        (F.expr(logit) >= 0).alias("keep"),
        F.when(
            F.expr(f"size({toks})") > 0,
            F.expr(logit).cast("double")
            / (F.lit(float(CLS_W_RANGE)) * F.expr(f"size({toks})")),
        ).alias("mean_token_score"),
    )


DOC_QUALITY_CLASSIFIER_SQL = rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '{WS_RE2}'),
                           t -> t <> '') AS ts
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               CAST(COALESCE(list_sum(list_transform(ts,
                   t -> {_cls_weight_duck('t')})), 0) AS BIGINT) AS logit_fp
        FROM toks
    )
    SELECT doc_id, n_tokens, logit_fp,
           logit_fp >= 0 AS keep,
           CASE WHEN n_tokens > 0
                THEN CAST(logit_fp AS DOUBLE) / ({CLS_W_RANGE}.0 * n_tokens)
                ELSE NULL END AS mean_token_score
    FROM scored
"""


# ------------------------------------------- corpus redundancy growth


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    shingles never seen in any EARLIER doc (doc_id order — the corpus's
    arrival order in these fixtures). The marginal-information profile
    behind dedup-saturation decisions: a feed whose novelty trends to
    zero is re-crawling content the corpus already has, even when no
    single document trips a near-dup detector.

    "First seen" is a min(doc_id) aggregate per shingle — the same
    partial-agg shape as document frequency, so the shuffle carries
    distinct shingles. Restructured in r19: a doc's novel-shingle count
    IS the number of shingles whose first_doc equals it, so ``n_novel``
    comes from re-aggregating the first-seen table by ``first_doc``
    (distinct-shingle-sized) instead of joining it back onto the
    exploded per-doc frame and re-shuffling that by doc_id — the two
    corpus-sized exchanges of the join-back form are gone, and
    ``n_shingles`` is a row-wise ``size(sarr)`` fact of the set-form
    frame. Novelty is an exact integer ppm (count DIV), so the profile
    hashes identically across engines.
    """
    from ..operators.dedup import shingle_sets
    from ..sources.catalog import spread_small_scan

    # project harr away BEFORE the checkpoint: novelty never hashes, so
    # the md5 transform is pruned out of the materialization entirely;
    # the checkpoint exists because both branches (first-seen explode +
    # per-doc sizes) read the set frame.
    sets = (
        shingle_sets(
            spread_small_scan(
                load_table(spark, sf_dir, "documents").select("doc_id", "text")
            )
        )
        .select("doc_id", "sarr")
        .transform(materialize)
    )
    sh = sets.select("doc_id", F.explode("sarr").alias("shingle"))
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count("*").alias("n_novel"))
    )
    per_doc = sets.select(
        "doc_id", F.size("sarr").cast("long").alias("n_shingles")
    ).join(novel, "doc_id", "left")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.expr(
            "coalesce(n_novel, 0) * 1000000 DIV n_shingles"
        )
        .cast("long")
        .alias("novelty_ppm"),
    )


def _ngram_novelty_sql() -> str:
    from ..operators.dedup import _SHINGLE_SQL

    return f"""
    {_SHINGLE_SQL},
    first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
    per_doc AS (
        SELECT sh.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN sh.doc_id = first.first_doc THEN 1 ELSE 0 END)
                   AS n_novel
        FROM sh JOIN first USING (shingle)
        GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
    FROM per_doc
"""


DOC_NGRAM_NOVELTY_SQL = _ngram_novelty_sql()

SATURATION_BUCKETS = 20


def corpus_dedup_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SATURATION curve: the exact-duplicate rate per corpus
    cohort (docs bucketed by doc_id position into SATURATION_BUCKETS
    equal id-range slices) — how fast marginal data stops being new.
    The curve a data-acquisition team reads to decide whether the next
    crawl batch is worth its cost; flat-near-zero = healthy feed,
    rising = the source is exhausted.

    A doc is a duplicate iff an earlier doc_id carries the same content
    digest (min-per-digest partial agg — one digest shuffle, the exact
    dedup shape). Bucket edges derive from the corpus min/max id (1-row
    broadcast agg) in exact integer arithmetic; rates are exact ppm.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("digest")
    )
    first = d.groupBy("digest").agg(F.min("doc_id").alias("first_doc"))
    flagged = d.join(first, "digest").select(
        "doc_id", (F.col("doc_id") > F.col("first_doc")).alias("is_dup")
    )
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    return (
        flagged.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            F.expr(
                f"least({SATURATION_BUCKETS - 1}, "
                f"CAST((doc_id - lo) * {SATURATION_BUCKETS} "
                f"DIV (hi - lo + 1) AS INT))"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dups").cast("long").alias("n_dups"),
            F.expr("n_dups * 1000000 DIV n_docs")
            .cast("long")
            .alias("dup_rate_ppm"),
        )
    )


CORPUS_DEDUP_SATURATION_SQL = f"""
    WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
    first AS (SELECT digest, min(doc_id) AS first_doc FROM d GROUP BY 1),
    flagged AS (
        SELECT d.doc_id, d.doc_id > first.first_doc AS is_dup
        FROM d JOIN first USING (digest)
    ),
    b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
    bucketed AS (
        SELECT least({SATURATION_BUCKETS - 1},
                   CAST((doc_id - lo) * {SATURATION_BUCKETS}
                        // (hi - lo + 1) AS INT)) AS bucket,
               is_dup
        FROM flagged, b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_rate_ppm
    FROM bucketed GROUP BY bucket
"""


# ------------------------------------------------ encoding / script screen

# Character-class patterns shared verbatim by BOTH regex engines: hex
# escapes are written \x{hhhh} (valid in Java regex AND RE2), and the
# Spark side receives the pattern through F.lit() so SQL string-literal
# escaping can never diverge from the DuckDB text. Mojibake markers are
# the classic UTF-8-bytes-read-as-Latin-1 artifacts (ftfy's bread and
# butter): 'Ã' + Latin-1-supplement char, the 'â€' prefix of smart
# punctuation, and 'Â' + no-break space.
_PAT_NON_ASCII = r"[^\x{0000}-\x{007f}]"
_PAT_REPLACEMENT = "�"
_PAT_CTRL = r"[\x{0000}-\x{0008}\x{000b}\x{000c}\x{000e}-\x{001f}\x{007f}\x{0080}-\x{009f}]"
_PAT_MOJIBAKE = "Ã[\\x{0080}-\\x{00ff}]|â€|Â\\x{00a0}"
_PAT_LATIN = "[A-Za-z]"
_PAT_CYRILLIC = r"[\x{0400}-\x{04ff}]"
_PAT_CJK = r"[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]"
_PAT_ARABIC = r"[\x{0600}-\x{06ff}]"


def text_encoding_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding/ script QA report — the ftfy/CCNet-style trust gate a
    crawl corpus passes before any content filter: per-document counts
    of U+FFFD replacement characters, stray control characters (C0 minus
    tab/newline/CR, DEL, and the C1 block — the classic double-decode
    residue), and mojibake marker sequences, plus a script profile
    (Latin / Cyrillic / CJK / Arabic codepoint counts) with a
    deterministic dominant-script vote and an exact ascii_ppm.

    ``clean`` is the pipeline decision: no replacement chars, no stray
    controls, no mojibake. Zero shuffles, zero joins — one codegen pass
    of regexp_count folds per document; at 100 TB this runs at scan
    speed and partitions trivially. The fixture corpus is pure ASCII
    (all screens zero, latin dominant), so the planted corpus in
    tests/test_encoding_screen.py carries the detection signal — the
    dHash precedent.
    """
    d = load_table(spark, sf_dir, "documents")

    def cnt(pat: str):
        return F.regexp_count(F.col("text"), F.lit(pat)).cast("long")

    n_chars = F.length("text").cast("long")
    n_non_ascii = cnt(_PAT_NON_ASCII)
    n_repl = cnt(_PAT_REPLACEMENT)
    n_ctrl = cnt(_PAT_CTRL)
    n_moji = cnt(_PAT_MOJIBAKE)
    n_latin = cnt(_PAT_LATIN)
    n_cyr = cnt(_PAT_CYRILLIC)
    n_cjk = cnt(_PAT_CJK)
    n_arab = cnt(_PAT_ARABIC)
    dominant = (
        F.when(
            (n_latin >= n_cyr) & (n_latin >= n_cjk) & (n_latin >= n_arab) & (n_latin > 0),
            F.lit("latin"),
        )
        .when((n_cyr >= n_cjk) & (n_cyr >= n_arab) & (n_cyr > 0), F.lit("cyrillic"))
        .when((n_cjk >= n_arab) & (n_cjk > 0), F.lit("cjk"))
        .when(n_arab > 0, F.lit("arabic"))
        .otherwise(F.lit("other"))
    )
    counted = d.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_non_ascii.alias("n_non_ascii"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_ctrl"),
        n_moji.alias("n_mojibake"),
        n_latin.alias("n_latin"),
        n_cyr.alias("n_cyrillic"),
        n_cjk.alias("n_cjk"),
        n_arab.alias("n_arabic"),
        dominant.alias("dominant_script"),
    )
    return counted.withColumns(
        {
            # exact integer ppm; empty docs count as fully ASCII
            "ascii_ppm": F.expr(
                "CASE WHEN n_chars_m = 0 THEN 1000000 ELSE "
                "(n_chars_m - n_non_ascii) * 1000000 DIV n_chars_m END"
            ),
            "clean": F.expr(
                "n_replacement = 0 AND n_ctrl = 0 AND n_mojibake = 0"
            ),
        }
    )


def _encoding_screen_sql() -> str:
    def cnt(pat: str) -> str:
        lit = pat.replace("'", "''")
        return f"CAST(len(regexp_extract_all(text, '{lit}')) AS BIGINT)"

    return f"""
    WITH c AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               {cnt(_PAT_NON_ASCII)} AS n_non_ascii,
               {cnt(_PAT_REPLACEMENT)} AS n_replacement,
               {cnt(_PAT_CTRL)} AS n_ctrl,
               {cnt(_PAT_MOJIBAKE)} AS n_mojibake,
               {cnt(_PAT_LATIN)} AS n_latin,
               {cnt(_PAT_CYRILLIC)} AS n_cyrillic,
               {cnt(_PAT_CJK)} AS n_cjk,
               {cnt(_PAT_ARABIC)} AS n_arabic
        FROM documents
    )
    SELECT doc_id, n_chars_m, n_non_ascii, n_replacement, n_ctrl,
           n_mojibake, n_latin, n_cyrillic, n_cjk, n_arabic,
           CASE
               WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
                    AND n_latin >= n_arabic AND n_latin > 0 THEN 'latin'
               WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic
                    AND n_cyrillic > 0 THEN 'cyrillic'
               WHEN n_cjk >= n_arabic AND n_cjk > 0 THEN 'cjk'
               WHEN n_arabic > 0 THEN 'arabic'
               ELSE 'other'
           END AS dominant_script,
           CAST(CASE WHEN n_chars_m = 0 THEN 1000000 ELSE
               (n_chars_m - n_non_ascii) * 1000000 // n_chars_m END
               AS BIGINT) AS ascii_ppm,
           (n_replacement = 0 AND n_ctrl = 0 AND n_mojibake = 0) AS clean
    FROM c
"""


TEXT_ENCODING_SCREEN_SQL = _encoding_screen_sql()
