"""Training-data pipeline text ops beyond per-doc analysis: benchmark
contamination detection, sliding-window chunking, and PII redaction.

All four are driver-registered oracle-checked queries as of round 3
(slots freed by demoting redundant-signal twins); the per-operator
behavioral tests live in `tests/test_text_pipeline.py`.

Scale shapes:
* contamination — the benchmark shingle set is SMALL (eval suites are
  KBs–MBs) and broadcast; the corpus side is one shingle scan + one
  broadcast semi-join + one groupBy(doc) count: linear, no corpus×corpus
  pair enumeration, unlike dedup.
* chunking — pure per-row codegen explode: embarrassingly parallel,
  output rows ≈ corpus_tokens / stride.
* PII redaction — chained ``regexp_replace`` (codegen, no Python);
  patterns chosen flavor-neutral (identical under Java regex and RE2)
  so the DuckDB oracle computes byte-identical redactions.
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..functions.hashing import h64, h64_sql
from ..functions.text import tokens, with_shingles
from ..sources.catalog import load_table

# ---------------------------------------------------------------- chunking

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunks per document (context-window prep).

    Chunk k covers tokens [1 + k·stride, 1 + k·stride + size) (1-indexed);
    every token lands in ≥1 chunk, the final chunk may be short. Output is
    (doc_id, chunk_no, n_chunk_tokens, chunk_h) with ``chunk_h`` the
    portable 60-bit hash of the chunk text — scalar columns only, so the
    result is oracle-hashable.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    starts = F.expr(f"sequence(1, size(toks), {CHUNK_STRIDE})")
    exploded = d.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_no", "s")
    )
    chunk_txt = F.expr(f"concat_ws(' ', slice(toks, s, {CHUNK_SIZE}))")
    return exploded.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.expr(f"size(slice(toks, s, {CHUNK_SIZE}))")
        .cast("long")
        .alias("n_chunk_tokens"),
        h64(chunk_txt).alias("chunk_h"),
    )


DOC_CHUNKS_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    starts AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS s
        FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_no,
           CAST(len(list_slice(t, s, s + {CHUNK_SIZE} - 1)) AS BIGINT)
               AS n_chunk_tokens,
           {h64_sql(f"array_to_string(list_slice(t, s, s + {CHUNK_SIZE} - 1), ' ')")}
               AS chunk_h
    FROM starts
"""

# ----------------------------------------------------------- contamination

BENCH_MOD = 20  # doc_id % 20 == 0 → ~5% of docs act as the benchmark set
CONTAM_NUM = 1  # flag threshold 1/2 as an exact integer cross-multiply
CONTAM_DEN = 2


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: fraction of each training doc's
    distinct 3-gram shingles that appear anywhere in the benchmark set.

    The benchmark side (here a deterministic ~5% doc_id slice standing in
    for an eval suite) collapses to a DISTINCT shingle set and is
    broadcast; the corpus side is scanned once. Docs with < 3 tokens have
    no shingles and are excluded (mirrored in the oracle). ``flagged``
    uses an exact integer cross-multiplied threshold (≥ 1/2).
    """
    from ..sources.catalog import spread_small_scan

    # spread: both branches explode 3-gram shingles (see spread_small_scan)
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    bench_pred = F.col("doc_id") % BENCH_MOD == 0
    # Set-form corpus side (r19): per-doc totals are a row-wise
    # ``size(sarr)`` fact, so the exploded table no longer shuffles by
    # doc_id for them — only the (much smaller) benchmark-hit rows do.
    # The set frame feeds two branches (hit probe + totals); materialize
    # it so the shingle build runs once (round-4 audit class). harr is
    # projected away before the checkpoint — contamination never hashes.
    from ..operators.dedup import shingle_sets

    corpus_sets = (
        shingle_sets(d.filter(~bench_pred))
        .select("doc_id", "sarr")
        .transform(materialize)
    )
    bench_sh = (
        with_shingles(d.filter(bench_pred), "text")
        .select("shingle")
        .distinct()
    )
    hits = (
        corpus_sets.select("doc_id", F.explode("sarr").alias("shingle"))
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    joined = (
        corpus_sets.select(
            "doc_id", F.size("sarr").cast("long").alias("n_shingles")
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_overlap"),
        )
    )
    return joined.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
        (
            F.col("n_overlap") * CONTAM_DEN
            >= F.col("n_shingles") * CONTAM_NUM
        ).alias("flagged"),
    )


CONTAMINATION_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id
    ),
    hit AS (
        SELECT c.doc_id, count(*) AS n_hit
        FROM corpus c JOIN bench b USING (shingle)
        GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_shingles
               AS contamination,
           (coalesce(h.n_hit, 0) * {CONTAM_DEN}
               >= t.n_shingles * {CONTAM_NUM}) AS flagged
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
"""

# ------------------------------------------------- train/val split + shuffle

# --------------------------------------------------- mixture resampling

# Target corpus mixture by language (percent). The classic pre-training
# mixture-balancing problem (Pile/Dolma/CCNet-style): the raw corpus
# over-represents some groups; downsample each group deterministically so
# the delivered mixture matches the target, maximizing total kept docs.
TARGET_MIX: tuple[tuple[str, int], ...] = (
    ("en", 40),
    ("de", 15),
    ("fr", 15),
    ("es", 15),
    ("zh", 15),
)
_MIX_PPM = 1_000_000


def data_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-balancing downsample to :data:`TARGET_MIX`.

    Feasible total ``T = min_l floor(n_l * 100 / w_l)`` (the binding
    language is kept whole); each language keeps with probability
    ``w_l * T / (100 * n_l)``, applied as an exact parts-per-million
    threshold on the portable doc-id hash — so membership is a pure
    per-row predicate: re-runs, re-partitioning, and incremental arrivals
    never flip a document's fate (same leak-proofing argument as
    :func:`train_val_split`).

    Scale shape: ONE tiny aggregation (5 language counts) is the only
    shuffle; rates broadcast back and selection is map-side codegen over
    the corpus — no per-group sort, no window, no quota ranking. At
    100 TB the alternative exact-quota form (rank per language) sorts the
    whole corpus; the hash-threshold form trades ≤ ~0.1% binomial quota
    error for zero sorts, which is the right trade at any real scale.
    All rate arithmetic is int64 (``w*T*10000 ≤ ~2^41``), identical in
    both engines.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    w = local_frame(spark, list(TARGET_MIX), "lang STRING, w INT")
    counts = (
        d.groupBy("lang").agg(F.count("*").alias("n_l")).join(F.broadcast(w), "lang")
    )
    t = counts.agg(F.min(F.expr("n_l * 100 DIV w")).alias("t"))
    rates = counts.crossJoin(F.broadcast(t)).select(
        "lang",
        F.expr(f"least({_MIX_PPM}, w * t * 10000 DIV n_l)").alias("ppm"),
    )
    keyed = h64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(keyed % F.lit(_MIX_PPM) < F.col("ppm"))
        .select("doc_id", "lang", "source")
    )


DATA_MIXTURE_SQL = f"""
    WITH w(lang, w) AS (
        VALUES {", ".join(f"('{l}', {p})" for l, p in TARGET_MIX)}
    ),
    j AS (
        SELECT c.lang, c.n_l, w.w
        FROM (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1) c
        JOIN w USING (lang)
    ),
    t AS (SELECT min(n_l * 100 // w) AS t FROM j),
    rates AS (
        SELECT lang, least({_MIX_PPM}, w * t * 10000 // n_l) AS ppm
        FROM j, t
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ({h64_sql("'mix:' || CAST(doc_id AS VARCHAR)")} % {_MIX_PPM}) < r.ppm
"""

TRAIN_PCT = 90  # deterministic 90/10 split


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation assignment + global shuffle key.

    ``split`` hashes the STABLE doc_id (not the text): re-running the
    pipeline, adding columns, or re-partitioning never moves a document
    across the split — the property that prevents silent train/val
    leakage between pipeline versions. ``shuffle_key`` is an independent
    hash (salted) usable as a reproducible global training order:
    ORDER BY shuffle_key is a total order with no RNG state, so any
    worker can reproduce any slice of the epoch.

    At 100 TB both columns are pure codegen maps; writing the output
    partitioned by ``split`` gives partition-pruned train scans.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = h64(F.col("doc_id").cast("string")) % F.lit(100)
    return d.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
        h64(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )


TRAIN_VAL_SPLIT_SQL = f"""
    SELECT doc_id,
           CASE WHEN ({h64_sql("CAST(doc_id AS VARCHAR)")} % 100) < {TRAIN_PCT}
                THEN 'train' ELSE 'val' END AS split,
           {h64_sql("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
    FROM documents
"""

# ------------------------------------------------------------ PII scrubbing

# Flavor-neutral patterns: identical semantics under Java regex (Spark) and
# RE2 (DuckDB). Order matters: emails before phones (a phone pattern would
# otherwise eat the digits of user123@…), IPs before phones likewise.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9() -]{6,}[0-9]", "[PHONE]"),
)


def redact_pii(col: Column | str) -> Column:
    """Chained global regexp_replace over the PII patterns (codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII inventory + redacted text hash.

    The synthetic fixture contains no PII (all counts 0, hash = hash of
    the original text) — the oracle check still pins the full expression
    tree; `tests/test_text_pipeline.py` additionally proves the redaction
    behavior on constructed rows against DuckDB.
    """
    from ..sources.catalog import spread_small_scan

    # spread: the per-pattern regexp_count + redact chain is per-row
    # regex CPU inside the scan stage (see spread_small_scan)
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    # Column-typed patterns (F.lit) — embedding them in a SQL string
    # literal would re-interpret backslashes (\b, \.) on the Spark side.
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return d.select(
        "doc_id", *counts, h64(redact_pii("text")).alias("clean_h")
    )


def _pii_scrub_sql(source: str = "documents") -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    redacted = "text"
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
        SELECT doc_id, {counts}, {h64_sql(redacted)} AS clean_h
        FROM {source}
    """


PII_SCRUB_SQL = _pii_scrub_sql()


# ------------------------------------------------ stratified quota sampling

STRATUM_QUOTA = 40  # docs sampled per stratum (lang)


def train_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: the QUOTA hash-smallest documents
    of each language stratum, in a reproducible per-stratum order.

    Ordering by an id-derived hash (not by any content column) makes the
    sample (a) uniform within each stratum, (b) stable under re-runs and
    schema evolution — the properties a training-data refresh needs so a
    new pipeline version reproduces the same eval/ablation subsets.

    Scale shape: ``row_number() <= K`` over ``partitionBy(lang)`` looks
    like a skew hazard (one task per language sorts its whole stratum),
    but Spark ≥3.5 inserts a map-side ``WindowGroupLimit`` that collapses
    every stratum to K rows PER MAP TASK before the shuffle — the
    exchange then moves at most K × n_tasks rows per stratum, not the
    corpus (the salted two-phase rewrite in
    :func:`..skew.events_top3_by_hotkey_salted` documents the manual
    form for engines without the rule). Pinned in tests/test_plans.py.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    key = h64(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("sample_key").asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", key.alias("sample_key"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= STRATUM_QUOTA)
        .select("doc_id", "lang", "sample_rank")
    )


TRAIN_STRATIFIED_SQL = f"""
    SELECT doc_id, lang, sample_rank FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {h64_sql("'sample:' || CAST(doc_id AS VARCHAR)")},
                            doc_id
               ) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= {STRATUM_QUOTA}
"""


# ---------------------------------------------------------------- packing

SEQ_LEN = 512  # tokens per packed training sequence
PACK_SHARDS = 8  # packing shards; set ∝ corpus size at scale (see below)


def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a fixed
    deterministic order and split every SEQ_LEN tokens, so no training
    sequence has padding. Emits, per document, the sequence it starts in
    and its offset there; a document whose tail spills past the boundary
    continues into the next sequence (``crosses_boundary``) — exactly the
    concat-and-chunk layout LLM pretraining uses.

    Scale shape: packing is a prefix-sum, which is inherently sequential
    — so it is SHARDED first (hash of doc_id into PACK_SHARDS), and the
    prefix-sum runs independently per shard: one shuffle on ``shard``,
    then one sorted window pass per shard, no global ordering anywhere.
    At 100 TB, PACK_SHARDS scales with the corpus (target a few hundred
    MB of (doc_id, n_tokens) pairs per shard — the window sees only those
    two columns, not the text) and shards are hash-uniform, so the job is
    embarrassingly parallel with bounded per-task sort state. The window
    frame is running (UNBOUNDED PRECEDING → 1 PRECEDING), which Spark
    evaluates streamingly over the sorted run — no per-partition
    re-scan.

    Determinism: the shard hash is the portable md5-based h64, the pack
    order within a shard is (doc_id) — unique — and every output column
    is integer arithmetic on exact token counts, so the DuckDB twin is
    bit-identical.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        (h64(F.col("doc_id").cast("string")) % PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"off div {SEQ_LEN}").alias("seq_id"),
        (F.col("off") % SEQ_LEN).alias("offset_in_seq"),
        ((F.col("off") % SEQ_LEN) + F.col("n_tokens") > SEQ_LEN).alias(
            "crosses_boundary"
        ),
    )


SEQ_PACKING_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                   AS n_tokens,
               CAST({h64_sql("CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS}
                   AS BIGINT) AS shard
        FROM documents
    ),
    o AS (
        SELECT doc_id, shard, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS off
        FROM t
    )
    SELECT doc_id, shard, n_tokens,
           off // {SEQ_LEN} AS seq_id,
           off % {SEQ_LEN} AS offset_in_seq,
           (off % {SEQ_LEN}) + n_tokens > {SEQ_LEN} AS crosses_boundary
    FROM o
"""


# ----------------------------------------------------------------- funnel


def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-observability funnel: apply the registered per-doc filters
    in their production order (language → quality → repetition → PII-free)
    and report survivors per stage — the monitoring table every corpus
    clean run ships with ("where did my tokens go").

    One corpus pass computes every stage boolean (all pure codegen — the
    same expressions as the registered operators: text_lang_id's
    marker-argmax guess required to AGREE with the declared lang label
    (the classifier-vs-metadata consistency filter real pipelines run),
    text_quality_score's ≥ 0.5, doc_repetition_filter's share caps,
    pii_scrub's pattern counts at zero), then ONE global aggregation of
    conditional sums and a 4-row unpivot. Shuffle bytes: 5 counters per
    map task — nothing scales with the corpus. Output counts are exact
    integers.
    """
    from ..functions.text import LANG_MARKERS, marker_score, shingles
    from .text_analysis import TOP_BIGRAM_MAX, TOP_UNIGRAM_MAX, _max_eq_run

    from ..sources.catalog import spread_small_scan

    # spread: every stage boolean is per-row token/regex CPU in the scan
    # stage (see spread_small_scan); the funnel agg itself stays 5
    # counters per task
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ).select("doc_id", "text", "lang", tokens("text").alias("t"))
    d = d.withColumn("b", shingles("t", 2))

    langs = list(LANG_MARKERS)
    best = F.greatest(*[marker_score("text", lg) for lg in langs])
    guess = F.lit(langs[0])
    for lg in reversed(langs):  # earlier langs win ties via later overwrite
        guess = F.when(marker_score("text", lg) == best, F.lit(lg)).otherwise(guess)
    s_lang = guess == F.col("lang")

    diversity = F.size(F.array_distinct("t")) / F.size("t")
    len_score = F.least(F.lit(1.0), F.size("t") / F.lit(100.0))
    ws_ratio = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ) / F.length("text")
    quality = (
        F.lit(0.5) * len_score
        + F.lit(0.3) * diversity
        + F.lit(0.2) * (F.lit(1.0) - ws_ratio)
    )
    s_qual = quality >= F.lit(0.5)

    top_uni = F.expr(_max_eq_run("t")) / F.size("t")
    top_bi = F.when(F.size("t") >= 2, F.expr(_max_eq_run("b")) / (F.size("t") - 1))
    s_rep = (top_uni <= F.lit(TOP_UNIGRAM_MAX)) & F.coalesce(
        top_bi <= F.lit(TOP_BIGRAM_MAX), F.lit(True)
    )

    s_pii = F.lit(True)
    for _, pat, _ in PII_PATTERNS:
        s_pii = s_pii & (F.regexp_count(F.col("text"), F.lit(pat)) == 0)

    cum1 = s_lang
    cum2 = cum1 & s_qual
    cum3 = cum2 & s_rep
    cum4 = cum3 & s_pii
    agg = d.agg(
        F.count("*").alias("n0"),
        *[
            F.sum(c.cast("long")).alias(f"c{i}")
            for i, c in enumerate([cum1, cum2, cum3, cum4], start=1)
        ],
    )
    stages = agg.selectExpr(
        "stack(4, "
        "1, 'lang_agree', n0, c1, "
        "2, 'quality',    c1, c2, "
        "3, 'repetition', c2, c3, "
        "4, 'pii_clean',  c3, c4) AS (stage, stage_name, n_in, n_out)"
    )
    return stages.select(
        F.col("stage").cast("long").alias("stage"),
        "stage_name",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_out").cast("long").alias("n_out"),
        (F.col("n_in") - F.col("n_out")).cast("long").alias("n_dropped"),
    )


def _funnel_sql() -> str:
    from ..functions.text import LANG_MARKERS, marker_score_sql
    from .text_analysis import TOP_BIGRAM_MAX, TOP_UNIGRAM_MAX

    best = "greatest(" + ", ".join(
        f"({marker_score_sql('text', lg)})" for lg in LANG_MARKERS
    ) + ")"
    # first-match CASE = same tie precedence as the Spark overwrite loop
    guess = "CASE " + " ".join(
        f"WHEN ({marker_score_sql('text', lg)}) = {best} THEN '{lg}'"
        for lg in LANG_MARKERS
    ) + " END"
    s_lang = f"({guess}) = lang"
    quality = (
        "0.5 * least(1.0, len(t) / 100.0)"
        " + 0.3 * (len(list_distinct(t)) / len(t))"
        " + 0.2 * (1.0 - (length(text) - length(replace(text, ' ', '')))"
        " / length(text))"
    )
    top_uni = (
        "list_max(list_transform(list_distinct(t),"
        " x -> len(list_filter(t, y -> y = x)))) / len(t)"
    )
    top_bi = (
        "CASE WHEN len(t) >= 2 THEN"
        " list_max(list_transform(list_distinct(b),"
        " x -> len(list_filter(b, y -> y = x)))) / (len(t) - 1) END"
    )
    s_pii = " AND ".join(
        f"len(regexp_extract_all(text, '{pat}')) = 0" for _, pat, _ in PII_PATTERNS
    )
    return rf"""
        WITH d AS (
            SELECT doc_id, text, lang,
                   string_split_regex(text, '\s+') AS t
            FROM documents
        ),
        g AS (
            SELECT *,
                   list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                       AS b
            FROM d
        ),
        flags AS (
            SELECT ({s_lang}) AS cum1,
                   ({s_lang}) AND ({quality} >= 0.5) AS cum2,
                   ({s_lang}) AND ({quality} >= 0.5)
                       AND (({top_uni}) <= {TOP_UNIGRAM_MAX}
                            AND coalesce(({top_bi}) <= {TOP_BIGRAM_MAX}, TRUE))
                       AS cum3,
                   ({s_lang}) AND ({quality} >= 0.5)
                       AND (({top_uni}) <= {TOP_UNIGRAM_MAX}
                            AND coalesce(({top_bi}) <= {TOP_BIGRAM_MAX}, TRUE))
                       AND ({s_pii}) AS cum4
            FROM g
        ),
        a AS (
            SELECT count(*) AS n0,
                   CAST(sum(CASE WHEN cum1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN cum2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                   CAST(sum(CASE WHEN cum3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                   CAST(sum(CASE WHEN cum4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
            FROM flags
        )
        SELECT CAST(1 AS BIGINT) AS stage, 'lang_agree' AS stage_name,
               n0 AS n_in, c1 AS n_out, n0 - c1 AS n_dropped FROM a
        UNION ALL SELECT 2, 'quality',    c1, c2, c1 - c2 FROM a
        UNION ALL SELECT 3, 'repetition', c2, c3, c2 - c3 FROM a
        UNION ALL SELECT 4, 'pii_clean',  c3, c4, c3 - c4 FROM a
    """


CORPUS_FILTER_FUNNEL_SQL = _funnel_sql()


# ------------------------------------------ weighted priority sampling

PRIORITY_K = 200  # sample size
_PRIORITY_M = 1 << 53  # hash→uniform denominator (exact in a double)


def train_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement via priority sampling
    (Duffield-Lund-Thorup): priority = w/u with u a deterministic
    hash-uniform; keep the top ``PRIORITY_K`` priorities; the (K+1)-th
    priority is the threshold τ, and each kept item carries the
    Horvitz-Thompson adjusted weight ``max(w, τ)`` — subset-sum
    estimates over any filtered slice of the sample are then unbiased
    for the corpus, which Bernoulli/quota sampling (the
    :func:`data_mixture_resample` / :func:`train_stratified_sample`
    shapes) cannot give for heavy-tailed weights. Weight here is
    ``n_chars`` — byte-budget-proportional inclusion, the mixture a
    token-budgeted training run actually wants.

    Determinism: u = (h64(doc_id) mod 2^53 + 1)/2^53 is an exact
    rational, so ``priority = w·2^53/(hmod+1)`` is two correctly-rounded
    IEEE ops on exact int64 inputs — bit-identical across engines (same
    contract as the cosine/share emissions; NO transcendental ``pow``
    like the Efraimidis-Spirakis key u^(1/w), which is not cross-engine
    reproducible).

    Scale shape: selection is ``orderBy(priority).limit(K+1)`` —
    TakeOrderedAndProject, a per-partition partial top-K + single
    merge, never a global sort; the exact-rank window that assigns
    ranks and extracts τ only ever sees K+1 rows. Re-runs and
    repartitioning cannot flip membership (pure hash function of
    doc_id).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hmod = (
        h64(F.concat(F.lit("ps:"), F.col("doc_id").cast("string")))
        % F.lit(_PRIORITY_M)
    )
    base = d.select(
        "doc_id",
        "n_chars",
        (
            (F.col("n_chars").cast("double") * F.lit(float(_PRIORITY_M)))
            / (hmod + F.lit(1)).cast("double")
        ).alias("priority"),
    )
    # K+1 rows, checkpointed so the ranked branch and the τ branch don't
    # each re-run the corpus-wide top-K selection.
    top = (
        base.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(PRIORITY_K + 1)
        .transform(materialize)
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    ranked = top.withColumn("r", F.row_number().over(w))
    tau = ranked.agg(
        F.max(F.when(F.col("r") == PRIORITY_K + 1, F.col("priority"))).alias(
            "tau"
        )
    )
    return (
        ranked.filter(F.col("r") <= PRIORITY_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "n_chars",
            "priority",
            "r",
            F.greatest(
                F.col("n_chars").cast("double"),
                F.coalesce(F.col("tau"), F.lit(0.0)),
            ).alias("adj_weight"),
        )
    )


TRAIN_PRIORITY_SAMPLE_SQL = f"""
    WITH base AS (
        SELECT doc_id, n_chars,
               CAST(n_chars AS DOUBLE) * {float(_PRIORITY_M)}
                   / CAST(({h64_sql("'ps:' || CAST(doc_id AS VARCHAR)")}
                           % {_PRIORITY_M}) + 1 AS DOUBLE) AS priority
        FROM documents
    ),
    top AS (
        SELECT * FROM base
        ORDER BY priority DESC, doc_id LIMIT {PRIORITY_K + 1}
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS r
        FROM top
    ),
    tau AS (
        SELECT max(CASE WHEN r = {PRIORITY_K + 1} THEN priority END) AS tau
        FROM ranked
    )
    SELECT doc_id, n_chars, priority, r,
           greatest(CAST(n_chars AS DOUBLE), coalesce(tau, 0.0)) AS adj_weight
    FROM ranked, tau
    WHERE r <= {PRIORITY_K}
"""


# ------------------------------------------------------- HTML extraction

# Flavor-neutral patterns (identical under Java regex and RE2, like the
# PII set): strip script/style subtrees first, then comments, then tags,
# then decode the few entities that dominate real text, then collapse
# whitespace. Case-insensitivity is spelled [Ss] because inline (?i)
# scoping differs between flavors.
HTML_STRIP_STEPS = (
    # Subtrees use non-greedy [\s\S]*? (dot-all without flags, multiline
    # without (?s)) — RE2 has no lookahead, so the lookahead-based
    # "until the matching close tag" form is NOT flavor-neutral.
    ("script", r"<[Ss][Cc][Rr][Ii][Pp][Tt][^>]*>[\s\S]*?</[Ss][Cc][Rr][Ii][Pp][Tt]>", " "),
    ("style", r"<[Ss][Tt][Yy][Ll][Ee][^>]*>[\s\S]*?</[Ss][Tt][Yy][Ll][Ee]>", " "),
    ("comment", r"<!--[\s\S]*?-->", " "),
    ("tag", r"<[^>]*>", " "),
    ("amp_lt", r"&lt;", "<"),
    ("amp_gt", r"&gt;", ">"),
    ("amp_quot", r"&quot;", "\""),
    ("amp_nbsp", r"&nbsp;", " "),
    ("amp_amp", r"&amp;", "&"),
    ("ws", r"\s+", " "),
)


def html_to_text(col: Column | str) -> Column:
    """Boilerplate-stripping HTML→text extraction as a chained
    ``regexp_replace`` column expression (whole-stage codegen, no
    Python) — the step between WARC-landed response payloads and the
    ``documents`` table in a Common Crawl-shaped pipeline. Order
    matters: script/style subtrees (content is noise, not text) before
    generic tags; entity decode AFTER tag strip so a literal ``&lt;b&gt;``
    in text cannot resurrect as a tag and be stripped; whitespace
    collapse last. trim() finishes.
    """
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return F.trim(c)


def html_to_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`html_to_text` (same patterns, same order).
    DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's
    default)."""
    c = expr
    for _, pat, repl in HTML_STRIP_STEPS:
        # DuckDB single-quoted literals keep backslashes verbatim (like
        # the PII twin) — only quotes need doubling.
        c = f"regexp_replace({c}, '{pat.replace(chr(39), chr(39) * 2)}', '{repl}', 'g')"
    return f"trim({c})"


def doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document HTML→text extraction report: stripped-text hash,
    raw/clean lengths, and markup share. The synthetic fixture is
    markup-free (clean == trim-collapsed raw) — the oracle check still
    pins the whole regex chain, and `tests/test_text_pipeline.py` proves
    the stripping behavior on constructed HTML against DuckDB
    byte-for-byte (the pii_scrub convention)."""
    d = load_table(spark, sf_dir, "documents")
    clean = html_to_text("text")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_raw_chars"),
        F.length(clean).cast("long").alias("n_clean_chars"),
        (
            (F.length("text") - F.length(clean)).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("markup_share"),
        h64(clean).alias("clean_h"),
    )


DOC_HTML_EXTRACT_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_raw_chars,
           CAST(length({html_to_text_sql('text')}) AS BIGINT) AS n_clean_chars,
           CAST(length(text) - length({html_to_text_sql('text')}) AS DOUBLE)
               / greatest(length(text), 1) AS markup_share,
           {h64_sql(html_to_text_sql('text'))} AS clean_h
    FROM documents
"""


# ------------------------------------------------- corpus snapshot diff

# Deterministic snapshot derivation from the documents fixture (the same
# fixture-split discipline as train_val_split / data_mixture_resample):
# OLD = doc_id % 7 != 0, NEW = doc_id % 5 != 0, and every doc_id % 11 == 0
# row is "re-crawled with an edit" in NEW. In production the two sides
# are separate crawl snapshots; the plan is identical.
SNAP_OLD_MOD = 7
SNAP_NEW_MOD = 5
SNAP_EDIT_MOD = 11
SNAP_EDIT_SUFFIX = " [rev2]"


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl corpus delta: FULL OUTER digest compare of two
    snapshots → per-doc status (added / removed / changed / unchanged).

    The incremental-ingest primitive: a pipeline that re-crawls monthly
    wants to process only `added` + `changed` docs and tombstone
    `removed` ones, instead of re-running the whole corpus. Cited shape:
    the reference recomputes everything per run (CS346 Report.pdf p.4
    §2.2, four full-scan MR jobs) — the diff is what makes 100 TB
    re-ingestion incremental.

    Scale shape: each side reduces to (doc_id, digest) at scan time
    (md5 inside codegen, columns pruned to 2), then ONE SortMergeJoin
    FullOuter on doc_id — the only shuffle; no side is assumed small.
    Status derivation is null-arithmetic on the join output.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % SNAP_OLD_MOD != 0).select(
        "doc_id", F.md5("text").alias("old_fp")
    )
    new = d.filter(F.col("doc_id") % SNAP_NEW_MOD != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % SNAP_EDIT_MOD == 0,
                F.concat(F.col("text"), F.lit(SNAP_EDIT_SUFFIX)),
            ).otherwise(F.col("text"))
        ).alias("new_fp"),
    )
    j = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", "old_fp", "new_fp", status.alias("status"))


CORPUS_SNAPSHOT_DIFF_SQL = f"""
    WITH old AS (
        SELECT doc_id, md5(text) AS old_fp
        FROM documents WHERE doc_id % {SNAP_OLD_MOD} <> 0
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % {SNAP_EDIT_MOD} = 0
                        THEN text || '{SNAP_EDIT_SUFFIX}'
                        ELSE text END) AS new_fp
        FROM documents WHERE doc_id % {SNAP_NEW_MOD} <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           o.old_fp, n.new_fp,
           CASE WHEN n.new_fp IS NULL THEN 'removed'
                WHEN o.old_fp IS NULL THEN 'added'
                WHEN o.old_fp = n.new_fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""


# ------------------------------------------------- length-bucketed batching

# Power-of-two bucket ceilings for padded-batch training (the
# complement of seq_packing: packing eliminates padding by concat, length
# bucketing minimizes it when documents must stay intact — SFT / eval
# batching). Sequences longer than the last ceiling are truncated to it,
# mirroring a max_seq_len cut.
BUCKET_CEILINGS = (16, 32, 64, 128, 256, 512, 1024)
BATCH_SIZE = 32


def seq_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch plan: assign every document to the smallest
    power-of-two token-length ceiling, then report per bucket the doc
    count, real/padded token totals, exact padding waste (what dynamic
    batching saves vs padding to the bucket ceiling), the batch count at
    BATCH_SIZE, and waste_ppm — the padding-efficiency report an SFT
    dataloader is tuned against.

    The bucket id is a CASE ladder over exact integers (no log2 /
    transcendentals, so both engines agree bit-for-bit; overlong docs
    clamp to the top ceiling = the max_seq_len truncation cut, with
    their counted tokens clamped too). ONE partial-agg shuffle of ≤
    len(BUCKET_CEILINGS) rows; the corpus is scanned once and never
    re-shuffled — at 100 TB this is scan-bound with a 7-row result.
    """
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokens("text")).cast("long")
    top = BUCKET_CEILINGS[-1]
    bucket = F.lit(BUCKET_CEILINGS[0])
    for ceil in BUCKET_CEILINGS[1:]:
        bucket = F.when(n > F.lit(_prev(ceil)), F.lit(ceil)).otherwise(bucket)
    eff = F.least(n, F.lit(top))  # tokens that survive the top-ceiling cut
    b = d.select(
        F.col("doc_id"),
        eff.alias("n_tok"),
        bucket.alias("bucket_len"),
    )
    g = b.groupBy("bucket_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("real_tokens"),
    )
    return g.select(
        "bucket_len",
        "n_docs",
        "real_tokens",
        (F.col("n_docs") * F.col("bucket_len")).alias("padded_tokens"),
        (F.col("n_docs") * F.col("bucket_len") - F.col("real_tokens")).alias(
            "pad_waste"
        ),
        F.expr(f"(n_docs + {BATCH_SIZE - 1}) DIV {BATCH_SIZE}").alias(
            "n_batches"
        ),
        F.expr(
            "(n_docs * bucket_len - real_tokens) * 1000000 "
            "DIV (n_docs * bucket_len)"
        ).alias("waste_ppm"),
    )


def _prev(ceil: int) -> int:
    return BUCKET_CEILINGS[BUCKET_CEILINGS.index(ceil) - 1]


def _length_buckets_sql() -> str:
    ladder = f"WHEN n <= {BUCKET_CEILINGS[0]} THEN {BUCKET_CEILINGS[0]}"
    for ceil in BUCKET_CEILINGS[1:]:
        ladder += f" WHEN n <= {ceil} THEN {ceil}"
    top = BUCKET_CEILINGS[-1]
    return rf"""
    WITH t AS (
        SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n
        FROM documents
    ),
    b AS (
        SELECT CASE {ladder} ELSE {top} END AS bucket_len,
               least(n, {top}) AS n_tok
        FROM t
    ),
    g AS (
        SELECT bucket_len,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS real_tokens
        FROM b GROUP BY bucket_len
    )
    SELECT CAST(bucket_len AS BIGINT) AS bucket_len, n_docs, real_tokens,
           CAST(n_docs * bucket_len AS BIGINT) AS padded_tokens,
           CAST(n_docs * bucket_len - real_tokens AS BIGINT) AS pad_waste,
           CAST((n_docs + {BATCH_SIZE - 1}) // {BATCH_SIZE} AS BIGINT)
               AS n_batches,
           CAST((n_docs * bucket_len - real_tokens) * 1000000
               // (n_docs * bucket_len) AS BIGINT) AS waste_ppm
    FROM g
"""


SEQ_LENGTH_BUCKETS_SQL = _length_buckets_sql()


# --------------------------------------------- token-budget data selection

# Select the highest-quality slice of the corpus that fits a token
# budget (here 40% of corpus tokens) — the pretraining-curation move
# ("keep the best N tokens"), done WITHOUT the global quality sort the
# naive ORDER BY quality DESC ... running-sum formulation needs.
BUDGET_PPM = 400_000


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quality selection via the histogram-threshold trick
    (the ECDF machinery pointed at a *token* budget): bin the quality
    score into 1000 integer bins, accumulate per-bin token mass from
    the top bin down (a window over ≤1000 rows), and split the corpus
    into bins that fit entirely, the one threshold bin that straddles
    the budget, and the rest. Only the straddling bin needs intra-bin
    order — a running token sum ordered by doc_id over that single
    bin's population (greedy prefix: a doc that would overflow the
    remainder is skipped and cuts the prefix there, deterministically).

    Scale: one bin-aggregation shuffle + a broadcast 1000-row cumulative
    + one bounded window over the threshold bin; the corpus is never
    globally sorted. Degenerate case (every doc in one bin) degrades to
    a window over that bin — the quality score's spread, not this
    operator, is the fix there. All post-binning arithmetic is exact
    int64 (the budget itself is ``total · BUDGET_PPM DIV 1e6``), so
    membership is bit-stable across engines and partitionings.
    """
    from pyspark.sql import Window

    from .text_analysis import ECDF_BINS, text_quality_score

    scored = (
        text_quality_score(spark, sf_dir)
        .filter(F.col("quality").isNotNull())
        .select(
            "doc_id",
            "n_tokens",
            F.least(
                F.floor(F.col("quality") * ECDF_BINS).cast("long"),
                F.lit(ECDF_BINS - 1),
            ).alias("qbin"),
        )
        .transform(materialize)
    )
    tot = scored.agg(F.sum("n_tokens").alias("total"))
    hist = scored.groupBy("qbin").agg(F.sum("n_tokens").alias("bin_tokens"))
    wc = Window.orderBy(F.desc("qbin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        hist.withColumn("cum", F.sum("bin_tokens").over(wc))
        .withColumn("prev_cum", F.col("cum") - F.col("bin_tokens"))
    )
    j = (
        scored.join(F.broadcast(cum), "qbin")
        .crossJoin(F.broadcast(tot))
        .withColumn("budget", F.expr(f"total * {BUDGET_PPM} DIV 1000000"))
    )
    full = j.filter(F.col("cum") <= F.col("budget"))
    wt = Window.partitionBy("qbin").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    part = (
        j.filter((F.col("prev_cum") < F.col("budget")) & (F.col("cum") > F.col("budget")))
        .withColumn("run", F.sum("n_tokens").over(wt))
        .filter(F.col("run") <= F.col("budget") - F.col("prev_cum"))
    )
    return full.select("doc_id", "qbin", "n_tokens").unionByName(
        part.select("doc_id", "qbin", "n_tokens")
    )


def _budget_select_sql() -> str:
    from .text_analysis import ECDF_BINS, TEXT_QUALITY_SQL

    return f"""
    WITH q AS ({TEXT_QUALITY_SQL}),
    scored AS (
        SELECT doc_id, n_tokens,
               least(CAST(floor(quality * {ECDF_BINS}) AS BIGINT),
                     {ECDF_BINS - 1}) AS qbin
        FROM q WHERE quality IS NOT NULL
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM scored),
    hist AS (
        SELECT qbin, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM scored GROUP BY qbin
    ),
    cum AS (
        SELECT qbin, bin_tokens,
               CAST(sum(bin_tokens) OVER (
                   ORDER BY qbin DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM hist
    ),
    j AS (
        SELECT s.doc_id, s.n_tokens, s.qbin, c.cum,
               c.cum - c.bin_tokens AS prev_cum,
               CAST(t.total * {BUDGET_PPM} // 1000000 AS BIGINT) AS budget
        FROM scored s JOIN cum c USING (qbin) CROSS JOIN tot t
    ),
    part AS (
        SELECT doc_id, qbin, n_tokens, budget, prev_cum,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY qbin ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS run
        FROM j WHERE prev_cum < budget AND cum > budget
    )
    SELECT doc_id, qbin, n_tokens FROM j WHERE cum <= budget
    UNION ALL
    SELECT doc_id, qbin, n_tokens FROM part WHERE run <= budget - prev_cum
"""


# Lazy module attribute (PEP 562), NOT an eager constant: building this
# SQL imports text_analysis, and this module is itself imported during
# dedup's module init (whose _decontaminate_sql needs BENCH_MOD) — an
# import chain that starts at text_analysis would re-enter the
# partially-initialized module. Deferred to first attribute access,
# which only ever happens after all module inits complete.
def __getattr__(name: str):
    if name == "CORPUS_BUDGET_SELECT_SQL":
        return _budget_select_sql()
    raise AttributeError(name)
