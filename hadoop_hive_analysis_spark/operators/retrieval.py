"""Ranked keyword retrieval over the ``documents`` table — BM25 top-K.

The missing member of the text stack: the dedup/similarity pack answers
"which documents resemble EACH OTHER"; retrieval answers "which documents
match THIS QUERY" — the lookup a training-data pipeline runs to audit
what the corpus contains for a probe set (and the scoring function every
contamination/attribution investigation starts from).

Determinism design (the driver hash needs bit-identical floats across
Spark and DuckDB, and float SUMS are partition-order-dependent): all
corpus statistics — tf, df, doc length dl, corpus length S = Σdl, doc
count N — stay exact int64. With k1 = 1.2 and b = 0.75 the BM25
tf-saturation factor is the exact rational

    tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/S))
        = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)

so it is computed as ONE int64 integer division after scaling by 2^20
(``ratio_fp``) — no floats at all. The idf factor needs a logarithm
(irreducibly transcendental), so it is quantized ONCE PER DISTINCT df:
``idf_fp = floor(ln((2N+2)/(2df+1)) · 2^20)`` (the Lucene form
ln(1 + (N−df+½)/(df+½)), always positive). ``ln`` is not an
IEEE correctly-rounded op, but a cross-engine flip of this floor needs
``ln(x)·2^20`` within ~2^20·ulp ≈ 3e-9 of an integer — negligible over
the handful of distinct df values a query set touches. Everything
downstream of the two fixed-point factors is exact int64 (products,
order-free sums); the emitted ``score`` is one IEEE division by 2^40.

Score quantization error vs real-valued BM25 is < 2^-19 relative per
factor — ranking-irrelevant, and the CONTRACT is the fixed-point
function itself (the oracle recomputes it identically).

int64 headroom: ``2^20·22·tf·S`` requires tf·S < 4e14 — comfortable for
a per-shard S in the tens of billions of tokens; a 100 TB deployment
shards the corpus (per-shard BM25 statistics are standard — Elasticsearch
scores per shard the same way) or drops the fixed-point scale to 2^10.

Scale shape: the corpus is tokenized ONCE (localCheckpoint) feeding both
dl and tf; query terms are a broadcast dimension so tf computation is a
broadcast semi-join + one partial-aggregated shuffle on (doc, term); df
reuses tf (no second corpus pass); the final top-K is a per-query
``row_number`` over |queries| tiny partitions — never a global sort of
the corpus.
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..functions.text import tokens
from ..sources.catalog import load_table

# Probe query set: fixed module constants so the Spark plan and the
# oracle SQL embed the same literals (same rule as minhash_params).
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark join"),
    (2, "window agg stream"),
    (3, "customer order line"),
    (4, "hash table scan"),
    (5, "slow query"),
    (6, "merge sort batch"),
]
BM25_TOPK = 5
# Fixed-point scale for both quantized factors (score denominator 2^40).
BM25_FP = 1 << 20


def _query_terms() -> list[tuple[int, str]]:
    out = []
    for qid, text in BM25_QUERIES:
        for term in dict.fromkeys(text.split()):  # distinct, order-stable
            out.append((qid, term))
    return out


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BM25_TOPK`` documents per probe query under fixed-point
    BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N−df+½)/(df+½))).

    Output: (qid, doc_id, rank, n_terms_matched, score_fp, score) —
    ``score_fp`` is the exact int64 fixed-point score (the ranking key,
    hash-stable by construction); ``score`` is its 2^-40-scaled double
    for human consumption (one IEEE division of exact inputs).
    """
    d = load_table(spark, sf_dir, "documents")
    ex = materialize(d.select("doc_id", F.explode(tokens("text")).alias("tok")))

    dl = ex.groupBy("doc_id").agg(F.count("*").alias("dl"))
    totals = dl.agg(
        F.sum("dl").cast("long").alias("s"), F.count("*").alias("n")
    )
    qterms = local_frame(spark, _query_terms(), "qid int, tok string")
    terms = qterms.select("tok").distinct()

    tf = (
        ex.join(F.broadcast(terms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("tok").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(dft), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf_fp",
            F.floor(
                F.log(
                    (2 * F.col("n") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
                * F.lit(float(BM25_FP))
            ).cast("long"),
        )
        .withColumn(
            "ratio_fp",
            F.expr(
                f"CAST({BM25_FP} AS BIGINT) * 22 * tf * s "
                f"DIV (10 * tf * s + 3 * s + 9 * dl * n)"
            ),
        )
    )
    per_query = (
        scored.join(F.broadcast(qterms), "tok")
        .groupBy("qid", "doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum(F.col("idf_fp") * F.col("ratio_fp")).alias("score_fp"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "qid",
            "doc_id",
            "rank",
            "n_terms_matched",
            "score_fp",
            (F.col("score_fp").cast("double") / F.lit(float(1 << 40))).alias(
                "score"
            ),
        )
    )


def _bm25_sql() -> str:
    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in _query_terms())
    return rf"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS s, count(*) AS n FROM dl),
    qt(qid, tok) AS (VALUES {qvals}),
    terms AS (SELECT DISTINCT tok FROM qt),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM ex JOIN terms USING (tok)
        GROUP BY doc_id, tok
    ),
    dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, dft.df, dl.dl, tot.s, tot.n,
               CAST(floor(ln(CAST(2 * tot.n + 2 AS DOUBLE)
                             / CAST(2 * dft.df + 1 AS DOUBLE))
                          * {float(BM25_FP)}) AS BIGINT) AS idf_fp,
               (CAST({BM25_FP} AS BIGINT) * 22 * tf.tf * tot.s)
                   // (10 * tf.tf * tot.s + 3 * tot.s + 9 * dl.dl * tot.n)
                   AS ratio_fp
        FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot
    ),
    per_query AS (
        SELECT qt.qid, scored.doc_id,
               count(*) AS n_terms_matched,
               CAST(sum(idf_fp * ratio_fp) AS BIGINT) AS score_fp
        FROM scored JOIN qt USING (tok)
        GROUP BY qt.qid, scored.doc_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY qid ORDER BY score_fp DESC, doc_id
               ) AS rank
        FROM per_query
    )
    SELECT qid, doc_id, rank,
           CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
           score_fp,
           CAST(score_fp AS DOUBLE) / {float(1 << 40)} AS score
    FROM ranked
    WHERE rank <= {BM25_TOPK}
"""


DOC_BM25_SQL = _bm25_sql()


# ------------------------------------------------- hybrid retrieval (RRF)

# Reciprocal-rank fusion constants: the standard k=60 (Cormack et al.),
# contributions quantized to 1e9/(k+rank) integer fixed point so the
# fused ordering is exact integer arithmetic in both engines.
RRF_K = 60
RRF_FP = 1_000_000_000
VEC_TOPK = 10
HYBRID_TOPK = 5


def doc_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the modern RAG-stack ranking loop: the
    fixed-point BM25 lexical top-5 (:func:`doc_bm25_search`) fused with
    an exact quantized-inner-product vector top-10 by reciprocal-rank
    fusion over the union of both candidate lists.

    Id-space contract: the probe qid indexes BOTH modalities — the BM25
    probe string and the embedding row ``vec_id = qid`` — and candidate
    ids fuse by doc_id == vec_id (the fixture convention). A candidate
    present in only one list gets that list's contribution alone
    (standard RRF-over-union); rank ties in the fused score break by
    doc_id, making the output a total order.

    Scale shape: the lexical side is BM25's broadcast term semi-join
    (corpus-linear, one (doc,term) shuffle); the vector side broadcasts
    |queries| embeddings against one corpus scan and truncates to
    VEC_TOPK inside a per-query window over tiny partitions; the fusion
    itself joins two ≤ |queries|×K frames — kilobytes at any corpus
    size. rrf_fp is exact int64 (1e9 DIV (60+rank) sums), so the fused
    ranking is bit-stable across engines and partitionings.
    """
    from .similarity import _int_dot, _quantized

    lex = doc_bm25_search(spark, sf_dir).select(
        "qid", "doc_id", F.col("rank").alias("lex_rank")
    )

    qids = [qid for qid, _ in BM25_QUERIES]
    corpus = _quantized(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )
    # deliberate cartesian: corpus × the 6-row broadcast query set (the
    # ann_bruteforce pattern; no self-exclusion — qid is a probe id, and
    # dropping its own row only from the vector list would skew fusion)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        _int_dot("qq", "q").alias("dot_q"),
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("dot_q").desc(), F.col("doc_id").asc()
    )
    vec = (
        scored.withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= VEC_TOPK)
        .select("qid", "doc_id", "vec_rank")
    )

    fused = lex.join(vec, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(
                F.expr(f"{RRF_FP} DIV ({RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_FP} DIV ({RRF_K} + vec_rank)"), F.lit(0)
            )
        ).alias("rrf_fp"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("rrf_fp").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= HYBRID_TOPK)
        .select("qid", "doc_id", "rank", "rrf_fp", "lex_rank", "vec_rank")
    )


def _hybrid_sql() -> str:
    from .similarity import _QUANT_SQL

    qids = ", ".join(str(qid) for qid, _ in BM25_QUERIES)
    return rf"""
    WITH lex AS ({DOC_BM25_SQL}),
    qe AS (
        SELECT vec_id AS qid, {_QUANT_SQL} AS qq FROM embeddings
        WHERE vec_id IN ({qids})
    ),
    ce AS (SELECT vec_id, {_QUANT_SQL} AS cq FROM embeddings),
    vscored AS (
        SELECT qe.qid, ce.vec_id AS doc_id,
               CAST(list_dot_product(
                   list_transform(qe.qq, x -> CAST(x AS DOUBLE)),
                   list_transform(ce.cq, x -> CAST(x AS DOUBLE)))
                   AS BIGINT) AS dot_q
        FROM qe CROSS JOIN ce
    ),
    vec AS (
        SELECT qid, doc_id, vec_rank FROM (
            SELECT qid, doc_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dot_q DESC, doc_id ASC)
                       AS vec_rank
            FROM vscored
        ) WHERE vec_rank <= {VEC_TOPK}
    ),
    fused AS (
        SELECT COALESCE(lex.qid, vec.qid) AS qid,
               COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
               lex.rank AS lex_rank, vec.vec_rank,
               COALESCE({RRF_FP} // ({RRF_K} + lex.rank), 0)
                 + COALESCE({RRF_FP} // ({RRF_K} + vec.vec_rank), 0)
                   AS rrf_fp
        FROM lex FULL OUTER JOIN vec
          ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id
    )
    SELECT qid, doc_id, rank,
           CAST(rrf_fp AS BIGINT) AS rrf_fp,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY qid ORDER BY rrf_fp DESC, doc_id ASC
               ) AS rank
        FROM fused
    ) WHERE rank <= {HYBRID_TOPK}
"""


DOC_HYBRID_RRF_SQL = _hybrid_sql()
