"""Connected components over near-duplicate pairs → dedup clusters.

The last stage of a dedup pipeline: near-dup PAIRS (from MinHash-LSH)
must become CLUSTERS (transitive closure) so each group keeps exactly one
canonical document — pairs alone would keep B when A~B and B~C but A≁C
dropped the wrong docs.

One implementation, :func:`connected_components_bigstar`: exact
driver-side union-find when the deduplicated edge list fits
``SMALL_GRAPH_EDGE_CAP``, large-star/small-star alternation above it.
Star contraction halves chains per round, so convergence is
diameter-independent; the loop raises rather than emit wrong labels
when the round cap is hit, and per-round checkpointing truncates
lineage.

Oracle: DuckDB ``WITH RECURSIVE`` transitive closure + min-reachable —
the declarative twin of the same fixpoint.
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import DEDUP_MINHASH_LSH_SQL, dedup_minhash_lsh

MAX_ITERATIONS = 20

# Edge-count gate for the driver-side union-find fast path in
# :func:`connected_components_bigstar`. Dup-pair graphs are tiny relative
# to the corpus by construction (they ARE the duplicates), so in practice
# most collapse runs fit; 2^20 edges ≈ 16 MB collected — the same bounded-
# driver-reduction contract as the ANN k-means centroid collects. Above
# the cap the distributed star alternation runs unchanged.
SMALL_GRAPH_EDGE_CAP = 1 << 20


def _components_driver_side(cur: DataFrame) -> DataFrame:
    """Exact union-find over a collected edge list — the small-graph
    fast path of :func:`connected_components_bigstar`.

    Why it exists: each star-contraction round costs one scheduled job
    regardless of data size, so on a fixture-scale candidate graph the
    loop is pure scheduling overhead (~0.7 s/round × O(log n) rounds
    measured at sf0.1 for a 702-edge graph). The caller gates on an
    edge count it already needed, so the collect is bounded by
    SMALL_GRAPH_EDGE_CAP and this path costs ONE job + O(E α(E)) driver
    work. Labels are identical to the distributed path: component =
    min node id (union attaches the larger root under the smaller)."""
    rows = cur.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = [(n, find(n)) for n in parent]
    from pyspark.sql import types as T

    from ..functions.frames import local_frame

    node_t = cur.schema[0].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    # local_frame, not createDataFrame(list): the label table is consumed
    # 2-3 times downstream (loser filter, guardrail aggregates, broadcast
    # builds), and the pickled-list path re-pays 32 Python-worker tasks
    # per consumer — measured 1.48 s vs 0.40 s for two consumers at 5k
    # rows (r19). One Arrow partition is the right shape for a frame
    # bounded by SMALL_GRAPH_EDGE_CAP.
    return local_frame(cur.sparkSession, out, schema)


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("ev").alias("eu"), F.col("eu").alias("ev"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """∀u, ∀v ∈ Γ(u) with v > u: emit (v, min(Γ(u) ∪ {u}))."""
    sym = _symmetrize(edges)
    m = (
        sym.groupBy("eu")
        .agg(F.min("ev").alias("mn"))
        .select("eu", F.least("eu", "mn").alias("m"))
    )
    return (
        sym.join(m, "eu")
        .filter(F.col("ev") > F.col("eu"))
        .select(F.col("ev").alias("eu"), F.col("m").alias("ev"))
        .filter(F.col("eu") != F.col("ev"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """∀u over smaller neighbors N≤(u): emit (v, m) and (u, m) with
    m = min(N≤(u) ∪ {u})."""
    sym = _symmetrize(edges).filter(F.col("ev") <= F.col("eu"))
    # mn < eu always (strictly smaller neighbors), so mn IS the min of
    # N≤(u) ∪ {u} — no least() needed.
    m = (
        sym.groupBy("eu")
        .agg(F.min("ev").alias("mn"))
        .select(F.col("eu").alias("mu"), F.col("mn").alias("m"))
    )
    lesser = (
        sym.join(m, F.col("eu") == F.col("mu"))
        .select(F.col("ev").alias("eu"), F.col("m").alias("ev"))
    )
    self_edge = m.select(F.col("mu").alias("eu"), F.col("m").alias("ev"))
    return (
        lesser.union(self_edge)
        .filter(F.col("eu") != F.col("ev"))
        .distinct()
    )


def connected_components_bigstar(
    edges: DataFrame,
    src: str,
    dst: str,
    small_graph_cap: int = SMALL_GRAPH_EDGE_CAP,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") → (node, component).

    Each round halves long chains instead of walking them one hop:
    O(log n) rounds in practice (O(log² n) proven worst case), whatever
    the cluster diameter. The loop RAISES rather than return wrong
    labels if the round cap is hit. Fixpoint detection is exact (count +
    one ``exceptAll``, aggregated — no data to the driver); per-round
    ``localCheckpoint`` truncates lineage.

    Small-graph fast path: when the deduplicated edge count (which the
    loop needs anyway for its fixpoint check) is ≤ ``small_graph_cap``,
    the components are computed by exact driver-side union-find instead
    of the scheduled round loop — identical labels, one job instead of
    O(log n) jobs. Pass ``small_graph_cap=0`` to force the distributed
    path (tests exercise both).
    """
    # Non-eager checkpoints: the count() right after is the materializing
    # action, so each round costs one job for (star ops + checkpoint +
    # count) instead of two — measured ~25% off the loop wall at fixture
    # scale, where scheduling dominates. Lineage still truncates at the
    # materialization point.
    cur = (
        edges.select(F.col(src).alias("eu"), F.col(dst).alias("ev"))
        .filter(F.col("eu") != F.col("ev"))
        .distinct()
        .transform(materialize)
    )
    n_cur = cur.count()
    if n_cur <= small_graph_cap:
        return _components_driver_side(cur)
    for _ in range(MAX_ITERATIONS):
        nxt = materialize(_small_star(_large_star(cur)))
        # Exact set equality in one anti-join: both sides are distinct, so
        # equal counts + empty (nxt \ cur) ⇒ equal sets; the Python `or`
        # short-circuits, so the except job only runs once counts agree.
        n_nxt = nxt.count()
        changed = (n_nxt != n_cur) or nxt.exceptAll(cur).count() > 0
        cur, n_cur = nxt, n_nxt
        if not changed:
            break
    else:
        # Never silent: an unconverged edge set is not a star forest and
        # would emit a node in several components.
        raise RuntimeError(
            f"star contraction did not converge in {MAX_ITERATIONS} rounds"
        )
    # Fixpoint is a star forest: every edge is (node, root), node ≠ root.
    roots = cur.select(F.col("ev").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    members = cur.select(
        F.col("eu").alias("node"), F.col("ev").alias("component")
    )
    return members.union(roots)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs → components → per-doc
    (doc_id, cluster_id, is_canonical). Canonical = min doc in cluster."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components_bigstar(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS ({DEDUP_MINHASH_LSH_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id,
           min(v) AS cluster_id,
           (u = min(v)) AS is_canonical
    FROM reach
    GROUP BY u
"""


def dedup_collapse(
    spark: SparkSession, sf_dir: str, require_clean: bool = True
) -> DataFrame:
    """The end-to-end dedup DELIVERABLE: the surviving corpus after
    near-dup collapse — every document that is either untouched by any
    dup cluster or its cluster's canonical representative (min doc_id;
    the policy hook where a production pipeline would plug quality-score
    argmax instead).

    Composition: MinHash-LSH pairs -> large-star/small-star components ->
    non-canonical members removed from the corpus by LEFT ANTI join. The
    loser set is |dup docs| - |clusters| rows (tiny vs the corpus:
    exactly the documents being deleted), so the anti join broadcasts and
    the corpus is scanned once, never shuffled. This is the operator a
    reference user actually schedules; the pair/cluster queries upstream
    are its observability surface.

    ``require_clean`` (the default) enforces the percolation guardrail
    over the lexical pair graph before any deletion, the same contract
    as :func:`dedup_semantic_collapse`. A Jaccard ≥ 0.8 MinHash graph
    sits far from percolation on real corpora (measured: no giant
    component at the 10× fixture), so the guard is expected to pass —
    which is exactly why it should be on: the alarm only matters on the
    day a threshold change or a boilerplate flood makes the graph
    collapse-hostile.
    """
    from ..sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .transform(materialize)
    )
    comp = connected_components_bigstar(pairs, "u", "v")
    if require_clean:
        corpus = load_table(spark, sf_dir, "documents").agg(
            F.count("*").alias("corpus_n")
        )
        _refuse_if_percolated(
            _guardrail_report(corpus, pairs, comp), "dedup_collapse"
        )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(F.broadcast(losers), "doc_id", "left_anti")


DEDUP_COLLAPSE_SQL = f"""
    WITH RECURSIVE pairs AS ({DEDUP_MINHASH_LSH_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    losers AS (
        SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> min(v)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


def dedup_semantic_collapse(
    spark: SparkSession, sf_dir: str, require_clean: bool = True
) -> DataFrame:
    """SEMANTIC near-dup collapse — the embedding-space twin of
    :func:`dedup_collapse`: vectors whose embeddings are near-identical
    in cosine (paraphrases, re-encodes, translations an exact/lexical
    dedup cannot see) collapse to one representative per transitive
    cluster.

    Composition: banded hyperplane-LSH pairs
    (:func:`..similarity.dedup_embedding_lsh` — bucketed, exact int64
    verify, never all-pairs) -> large-star/small-star components ->
    non-canonical members removed from the embeddings table by broadcast
    LEFT ANTI. Same scale shape as the lexical collapse: losers =
    vectors being deleted (tiny vs corpus), corpus scanned once, never
    shuffled; min vec_id is the pluggable quality-argmax policy hook.

    ``require_clean`` (the default) ENFORCES the percolation guardrail:
    before anything is deleted, the :func:`dedup_semantic_guardrail`
    report is computed from the same checkpointed pair frame and shared
    component table (one extra 1-row collect — a prefix of the collapse
    itself), and a percolated graph raises :class:`PercolatedGraphError`
    naming the largest component's exact corpus share. At 10× the
    fixture the cos ≥ 0.4 graph chains 19,988 of 20,000 vectors into one
    component and a blind collapse keeps 13 vectors (SCALING.md round
    13) — that catastrophe must be a refusal, not a result. Pass
    ``require_clean=False`` only to inspect what a blind collapse WOULD
    do.

    Output: the surviving (vec_id, label) rows — scalar, exact-hashable;
    the production variant keeps the embedding column (projection-only
    change).
    """
    from ..sources.catalog import load_table
    from .similarity import dedup_embedding_lsh

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    pairs = dedup_embedding_lsh(spark, sf_dir).select("va", "vb")
    # One pair materialization feeds CC and (when enforcing) the
    # guardrail's edge count — the dual-consumer re-execution class
    # fixed in r10.
    pairs = materialize(pairs)
    comp = connected_components_bigstar(pairs, "va", "vb")
    if require_clean:
        corpus = load_table(spark, sf_dir, "embeddings").agg(
            F.count("*").alias("corpus_n")
        )
        _refuse_if_percolated(
            _guardrail_report(corpus, pairs, comp), "dedup_semantic_collapse"
        )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("vec_id")
    )
    return emb.join(F.broadcast(losers), "vec_id", "left_anti")


def _semantic_collapse_sql() -> str:
    from .similarity import DEDUP_EMBEDDING_LSH_SQL

    return f"""
    WITH RECURSIVE pairs AS ({DEDUP_EMBEDDING_LSH_SQL}),
    edges AS (
        SELECT va AS u, vb AS v FROM pairs
        UNION
        SELECT vb AS u, va AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    losers AS (
        SELECT u AS vec_id FROM reach GROUP BY u HAVING u <> min(v)
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)
"""


DEDUP_SEMANTIC_COLLAPSE_SQL = _semantic_collapse_sql()


def dedup_ensemble_collapse(
    spark: SparkSession, sf_dir: str, require_clean: bool = True
) -> DataFrame:
    """ENSEMBLE near-dup collapse: one dedup over the UNION of the
    lexical and semantic duplicate graphs — the production shape
    (SemDeDup-style pipelines run both detectors and collapse the joint
    transitive closure, because lexical near-dups and paraphrase
    near-dups overlap only partially; collapsing the graphs separately
    can keep BOTH members of a mixed chain A~lex~B~sem~C).

    The fixture's documents and embeddings tables are 1:1 on
    doc_id == vec_id (the embedding OF the document), so MinHash-LSH
    pairs over text and hyperplane-LSH pairs over vectors union into a
    single edge set; large-star/small-star components then collapse the
    joint clusters, and survivors are removed by broadcast LEFT ANTI —
    the :func:`dedup_collapse` scale shape with a second (independent,
    parallel) pair source.

    Scale shape: both pair generators are banded candidate joins (never
    all-pairs), the union is a cheap distinct over two tiny pair sets,
    and everything downstream is bounded by dup-cluster cardinality.

    ``require_clean`` (the default) enforces the percolation guardrail
    over the JOINT edge set (corpus = the documents table) before any
    deletion — see :func:`dedup_semantic_collapse`; a percolated union
    graph raises :class:`PercolatedGraphError`. The joint graph
    percolates whenever either detector's graph does (its edge set is a
    superset), so the ensemble needs the guard at least as much as the
    semantic path.
    """
    from ..sources.catalog import load_table
    from .dedup import dedup_minhash_lsh
    from .similarity import dedup_embedding_lsh

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    lex = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    sem = dedup_embedding_lsh(spark, sf_dir).select(
        F.col("va").alias("u"), F.col("vb").alias("v")
    )
    pairs = materialize(lex.unionByName(sem).distinct())
    comp = connected_components_bigstar(pairs, "u", "v")
    if require_clean:
        corpus = load_table(spark, sf_dir, "documents").agg(
            F.count("*").alias("corpus_n")
        )
        _refuse_if_percolated(
            _guardrail_report(corpus, pairs, comp), "dedup_ensemble_collapse"
        )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(F.broadcast(losers), "doc_id", "left_anti")


def _ensemble_collapse_sql() -> str:
    from .dedup import DEDUP_MINHASH_LSH_SQL
    from .similarity import DEDUP_EMBEDDING_LSH_SQL

    return f"""
    WITH RECURSIVE lex AS ({DEDUP_MINHASH_LSH_SQL}),
    sem AS ({DEDUP_EMBEDDING_LSH_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM lex
        UNION SELECT doc_b AS u, doc_a AS v FROM lex
        UNION SELECT va AS u, vb AS v FROM sem
        UNION SELECT vb AS u, va AS v FROM sem
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    losers AS (
        SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> min(v)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


DEDUP_ENSEMBLE_COLLAPSE_SQL = _ensemble_collapse_sql()


# ------------------------------------------- pre-collapse percolation guard

# Largest-component share (ppm of the corpus) above which a collapse is
# refused in production: a percolated dup graph means the threshold, not
# the data, decides survivors. 20% is deliberately far above any real
# dup-family share and far below percolation (which shows up as ~100%).
PERCOLATION_PPM = 200_000


class PercolatedGraphError(RuntimeError):
    """Raised by the collapse operators when the duplicate graph is
    percolated: the similarity threshold, not the data, is deciding
    survivors, so executing the collapse would be data destruction
    (at 10× the fixture it keeps 13 of 20,000 vectors). Remedies:
    raise the cosine threshold, add a verify stage to the pair
    generator, or shard the graph by stronger keys — then re-run."""


def _guardrail_report(
    corpus: DataFrame, pairs: DataFrame, comp: DataFrame
) -> DataFrame:
    """The 1-row percolation report from pieces the collapse already
    has: ``corpus`` a 1-row (corpus_n) aggregate, ``pairs`` the
    checkpointed edge frame, ``comp`` its component labels. Shared by
    :func:`dedup_semantic_guardrail` (the standalone report) and the
    ``require_clean`` enforcement inside both collapses, so the guard
    costs two tiny aggregates over frames that exist anyway.

    ``corpus_n`` is zero-guarded with ``greatest(corpus_n, 1)``: on an
    empty corpus Spark's DIV returns NULL while DuckDB ``//`` raises,
    so without the guard the engines diverge on the degenerate input —
    with it both report share 0 ppm. ``percolated`` additionally
    requires a non-empty largest component (an empty graph trivially
    satisfies ``0 ≥ ppm·0`` and must not alarm)."""
    sizes = comp.groupBy("component").agg(F.count("*").alias("n"))
    graph = sizes.agg(
        F.coalesce(F.count("*"), F.lit(0)).alias("n_components"),
        F.coalesce(F.max("n"), F.lit(0)).alias("largest_component"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("graph_nodes"),
    )
    edges = pairs.agg(F.count("*").alias("graph_edges"))
    return (
        corpus.crossJoin(F.broadcast(graph))  # three 1-row frames
        .crossJoin(F.broadcast(edges))
        .select(
            F.col("corpus_n").cast("long").alias("corpus_n"),
            F.col("graph_nodes").cast("long").alias("graph_nodes"),
            F.col("graph_edges").cast("long").alias("graph_edges"),
            F.col("n_components").cast("long").alias("n_components"),
            F.col("largest_component").cast("long").alias("largest_component"),
            F.expr("largest_component * 1000000 DIV greatest(corpus_n, 1)")
            .cast("long")
            .alias("largest_share_ppm"),
            (F.col("graph_nodes") - F.col("n_components"))
            .cast("long")
            .alias("would_remove"),
            F.when(
                (F.col("largest_component") > 0)
                & (
                    F.col("largest_component") * F.lit(1_000_000)
                    >= F.lit(PERCOLATION_PPM) * F.col("corpus_n")
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("percolated"),
        )
    )


def _refuse_if_percolated(report: DataFrame, op: str) -> None:
    """Collect the 1-row guardrail report (bounded by construction) and
    raise :class:`PercolatedGraphError` when the alarm fires — the
    enforcement arm of the guardrail: the docstring's "a pipeline must
    refuse the collapse" as code."""
    r = report.collect()[0]
    if r["percolated"]:
        raise PercolatedGraphError(
            f"{op}: refusing to collapse a percolated duplicate graph — "
            f"largest component holds {r['largest_component']} of "
            f"{r['corpus_n']} rows ({r['largest_share_ppm']} ppm ≥ "
            f"{PERCOLATION_PPM} ppm); a collapse would remove "
            f"{r['would_remove']} rows on threshold chance, not "
            f"duplicate structure. Raise the similarity threshold, add "
            f"a verify stage, or shard the graph, then re-run; pass "
            f"require_clean=False only to inspect the blind result."
        )


def dedup_semantic_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The check :func:`dedup_semantic_collapse` owes the corpus BEFORE
    deleting anything: one exact scalar report over the embedding dup
    graph — corpus size, graph nodes/edges, component count, the
    largest component and its corpus share (exact ppm), how many
    vectors a collapse would remove, and a ``percolated`` alarm.

    Motivated by a measured finding (SCALING.md, round 13): at 10× the
    fixture the cos ≥ 0.4 pair graph PERCOLATES — chance cross-pairs
    (the ~3σ tail of 64-dim cosines, with quadratically many chances)
    chain ALL 20k vectors into one component, and a blind collapse
    keeps 13 of 20,000 vectors. In that regime the similarity threshold,
    not the data, decides survivors — a pipeline must refuse the
    collapse (raise the threshold, add a verify stage, or shard by
    stronger keys) rather than execute it. ``percolated`` is the exact
    integer cross-multiply ``largest > 0 ∧ largest·10⁶ ≥
    PERCOLATION_PPM·corpus_n`` (no division), so both engines agree
    bit-for-bit. Since round 14 the collapses ENFORCE this verdict by
    default (``require_clean=True`` →
    :class:`PercolatedGraphError`); this standalone report remains the
    observability surface a pipeline runs first.

    Scale shape: pair generation is the banded LSH join (never
    all-pairs); components are star-contraction (O(log n) rounds);
    everything after is component-table-sized plus two 1-row aggregates
    joined by a broadcast cross of 1-row frames. The report costs a
    prefix of the collapse it guards — run it first, collapse only on
    a clean verdict.
    """
    from ..sources.catalog import load_table
    from .similarity import dedup_embedding_lsh

    corpus = load_table(spark, sf_dir, "embeddings").agg(
        F.count("*").alias("corpus_n")
    )
    pairs = dedup_embedding_lsh(spark, sf_dir).select("va", "vb")
    # One pair materialization: edges feed BOTH the edge count and the
    # CC loop (the dual-consumer re-execution class fixed in r10).
    pairs = materialize(pairs)
    comp = connected_components_bigstar(pairs, "va", "vb")
    return _guardrail_report(corpus, pairs, comp)


def _semantic_guardrail_sql() -> str:
    from .similarity import DEDUP_EMBEDDING_LSH_SQL

    return f"""
    WITH RECURSIVE pairs AS ({DEDUP_EMBEDDING_LSH_SQL}),
    edges AS (
        SELECT va AS u, vb AS v FROM pairs
        UNION
        SELECT vb AS u, va AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
    sizes AS (SELECT component, count(*) AS n FROM labels GROUP BY 1),
    graph AS (
        SELECT COALESCE(count(*), 0) AS n_components,
               COALESCE(max(n), 0) AS largest_component,
               COALESCE(sum(n), 0) AS graph_nodes
        FROM sizes
    ),
    ecount AS (SELECT count(*) AS graph_edges FROM pairs),
    c AS (SELECT count(*) AS corpus_n FROM embeddings)
    SELECT CAST(corpus_n AS BIGINT) AS corpus_n,
           CAST(graph_nodes AS BIGINT) AS graph_nodes,
           CAST(graph_edges AS BIGINT) AS graph_edges,
           CAST(n_components AS BIGINT) AS n_components,
           CAST(largest_component AS BIGINT) AS largest_component,
           CAST(largest_component * 1000000 // greatest(corpus_n, 1)
               AS BIGINT) AS largest_share_ppm,
           CAST(graph_nodes - n_components AS BIGINT) AS would_remove,
           CAST(CASE WHEN largest_component > 0
                      AND largest_component * 1000000
                          >= {PERCOLATION_PPM} * corpus_n
                     THEN 1 ELSE 0 END AS BIGINT) AS percolated
    FROM c, graph, ecount
"""


DEDUP_SEMANTIC_GUARDRAIL_SQL = _semantic_guardrail_sql()


# ------------------------------------------------- cluster-quality audit


def dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure AUDIT for the near-dup clusters — the check
    every production dedup pipeline owes itself before collapsing: a
    connected component only guarantees a PATH of verified pairs, so a
    chained cluster can relate documents that were never directly
    verified against each other (A~B~C with A,C dissimilar). Per
    cluster: size, verified-pair count, the pair density vs the
    size·(size−1)/2 clique bound in exact ppm, and min/mean verified
    Jaccard — ``chained`` flags any non-clique cluster (density <
    1e6 ppm), the exact population whose collapse rests on
    transitivity rather than direct evidence.

    Arithmetic: each pair's Jaccard (an exact small-integer division,
    bit-identical across engines) is quantized once to ppm via the
    same floor(x·1e6) both engines apply; every aggregate after that
    is an exact int64 sum/min/DIV — partition-order independent.

    Scale shape: pairs → star-contraction components (the collapse
    path's own machinery) → TWO component-keyed partial aggs (sizes
    from the membership table, pair stats from the pair table) joined
    on cluster id. Everything downstream of pair generation is
    component-table-sized.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 1_000_000).cast("long").alias("jac_ppm"),
    )
    return cluster_quality_from_pairs(pairs)


def cluster_quality_from_pairs(pairs: DataFrame) -> DataFrame:
    """Core of :func:`dedup_cluster_quality` over any verified pair
    frame (doc_a, doc_b, jac_ppm) — unit-tested on constructed chained
    and clique graphs.

    The pair frame is referenced TWICE (component discovery + the
    per-cluster stats agg), so it is materialized once up front:
    without the checkpoint Catalyst re-executes the entire upstream
    pair producer per consumer — for the MinHash producer that is two
    full shingle-shuffle plans, which at a measured 500k-doc/16 GiB
    run held enough simultaneous broadcast state to abort with
    "Not enough memory to build and broadcast" (r10 scaling session).
    The checkpointed frame itself is candidate-bounded (25.6k rows at
    500k docs), so the materialization is kilobytes-to-megabytes at
    any corpus scale. Non-eager: the component loop's first count()
    is the materializing action."""
    pairs = materialize(pairs)
    comp = connected_components_bigstar(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    stats = (
        pairs.join(
            comp.select(
                F.col("node").alias("doc_a"), F.col("component")
            ),
            "doc_a",
        )
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jac_ppm").alias("sum_jac_ppm"),
            F.min("jac_ppm").alias("min_jaccard_ppm"),
        )
    )
    return (
        sizes.join(stats, "component")
        .select(
            F.col("component").alias("cluster_id"),
            "size",
            "n_pairs",
            F.expr("n_pairs * 1000000 DIV (size * (size - 1) DIV 2)").alias(
                "density_ppm"
            ),
            F.expr("sum_jac_ppm DIV n_pairs").alias("mean_jaccard_ppm"),
            "min_jaccard_ppm",
        )
        .withColumn("chained", F.col("density_ppm") < 1_000_000)
    )


DEDUP_CLUSTER_QUALITY_SQL = f"""
    WITH RECURSIVE pairs AS ({DEDUP_MINHASH_LSH_SQL}),
    p AS (
        SELECT doc_a, doc_b,
               CAST(floor(jaccard * 1000000) AS BIGINT) AS jac_ppm
        FROM pairs
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM p
        UNION
        SELECT doc_b AS u, doc_a AS v FROM p
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
    sizes AS (
        SELECT component, count(*) AS size FROM comp GROUP BY component
    ),
    stats AS (
        SELECT c.component,
               count(*) AS n_pairs,
               CAST(sum(p.jac_ppm) AS BIGINT) AS sum_jac_ppm,
               min(p.jac_ppm) AS min_jaccard_ppm
        FROM p JOIN comp c ON c.node = p.doc_a
        GROUP BY c.component
    )
    SELECT s.component AS cluster_id,
           s.size,
           t.n_pairs,
           CAST(t.n_pairs * 1000000 // (s.size * (s.size - 1) // 2)
               AS BIGINT) AS density_ppm,
           CAST(t.sum_jac_ppm // t.n_pairs AS BIGINT) AS mean_jaccard_ppm,
           t.min_jaccard_ppm,
           (t.n_pairs * 1000000 // (s.size * (s.size - 1) // 2)) < 1000000
               AS chained
    FROM sizes s JOIN stats t USING (component)
"""
