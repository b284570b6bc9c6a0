"""Connected components (driver union-find and the large-star/small-star
loop) versus an exact union-find ground truth, including a chain longer
than MAX_ITERATIONS."""

from __future__ import annotations

import random

from hadoop_hive_analysis_spark.operators.components import (
    MAX_ITERATIONS,
    connected_components_bigstar,
)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-reachable id per node (the engines' component contract)
    return {n: find(n) for n in nodes}


def _truth_min_label(nodes, edges):
    comp = _union_find(nodes, edges)
    roots = {}
    for n, c in comp.items():
        roots.setdefault(c, []).append(n)
    return {n: min(roots[c]) for n, c in comp.items()}


def _run(spark, fn, edges, **kw):
    df = spark.createDataFrame(edges, "u long, v long")
    return {r.node: r.component for r in fn(df, "u", "v", **kw).collect()}


def _run_distributed(spark, edges):
    # small_graph_cap=0 forces the star-contraction loop, so the
    # distributed path stays covered now that graphs under the cap take
    # the driver-side union-find shortcut
    return _run(
        spark, connected_components_bigstar, edges, small_graph_cap=0
    )


def test_semantic_collapse_one_survivor_per_cluster(spark, sf_dir):
    """The embedding-space collapse keeps exactly the canonical (min
    vec_id) member of every LSH near-dup cluster: no pair survives
    intact, every removed vector has a surviving representative in its
    transitive cluster, and untouched vectors all survive."""
    from hadoop_hive_analysis_spark.operators.components import (
        dedup_semantic_collapse,
    )
    from hadoop_hive_analysis_spark.operators.similarity import (
        dedup_embedding_lsh,
    )
    from hadoop_hive_analysis_spark.sources.catalog import load_table

    pairs = [
        (r.va, r.vb) for r in dedup_embedding_lsh(spark, sf_dir).collect()
    ]
    all_ids = {
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    }
    survivors = {
        r.vec_id for r in dedup_semantic_collapse(spark, sf_dir).collect()
    }
    assert pairs, "fixture must contain planted embedding near-dups"
    # transitive ground truth
    nodes = {n for p in pairs for n in p}
    truth = _truth_min_label(nodes, pairs)
    expected_losers = {n for n, c in truth.items() if n != c}
    assert survivors == all_ids - expected_losers
    for a, b in pairs:  # no near-dup pair survives intact
        assert not (a in survivors and b in survivors)


def test_bigstar_matches_union_find_random_graph(spark):
    rng = random.Random(7)
    edges = list(
        {
            (a, b)
            for a, b in (
                sorted((rng.randrange(200), rng.randrange(200)))
                for _ in range(150)
            )
            if a != b
        }
    )
    nodes = {n for e in edges for n in e}
    truth = _truth_min_label(nodes, edges)
    assert _run(spark, connected_components_bigstar, edges) == truth
    assert _run_distributed(spark, edges) == truth


def test_bigstar_matches_union_find_on_cliques(spark):
    # unions of small cliques — the near-dup-graph shape
    edges = []
    for c in range(10):
        base = c * 10
        edges += [(base + i, base + j) for i in range(4) for j in range(i + 1, 4)]
    nodes = {n for e in edges for n in e}
    truth = _truth_min_label(nodes, edges)
    assert _run(spark, connected_components_bigstar, edges) == truth
    assert _run_distributed(spark, edges) == truth


def test_bigstar_converges_on_chain_longer_than_max_iterations(spark):
    """A path graph longer than MAX_ITERATIONS: a loop that moved the
    minimum one hop per round could not finish; the star alternation
    halves chains per round and labels every node 0 on both paths."""
    n = 2 * MAX_ITERATIONS + 5
    edges = [(i, i + 1) for i in range(n - 1)]
    big = _run(spark, connected_components_bigstar, edges)
    assert big == {i: 0 for i in range(n)}
    assert _run_distributed(spark, edges) == big


def test_ensemble_collapse_joins_mixed_chain(spark, tmp_path):
    """A mixed chain — A~lexical~B (identical text) and B~semantic~C
    (identical embedding) — must collapse to ONE survivor under the
    ensemble, while the lexical-only collapse keeps C and the
    semantic-only collapse keeps A: the union graph is what makes the
    transitive closure complete."""
    import random

    from hadoop_hive_analysis_spark.operators.components import (
        dedup_collapse,
        dedup_ensemble_collapse,
    )

    rng = random.Random(7)

    def vec():
        return [rng.uniform(-1, 1) for _ in range(64)]

    t_dup = " ".join(f"tok{i}" for i in range(30))
    t_c = " ".join(f"other{i}" for i in range(30))
    t_d = " ".join(f"third{i}" for i in range(30))
    docs = [
        (1, t_dup, "en", "s", len(t_dup)),
        (2, t_dup, "en", "s", len(t_dup)),
        (3, t_c, "en", "s", len(t_c)),
        (4, t_d, "en", "s", len(t_d)),
    ]
    e_shared = vec()
    embs = [(1, vec(), 0), (2, e_shared, 0), (3, e_shared, 0), (4, vec(), 0)]
    d = tmp_path / "ens"
    d.mkdir()
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))

    # require_clean=False: a 3-of-4-doc joint cluster is 750000 ppm, so
    # the (correct) percolation guard would refuse this constructed
    # corpus — the guard has its own tests; this one pins union
    # semantics.
    ens = {
        r.doc_id
        for r in dedup_ensemble_collapse(
            spark, str(d), require_clean=False
        ).collect()
    }
    lex = {
        r.doc_id
        for r in dedup_collapse(spark, str(d), require_clean=False).collect()
    }
    assert ens == {1, 4}  # {1,2,3} joint cluster -> survivor 1
    assert lex == {1, 3, 4}  # lexical alone cannot see 2~3


def test_prefix_filter_jaccard_complete_and_pruning(spark, sf_dir):
    """PPJoin prefix filtering must (a) produce EXACTLY the full
    posting-join algorithm's pair set — the prefix theorem guarantees
    no true pair is pruned — and (b) actually prune: the prefix
    candidate-pair count must be strictly below the full join's."""
    from pyspark.sql import functions as F

    from hadoop_hive_analysis_spark.operators.dedup import (
        _informative_shingles,
        dedup_ngram_jaccard,
        dedup_prefix_filter_jaccard,
    )

    full = sorted(
        tuple(r) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    )
    pref = sorted(
        tuple(r) for r in dedup_prefix_filter_jaccard(spark, sf_dir).collect()
    )
    assert full == pref and len(full) > 0

    # measure the pruning: candidate pairs from full posting join vs
    # from the prefix-only join (same canonical order as the operator)
    from pyspark.sql import Window

    sh = _informative_shingles(spark, sf_dir).localCheckpoint(eager=False)
    a, b = sh.alias("a"), sh.alias("b")
    full_cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    dfs = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(dfs, "shingle")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    pref_frame = ranked.filter(
        F.col("rk") <= F.col("n") - F.expr("(4 * n + 4) DIV 5") + 1
    ).select("doc_id", "shingle")
    pa, pb = pref_frame.alias("pa"), pref_frame.alias("pb")
    pref_cand = (
        pa.join(
            pb,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id"), F.col("pb.doc_id"))
        .distinct()
        .count()
    )
    assert pref_cand < full_cand
    assert pref_cand >= len(full)  # still a superset of true pairs


def test_containment_catches_excerpt_jaccard_misses(spark, tmp_path):
    """The asymmetric case that motivates containment: a short excerpt
    inside a much larger doc has near-zero Jaccard (union is huge) but
    containment 1.0 — dedup_containment must flag it while
    dedup_ngram_jaccard must NOT."""
    import os

    import pandas as pd

    from hadoop_hive_analysis_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    # big doc: 200 unique words; excerpt: words 50..79 (30 tokens)
    words = [f"w{i:03d}" for i in range(200)]
    big = " ".join(words)
    excerpt = " ".join(words[50:80])
    other = " ".join(f"z{i:03d}" for i in range(100))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [big, excerpt, other],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(big), len(excerpt), len(other)],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    cont = {
        (r.doc_small, r.doc_big): r.containment
        for r in dedup_containment(spark, str(tmp_path)).collect()
    }
    jac = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    ]
    assert cont[(2, 1)] == 1.0  # every excerpt shingle is in the big doc
    assert (1, 2) not in jac and (2, 1) not in jac  # Jaccard blind to it
    assert (3, 1) not in cont and (1, 3) not in cont


def test_cluster_quality_chained_vs_clique(spark):
    """A path cluster (A~B~C, A never verified against C) is flagged
    `chained` with density 2/3; a triangle clique is not; all
    jaccard aggregates are exact integer ppm."""
    from hadoop_hive_analysis_spark.operators.components import (
        cluster_quality_from_pairs,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2, 900_000),
            (2, 3, 850_000),       # chained: 1-3 never verified
            (10, 11, 950_000),
            (10, 12, 900_000),
            (11, 12, 880_000),     # clique
        ],
        "doc_a long, doc_b long, jac_ppm long",
    )
    out = {r["cluster_id"]: r for r in cluster_quality_from_pairs(pairs).collect()}
    chain = out[1]
    assert (chain["size"], chain["n_pairs"]) == (3, 2)
    assert chain["density_ppm"] == 2 * 1_000_000 // 3
    assert chain["chained"] is True
    assert chain["min_jaccard_ppm"] == 850_000
    assert chain["mean_jaccard_ppm"] == (900_000 + 850_000) // 2
    cliq = out[10]
    assert (cliq["size"], cliq["n_pairs"]) == (3, 3)
    assert cliq["density_ppm"] == 1_000_000
    assert cliq["chained"] is False
    assert cliq["mean_jaccard_ppm"] == (950_000 + 900_000 + 880_000) // 3


def test_semantic_guardrail_accounts_for_collapse(spark, sf_dir):
    """The guardrail's arithmetic must tie out against the collapse it
    guards: survivors(collapse) == corpus_n - would_remove, the share
    ppm is the exact integer division of its own fields, and the
    fixture graph is far from percolation (the sf1 sweep showed the
    percolated=1 side — SCALING.md round 13)."""
    from hadoop_hive_analysis_spark.operators.components import (
        PERCOLATION_PPM,
        dedup_semantic_collapse,
        dedup_semantic_guardrail,
    )

    r = dedup_semantic_guardrail(spark, sf_dir).collect()[0]
    survivors = dedup_semantic_collapse(spark, sf_dir).count()
    assert survivors == r.corpus_n - r.would_remove
    assert r.largest_share_ppm == r.largest_component * 1_000_000 // r.corpus_n
    assert r.percolated == (
        1 if r.largest_component * 1_000_000 >= PERCOLATION_PPM * r.corpus_n else 0
    )
    assert r.percolated == 0  # the base fixture must not trip the alarm
    assert r.n_components >= 1 and r.graph_nodes <= r.corpus_n

    # plan hygiene: the two crossJoins are broadcasts of 1-row frames —
    # the executed plan must contain no CartesianProduct anywhere
    plan = (
        dedup_semantic_guardrail(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan


def test_guardrail_report_empty_and_constructed_graphs(spark):
    """Unit drive of the shared report builder + enforcement arm on
    constructed frames: (1) an EMPTY corpus/graph reports all-zero and
    does not alarm (the zero-guarded DIV — Spark's DIV returns NULL and
    DuckDB's // raises without `greatest(corpus_n, 1)`); (2) a clean
    graph passes through; (3) a percolated graph raises
    PercolatedGraphError naming the exact share."""
    import pytest

    from hadoop_hive_analysis_spark.operators.components import (
        PercolatedGraphError,
        _guardrail_report,
        _refuse_if_percolated,
        connected_components_bigstar,
    )

    def report(corpus_n: int, edges: list):
        corpus = spark.createDataFrame([(corpus_n,)], "corpus_n long")
        schema = "va long, vb long"
        pairs = spark.createDataFrame(edges, schema) if edges else (
            spark.createDataFrame([], schema)
        )
        comp = (
            connected_components_bigstar(pairs, "va", "vb")
            if edges
            else spark.createDataFrame([], "node long, component long")
        )
        return _guardrail_report(corpus, pairs, comp).collect()[0]

    r = report(0, [])
    assert (
        r.corpus_n,
        r.graph_nodes,
        r.graph_edges,
        r.largest_share_ppm,
        r.percolated,
    ) == (0, 0, 0, 0, 0)
    _refuse_if_percolated(
        _guardrail_report(
            spark.createDataFrame([(0,)], "corpus_n long"),
            spark.createDataFrame([], "va long, vb long"),
            spark.createDataFrame([], "node long, component long"),
        ),
        "empty",
    )  # must NOT raise

    clean = report(100, [(1, 2), (3, 4)])  # largest 2/100 = 20_000 ppm
    assert clean.percolated == 0 and clean.largest_share_ppm == 20_000

    # a 9-node chain in a 10-row corpus: 900_000 ppm >= 200_000 ppm
    perc_edges = [(i, i + 1) for i in range(1, 9)]
    perc = report(10, perc_edges)
    assert perc.percolated == 1 and perc.largest_share_ppm == 900_000
    corpus = spark.createDataFrame([(10,)], "corpus_n long")
    pairs = spark.createDataFrame(perc_edges, "va long, vb long")
    comp = connected_components_bigstar(pairs, "va", "vb")
    with pytest.raises(PercolatedGraphError, match="900000 ppm"):
        _refuse_if_percolated(_guardrail_report(corpus, pairs, comp), "t")


def test_guardrail_empty_corpus_matches_duckdb_oracle(spark, tmp_path):
    """The ADVICE divergence class, end to end: on an EMPTY embeddings
    table the engine and the DuckDB oracle SQL must return the SAME
    all-zero 1-row report (pre-guard, DuckDB // raised
    Division-by-Zero while Spark DIV returned NULL)."""
    import duckdb
    import pyarrow.parquet as pq

    from hadoop_hive_analysis_spark.operators.components import (
        DEDUP_SEMANTIC_GUARDRAIL_SQL,
        dedup_semantic_guardrail,
    )

    src = pq.read_schema("/root/testdata/sf0.001/embeddings.parquet")
    empty = src.empty_table()
    pq.write_table(empty, str(tmp_path / "embeddings.parquet"))

    srow = dedup_semantic_guardrail(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    orow = con.execute(DEDUP_SEMANTIC_GUARDRAIL_SQL).fetchall()
    assert len(srow) == 1 and len(orow) == 1
    assert tuple(srow[0]) == tuple(orow[0]) == (0, 0, 0, 0, 0, 0, 0, 0)


def _sf1_embeddings_dir(tmp_path_factory, sf_dir) -> str:
    """Directory holding the 10x percolating embeddings table, grown by
    ``scripts/scale.py`` from the sf0.1 fixture beside ``sf_dir`` (numpy,
    seconds)."""
    import os

    from scripts.scale import write_scaled_table

    src = os.path.join(os.path.dirname(sf_dir), "sf0.1", "embeddings.parquet")
    d = tmp_path_factory.mktemp("sf1emb")
    write_scaled_table(src, str(d / "embeddings.parquet"), 10)
    return str(d)


def test_semantic_collapse_refuses_percolated_graph_at_10x(
    spark, sf_dir, tmp_path_factory
):
    """THE enforcement test at the scale where it matters: on the 10x
    fixture (SCALING.md round 13: the cos>=0.4 graph chains 19,988 of
    20,000 vectors into one component) the default collapse must raise
    PercolatedGraphError instead of keeping 13 vectors — and
    require_clean=False must still expose the blind result for
    inspection."""
    import pytest

    from hadoop_hive_analysis_spark.operators.components import (
        PercolatedGraphError,
        dedup_semantic_collapse,
        dedup_semantic_guardrail,
    )

    d = _sf1_embeddings_dir(tmp_path_factory, sf_dir)
    with pytest.raises(PercolatedGraphError, match="ppm"):
        dedup_semantic_collapse(spark, d)
    r = dedup_semantic_guardrail(spark, d).collect()[0]
    assert r.percolated == 1 and r.corpus_n == 20_000
    blind = dedup_semantic_collapse(spark, d, require_clean=False).count()
    assert blind == r.corpus_n - r.would_remove  # the catastrophe, visible


def test_ensemble_collapse_clean_pass_through(spark, sf_dir):
    """On the base (clean) fixture the enforced default and the blind
    form of BOTH collapses return identical survivor sets — the guard
    must never perturb a clean collapse."""
    from hadoop_hive_analysis_spark.operators.components import (
        dedup_collapse,
        dedup_ensemble_collapse,
        dedup_semantic_collapse,
    )

    for fn in (dedup_collapse, dedup_semantic_collapse, dedup_ensemble_collapse):
        enforced = sorted(map(tuple, fn(spark, sf_dir).collect()))
        blind = sorted(
            map(tuple, fn(spark, sf_dir, require_clean=False).collect())
        )
        assert enforced == blind and len(enforced) > 0
