"""Sketch-based profiling — the 100 TB answer to the reference's EDA.

The reference profiled its data with exact COUNT/COUNT DISTINCT/MIN/MAX
HiveQL passes (CS346 Report.pdf p.6-7 §3.2-3.4). At 100 TB exact distinct
counts are a full shuffle of every key; sketches answer the same
questions in one streaming pass with bounded memory:

* ``approx_count_distinct`` — HyperLogLog++, mergeable across partitions;
* ``approx_percentile`` — quantile sketch for value distributions;
* ``hll_sketch_agg``/``hll_union_agg`` (Spark ≥3.5 datasketches) — the
  re-aggregatable form: per-partition/day sketches stored, unioned at
  query time instead of rescanning.

Estimates are engine-specific (HLL implementations differ), so raw
estimate VALUES are never hashed; instead every profile emits exact
scalars plus within-error-bound BOOLEANS the DuckDB oracle asserts as
literal TRUE (the ``daily_distinct_users_hll`` contract, extended to
``eda_sketch_profile`` in round 14) — a drifting sketch flips a hashed
boolean and fails the driver row, not just a test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import WS_RE2, tokens
from ..session import materialize
from ..sources.catalog import load_table


# Rank-error acceptance for the quantile sketch, in ppm of n. Spark's
# approx_percentile (KLL-style, default accuracy 10000) guarantees rank
# error <= n/10000 = 100 ppm; 5000 ppm (0.5%) is a ~50x margin while
# still catching a broken sketch (a uniform-random value would miss the
# p99 band with probability ~0.99).
PCT_RANK_EPS_PPM = 5_000


def eda_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-scan sketch profile of lineitem: the reference's §3
    EDA table, scale-ready — and, since round 14, ORACLE-HASHABLE via
    the same exact+bounded-boolean contract as
    :func:`daily_distinct_users_hll`: every emitted column is either an
    exact scalar DuckDB reproduces (counts, distinct counts, min/max) or
    a boolean asserting the engine-specific estimate sits inside its
    published error bound, which the oracle asserts as literal TRUE — a
    drifting sketch flips the hashed boolean and turns the row red.

    * ``apx_*_ok``: HyperLogLog++ estimate within ``HLL_REL_BOUND`` of
      the exact distinct count (computed in the same aggregate).
    * ``price_p{50,95,99}_ok``: the sketched percentile value's exact
      rank lands within ``PCT_RANK_EPS_PPM`` of its target —
      ``rows_le·10⁶ ≥ (φ−ε)·n  ∧  rows_lt·10⁶ ≤ (φ+ε)·n``, all-integer
      cross-multiplies (the two-sided form is tie-safe: massive ties
      can push ``rows_le`` far above φ·n without the VALUE being wrong,
      which is why the upper bound uses strict-less counts).

    Physical shape: aggregate pass (sketches + exact counts; the exact
    distincts are the reference's own EDA columns, not a scale
    concession — drop them at 100 TB and keep only the booleans'
    inputs if the corpus can't afford the distinct shuffle), then one
    rank-count re-scan against the broadcast 1-row sketch output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # The sketch aggregate and the EXACT-distinct aggregate run as two
    # separate 1-row passes joined by broadcast, never one combined agg:
    # countDistinct forces an Expand (input ×4), and dragging the HLL /
    # percentile IMPERATIVE buffers through that expanded sort-fallback
    # aggregate serializes a multi-KB buffer per expanded row — measured
    # 18 s (vs 1.2 s + 2.5 s split) at sf0.1 and a heap OOM on the
    # bench's default-heap session with 16 tasks. Two scans of a
    # columnar table are cheaper than one pathological aggregate.
    sk = li.agg(
        F.count("*").alias("n_rows"),
        # rsd=0.015: HLL++'s DEFAULT rsd is 0.05, which would make the
        # 5% HLL_REL_BOUND a 1σ acceptance (observed: orderkey at 1,473
        # distinct missed by >5% on the sf0.001 fixture); at 1.5% rsd the
        # same bound is ≈3.3σ — the sketch still answers in one pass with
        # bounded (larger) registers.
        F.approx_count_distinct("l_partkey", 0.015).alias("apx_parts"),
        F.approx_count_distinct("l_suppkey", 0.015).alias("apx_suppliers"),
        F.approx_count_distinct("l_orderkey", 0.015).alias("apx_orders"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias(
            "pcts"
        ),
    ).transform(materialize)  # 1 row; feeds rank scan AND output
    ex = li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    ranks = li.select("l_extendedprice").crossJoin(
        F.broadcast(sk.select("pcts"))
    )
    rank_aggs = []
    for i, tag in enumerate(("p50", "p95", "p99")):
        rank_aggs.append(
            F.coalesce(
                F.sum((F.col("l_extendedprice") <= F.col("pcts")[i]).cast("long")),
                F.lit(0),
            ).alias(f"le_{tag}")
        )
        rank_aggs.append(
            F.coalesce(
                F.sum((F.col("l_extendedprice") < F.col("pcts")[i]).cast("long")),
                F.lit(0),
            ).alias(f"lt_{tag}")
        )
    rk = ranks.agg(*rank_aggs)

    def apx_ok(apx: str, exact: str) -> Column:
        # ~3.3σ acceptance: rsd=0.015 against HLL_REL_BOUND=0.05. HLL is
        # DETERMINISTIC per dataset, so an unlucky corpus at a NEW scale
        # can sit outside the bound permanently (a persistently red
        # hashed row, not a flake). Remediation if that happens (ADVICE
        # r14): first lower rsd at the approx_count_distinct call sites
        # above (cost: a wider sketch, still KBs), else widen
        # HLL_REL_BOUND. To diagnose a flipped boolean, select the raw
        # ``apx_*`` columns off ``sk`` next to the exact ``n_*`` — they
        # can't ship in the driver row itself because the oracle cannot
        # reproduce a JVM HLL estimate, only bound it.
        return (
            F.abs(F.col(apx).cast("double") - F.col(exact))
            <= F.col(exact) * F.lit(HLL_REL_BOUND)
        )

    def pct_ok(tag: str, phi_ppm: int) -> Column:
        n = F.col("n_rows")
        return (
            F.col(f"le_{tag}") * F.lit(1_000_000)
            >= F.lit(phi_ppm - PCT_RANK_EPS_PPM) * n
        ) & (
            F.col(f"lt_{tag}") * F.lit(1_000_000)
            <= F.lit(phi_ppm + PCT_RANK_EPS_PPM) * n
        )

    return sk.crossJoin(F.broadcast(ex)).crossJoin(F.broadcast(rk)).select(
        "n_rows",
        "n_parts",
        "n_suppliers",
        "n_orders",
        apx_ok("apx_parts", "n_parts").alias("apx_parts_ok"),
        apx_ok("apx_suppliers", "n_suppliers").alias("apx_suppliers_ok"),
        apx_ok("apx_orders", "n_orders").alias("apx_orders_ok"),
        "min_shipdate",
        "max_shipdate",
        pct_ok("p50", 500_000).alias("price_p50_ok"),
        pct_ok("p95", 950_000).alias("price_p95_ok"),
        pct_ok("p99", 990_000).alias("price_p99_ok"),
    )


EDA_SKETCH_PROFILE_SQL = """
    SELECT count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_orderkey) AS n_orders,
           TRUE AS apx_parts_ok,
           TRUE AS apx_suppliers_ok,
           TRUE AS apx_orders_ok,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate,
           TRUE AS price_p50_ok,
           TRUE AS price_p95_ok,
           TRUE AS price_p99_ok
    FROM lineitem
"""


# HLL++ default lgConfigK=12 → relative std error ≈ 1.04/sqrt(4096) ≈ 1.6%;
# 5% is a ≈3σ acceptance bound, and small daily cardinalities sit in the
# sketch's exact sparse mode anyway. HLL is deterministic per dataset, so
# a bound miss at a new scale is PERSISTENT, not flaky — remediation is to
# widen the sketch (lower rsd / raise lgConfigK at the call site), or as a
# last resort widen this bound; diagnose by selecting the raw estimate
# next to the exact count (see apx_ok in eda_sketch_profile).
HLL_REL_BOUND = 0.05


def daily_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: per-day HLL sketches of event
    users, then a union-merge for the period total WITHOUT rescanning —
    the pattern for incremental 100 TB rollups (store the binary sketch
    per partition, merge at query time).

    Driver-checkable contract: HLL estimates are engine-specific, so the
    hashed output carries the EXACT distinct count plus a boolean that the
    sketch estimate lands within ``HLL_REL_BOUND`` of it — the oracle
    asserts TRUE, so a drifting sketch fails the hash, not just a test.
    (The exact count exists only to judge the sketch; a production rollup
    would store/merge the sketches alone.)
    """
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))

    def within(est: Column, exact: Column) -> Column:
        return F.abs(est.cast("double") - exact) <= exact * F.lit(HLL_REL_BOUND)

    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact_users"),
    )
    per_day = daily.select(
        "day",
        "n_exact_users",
        within(F.hll_sketch_estimate("sketch"), F.col("n_exact_users")).alias(
            "hll_within_bound"
        ),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("apx_total")
    )
    total = (
        ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact_users"))
        .crossJoin(merged)
        .select(
            F.lit(None).cast("date").alias("day"),
            "n_exact_users",
            # empty events → apx_total NULL → within() NULL, but the
            # oracle's literal TRUE must still match: vacuously in bound
            F.coalesce(
                within(F.col("apx_total"), F.col("n_exact_users")),
                F.lit(True),
            ).alias("hll_within_bound"),
        )
    )
    return per_day.unionByName(total)


DAILY_DISTINCT_USERS_HLL_SQL = """
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_users,
           TRUE AS hll_within_bound
    FROM events
    GROUP BY 1
    UNION ALL
    SELECT CAST(NULL AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_users,
           TRUE AS hll_within_bound
    FROM events
"""


# ------------------------------------------------ quantile sketch (KLL-style)

QUANTILE_PS = (0.5, 0.9, 0.99)
PCTL_ACC = 1000  # approx_percentile accuracy ⇒ rank error ≤ n/PCTL_ACC
# acceptance bound: 3x the sketch's guaranteed rank error, floor of 3 rows
# so tiny groups (where 3x n/1000 rounds to 0) still have slack for ties.
_BOUND = f"greatest(CAST(3 AS BIGINT), (n * 3) DIV {PCTL_ACC})"
# Judge-plan crossover (r19 A/B adjudication, SCALING.md): the
# distinct-CDF judge sorts value CARDINALITY instead of rows — a ~10x
# win at sf1 (594k distinct vs 6M rows, operator wall 16.6 -> ~3 s) —
# but below ~1M rows cents cardinality is ~rows (sf0.1: little dedup),
# so the extra (flag, cents) shuffle buys no sort reduction and costs
# more than it saves: interleaved pin/cur A/B measured 1.20 s
# (row_number judge) vs 2.54 s (distinct-CDF) at sf0.1 on the same
# host. Both judges are exact and bit-identical; the gate only picks
# the cheaper plan. The one extra action is a zero-column parquet
# count (row-group metadata, ~0.1 s at any harness scale).
QUANTILE_DISTINCT_JUDGE_MIN_ROWS = 1_000_000


def price_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group value-distribution profile via a quantile sketch, hash-
    checkable like the HLL row: exact discrete percentiles (rank
    ``floor(p·(n-1))+1`` in cents) plus a boolean that the sketch's
    answer lands within 3x its guaranteed rank error of the target rank.

    ``approx_percentile`` (Greenwald-Khanna) is the 100 TB path: one
    streaming pass, mergeable partials, no per-group sort. The EXACT side
    exists only to judge the sketch — the same contract as
    :func:`daily_distinct_users_hll`, where countDistinct judges the
    HLL. Rank check uses the tie-safe interval
    ``[count(<v)+1, count(<=v)]``: a returned value's admissible ranks
    must intersect ``target ± bound`` — exact integer arithmetic, no
    float tolerance in the hashed output.

    Judge-side scale shape (r18, GATED r19): past
    ``QUANTILE_DISTINCT_JUDGE_MIN_ROWS`` the exact ranks and the
    tie-safe counts both derive from the DISTINCT (flag, value) frame
    with cumulative counts — value at rank k is the distinct value
    whose admissible interval [hi−c+1, hi] contains k, bit-identical to
    a row_number selection but sorted over ~10× fewer rows (sf1: 594k
    distinct vs 6M raw; operator wall 16.6 → ~3 s). Below the gate the
    classic row_number judge wins (see the constant's comment — the r19
    interleaved A/B measured the distinct shuffle costing 2.1× at
    sf0.1, where cents cardinality ≈ rows); both judges are exact, so
    the output is bit-identical either way.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    n_rows = li.count()  # zero-column scan: row-group metadata only
    ps = ", ".join(str(p) for p in QUANTILE_PS)
    stats = li.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.expr(f"approx_percentile(cents, array({ps}), {PCTL_ACC})").alias("pa"),
    )

    def k_of(p: float) -> str:
        return f"CAST(floor({p} * (n - 1)) AS BIGINT) + 1"

    w = Window.partitionBy("flag").orderBy("cents")
    if n_rows >= QUANTILE_DISTINCT_JUDGE_MIN_ROWS:
        dist = li.groupBy("flag", "cents").agg(F.count(F.lit(1)).alias("c"))
        cum = (
            dist.withColumn("hi", F.sum("c").over(w))
            .withColumn("lo", F.col("hi") - F.col("c") + 1)
            .join(F.broadcast(stats), "flag")
        )
        checks = cum.groupBy("flag").agg(
            *[
                F.sum(
                    F.when(
                        F.col("cents") < F.col("pa")[i], F.col("c")
                    ).otherwise(F.lit(0))
                ).alias(f"lt_{i}")
                for i in range(len(QUANTILE_PS))
            ],
            *[
                F.sum(
                    F.when(
                        F.col("cents") <= F.col("pa")[i], F.col("c")
                    ).otherwise(F.lit(0))
                ).alias(f"le_{i}")
                for i in range(len(QUANTILE_PS))
            ],
        )
        exact = (
            cum.filter(
                F.expr(
                    " OR ".join(
                        f"(lo <= {k_of(p)} AND {k_of(p)} <= hi)"
                        for p in QUANTILE_PS
                    )
                )
            )
            .groupBy("flag", "n")
            .agg(
                *[
                    F.max(
                        F.expr(
                            f"CASE WHEN lo <= {k_of(p)} AND {k_of(p)} <= hi "
                            f"THEN cents END"
                        )
                    ).alias(f"e_{i}")
                    for i, p in enumerate(QUANTILE_PS)
                ]
            )
        )
    else:
        ranked = li.join(F.broadcast(stats), "flag")
        checks = ranked.groupBy("flag").agg(
            *[
                F.sum((F.col("cents") < F.col("pa")[i]).cast("long")).alias(
                    f"lt_{i}"
                )
                for i in range(len(QUANTILE_PS))
            ],
            *[
                F.sum((F.col("cents") <= F.col("pa")[i]).cast("long")).alias(
                    f"le_{i}"
                )
                for i in range(len(QUANTILE_PS))
            ],
        )
        exact = (
            li.join(F.broadcast(stats.select("flag", "n")), "flag")
            .withColumn("rn", F.row_number().over(w))
            .filter(
                F.expr(" OR ".join(f"rn = {k_of(p)}" for p in QUANTILE_PS))
            )
            .groupBy("flag", "n")
            .agg(
                *[
                    F.max(
                        F.expr(f"CASE WHEN rn = {k_of(p)} THEN cents END")
                    ).alias(f"e_{i}")
                    for i, p in enumerate(QUANTILE_PS)
                ]
            )
        )
    ok = " AND ".join(
        f"(lt_{i} + 1 <= {k_of(p)} + {_BOUND} AND le_{i} >= {k_of(p)} - {_BOUND})"
        for i, p in enumerate(QUANTILE_PS)
    )
    return (
        exact.join(checks, "flag")
        .select(
            "flag",
            "n",
            (F.col("e_0") / F.lit(100.0)).alias("p50"),
            (F.col("e_1") / F.lit(100.0)).alias("p90"),
            (F.col("e_2") / F.lit(100.0)).alias("p99"),
            F.expr(ok).alias("sketch_ok"),
        )
        .orderBy("flag")
    )


def _quantiles_sql() -> str:
    exacts = ", ".join(
        f"CAST(max(CASE WHEN r.rn = CAST(floor({p} * (n.n - 1)) AS BIGINT) + 1 "
        f"THEN r.cents END) AS DOUBLE) / 100 AS p{int(p * 100)}"
        for p in QUANTILE_PS
    )
    return f"""
        WITH c AS (
            SELECT l_returnflag AS flag,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem
        ),
        n AS (SELECT flag, count(*) AS n FROM c GROUP BY flag),
        r AS (
            SELECT flag, cents,
                   row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn
            FROM c
        )
        SELECT n.flag, n.n, {exacts}, TRUE AS sketch_ok
        FROM r JOIN n ON r.flag = n.flag
        GROUP BY n.flag, n.n
        ORDER BY 1
    """


PRICE_QUANTILES_SQL = _quantiles_sql()


# ------------------------------------------- Misra-Gries heavy hitters

# Counters kept per summary. The candidate-superset guarantee
# (Misra-Gries 1982; mergeable form Agarwal et al., PODS 2012): a summary
# of n items undercounts every token by at most n/(MG_K+1), and summing
# summaries then compressing the sum back to MG_K counters keeps that
# bound for the union — so every token whose GLOBAL count exceeds
# n/(MG_K+1) keeps a positive counter in the driver-merged summary. The
# report threshold 1/HH_PHI_DEN must therefore be >= 1/(MG_K+1).
MG_K = 64
HH_PHI_DEN = 50  # report tokens with share > 1/50 = 2% of the corpus
assert HH_PHI_DEN <= MG_K + 1, "MG candidate set would not cover threshold"


def _mg_merge_batch(counts: dict, vc) -> dict:
    """Merge exact counts ``vc`` (a dict or a pandas ``value_counts``)
    into a running Misra-Gries summary, then compress back to ``MG_K``
    counters by subtracting the (MG_K+1)-th largest count (the
    mergeable-summaries compress step: decrement-all is the classic MG
    step applied in bulk; error stays <= n_seen/(MG_K+1)). Folds one
    Arrow batch into a partition's summary, and on the driver the summed
    partition summaries into one."""
    for tok, c in vc.items():
        counts[tok] = counts.get(tok, 0) + int(c)
    if len(counts) > MG_K:
        import numpy as np

        kth = np.partition(
            np.fromiter(counts.values(), dtype="int64"), -(MG_K + 1)
        )[-(MG_K + 1)]
        counts = {t: c - kth for t, c in counts.items() if c > kth}
    return counts


def _mg_partition_summary():
    """The phase-1 ``mapInPandas`` function of :func:`doc_heavy_hitters`:
    one partition's Misra-Gries counters as ``(tok, c)`` rows, then one
    ``(NULL, n_partition)`` row carrying the partition's token count.

    The returned closure must be SELF-CONTAINED (executors can't import
    this package when the driver runs from a foreign cwd — cloudpickle
    pickles module functions by reference); its fold duplicates
    :func:`_mg_merge_batch` and ``test_mg_closure_matches_module`` pins
    the two identical."""
    mg_k = MG_K

    def mg_summary(batches):
        import numpy as np
        import pandas as pd

        counts: dict = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            for tok, c in pdf["tok"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > mg_k:
                kth = np.partition(
                    np.fromiter(counts.values(), dtype="int64"), -(mg_k + 1)
                )[-(mg_k + 1)]
                counts = {t: c - kth for t, c in counts.items() if c > kth}
        yield pd.DataFrame(
            {"tok": [*counts, None], "c": [*counts.values(), n]}
        )

    return mg_summary


def _mg_merge_summaries(rows) -> tuple[int, dict]:
    """Driver side of phase 1: the corpus token count ``n`` (the sum of
    the ``(NULL, n_partition)`` rows) and the partition summaries merged
    into at most ``MG_K`` candidates by one :func:`_mg_merge_batch` over
    their summed counters."""
    n = 0
    summed: dict = {}
    for tok, c in rows:
        if tok is None:
            n += c
        else:
            summed[tok] = summed.get(tok, 0) + c
    return n, _mg_merge_batch({}, summed)


def doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with > 1/HH_PHI_DEN share) via
    a two-phase Misra-Gries candidate pass — the bounded-memory answer
    to "what are the hot tokens" when the distinct-token universe is too
    large for a plain groupBy's hash tables at 100 TB.

    Phase 1 streams each partition once through an ``MG_K``-counter
    Misra-Gries summary (Arrow ``mapInPandas``; per batch an exact
    vectorized ``value_counts`` is folded into the summary and
    compressed — no per-row Python) and collects the summaries with the
    partitions' token counts to the driver. There ``n`` is the sum of
    the counts, and one multi-way merge (:func:`_mg_merge_summaries`;
    Agarwal et al., PODS 2012) keeps at most ``MG_K`` candidates with
    error still <= n/(MG_K+1), so they remain a superset of the true
    heavy hitters. Phase 2 recounts ONLY the candidates exactly (an
    ``IN`` filter below the partial count, then one shuffle bounded by
    |candidates|) and applies the exact integer threshold
    ``cnt * HH_PHI_DEN > n``, ``n`` a BIGINT literal. Because phase 2 is
    exact over a superset, the OUTPUT is exactly the true heavy-hitter
    set — fully SQL-expressible, so the oracle is a plain
    GROUP BY ... HAVING.

    Cost: 3 jobs (the phase-1 collect, then the recount's map and
    result stages), no join, no broadcast and no materialized token
    table — the corpus is tokenized in two streaming scans.

    Scale shape: phase 1 sends at most ``MG_K``+1 rows per scan
    partition to the driver (at 100 TB, ~800k partitions of 65 small
    rows), where the old plan sent the distinct candidate set through a
    shuffle and a broadcast; phase 2 is map-side until its
    |candidates|-bounded final agg — two streaming scans and a
    kilobyte-scale shuffle, vs. a full distinct-token shuffle for the
    naive plan. ``share`` is one IEEE division of exact int64s —
    bit-identical across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(F.explode(tokens("text")).alias("tok"))
    summaries = ex.mapInPandas(_mg_partition_summary(), "tok string, c long")
    n, cands = _mg_merge_summaries(summaries.collect())
    return (
        ex.filter(F.col("tok").isin(sorted(cands)))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("n", F.lit(n).cast("bigint"))
        .filter(F.col("cnt") * HH_PHI_DEN > F.col("n"))
        .select(
            "tok",
            "cnt",
            "n",
            (F.col("cnt").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
    )


DOC_HEAVY_HITTERS_SQL = rf"""
    WITH ex AS (
        SELECT unnest(string_split_regex(text, '{WS_RE2}')) AS tok FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM ex),
    c AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY tok)
    SELECT tok,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(n AS BIGINT) AS n,
           CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS share
    FROM c, tot
    WHERE cnt * {HH_PHI_DEN} > n
"""
