"""Streaming ingest dedup — the streaming face of the batch dedup pack.

A training-data pipeline at 100 TB ingests continuously; duplicates
arrive two ways, and each maps to a different Structured Streaming
operator with a different state bound:

* **Content duplicates** (same text from different crawls/sources):
  :func:`streaming_dedup_digests` keys state on the md5 content digest
  with ``dropDuplicates`` — the streaming twin of the batch
  ``dedup_exact`` (``operators/dedup.py``). State is one (small) digest
  row per distinct document, so it grows with corpus cardinality, not
  stream length; for truly unbounded streams, periodically snapshot the
  digest set to parquet and start a fresh query seeded by a stream-static
  anti-join against the snapshot.
* **Retransmissions** (at-least-once sources re-delivering recent rows):
  :func:`streaming_dedup_within_watermark` keys state on the record id
  with ``dropDuplicatesWithinWatermark`` — state is evicted as the
  watermark passes, so it is bounded by (arrival rate × watermark
  horizon) regardless of stream length. This is the exactly-once ingest
  front door; the digest dedup above runs after it.

Both drain under ``Trigger.AvailableNow`` in tests and reproduce the
batch semantics exactly (Kappa guarantee, like ``streaming/events.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_SCHEMAS
from ..session import materialize
from ..sources.catalog import spread_small_scan, stream_files
from .events import WATERMARK


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (a directory being
    appended to by the crawler; swap for Kafka with the same plan).
    Unlike events (nanos-timestamp workaround), the batch schema is
    directly streamable."""
    return stream_files(
        spark, sf_dir, "documents.parquet", TESTDATA_SCHEMAS["documents"]
    )


def streaming_dedup_digests(docs: DataFrame) -> DataFrame:
    """First-seen exact content dedup: emit each distinct content digest
    once, with the doc that introduced it.

    Output is append-mode (a digest row is final the moment it first
    appears). Which duplicate arrives first is an arrival-order fact of
    the stream, so only (digest, n_chars)-level columns are deterministic
    under replay; tests compare the digest set against batch
    ``dedup_exact``.
    """
    return docs.select(
        F.md5("text").alias("digest"), "doc_id", "n_chars"
    ).dropDuplicates(["digest"])


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Retransmission dedup keyed on event_id, state bounded by the
    watermark horizon — duplicates delivered within ``WATERMARK`` of the
    first copy are dropped; state for older ids is evicted instead of
    accumulating forever (the property plain streaming ``dropDuplicates``
    lacks)."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


DOCUMENTS_DEDUP_REPLAY_SQL = """
    SELECT DISTINCT md5(text) AS digest, n_chars FROM documents
"""


def documents_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-ready replay: drain the documents table as a finite stream
    through :func:`streaming_dedup_digests` and return the DETERMINISTIC
    projection of the result — the distinct digest set (+ ``n_chars``,
    which is functionally dependent on the text). ``doc_id`` is dropped:
    which duplicate arrives first is an arrival-order fact of the stream,
    not a property of the data, so it is excluded from the hashed
    contract (same reasoning the docstring above records).

    Oracle: ``SELECT DISTINCT md5(text), n_chars`` — streaming first-seen
    dedup and batch DISTINCT must agree exactly on the surviving set.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    from .events import run_available_now

    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_docdedup_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    out = run_available_now(
        streaming_dedup_digests(read_documents_stream(spark, sf_dir)),
        query_name=f"docdedup_replay_{tag}",
        checkpoint_dir=ckpt,
        output_mode="append",
    )
    return out.select("digest", "n_chars")


def snapshot_digests(docs: DataFrame) -> DataFrame:
    """The periodic state snapshot: distinct content digests of the
    corpus so far, written to parquet by a maintenance job. One small row
    per distinct document — the compact form of the streaming query's
    dropDuplicates state."""
    return docs.select(F.md5("text").alias("digest")).distinct()


def streaming_dedup_against_snapshot(
    docs_stream: DataFrame, snapshot: DataFrame
) -> DataFrame:
    """Content dedup for UNBOUNDED streams: the docstring's snapshot
    pattern made concrete. Plain streaming ``dropDuplicates`` state grows
    with corpus cardinality forever; instead, a periodic maintenance job
    persists :func:`snapshot_digests` and the ingest query restarts as

        new-arrivals stream
          -> stream-static LEFT ANTI join against the snapshot
             (duplicates of HISTORY dropped with zero streaming state --
             the static side is just a table, broadcast or shuffled by
             Catalyst like any batch join)
          -> dropDuplicates on digest
             (duplicates WITHIN the new window; state resets to empty at
             each restart, so it is bounded by the snapshot period's
             arrival volume, not corpus history)

    Exactly the rollup/compaction idea applied to dedup state: stream
    state holds only the current window; everything older lives in
    storage in mergeable form.
    """
    return (
        docs_stream.withColumn("digest", F.md5("text"))
        .join(snapshot, "digest", "left_anti")
        .dropDuplicates(["digest"])
    )


# ---------------------------------------------- near-dup vs LSH snapshot

# Signature-agreement threshold for declaring an arriving doc a near-dup
# of a history doc: matching MinHash components / NUM_HASHES estimates
# Jaccard, and the fixture's planted near-dups (j≈0.98) sit at ~1.0
# agreement while background pairs (j<0.1) sit near 0 — 0.5 separates
# them by a wide margin in both directions.
EST_JACCARD_THRESHOLD = 0.5


def with_minhash_bands(docs: DataFrame) -> DataFrame:
    """Per-ROW MinHash signature + LSH band keys — no explode/groupBy, so
    the same expression tree runs stateless under Structured Streaming
    (the batch MinHash computes identical values via groupBy(min); this
    form folds the min over the row's own shingle array with
    higher-order functions instead).

    Adds: ``sig`` array<long> (NUM_HASHES mins) and ``bands``
    array<struct<band int, band_sig string>> with the same
    comma-joined band keys the batch banded table uses. Docs too short
    to shingle (< 3 tokens) are dropped, exactly like the batch path.
    The signature and band keys are the batch core's own SQL-text
    templates (``minhash_sig_sql``, ``lsh_bands_sql``), so the two paths
    share one spelling of every hash.
    """
    from ..functions.hashing import h31_spark_sql
    from ..functions.text import tokens
    from ..operators.dedup import NUM_HASHES, lsh_bands_sql, minhash_sig_sql

    shingle = "concat_ws(' ', slice(_toks, i, 3))"
    return (
        docs.withColumn("_toks", tokens("text"))
        .filter(F.size("_toks") >= 3)
        .withColumn(
            "_hs",
            F.expr(f"transform(sequence(1, size(_toks) - 2), i -> {h31_spark_sql(shingle)})"),
        )
        .withColumn("sig", F.expr(f"array({', '.join(minhash_sig_sql('_hs'))})"))
        .withColumn(
            "bands",
            F.expr(lsh_bands_sql([f"element_at(sig, {k + 1})" for k in range(NUM_HASHES)])),
        )
        .drop("_toks", "_hs")
    )


def neardup_snapshot(docs: DataFrame) -> DataFrame:
    """The periodic LSH state snapshot a maintenance job persists: the
    corpus's banded signature table (doc_id, band, band_sig, sig) —
    near-dup analog of :func:`snapshot_digests`. One row per doc × band;
    carries the full signature so the ingest query can verify candidates
    without touching history text.

    The returned frame is materialized (``session.materialize``) so it
    behaves like the persisted table the pattern describes, which
    matters twice at scale (both bit the r16 sf1 sweep as a 300 s
    broadcast timeout):

    - the ~50×-CPU shingle→minhash pipeline is spread off the row-group-
      bound document scan (``spread_small_scan``) instead of inheriting
      its 1-2 partitions — inside a BroadcastExchange build that compute
      otherwise runs nearly serially under the broadcast timeout clock;
    - the signatures are computed ONCE (``localCheckpoint``), so a
      stream-static join re-reads materialized rows per batch instead of
      re-deriving the corpus, and — because a checkpointed relation does
      not advertise a small size estimate — Catalyst plans the join
      SHUFFLED rather than broadcasting a history table that grows with
      the corpus, exactly the plan a 100 TB deployment needs (the real
      maintenance job writes parquet; a scan of it behaves the same).
    """
    # explode_OUTER, deliberately: plain explode lets Catalyst infer a
    # ``size(bands) > 0`` filter (InferFiltersFromGenerate), which
    # INLINES the whole 64-hash signature expression and pushes it below
    # the spread exchange — the r16 sf1 plan showed the entire MinHash
    # pipeline duplicated into the 2-task scan stage's Filter, serializing
    # the exact compute the spread exists to parallelize. ``bands`` is a
    # literal fixed-length array (never null/empty past the token filter),
    # so outer-explode is value-identical and infers nothing.
    return materialize(
        with_minhash_bands(spread_small_scan(docs))
        .select("doc_id", F.explode_outer("bands").alias("b"), "sig")
        .select(
            "doc_id",
            F.col("b.band").alias("band"),
            F.col("b.band_sig").alias("band_sig"),
            "sig",
        )
    )


def neardup_hits_against_snapshot(
    arrivals: DataFrame, snapshot: DataFrame, hit_state_ttl: str | None = None
) -> DataFrame:
    """NEAR-dup analog of :func:`streaming_dedup_against_snapshot`: flag
    arriving documents that are near-duplicates of the historical corpus
    without any streaming state for history.

    **State bound — a continuous deployment MUST pick one of two
    eviction strategies.** The final per-(digest, history doc)
    dropDuplicates holds one row per distinct hit pair SINCE QUERY
    START — fine for the AvailableNow replay, but unbounded between
    restarts of a genuinely continuous query. Either (a) restart the
    query at every snapshot refresh (the default form; state resets to
    empty, so it is bounded by one refresh period's hit cardinality —
    the same restart cadence the snapshot pattern already requires, and
    the only form that is also a valid BATCH plan), or (b) pass
    ``hit_state_ttl`` (e.g. ``"2 hours"``) to use an ingest-time
    ``dropDuplicatesWithinWatermark`` instead — state is evicted by the
    watermark clock regardless of restart cadence, at the cost that a
    hit pair recurring after the TTL is re-emitted (downstream must
    upsert, and the variant is streaming-only).

    Written in pure DataFrame ops so the SAME function is the batch twin
    and the streaming operator (pass a streaming ``arrivals`` and it
    plans a stream-static equi-join): arriving docs compute their
    signature per-row (stateless), candidates come from the (band,
    band_sig) equi-join against the snapshot — Catalyst treats the
    static side like any batch relation (broadcast or shuffled by size)
    — and verification is signature agreement via zip_with, stateless
    again.

    Output: (digest, hist_doc_id, est_jaccard) — one row per arriving
    content × matched history doc.
    """
    from ..operators.dedup import NUM_HASHES

    arr = (
        with_minhash_bands(arrivals)
        .withColumn("digest", F.md5("text"))
        .select(
            "digest",
            F.col("sig").alias("arr_sig"),
            # outer, same reason as neardup_snapshot: plain explode's
            # inferred size-filter inlines the 64-hash expression and
            # sinks it below any upstream exchange, serializing the
            # signature compute onto the raw scan's task count
            F.explode_outer("bands").alias("b"),
        )
        .select(
            "digest",
            "arr_sig",
            F.col("b.band").alias("band"),
            F.col("b.band_sig").alias("band_sig"),
        )
    )
    hist = snapshot.select(
        F.col("doc_id").alias("hist_doc_id"),
        "band",
        "band_sig",
        F.col("sig").alias("hist_sig"),
    )
    agree = F.expr(
        "aggregate(zip_with(arr_sig, hist_sig, (x, y) -> IF(x = y, 1, 0)), "
        "0, (acc, v) -> acc + v)"
    )
    hits = (
        arr.join(hist, ["band", "band_sig"])
        .withColumn(
            "est_jaccard", agree.cast("double") / F.lit(NUM_HASHES)
        )
        .filter(F.col("est_jaccard") >= EST_JACCARD_THRESHOLD)
    )
    if hit_state_ttl is not None:
        hits = (
            hits.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", hit_state_ttl)
            .dropDuplicatesWithinWatermark(["digest", "hist_doc_id"])
        )
    else:
        hits = hits.dropDuplicates(["digest", "hist_doc_id"])
    return hits.select("digest", "hist_doc_id", "est_jaccard")


def _neardup_replay_sql() -> str:
    """Oracle for :func:`documents_neardup_replay`: the same MinHash
    signatures (shared SQL machinery with the batch MinHash oracle),
    banded, split even (history) / odd (arrivals), candidates from the
    band equi-join, verified by counting agreeing signature components."""
    from ..operators.dedup import (
        NUM_HASHES,
        _band_sql,
        _minhash_sql_cols,
        _SHINGLE_SQL,
    )
    from ..functions.hashing import h31_sql

    agree = " + ".join(
        f"CAST(a.mh_{j} = e.mh_{j} AS INT)" for j in range(NUM_HASHES)
    )
    min_agree = -(-NUM_HASHES // 2)  # ceil: n_agree/NUM_HASHES >= 0.5
    return f"""
    {_SHINGLE_SQL},
    hashed AS (SELECT doc_id, {h31_sql('shingle')} AS h31 FROM sh),
    sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_sql()}),
    cand AS (
        SELECT DISTINCT bo.doc_id AS odd_doc, be.doc_id AS hist_doc_id
        FROM banded bo
        JOIN banded be ON bo.band = be.band AND bo.band_sig = be.band_sig
        WHERE bo.doc_id % 2 = 1 AND be.doc_id % 2 = 0
    ),
    agreed AS (
        SELECT c.odd_doc, c.hist_doc_id, ({agree}) AS n_agree
        FROM cand c
        JOIN sig a ON a.doc_id = c.odd_doc
        JOIN sig e ON e.doc_id = c.hist_doc_id
    )
    SELECT DISTINCT md5(d.text) AS digest,
           hist_doc_id,
           CAST(n_agree AS DOUBLE) / {NUM_HASHES} AS est_jaccard
    FROM agreed
    JOIN documents d ON d.doc_id = agreed.odd_doc
    WHERE n_agree >= {min_agree}
    """


DOCUMENTS_NEARDUP_REPLAY_SQL = _neardup_replay_sql()


def documents_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-ready replay of the near-dup-ingest pattern: history = even
    doc_ids (their LSH snapshot built batch-side, as the maintenance job
    would), arrivals = odd doc_ids drained as a finite stream through
    :func:`neardup_hits_against_snapshot` — a stream-static band
    equi-join + stateless signature verify, the near-dup analog of the
    digest replay above. Output: (digest, hist_doc_id, est_jaccard),
    hash-checked against a pure-SQL oracle that recomputes the same
    signatures and agreement counts (planted fixture near-dups straddle
    the parity split, so the hit set is non-trivial)."""
    import atexit
    import shutil
    import tempfile
    import uuid

    from .events import run_available_now

    snapshot = neardup_snapshot(read_documents_table_even(spark, sf_dir))
    # The replay's arrivals come from ONE parquet file, and a file-stream
    # scan does not split files — so each micro-batch plans the ~50x-CPU
    # shingle→minhash pipeline over ONE task no matter how many cores the
    # session has (the r16 sf1 sweep measured the batch stuck >10 min on
    # a 2-partition stream; the batch analog is what spread_small_scan
    # fixes on the scan side). One explicit shuffle of the raw arrivals
    # spreads the signature compute across the session's parallelism; a
    # real deployment ingesting from a many-partition source (Kafka)
    # arrives wide and would skip this.
    arrivals = (
        read_documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_neardup_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return run_available_now(
        neardup_hits_against_snapshot(arrivals, snapshot),
        query_name=f"neardup_replay_{tag}",
        checkpoint_dir=ckpt,
        output_mode="append",
    )


def read_documents_table_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    return load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
