"""BPE merge training — exact differential against a pure-Python replica
(the embedding_kmeans precedent for iterative operators) plus a
hand-checkable classic corpus."""

from __future__ import annotations

import duckdb

from hadoop_hive_analysis_spark.functions.text import WS_RE2


def _fixture_word_counts(sf_dir: str) -> dict[str, int]:
    con = duckdb.connect()
    rows = con.execute(
        rf"""
        SELECT word, count(*) AS c FROM (
            SELECT unnest(string_split_regex(text, '{WS_RE2}')) AS word
            FROM read_parquet('{sf_dir}/documents.parquet')
        ) GROUP BY word
        """
    ).fetchall()
    con.close()
    return dict(rows)


def test_bpe_differential_on_fixture(spark, sf_dir):
    """The distributed loop must reproduce the pure-Python merge table
    exactly — same pairs, same order, same frequencies."""
    from hadoop_hive_analysis_spark.operators.bpe import (
        python_reference_merges,
        train_merges,
    )

    got = train_merges(spark, sf_dir)
    want = python_reference_merges(_fixture_word_counts(sf_dir))
    assert got == want
    assert len(got) == 8  # fixture vocabulary is nowhere near saturated


def test_bpe_classic_corpus(spark, tmp_path):
    """Sennrich's worked example shape: 'es' dominates ('newest' x6 +
    'widest' x3), then 'est' merges on top of it."""
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.bpe import (
        python_reference_merges,
        train_merges,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    d = tmp_path / "bpe"
    d.mkdir()
    pd.DataFrame([(1, text)], columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet")
    )
    got = train_merges(spark, str(d))
    assert got[0][1:] == ("e", "s", "es", 9)
    assert got[1][1:] == ("es", "t", "est", 9)
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    assert got == python_reference_merges(counts)


def test_bpe_greedy_nonoverlap_application():
    """'aaa' under merge (a,a) yields ['aa','a'] — greedy left-to-right,
    never the overlapping double count; pinned in the reference replica
    the distributed fold is differentially tested against."""
    from hadoop_hive_analysis_spark.operators.bpe import python_reference_merges

    out = python_reference_merges({"aaa": 1}, n_merges=2)
    # first merge: (a,a) freq 2 (two adjacent pairs in 'aaa')
    assert out[0][1:] == ("a", "a", "aa", 2)
    # after greedy application the word is ['aa','a'] -> pair (aa,a) x1
    assert out[1][1:] == ("aa", "a", "aaa", 1)


def test_bpe_survives_ansi_mode(spark, tmp_path):
    """A bare driver session runs Spark 4's ANSI default, where an
    out-of-bounds element_at THROWS — the merge fold's lookahead must
    use try_element_at (regression: caught at the bare-session drive)."""
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.bpe import train_merges

    text = "ab ab abc"
    d = tmp_path / "bpe_ansi"
    d.mkdir()
    pd.DataFrame([(1, text)], columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet")
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = train_merges(spark, str(d), n_merges=2)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got[0][1:] == ("a", "b", "ab", 3)
    assert got[1][1:] == ("ab", "c", "abc", 1)


def test_bpe_segment_stats_differential(spark, sf_dir):
    """End-to-end train→apply differential: per-doc subword counts and
    compression ppm must equal the pure-Python replica computed from
    the same corpus."""
    import duckdb

    from hadoop_hive_analysis_spark.operators.bpe import (
        bpe_segment_stats,
        python_reference_segment,
    )

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_chars_t"],
            r["n_subwords"],
            r["chars_per_subword_ppm"],
        )
        for r in bpe_segment_stats(spark, sf_dir).collect()
    }

    seg = python_reference_segment(_fixture_word_counts(sf_dir))
    con = duckdb.connect()
    docs = con.execute(
        rf"""
        SELECT doc_id, string_split_regex(text, '{WS_RE2}') AS toks
        FROM read_parquet('{sf_dir}/documents.parquet')
        """
    ).fetchall()
    con.close()
    want = {}
    for doc_id, toks in docs:
        n_chars = sum(len(t) for t in toks)
        n_sub = sum(seg[t] for t in toks)
        want[doc_id] = (len(toks), n_chars, n_sub, n_chars * 1_000_000 // n_sub)
    assert got == want
    # merges actually compress: every doc has fewer subwords than chars
    assert all(v[2] < v[1] for v in got.values())


def test_bpe_padded_text_nonempty_word_contract(spark, tmp_path):
    """Whitespace-padded/empty documents: the '' tokens a whitespace
    split emits must be invisible to training AND segmentation — an
    empty word would hit Spark's sequence(1,0)==[1,0] descending
    behavior and gain two phantom '' symbols (regression)."""
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.bpe import (
        bpe_segment_stats,
        python_reference_merges,
        train_merges,
    )

    rows = [(1, "  ab ab  "), (2, ""), (3, "   "), (4, "ab cd")]
    d = tmp_path / "bpe_pad"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet")
    )
    got = train_merges(spark, str(d), n_merges=2)
    # the reference dict NEVER contains '' — the contract under test
    assert got == python_reference_merges({"ab": 3, "cd": 1}, n_merges=2)
    assert got[0][1:] == ("a", "b", "ab", 3)

    seg = {r["doc_id"]: r for r in bpe_segment_stats(spark, str(d)).collect()}
    # doc 1: two real tokens ('ab' -> 1 subword each after the merge)
    assert (seg[1]["n_tokens"], seg[1]["n_subwords"]) == (2, 2)
    # all-whitespace / empty docs have no non-empty tokens -> no row
    assert 2 not in seg and 3 not in seg
    # merge 2 consumed the only remaining pair (c,d) -> 'cd' is 1 subword
    assert got[1][1:] == ("c", "d", "cd", 1)
    assert (seg[4]["n_tokens"], seg[4]["n_subwords"]) == (2, 2)


def test_bpe_quality_floor_contract(spark, sf_dir):
    """The driver-hashable twin (judge r17 item 7): dict totals match an
    independent DuckDB recomputation to the bit, the quality booleans
    hold, and the compression floor actually DISCRIMINATES — the
    pure-Python segmentation beats it while the broken-apply value
    (ratio exactly 1.0: merges never applied) fails it."""
    from hadoop_hive_analysis_spark.operators.bpe import (
        BPE_COMPRESSION_FLOOR,
        bpe_quality_floor,
        python_reference_segment,
    )

    row = bpe_quality_floor(spark, sf_dir).collect()[0]
    wc = {w: c for w, c in _fixture_word_counts(sf_dir).items() if w}
    chars = sum(len(w) * c for w, c in wc.items())
    assert row["n_words"] == len(wc)
    assert row["n_tokens"] == sum(wc.values())
    assert row["n_chars"] == chars
    assert row["compression_floor_met"]
    assert row["subwords_cover_tokens"]
    assert row["merge_table_ok"]

    seg = python_reference_segment(wc)
    subs = sum(seg[w] * c for w, c in wc.items())
    num, den = BPE_COMPRESSION_FLOOR
    # the Spark boolean equals the differential's exact cross-multiply
    assert chars * den >= subs * num
    # no-merge segmentation (every subword one char) fails the floor
    assert not (chars * den >= chars * num)
