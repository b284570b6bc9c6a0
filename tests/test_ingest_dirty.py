"""Ingest-semantics parity: the reference's three invalid-record classes
(CS346 Report.pdf p.2 Fig. 2 — empty attribute, unparsable numeric, missing
delimiters) must be dropped by PERMISSIVE parse + IS NOT NULL, with no
custom code (SURVEY.md §2.2 P7), and valid rows must aggregate exactly."""

from __future__ import annotations

import os
from decimal import Decimal
from pathlib import Path

import pytest

from hadoop_hive_analysis_spark.plans.reference_queries import (
    q1a_sql,
    q1a_top_stores_by_profit,
    q2_store_profit_employees,
)
from hadoop_hive_analysis_spark.schemas import STORE_SALES
from hadoop_hive_analysis_spark.sources.csv import (
    _MAX_LISTED,
    _no_file_splits,
    _pipe_reader,
    read_pipe_table,
    read_store,
    read_store_sales,
)
from hadoop_hive_analysis_spark.sources.sinks import write_tab_text
from perfbench.oracle import Oracle


def _sales_line(date_sk, store_sk, profit, item_sk=1, qty=2, time_sk=""):
    """One 23-field pipe row; only the queried positions carry real values
    (and ``time_sk``, field 1, which no query reads)."""
    f = [""] * 23
    f[0] = str(date_sk)
    f[1] = str(time_sk)
    f[2] = str(item_sk)
    f[7] = str(store_sk)
    f[10] = str(qty)
    f[22] = str(profit)
    return "|".join(f)


def _store_line(store_sk, n_employees):
    f = [""] * 29
    f[0] = str(store_sk)
    f[6] = str(n_employees) if n_employees is not None else ""
    return "|".join(f)


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("dirty")
    good = [
        _sales_line(2451000, 1, "10.50"),
        _sales_line(2451001, 1, "5.25"),
        _sales_line(2451002, 2, "-3.00"),
        _sales_line(2451003, 3, "100.00"),
        _sales_line(2449999, 1, "999.99"),  # outside date range → filtered
        _sales_line(2453000, 2, "999.99"),  # outside date range → filtered
        # A stray quote is data, as in Hive and DuckDB (quote=''); with
        # Spark's default quote it swallowed the rest of the line.
        _sales_line(2451000, 2, "1.00", time_sk='"a'),
    ]
    dirty = [
        _sales_line(2451000, "", "7.77"),  # class 1: empty key attribute
        _sales_line(2451000, 1, "abc"),  # class 2: unparsable numeric
        "2451000|x|y",  # class 3: missing delimiters / short row
        _sales_line("zzz", 1, "1.00"),  # unparsable date → NULL → range-dropped
    ]
    (d / "store_sales.dat").write_text("\n".join(good + dirty) + "\n")
    stores = [
        _store_line(1, 11),
        _store_line(2, 22),
        _store_line(3, None),  # NULL employees → excluded from Q2 output
        _store_line(4, 44),  # no sales → COALESCE(profit, 0) path
    ]
    (d / "store.dat").write_text("\n".join(stores) + "\n")
    return str(d / "store_sales.dat"), str(d / "store.dat")


def test_dirty_rows_become_nulls_not_errors(spark, fixture_paths):
    sales_path, _ = fixture_paths
    df = read_store_sales(spark, sales_path)
    assert df.count() == 11  # nothing crashes; all physical lines surface
    bad_key = df.filter("ss_store_sk IS NULL").count()
    assert bad_key == 2  # empty attribute + short row
    assert df.filter("ss_net_profit IS NULL").count() >= 2


def test_q1a_native_drops_dirty_and_sums_exactly(spark, fixture_paths):
    sales_path, _ = fixture_paths
    df = read_store_sales(spark, sales_path)
    out = q1a_top_stores_by_profit(df, 10, 2450000, 2452000)
    got = {r.ss_store_sk: r.net_profit for r in out.collect()}
    assert got == {
        1: Decimal("15.75"),
        2: Decimal("-2.00"),
        3: Decimal("100.00"),
    }
    # ordering: desc by profit
    assert [r.ss_store_sk for r in out.collect()] == [3, 1, 2]


def test_q1a_sql_dual_matches_dataframe(spark, fixture_paths):
    sales_path, _ = fixture_paths
    df = read_store_sales(spark, sales_path)
    df.createOrReplaceTempView("store_sales")
    via_sql = spark.sql(q1a_sql(10, 2450000, 2452000)).collect()
    via_df = q1a_top_stores_by_profit(df, 10, 2450000, 2452000).collect()
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_df]


def test_q2_native_rightouter_coalesce_and_null_exclusion(spark, fixture_paths):
    sales_path, store_path = fixture_paths
    sales = read_store_sales(spark, sales_path)
    store = read_store(spark, store_path)
    out = q2_store_profit_employees(sales, store, 10, 2450000, 2452000)
    rows = [(r.s_store_sk, r.net_profit, r.s_number_employees) for r in out.collect()]
    assert rows == [
        (1, Decimal("15.75"), 11),
        (2, Decimal("-2.00"), 22),
        # store 3 excluded: NULL employees (reference :152,:185)
        (4, Decimal("0.00"), 44),  # no sales → COALESCE → 0
    ]


def test_tab_text_sink_roundtrip(spark, fixture_paths, tmp_path):
    sales_path, _ = fixture_paths
    df = read_store_sales(spark, sales_path)
    out = q1a_top_stores_by_profit(df, 10, 2450000, 2452000)
    dest = str(tmp_path / "out")
    write_tab_text(out, dest)
    lines = []
    for fn in os.listdir(dest):
        if fn.startswith("part-"):
            with open(os.path.join(dest, fn)) as fh:
                lines += [l.rstrip("\n") for l in fh if l.strip()]
    assert sorted(lines) == sorted(["3\t100.00", "1\t15.75", "2\t-2.00"])


def test_all_native_sql_duals_match_dataframe(spark, fixture_paths):
    """Complete §3.4 duality on the native schema: all four reference
    queries produce identical results through SQL and DataFrame forms."""
    from hadoop_hive_analysis_spark.plans.reference_queries import (
        q1b_sql,
        q1b_top_items_by_quantity,
        q1c_sql,
        q1c_top_dates_by_profit,
        q2_sql,
    )

    sales_path, store_path = fixture_paths
    sales = read_store_sales(spark, sales_path)
    store = read_store(spark, store_path)
    sales.createOrReplaceTempView("store_sales")
    store.createOrReplaceTempView("store")

    for sql, df in [
        (q1b_sql(10, 2450000, 2452000), q1b_top_items_by_quantity(sales, 10, 2450000, 2452000)),
        (q1c_sql(10, 2450000, 2452000), q1c_top_dates_by_profit(sales, 10, 2450000, 2452000)),
        (q2_sql(10, 2450000, 2452000), q2_store_profit_employees(sales, store, 10, 2450000, 2452000)),
    ]:
        got_sql = [tuple(r) for r in spark.sql(sql).collect()]
        got_df = [tuple(r) for r in df.collect()]
        assert got_sql == got_df, sql


def test_generated_store_sales_parses_and_queries(spark, tmp_path):
    """The bench's native-schema generator must produce .dat text whose
    PERMISSIVE parse exhibits all three Fig.-2 dirty classes and whose
    q1a/q2 run end-to-end with exact-decimal aggregates."""
    from hadoop_hive_analysis_spark.sources.store_sales_gen import (
        DATE_HI,
        DATE_LO,
        N_STORES,
        generate_store_sales_dat,
    )

    n = 10_000
    generate_store_sales_dat(spark, str(tmp_path), n)
    sales = read_store_sales(spark, str(tmp_path / "store_sales.dat"))
    assert sales.count() == n  # every physical line surfaces
    # class 1+3 → NULL store key (50 empty-key + 50 short rows per 10k)
    assert sales.filter("ss_store_sk IS NULL").count() == 100
    # class 2 → NULL profit (50 unparsable) + 50 short rows
    assert sales.filter("ss_net_profit IS NULL").count() == 100

    out = q1a_top_stores_by_profit(sales, 10, DATE_LO, DATE_HI).collect()
    assert len(out) == 10
    assert all(r.ss_store_sk is not None and 0 <= r.ss_store_sk < N_STORES for r in out)
    profits = [r.net_profit for r in out]
    assert profits == sorted(profits, reverse=True)

    store = read_store(spark, str(tmp_path / "store.dat"))
    q2 = q2_store_profit_employees(sales, store, 65, DATE_LO, DATE_HI).collect()
    # every third store has NULL employees and is excluded
    assert 0 < len(q2) < N_STORES + 5
    assert all(r.s_number_employees is not None for r in q2)
    # stores beyond the sales key space surface via COALESCE(profit, 0)
    no_sales = [r for r in q2 if r.s_store_sk >= N_STORES]
    assert no_sales and all(r.net_profit == Decimal("0.00") for r in no_sales)


def test_observation_metrics_ride_the_query_job(spark, fixture_paths):
    """Dirty-row taxonomy counts come out of the SAME action that runs
    the query — Observation, not a second scan."""
    from hadoop_hive_analysis_spark.sources.metrics import (
        ingest_quality_report,
        with_ingest_observation,
    )

    sales_path, _ = fixture_paths
    df = read_store_sales(spark, sales_path)
    observed, obs = with_ingest_observation(
        df, ["ss_store_sk", "ss_net_profit", "ss_sold_date_sk"]
    )
    out = q1a_top_stores_by_profit(observed, 10, 2450000, 2452000)
    assert out.count() == 3  # the action the metrics ride on
    m = obs.get
    assert m["n_rows"] == 11
    assert m["null_ss_store_sk"] == 2  # empty attr + short row
    assert m["null_ss_net_profit"] >= 2  # unparsable numeric + short row
    assert m["null_ss_sold_date_sk"] == 1  # unparsable date

    report = ingest_quality_report(
        df, ["ss_store_sk", "ss_net_profit"]
    ).collect()[0]
    assert report.n_rows == 11 and report.null_ss_store_sk == 2


# ---------------------------------------------- line reader vs. streaming

# The columns the reference's queries read, typed as perfbench's oracle
# reads them from the same text.
_QUERIED = {
    0: ("ss_sold_date_sk", "BIGINT"),
    2: ("ss_item_sk", "BIGINT"),
    7: ("ss_store_sk", "BIGINT"),
    10: ("ss_quantity", "INTEGER"),
    22: ("ss_net_profit", "DECIMAL(7,2)"),
}

_GOOD = [
    _sales_line(2451000, 1, "10.50"),
    _sales_line(2451001, 2, "5.25", item_sk=7),
    _sales_line(2451002, 3, "-3.00", qty=9),
]
_DIRTY = [
    _sales_line(2451000, "", "7.77"),
    _sales_line(2451000, 1, "abc"),
    "2451000|x|y",
]
_QUOTED = [
    _sales_line(2451000, 2, "1.00", time_sk='"a'),
    _sales_line(2451003, 1, '"2.00"'),
    _sales_line(2451004, 1, "3.00", time_sk='a"b"'),
    _sales_line('"', 3, "4.00"),
]


def _write_parts(d, files: list[str]) -> str:
    d.mkdir()
    for i, text in enumerate(files):
        (d / f"part-{i:05d}.dat").write_bytes(text.encode())
    return str(d)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _queried(df) -> list[tuple]:
    return _rows(df.select(*(name for name, _ in _QUERIED.values())))


def _line_reader(spark, path):
    return _pipe_reader(spark, STORE_SALES, "|").csv(path)


def _stream_reader(spark, path):
    return _pipe_reader(spark, STORE_SALES, "|").option("multiLine", "true").csv(path)


def _oracle_rows(path: str) -> list[tuple]:
    """DuckDB's rows for the text file or part directory ``path``."""
    files = sorted(map(str, Path(path).glob("part-*"))) if os.path.isdir(path) else [path]
    o = Oracle()
    try:
        o.pipe_text_view("t", files, _QUERIED, 23)
        return sorted(o.con.execute("SELECT * FROM t").fetchall(), key=repr)
    finally:
        o.close()


_READER_FIXTURES = {
    "lf": ["\n".join(_GOOD) + "\n"],
    "crlf": ["\r\n".join(_GOOD) + "\r\n"],
    "lf_and_crlf_files": ["\n".join(_GOOD) + "\n", "\r\n".join(_DIRTY) + "\r\n"],
    "no_final_newline": ["\n".join(_GOOD)],
    "empty_lines": ["\n" + "\n\n".join(_GOOD) + "\n\n\n"],
    "dirty_classes": ["\n".join(_GOOD + _DIRTY) + "\n"],
    "stray_quotes": ["\n".join(_GOOD + _QUOTED) + "\n"],
}


@pytest.mark.parametrize("name", sorted(_READER_FIXTURES))
def test_streaming_and_line_reader_agree(spark, tmp_path, name):
    """On inputs inside the contract (each file's lines end one way),
    ``read_pipe_table`` streams small files, and the streaming reader gives
    the line reader's rows and partitions; both give DuckDB's rows."""
    path = _write_parts(tmp_path / name, _READER_FIXTURES[name])
    assert _no_file_splits(spark, path)
    chosen, line = read_pipe_table(spark, path, STORE_SALES), _line_reader(spark, path)
    assert _rows(chosen) == _rows(line)
    assert chosen.rdd.getNumPartitions() == line.rdd.getNumPartitions()
    assert _queried(chosen) == _oracle_rows(path)


@pytest.fixture
def max_partition_bytes(spark):
    """Set ``spark.sql.files.maxPartitionBytes`` for one test, then restore it."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    yield lambda n: spark.conf.set(key, str(n))
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_file_larger_than_a_split_keeps_the_line_reader(spark, tmp_path, max_partition_bytes):
    """The path rule is Spark's split size: a file of exactly
    ``maxSplitBytes`` is one split and streams; one byte less and the file
    is cut in two, so it keeps the line reader; at a quarter it splits
    four ways. Both readers give the same rows throughout."""
    lines = [_sales_line(2451000 + i % 7, i % 5, f"{i}.25") for i in range(200)]
    path = _write_parts(tmp_path / "big", ["\n".join(lines) + "\n"])
    size = (tmp_path / "big" / "part-00000.dat").stat().st_size
    expected = _rows(_line_reader(spark, path))
    assert len(expected) == 200
    cases = [(size, True, 1), (size - 1, False, 2), (size // 4 + 1, False, 4)]
    for split, streams, n_parts in cases:
        max_partition_bytes(split)
        assert _no_file_splits(spark, path) is streams, split
        chosen, line = read_store_sales(spark, path), _line_reader(spark, path)
        assert chosen.rdd.getNumPartitions() == line.rdd.getNumPartitions() == n_parts
        assert _rows(chosen) == expected


def test_line_reader_kept_for_globs_subdirs_empty_and_long_listings(spark, tmp_path):
    """Also for a listing longer than ``_MAX_LISTED``, whose files are
    read on the line reader without being examined."""
    many = _write_parts(tmp_path / "many", [_GOOD[0] + "\n"] * (_MAX_LISTED + 1))
    assert not _no_file_splits(spark, many)
    assert read_store_sales(spark, many).count() == _MAX_LISTED + 1
    at_cap = _write_parts(tmp_path / "cap", [_GOOD[0] + "\n"] * _MAX_LISTED)
    assert _no_file_splits(spark, at_cap)
    path = _write_parts(tmp_path / "t", ["\n".join(_GOOD) + "\n"])
    (tmp_path / "t" / "_SUCCESS").write_text("")
    (tmp_path / "t" / ".part-00000.dat.crc").write_text("x" * 100)
    assert _no_file_splits(spark, path)  # hidden files are skipped, as by Spark
    assert not _no_file_splits(spark, path + "/part-*")
    assert not _no_file_splits(spark, str(tmp_path))  # a subdirectory
    (tmp_path / "empty").mkdir()
    assert not _no_file_splits(spark, str(tmp_path / "empty"))
    assert not _no_file_splits(spark, str(tmp_path / "missing"))


def test_mixed_line_terminators_are_outside_the_contract(spark, tmp_path):
    """Pinned: the streaming reader takes a file's terminator from its
    first line. After an LF first line, a CRLF line's last field keeps its
    ``\\r`` (profit NULL); after a CRLF first line, the LF lines merge
    into one row. The line reader and DuckDB read both files right."""
    six = [_sales_line(2451000 + i, i, f"{i}.50") for i in range(6)]
    cases = {
        "lf_first": "\n".join(six[:3]) + "\n" + "\r\n".join(six[3:]) + "\r\n",
        "crlf_first": "\r\n".join(six[:3]) + "\r\n" + "\n".join(six[3:]) + "\n",
    }
    got = {}
    for name, text in cases.items():
        path = _write_parts(tmp_path / name, [text])
        assert _queried(_line_reader(spark, path)) == _oracle_rows(path)
        assert len(_oracle_rows(path)) == 6
        chosen = _queried(read_store_sales(spark, path))
        assert chosen == _queried(_stream_reader(spark, path))
        got[name] = (len(chosen), sum(r[4] is None for r in chosen))
    # (rows, rows with a NULL profit): after LF, the three CRLF lines lose
    # their profit; after CRLF, the three LF lines become one row.
    assert got == {"lf_first": (6, 3), "crlf_first": (4, 1)}


def test_whitespace_only_lines_differ_the_other_way(spark, tmp_path):
    """Pinned: a whitespace-only line is an all-NULL row to the streaming
    reader, as to DuckDB's ``read_csv``; the line reader drops it."""
    path = _write_parts(tmp_path / "ws", [_GOOD[0] + "\n   \n" + _GOOD[1] + "\n\t\n"])
    chosen = _queried(read_store_sales(spark, path))
    assert chosen == _oracle_rows(path)
    assert chosen.count((None,) * 5) == 2 and len(chosen) == 4
    assert _queried(_line_reader(spark, path)) == [r for r in chosen if r != (None,) * 5]


def test_stray_quote_row_matches_duckdb(spark, fixture_paths):
    """The dirty fixture, quote row included, parses as DuckDB reads it."""
    sales_path, _ = fixture_paths
    got = _queried(read_store_sales(spark, sales_path))
    assert (2451000, 1, 2, 2, Decimal("1.00")) in got
    assert got == _oracle_rows(sales_path)
