"""Seeded input generators owned by the benchmark.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical inputs. Row counts depend only on ``size``, so the
amount of work per pass is the same for every seed; the seed moves the
values, the dirty-row positions, the hash keys and the LSH buckets.

* :func:`store_sales_text` — reference-native pipe text (23-field
  ``store_sales.dat``, 29-field ``store.dat``, the layout of
  ``sources/store_sales_gen.py``) with the three dirty-row classes of the
  reference's invalid-data taxonomy.
* :func:`corpus` — a documents table whose duplicate structure is fixed
  and whose tokens carry a seed suffix (a seeded rename).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# store_sales key spaces, matching the package's own store_sales generator
N_STORES = 60
N_ITEMS = 18_000
DATE_LO = 2_451_000
DATE_HI = 2_452_000
N_DATES = 1_400

_STORE_FIELDS = 29


def _join(fields: list, sep: str = "|") -> pa.Array:
    return pc.binary_join_element_wise(*fields, sep)


def _write_lines(lines: pa.Array, out_dir: str, n_parts: int) -> None:
    """Write ``lines`` as ``n_parts`` newline-terminated text parts."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(lines), n_parts + 1).astype(int)
    for i in range(n_parts):
        chunk = lines.slice(bounds[i], bounds[i + 1] - bounds[i]).to_pylist()
        with open(os.path.join(out_dir, f"part-{i:05d}.txt"), "w") as f:
            f.write("\n".join(chunk) + "\n")


def store_sales_text(out_dir: str, n_rows: int, seed: int, n_parts: int = 4) -> None:
    """Write ``store_sales.dat`` and ``store.dat`` (directories of text parts).

    ~1.5% of sales rows are dirty, in the reference's three classes:
    empty store key, unparsable profit, and short rows with missing
    delimiters.
    """
    rng = np.random.default_rng(seed)
    s = lambda a: pc.cast(pa.array(a), pa.string())  # noqa: E731
    date_sk = s(rng.integers(DATE_LO - 200, DATE_LO - 200 + N_DATES, n_rows))
    item_sk = s(rng.integers(0, N_ITEMS, n_rows))
    store_sk = s(rng.integers(0, N_STORES, n_rows))
    qty = s(rng.integers(1, 101, n_rows))
    cents = rng.integers(-5_000, 15_000, n_rows)
    mag = np.abs(cents)
    whole = _join([pa.array(np.where(cents < 0, "-", "")), s(mag // 100)], "")
    profit = _join([whole, pc.utf8_lpad(s(mag % 100), 2, "0")], ".")
    dirty = rng.integers(0, 1000, n_rows)
    store_sk = pc.if_else(pa.array(dirty < 5), "", store_sk)
    profit = pc.if_else(pa.array((dirty >= 5) & (dirty < 10)), "not-a-number", profit)
    b = pa.scalar("")
    # field positions: 0 date, 2 item, 7 store, 10 quantity, 22 profit
    full = _join([date_sk, b, item_sk, b, b, b, b, store_sk, b, b, qty, *[b] * 11, profit])
    short = _join([date_sk, pa.scalar("x"), pa.scalar("y")])
    lines = pc.if_else(pa.array((dirty >= 10) & (dirty < 15)), short, full)
    _write_lines(lines, os.path.join(out_dir, "store_sales.dat"), n_parts)

    # Five stores past the sales key space take the COALESCE(profit, 0)
    # path; every third store has no employee count and drops out of q2.
    ids = np.arange(N_STORES + 5)
    emp = np.where(ids % 3 == 2, "", (50 + rng.integers(0, 500, len(ids))).astype(str))
    store = [f"{i}" + "|" * 6 + e + "|" * (_STORE_FIELDS - 7) for i, e in zip(ids, emp)]
    _write_lines(pa.array(store), os.path.join(out_dir, "store.dat"), 1)


# ------------------------------------------------------------------ corpus

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order join small customer query stream "
    "group filter big vector"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_N_SOURCES = 20
_STRUCTURE_SEED = 20_231_001  # fixes the duplicate structure for every seed


def _suffix(seed: int) -> str:
    """Three lowercase letters derived from the seed (tokens stay alphabetic)."""
    x = (seed * 2_654_435_761 + 97) % (26**3)
    return "".join(chr(ord("a") + (x // 26**i) % 26) for i in range(3))


def corpus(out_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet``: ``n_docs`` word-salad documents.

    The structure (lengths, language, source, which documents are exact
    or near copies of which) comes from a fixed generator, so it is the
    same for every seed: 1% exact copies and 8% near copies with ~10% of
    tokens replaced. The seed renames every vocabulary token by appending
    a three-letter suffix, which changes every shingle hash and LSH bucket
    while keeping the duplicate structure.
    """
    rng = np.random.default_rng(_STRUCTURE_SEED)
    weights = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 0.6
    weights /= weights.sum()
    docs: list[np.ndarray] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            docs.append(docs[int(rng.integers(0, i))].copy())
        elif i > 10 and r < 0.09:
            src = docs[int(rng.integers(0, i))].copy()
            edits = rng.random(len(src)) < 0.1
            src[edits] = rng.choice(len(_VOCAB), int(edits.sum()), p=weights)
            docs.append(src)
        else:
            n_tok = int(rng.integers(20, 96))
            docs.append(rng.choice(len(_VOCAB), n_tok, p=weights))
    langs = rng.choice(len(_LANGS), n_docs, p=_LANG_P)
    sfx = _suffix(seed)
    vocab = [w + sfx for w in _VOCAB]
    texts = [" ".join(vocab[t] for t in d) for d in docs]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % _N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
