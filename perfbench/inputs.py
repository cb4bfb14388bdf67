"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, rows)``: the same seed gives the
same rows in the same order, byte for byte. The shapes follow the TPC-H-ish
``lineitem`` and the ``documents`` corpus the package's registered queries
read (same column names, types and value ranges), so the workloads can call
the package exactly as a user would. Generation uses NumPy and Arrow only,
never Spark, so its cost does not depend on the code under test.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_SHIPDATE_LO = datetime.date(1995, 1, 2)
_SHIPDATE_DAYS = (datetime.date(2001, 11, 4) - _SHIPDATE_LO).days + 1

#: Word list of the synthetic corpus: a small vocabulary makes word
#: 3-grams repeat across documents, so MinHash banding sees real collisions.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
#: Share of documents that are planted near-duplicate copies.
DUP_SHARE = 0.08


def lineitem_table(seed: int, rows: int) -> pa.Table:
    """``lineitem`` columns with TPC-H value ranges, plus ``l_shipyear``
    (the year of ``l_shipdate``), which the paper-style CSV job sweeps."""
    rng = np.random.default_rng([seed, 1])
    ship_days = rng.integers(0, _SHIPDATE_DAYS, rows)
    shipdate = np.datetime64(_SHIPDATE_LO, "D") + ship_days
    shipyear = shipdate.astype("datetime64[Y]").astype(np.int64) + 1970
    return pa.table(
        {
            "l_orderkey": rng.integers(1, 150_000, rows),
            "l_partkey": rng.integers(1, 20_000, rows),
            "l_suppkey": rng.integers(1, 1_000, rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": rng.integers(90_068, 10_500_000, rows) / 100.0,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, rows)]),
            "l_shipdate": pa.array(shipdate, pa.date32()),
            "l_shipyear": shipyear.astype(np.int32),
        }
    )


def documents_table(seed: int, docs: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A text corpus with planted near-duplicates.

    Returns the table and the planted ``(original_id, copy_id)`` pairs. A
    copy is its original with one word appended (word 3-gram Jaccard >= 8/9
    for the >= 10-word documents generated here), or the same words with
    changed case and spacing (Jaccard 1 after normalisation). A copy can
    itself be copied, so some duplicate clusters are chains of three or
    more documents. Row order and ids are a seeded permutation, so a copy
    may get a lower id than its original.
    """
    rng = np.random.default_rng([seed, 2])
    n_dups = int(docs * DUP_SHARE)
    n_orig = docs - n_dups
    texts: list[str] = []
    for length in rng.integers(10, 91, n_orig):
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), length)))
    planted: list[tuple[int, int]] = []
    for _ in range(n_dups):
        src = int(rng.integers(0, len(texts)))
        words = texts[src].split(" ")
        if rng.random() < 0.5:
            copy = " ".join(words + [VOCAB[int(rng.integers(0, len(VOCAB)))]])
        else:
            copy = "  ".join(w.upper() if rng.random() < 0.3 else w for w in words) + " "
        planted.append((src, len(texts)))
        texts.append(copy)
    order = rng.permutation(docs)
    doc_id = np.empty(docs, np.int64)  # generation index -> doc_id
    doc_id[order] = np.arange(docs)
    by_id = [""] * docs
    for gen, did in enumerate(doc_id):
        by_id[did] = texts[gen]
    table = pa.table(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": by_id,
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), docs, p=_LANG_P)]),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": np.array([len(t) for t in by_id], np.int64),
        }
    )
    return table, [(int(doc_id[a]), int(doc_id[b])) for a, b in planted]


def write_csv(table: pa.Table, path: str) -> None:
    """One headered CSV file, the layout the paper's job reads."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path)


def write_parquet(table: pa.Table, path: str) -> None:
    """``<dir>/<table>.parquet`` as the package's ``load_table`` expects."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
