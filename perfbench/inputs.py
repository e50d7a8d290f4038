"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed; nothing imports the
program under test. The catalog tables follow the schema the catalog's
queries and DuckDB oracles read (customer, orders, lineitem, events,
documents, embeddings) at scale factor 0.01; the word-count backlog is
Zipf-distributed text.
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
TABLE_ROWS = {
    "customer": int(150_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": int(50_000 * SF),
    "embeddings": int(50_000 * SF),
}
N_PARTS = 2000
N_SUPPLIERS = 100
N_USERS = 150

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_DOC_WORDS = (
    "a the data spark stream batch query table row column key value join "
    "agg group sort filter scan merge hash window line order customer part "
    "vector small big fast slow"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_choice(rng, _DOC_WORDS, k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    x = 0.15 * centroids[labels] + rng.normal(size=(n, EMBED_DIM)) / 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the catalog tables as one parquet file each under out_dir;
    returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    n = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(259.0, n["events"]) * 1e6
    tables = {
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _choice(rng, _SEGMENTS, n["customer"]),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
            "o_orderpriority": _choice(rng, _PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, N_PARTS, n["lineitem"]),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _choice(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n["lineitem"]),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": t0 + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, n["events"]),
            "event_type": _choice(rng, _EVENT_TYPES, n["events"]),
            "value": np.maximum(
                np.round(rng.exponential(50.0, n["events"]), 2), 0.01
            ),
            "props": [
                json.dumps({"k": int(k)})
                for k in rng.integers(0, 100, n["events"])
            ],
        },
        "documents": _documents(rng, n["documents"]),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    pq.write_table(
        _embeddings(rng, n["embeddings"]),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return dict(n)


# --- word-count backlog -------------------------------------------------------

VOCAB = 200_000
ZIPF_S = 1.1
LINES_PER_FILE = 10_000


def _word(i: int) -> str:
    """Distinct lowercase word for vocabulary index i (base 26, >= 3
    letters), so the program's lower/split-on-non-word tokenizer returns
    the generated words unchanged."""
    i += 26 * 26
    out = []
    while i:
        out.append(chr(97 + i % 26))
        i //= 26
    return "".join(out)


class Backlog:
    """A seeded backlog of text files for the word-count stream.

    File k holds LINES_PER_FILE lines of 4-19 Zipf(ZIPF_S) words from a
    VOCAB-word vocabulary. The generator keeps each file's word ids so
    the expected count of every word over any prefix of the files is
    known without reading the program's output."""

    def __init__(self, seed: int, n_files: int, out_dir: str) -> None:
        rng = np.random.default_rng([seed, 2])
        vocab = np.array([_word(i) for i in range(VOCAB)], dtype=object)
        cdf = np.cumsum(np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S)
        cdf /= cdf[-1]
        os.makedirs(out_dir, exist_ok=True)
        self.paths: list[str] = []
        self.word_ids: list[np.ndarray] = []
        for k in range(n_files):
            n_words = rng.integers(4, 20, LINES_PER_FILE)
            ids = np.minimum(
                np.searchsorted(cdf, rng.random(int(n_words.sum()))), VOCAB - 1
            )
            # one word, then a space or (at a line end) a newline
            sep = np.full(len(ids), " ", dtype=object)
            sep[np.cumsum(n_words) - 1] = "\n"
            path = os.path.join(out_dir, f"part-{k:05d}.txt")
            with open(path, "w", encoding="ascii") as fh:
                fh.write("".join(itertools.chain.from_iterable(zip(vocab[ids], sep))))
            self.paths.append(path)
            self.word_ids.append(ids)
        self.vocab = vocab

    def expected_counts(self, n_files: int) -> dict[str, int]:
        """word -> count over the first n_files files."""
        if n_files == 0:
            return {}
        counts = np.bincount(
            np.concatenate(self.word_ids[:n_files]), minlength=VOCAB
        )
        nz = np.nonzero(counts)[0]
        return dict(zip(self.vocab[nz].tolist(), counts[nz].tolist()))
