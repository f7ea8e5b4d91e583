"""Input generators for the three workloads.

Everything here is plain numpy/pyarrow: the inputs are made without the
engine, so that the engine sees only generated data.

- ``e2e_rows``: the reference's ``EndToEndTest`` table (``id`` + seven INT
  columns). Row ``base`` gets ``num_k = (base + k + seed) % 7``, and ``base``
  is a seeded permutation of ``0..n-1`` over the ids. With ``n`` divisible by
  7 every column holds each of 0..6 exactly ``n / 7`` times, so every column
  sums to ``3 n`` and every integer mean is exactly 3, for every seed.
- ``write_catalog_fixture``: a fixed (seed-independent) copy of the catalog's
  TPC-H-like tables and its ``documents`` / ``embeddings`` tables, with the
  same parquet schemas and value ranges, at a quarter of the sf0.1 row
  counts.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 0.15 of the reference's 1.4 M rows; a multiple of 7 keeps every mean at 3.
E2E_ROWS = 7 * 30_000

FIXTURE_SEED = 20_170_417
# Row counts: a quarter of the sf0.1 test fixture. No entry reads the
# part table, so only lineitem's part-key range uses "part".
FIXTURE_ROWS = {"supplier": 250, "customer": 3_750, "orders": 37_500,
                "lineitem": 150_000, "part": 5_000, "documents": 1_250,
                "embeddings": 500}
FIXTURE_TABLES = ("region", "nation", "supplier", "customer", "orders",
                  "lineitem", "documents", "embeddings")

_VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch")


def e2e_rows(n: int, seed: int) -> np.ndarray:
    """``(n, 8)`` int64 array: ``id`` (1..n) then ``num0..num6``."""
    if n % 7:
        raise ValueError(f"row count {n} is not divisible by 7")
    base = np.random.default_rng(seed % 2**32).permutation(n)
    nums = (base[:, None] + np.arange(7)[None, :] + seed) % 7
    return np.column_stack([np.arange(1, n + 1), nums]).astype(np.int64)


def write_csv(rows: np.ndarray, path: str) -> None:
    """Comma-separated integers, one row per line, no header."""
    np.savetxt(path, rows, fmt="%d", delimiter=",")


def write_text_parts(rows: np.ndarray, directory: str, parts: int) -> None:
    """The seven ``num`` columns as ``a,b,c,d,e,f,g`` lines, split into
    ``parts`` files so that a text scan has one split per file."""
    os.makedirs(directory, exist_ok=True)
    for i, chunk in enumerate(np.array_split(rows[:, 1:], parts)):
        write_csv(chunk, os.path.join(directory, f"part-{i:05d}.txt"))


def _dates(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    start = np.datetime64(lo, "us")
    return pa.array(start + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    lang = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang[rng.integers(0, len(lang), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, clusters: int = 10) -> pa.Table:
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vec = centres[label] + rng.normal(scale=0.8, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


def catalog_fixture_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    n = FIXTURE_ROWS
    nsupp, ncust, nord, nline = (n["supplier"], n["customer"], n["orders"],
                                 n["lineitem"])
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                           "5-LOW"])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(regions)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    type=pa.int32())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(nsupp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(nsupp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, nsupp),
                                    type=pa.int32()),
            "s_acctbal": _money(rng, nsupp, -999.99, 9999.99)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(ncust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(ncust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, ncust),
                                    type=pa.int32()),
            "c_acctbal": _money(rng, ncust, -999.99, 9999.99),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, ncust)])}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(nord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ncust, nord),
                                  type=pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, nord)]),
            "o_totalprice": _money(rng, nord, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, nord, dt.date(1995, 1, 1),
                                  dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(
                priorities[rng.integers(0, 5, nord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, nord, nline),
                                   type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nline),
                                  type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, nsupp, nline),
                                  type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nline),
                                     type=pa.int32()),
            "l_quantity": rng.integers(1, 51, nline).astype(np.float64),
            "l_extendedprice": _money(rng, nline, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nline) / 100.0,
            "l_tax": rng.integers(0, 9, nline) / 100.0,
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, nline)]),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, nline)]),
            "l_shipdate": _dates(rng, nline, dt.date(1995, 1, 2),
                                 dt.date(2001, 11, 4))}),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_catalog_fixture(directory: str) -> None:
    """One ``<table>.parquet`` file per table, as in the sf0.1 fixture."""
    os.makedirs(directory, exist_ok=True)
    for name, table in catalog_fixture_tables().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def fixture_connection(directory: str,
                       threads: int) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per fixture table, for the catalog oracles."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{directory}/{t}.parquet')")
    return con
