"""Seeded input generators.

Everything the program under test reads is made here from the run's
seed: the same seed gives byte-identical files.

* ``write_ratings`` — the ``userid::movieid::rating::timestamp`` text
  the fragment workloads load. Ratings follow the FIXTURES.md §1
  mapping ``round((quantity % 5.5) * 2) / 2`` over a uniform quantity
  in 1..55, so all 11 half-step values 0.0 .. 5.0 occur, equally often
  (lineitem's 1..50 gives some values 4/50 and others 5/50, which would
  make a point query's cost depend on the value the seed picks).
  ``(userid, movieid)`` is unique (movieids are distinct), which the
  round-robin numbering needs for a deterministic order.
* ``write_registry_tables`` — ``lineitem``, ``documents``,
  ``embeddings`` and ``events`` parquet files with the fixture schemas
  of FIXTURES.md §3 at roughly sf0.001 size, for the registry queries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ratings rows per user on average; sets the userid domain
ROWS_PER_USER = 30

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark group query row data slow filter customer line value "
    "a agg column big vector"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def ratings_array(rng: np.random.Generator, rows: int) -> np.ndarray:
    """``rows`` x 4 int64/float64 columns: userid, movieid, rating, ts."""
    users = max(rows // ROWS_PER_USER, 1)
    userid = rng.integers(1, users + 1, rows)
    movieid = rng.permutation(rows * 3)[:rows] + 1
    quantity = rng.integers(1, 56, rows)
    rating = np.round((quantity % 5.5) * 2) / 2
    ts = 978_300_000 + rng.integers(0, 10_000_000, rows)
    return np.rec.fromarrays(
        [userid, movieid, rating, ts], names="userid,movieid,rating,ts"
    )


def write_ratings(path: str, seed: int, rows: int) -> np.ndarray:
    """Write the ratings text file and return the rows written."""
    rec = ratings_array(np.random.default_rng(seed), rows)
    with open(path, "w") as fh:
        fh.writelines(
            f"{u}::{m}::{r:.1f}::{t}\n"
            for u, m, r, t in zip(
                rec.userid.tolist(), rec.movieid.tolist(),
                rec.rating.tolist(), rec.ts.tolist(),
            )
        )
    return rec


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype("int64"), pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, orders: int) -> pa.Table:
    lines = rng.integers(1, 8, orders)
    orderkey = np.repeat(np.arange(1, orders + 1), lines)
    linenumber = np.concatenate([np.arange(1, n + 1) for n in lines])
    n = len(orderkey)
    quantity = rng.integers(1, 51, n).astype("float64")
    price = np.round(quantity * rng.uniform(900, 2100, n), 2)
    day_us = 86_400 * 1_000_000
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 10, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(quantity, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2500, n) * day_us),
    })


def _documents(rng: np.random.Generator, docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.06:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, docs)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, vecs: int, dim: int = 64) -> pa.Table:
    emb = rng.normal(0.0, 0.12, (vecs, dim)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32()),
    })


def _events(rng: np.random.Generator, events: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, events))
    return pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), offsets),
        "user_id": pa.array(rng.integers(0, 16, events), pa.int64()),
        "event_type": pa.array(
            rng.choice(["signup", "click", "error", "purchase", "view"], events)
        ),
        "value": pa.array(np.round(rng.uniform(0.01, 330.0, events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
    })


def write_registry_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """Write the registry tables; returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    tables = {
        "lineitem": _lineitem(rng, 1500),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
        "events": _events(rng, 1000),
    }
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
