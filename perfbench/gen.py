"""Seeded input generators for the benchmark workloads.

Every generator writes into a directory the caller owns (the run's work
directory) and derives all randomness from fixed seeds and ``seed``: the
same seed gives identical inputs. The engine only ever sees the files.

- ``write_documents``: the ``documents`` table the corpus composites read,
  500 rows as in the sf0.001 and sf0.01 test data. Its content is fixed and
  was calibrated against the sf0.01 test table: the same five columns and
  vocabulary, texts of 10..99 words, and near-duplicates made by appending
  `` dup`` to a copy of an earlier document. On both tables the MinHash
  pair query finds 25 near-duplicate pairs, every cluster is a clique (25
  clusters of 2 here; 22 of 2 and one of 3 there), the ``% 97`` opt-out
  closure has 6 documents, and building ``dedup_clusters`` and
  ``forget_documents`` runs 24 and 19 Spark jobs. The seed draws the row
  order.
- ``write_etl_inputs``: the reference pipeline's inputs, drawn from the
  seed: headerless ``NN.csv`` order files with the FIXTURES.md A1 hostile
  rows and a JSON product dimension, plus the well-formed rows the checks
  recompute from.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# The documents hold the same values for every seed, so every seed does the
# same work; a run's seed draws their row order.
CONTENT_SEED = 20240101
N_DOCUMENTS = 500


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Random 10..99-word texts over a 30-word vocabulary; 5% of documents
    are a copy of an earlier one with a `` dup`` suffix (the near-duplicates
    the dedup and erasure composites exist to find)."""
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]) for _ in range(n)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.asarray(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_documents(out_dir: str, seed: int) -> int:
    """Write ``documents.parquet/part-000.parquet`` under ``out_dir``, its
    rows in an order drawn from ``seed``; returns the row count."""
    table = _documents(N_DOCUMENTS, np.random.default_rng(CONTENT_SEED))
    table = table.take(pa.array(np.random.default_rng([seed, 1]).permutation(table.num_rows)))
    dest = os.path.join(out_dir, "documents.parquet")
    os.makedirs(dest)
    pq.write_table(table, os.path.join(dest, "part-000.parquet"))
    return table.num_rows


# --- reference ETL inputs -------------------------------------------------

_MOM = ["dairy eggs", "bakery", "household", "babies"]
_SINGLE = ["canned goods", "meat seafood", "alcohol", "snacks", "beverages"]
_PET = ["pets", "frozen"]
_NEUTRAL = ["produce", "pantry", "personal care", "deli", "breakfast"]
DEPARTMENTS = _MOM + _SINGLE + _PET + _NEUTRAL
_HOSTILE_NAMES = ["Crème Brûlée", "Jalapeño Chips", "Müsli, Crunchy", "日本 Green Tea", " Padded Oats "]


def write_etl_inputs(out_dir: str, seed: int, n_orders: int, n_products: int, n_files: int = 5) -> dict:
    """Write ``csv/NN.csv`` (headerless orders, hostile rows included) and
    ``api.json`` (the product dimension as ``{"results": {"items": [...]}}``)
    under ``out_dir``. Returns the paths, the well-formed order rows as an
    Arrow table (what DROPMALFORMED must keep) and the dimension rows."""
    rng = np.random.default_rng([seed, 3])
    dept = np.asarray(DEPARTMENTS)[rng.integers(0, len(DEPARTMENTS), n_products)]
    names = [f"Product {i:05d}" for i in range(n_products)]
    # a few dimension names carry commas, so the CSV quote path is exercised
    for i in rng.choice(n_products, 50, replace=False):
        names[i] = names[i] + ", Family Size"
    aisles = [f"aisle {a}" for a in rng.integers(0, 134, n_products)]
    items = [{"product_name": n, "aisle": a, "department": d} for n, a, d in zip(names, aisles, dept)]

    # users with 1..20 orders each, order_number 1..N per user
    per_user = []
    total = 0
    while total < n_orders:
        k = int(min(rng.integers(1, 21), n_orders - total))
        per_user.append(k)
        total += k
    user_ids = np.repeat(np.arange(len(per_user), dtype=np.int64) + 1, per_user)
    order_number = np.concatenate([np.arange(1, k + 1) for k in per_user]).astype(np.int32)
    order_ids = np.arange(1, n_orders + 1, dtype=np.int64) + 1_000_000
    dow = rng.integers(0, 7, n_orders).astype(np.int32)
    hour = rng.integers(0, 24, n_orders).astype(np.int32)
    hour[rng.random(n_orders) < 0.01] = 24
    neg = rng.random(n_orders) < 0.01
    hour[neg] = -rng.integers(1, 24, int(neg.sum()))
    dspo = np.round(rng.uniform(0.0, 30.0, n_orders), 1).astype(np.float32)
    edge = rng.random(n_orders) < 0.1
    dspo[edge] = rng.choice([7.0, 8.0, 9.0, 10.0, 19.0, 20.0, 21.0], int(edge.sum()))
    negd = rng.random(n_orders) < 0.01
    dspo[negd] = -dspo[negd]

    n_items = rng.integers(1, 21, n_orders)
    prod_idx = rng.integers(0, n_products, int(n_items.sum()))
    qty = rng.integers(1, 9, int(n_items.sum()))
    qty[rng.random(len(qty)) < 0.005] *= -1
    hostile = rng.random(len(prod_idx)) < 0.002
    orphan = rng.random(len(prod_idx)) < 0.003
    details = []
    pos = 0
    for k in n_items:
        parts = []
        for j in range(pos, pos + int(k)):
            if hostile[j]:
                name, aisle = _HOSTILE_NAMES[j % len(_HOSTILE_NAMES)], "aisle x"
            elif orphan[j]:
                name, aisle = f"Orphan {j}", "aisle y"
            else:
                name, aisle = names[prod_idx[j]], aisles[prod_idx[j]]
            parts.append(f"{name}|{aisle}|{qty[j]}")
        details.append("~".join(parts))
        pos += int(k)

    csv_dir = os.path.join(out_dir, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    file_of = rng.integers(0, n_files, n_orders)
    bad_file = int(rng.integers(0, n_files))
    for f in range(n_files):
        with open(os.path.join(csv_dir, f"{f:02d}.csv"), "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL, doublequote=True, lineterminator="\n")
            for i in np.flatnonzero(file_of == f):
                w.writerow([order_ids[i], user_ids[i], order_number[i], dow[i], hour[i], repr(float(dspo[i])), details[i]])
            if f == bad_file:
                fh.write("not,enough\n")
                fh.write(f"9999999,x-user,1,1,1,1.0,{names[0]}|aisle 0|1\n")
                fh.write("\n")
    api_path = os.path.join(out_dir, "api.json")
    with open(api_path, "w", encoding="utf-8") as fh:
        json.dump({"results": {"items": items}}, fh)
    orders = pa.table({
        "order_id": order_ids, "user_id": user_ids, "order_number": order_number,
        "order_dow": dow, "order_hour_of_day": hour, "days_since_prior_order": dspo,
        "order_detail": details,
    })
    dim = pa.table({"product_name": names, "aisle": aisles, "department": pa.array(dept)})
    return {"csv_dir": csv_dir, "api_url": "file://" + os.path.abspath(api_path),
            "orders": orders, "dimension": dim, "n_items": int(n_items.sum())}
