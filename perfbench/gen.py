"""Seeded input generator.

Everything the engine reads is made here from ``--seed``: the TPC-H-ish
tables (same column names and types as the engine's testdata loader
expects) and the per-day JSON files for ``trickle``. The engine only
ever sees the files.

Tables are built with NumPy and written with pyarrow, so the same seed
gives byte-identical inputs whatever Spark does afterwards.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: shipdate range of the TPC-H-ish fact (2499 days)
_DAY0 = dt.date(1995, 1, 2)
N_DAYS = 2499

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big vector"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def make_tables(root: str, seed: int, sf: float, with_corpus: bool = False,
                n_days: int = N_DAYS) -> list[str]:
    """Write region/nation/supplier/lineitem (and, with ``with_corpus``,
    documents/embeddings) parquet files under ``root``. ``sf`` scales
    like TPC-H: lineitem = 6M x sf rows over 2499 ship days, supplier =
    10k x sf, documents = 50k x sf, embeddings = 20k x sf. ``n_days``
    keeps only a seed-chosen run of that many ship days, at the same
    rows per day. Returns the ship days, in order."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(f"{root}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(f"{root}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })

    n_sup = max(10, int(10_000 * sf))
    _write(f"{root}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_sup), 2),
    })

    n = int(6_000_000 * sf * n_days / N_DAYS)
    first = int(rng.integers(0, N_DAYS - n_days + 1))
    n_orders = max(1, int(1_500_000 * sf))
    n_part = max(1, int(200_000 * sf))
    qty = rng.integers(1, 51, n).astype(np.float64)
    day = rng.integers(first, first + n_days, n)
    ship = (np.datetime64(_DAY0, "us") + day.astype("timedelta64[D]"))
    _write(f"{root}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    if with_corpus:
        _make_corpus(root, rng, sf)
    return [str(_DAY0 + dt.timedelta(days=d)) for d in range(first, first + n_days)]


def _make_corpus(root: str, rng: np.random.Generator, sf: float) -> None:
    """documents (random-vocabulary text; every 10th doc a near-duplicate
    of the doc 5 before it with two words swapped) and embeddings (10
    equal-size unit-norm clusters in 64 dims, vectors 0 and 1 a planted
    near-duplicate pair). Sizes, lengths and duplicate structure are the
    same for every seed; the seed picks the words and the vectors."""
    n_docs = max(20, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            words = texts[i - 5].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), 8 + (i * 37) % 93)]
        texts.append(" ".join(words))
    _write(f"{root}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec, dim = max(20, int(20_000 * sf)), 64
    centers = rng.normal(size=(10, dim))
    label = np.arange(n_vec) % 10
    emb = centers[label] * 0.35 + rng.normal(size=(n_vec, dim))
    emb[1] = emb[0] + rng.normal(scale=0.05, size=dim)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{root}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_doc_files(docs, hold: str, file_of_day: dict[str, int]) -> dict[int, str]:
    """Write the trip documents (``v`` JSON text, ``day``) as one
    JSON-lines file per file id under ``hold``; returns id -> path.
    One Spark write; the files stay outside the stage until landed."""
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    fmap = spark.createDataFrame(list(file_of_day.items()), "day string, fid int")
    n = len(set(file_of_day.values()))
    (docs.join(F.broadcast(fmap), "day")
     .repartition(n, "fid")
     .select("fid", "v")
     .write.partitionBy("fid").text(hold))
    out = {}
    for sub in os.listdir(hold):
        if not sub.startswith("fid="):
            continue
        fid = int(sub[4:])
        parts = [f for f in os.listdir(f"{hold}/{sub}")
                 if f.startswith("part-") and not f.endswith(".crc")]
        if len(parts) != 1:
            raise RuntimeError(f"expected one file for fid {fid}, got {parts}")
        out[fid] = f"{hold}/{sub}/{parts[0]}"
    return out


def land(path: str, stage_dir: str, name: str) -> str:
    """Move one prepared file into the stage (an atomic rename, so the
    pipe never lists a half-written file)."""
    target = f"{stage_dir}/{name}/{name}.json"
    os.makedirs(os.path.dirname(target), exist_ok=True)
    os.rename(path, target)
    return target
