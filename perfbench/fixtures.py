"""Benchmark inputs, generated from the seed and cached on disk.

Fixtures are written with pyarrow (no Spark), keyed by their parameters
under ``.cache/``, and published by an atomic rename, so a second run with
the same parameters reuses them. The caller times generation outside
``setup_s``.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from host import CACHE_DIR


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _cached(key: str, build) -> str:
    path = os.path.join(CACHE_DIR, key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
    return path


def canon_from_truth(conv_truth: pd.DataFrame) -> pd.DataFrame:
    """Ground-truth entity map: canon = min member id of the true entity;
    unlabeled ('x') records are their own entity."""
    key = conv_truth["true_entity_id"].where(conv_truth["true_entity_id"] != "x", "x:" + conv_truth["conv_id"])
    canon = conv_truth.groupby(key)["conv_id"].transform("min")
    return pd.DataFrame({"record_id": conv_truth["conv_id"], "canon_id": canon})


def transcripts(n_entities: int, seed: int) -> str:
    """sparklink.synth corpus: transcripts.parquet + conv_truth.parquet."""
    from sparklink.synth import make_transcripts

    def build(d: str) -> None:
        t, truth = make_transcripts(n_entities=n_entities, seed=seed)
        _write(t, f"{d}/transcripts.parquet")
        _write(truth, f"{d}/conv_truth.parquet")

    return _cached(f"transcripts_e{n_entities}_s{seed}", build)


def ingest(n_entities: int, seed: int, n_batches: int, batch_pct: int) -> str:
    """The corpus split by a conv_id hash into ``n_batches`` disjoint
    batches of ``batch_pct`` % each (one file, column ``batch``) and the
    base (the rest), plus the base's ground-truth entity map (so set-up
    runs no ``partition``)."""
    src = transcripts(n_entities, seed)

    def build(d: str) -> None:
        t = pd.read_parquet(f"{src}/transcripts.parquet")
        truth = pd.read_parquet(f"{src}/conv_truth.parquet")
        bucket = truth["conv_id"].map(lambda c: zlib.crc32(c.encode()) % 100)
        batch_of = (bucket // batch_pct).where(bucket < n_batches * batch_pct, -1)
        which = dict(zip(truth["conv_id"], batch_of))
        t_batch = t["conv_id"].map(which)
        _write(t[t_batch == -1], f"{d}/base_transcripts.parquet")
        _write(t[t_batch >= 0].assign(batch=t_batch[t_batch >= 0].astype("int32")), f"{d}/batches.parquet")
        _write(canon_from_truth(truth[batch_of == -1]), f"{d}/em_base.parquet")
        _write(truth, f"{d}/conv_truth.parquet")

    return _cached(f"ingest_e{n_entities}_s{seed}_b{n_batches}x{batch_pct}", build)


# --- query-catalog tables ---------------------------------------------------
# Same schemas as the TPC-H-ish tables sparklink.queries reads. The data do
# not depend on the workload seed; only the query order does.

_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow group agg "
    "filter query big key window row table stream merge data vector customer the join dup"
).split()
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
_SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.13:  # near duplicate: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), size=2):
                toks[j] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, size=int(rng.integers(10, 101)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n),
            "source": [f"src{k}" for k in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": labels.astype(np.int32)}
    )


def _tpch(rng: np.random.Generator, n_cust: int, n_orders: int, n_lines: int) -> dict[str, pd.DataFrame]:
    day0 = np.datetime64("1995-01-01")
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, size=n_cust),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), size=n_orders),
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, size=n_orders), 2),
            "o_orderdate": day0 + rng.integers(0, 2500, size=n_orders).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(_PRIORITIES, size=n_orders),
        }
    )
    qty = rng.integers(1, 51, size=n_lines).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, size=n_lines).astype(np.int64),
            "l_partkey": rng.integers(0, 20000, size=n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, size=n_lines).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_lines).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, size=n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_lines) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["N", "A", "R"]), size=n_lines),
            "l_linestatus": rng.choice(np.array(["O", "F"]), size=n_lines),
            "l_shipdate": day0 + rng.integers(-30, 2500, size=n_lines).astype("timedelta64[D]"),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


CATALOG_SIZES = {
    # name: (documents, embeddings, customers, orders, lineitems)
    "default": (2000, 2000, 1000, 6000, 20000),
    "tiny": (400, 200, 100, 600, 2000),
}


def catalog(size: str) -> str:
    n_docs, n_vecs, n_cust, n_orders, n_lines = CATALOG_SIZES[size]

    def build(d: str) -> None:
        rng = np.random.default_rng(20240611)
        tables = {"documents": _documents(rng, n_docs), "embeddings": _embeddings(rng, n_vecs)}
        tables.update(_tpch(rng, n_cust, n_orders, n_lines))
        for name, df in tables.items():
            _write(df, f"{d}/{name}.parquet")

    return _cached("catalog_" + "_".join(map(str, CATALOG_SIZES[size])), build)
