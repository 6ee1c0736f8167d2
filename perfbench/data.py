"""Deterministic fixture tables for the benchmark.

The fixtures are generated from a fixed seed, so every run of a workload
ingests byte-identical inputs and set-up time is comparable across runs;
the run's ``--seed`` drives only the operation stream (ranges,
conditions, batches, samples).  Shapes follow the TPC-H-style tables the
library's own test data uses: ``lineitem`` keyed on
``(l_orderkey, l_linenumber)``, ``orders`` keyed on ``o_orderkey`` and a
``documents`` corpus with a few percent of exact and near duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

_VOCAB = np.array(
    ("batch part spark line column order small sort fast value scan a hash "
     "slow group vector query agg table big join shuffle read write plan "
     "stage task row the of model data token train split chunk pack").split())
_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])
_DAY_US = 86_400_000_000
_T0_US = int(np.datetime64("1995-01-01", "us").astype("int64"))


def _write(path: str, cols: dict) -> str:
    pq.write_table(pa.table(cols), path, row_group_size=65536)
    return path


def lineitem(out_dir: str, n_orders: int = 150_000,
             n_rows: int = 600_000) -> str:
    """``n_rows`` lines over ``n_orders`` orders, 1..k lines per order."""
    rng = np.random.RandomState(FIXTURE_SEED)
    per = 1 + rng.poisson(n_rows / n_orders - 1, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per)[:n_rows]
    n = len(okeys)
    start = np.r_[0, np.flatnonzero(okeys[1:] != okeys[:-1]) + 1]
    lens = np.diff(np.r_[start, n])
    linenum = (np.arange(n) - np.repeat(start, lens) + 1).astype(np.int32)
    odate = _T0_US + rng.randint(0, 2400, n_orders) * _DAY_US
    return _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": okeys,
        "l_linenumber": linenum,
        "l_partkey": rng.randint(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.randint(0, 1_000, n).astype(np.int64),
        "l_quantity": rng.randint(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": np.round(rng.randint(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, n)],
        "l_shipdate": pa.array(odate[okeys] + rng.randint(1, 96, n) * _DAY_US
                               ).cast(pa.timestamp("us")),
    })


def orders_frame(keys: np.ndarray, rng: np.random.RandomState) -> dict:
    """Order rows for ``keys``."""
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.randint(0, 15_000, n).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.randint(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n), 2),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.randint(0, 5, n)],
    }


def orders(out_dir: str, n_rows: int) -> str:
    rng = np.random.RandomState(FIXTURE_SEED)
    return _write(os.path.join(out_dir, "orders.parquet"),
                  orders_frame(np.arange(n_rows), rng))


def documents(out_dir: str, n_docs: int) -> str:
    """~3% near duplicates (one word changed) and ~0.5% exact duplicates,
    8-160 words per document."""
    rng = np.random.RandomState(FIXTURE_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random_sample()
        if i > 50 and r < 0.005:
            texts.append(texts[rng.randint(0, i)])
        elif i > 50 and r < 0.035:
            ws = texts[rng.randint(0, i)].split()
            ws[rng.randint(0, len(ws))] = str(_VOCAB[rng.randint(0, len(_VOCAB))])
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(_VOCAB[rng.randint(0, len(_VOCAB),
                                                     rng.randint(8, 160))]))
    return _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.randint(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
