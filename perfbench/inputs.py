"""Seeded benchmark inputs, written as parquet into the run's work directory.

Only the tables a workload reads are generated:

* flagship: ``sequences`` + ``labels`` from ``marmot_spark.fixtures``
  (``gen_sequences`` / ``gen_labels``).
* headline queries: ``documents``, ``events``, ``embeddings`` and
  ``lineitem`` in the shape of the registry's scale-factor tables (same
  schemas and value domains; row counts scale with ``sf``). Those tables are
  not part of the repository, so the benchmark makes its own from the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from marmot_spark.fixtures import gen_labels, gen_sequences

ROW_GROUP = 16384  # as in fixtures.write_fixture_dir
# The flagship tables are written as this many part files. Spark packs small
# files into one scan task up to its 4 MB open cost, so a single small file
# would be scanned, joined back and exploded by one task; separate files give
# the scan the parallelism the full-size fixture gets from its row groups.
FLAGSHIP_FILES = 8


def _write(tables: dict[str, pa.Table], out_dir: str, n_files: int = 1) -> int:
    """Writes ``<name>.parquet``, or a directory of that name holding
    ``n_files`` consecutive slices; returns bytes written."""
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if n_files == 1:
            os.makedirs(out_dir, exist_ok=True)
            files = {path: tbl}
        else:
            os.makedirs(path, exist_ok=True)
            step = -(-tbl.num_rows // n_files)
            files = {os.path.join(path, f"part-{i:03d}.parquet"): tbl.slice(i * step, step) for i in range(n_files)}
        for p, t in files.items():
            pq.write_table(t, p, row_group_size=ROW_GROUP)
            total += os.path.getsize(p)
    return total


def write_flagship_inputs(out_dir: str, seed: int, n_seqs: int) -> int:
    """``sequences`` + ``labels`` for ``bench.flagship_pipeline``, each a
    directory of part files; returns bytes written."""
    seqs = gen_sequences(n_seqs, seed)
    return _write({"sequences": seqs, "labels": gen_labels(seqs, seed + 1)}, out_dir, FLAGSHIP_FILES)


WORDS = np.array(
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch".split()
)
LANGS = np.array(["en", "en", "en", "zh", "de", "fr", "es"])  # en ~40%, others ~15% each
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DAY_US = 86_400 * 1_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC
SHIP_T0_US = 788_918_400_000_000  # 1995-01-01 UTC


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 8:
            # ~5% near-duplicates: an earlier document with one extra word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), size=int(rng.integers(8, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # strictly increasing timestamps over 30 days, in event_id order
    ts = EVENTS_T0_US + np.cumsum(rng.integers(1, 2 * 30 * DAY_US // n, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    n_orders = max(1, n // 4)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)], pa.string()),
        "l_shipdate": pa.array(SHIP_T0_US + rng.integers(1, 2500, size=n) * DAY_US, pa.timestamp("us")),
    })


def write_query_tables(out_dir: str, seed: int, sf: float) -> int:
    """The four scale-factor tables the headline queries read; returns bytes written."""
    rng = np.random.default_rng(seed)
    return _write({
        "documents": _documents(rng, int(50_000 * sf)),
        "events": _events(rng, int(1_000_000 * sf), max(2, int(15_000 * sf))),
        "embeddings": _embeddings(rng, max(16, int(500_000 * sf))),
        "lineitem": _lineitem(rng, int(6_000_000 * sf)),
    }, out_dir)
