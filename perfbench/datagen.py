"""Seeded input tables for the benchmark workloads.

The tables follow the shapes of the engine's synthetic test tables
(``documents``, ``embeddings``) so the catalog queries and their DuckDB
oracles run on them unchanged. Sizes are fixed;
the seed changes only the contents, so two seeds cost about the same.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

#: Row counts per table. Documents carry the dedup-aware split assignment
#: and the manifest table, embeddings the explorer.
SIZES = {
    "documents": 600,
    "embeddings": 600,
    "embedding_dim": 64,
}


#: Centres in the generated embeddings, and the k the explorer trains
#: with. The same for every seed, so the KMeans iteration count and the
#: cluster-metric cost do not change from seed to seed.
CLUSTERS = 10


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random 10-99 word texts over a 30-word vocabulary."""
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(
    rng: np.random.Generator, n: int, dim: int, centers: int
) -> pd.DataFrame:
    """Points in tight clusters around ``centers`` random unit
    directions, float32."""
    c = rng.normal(size=(centers, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    label = rng.integers(0, centers, size=n)
    x = c[label] + rng.normal(scale=0.3 / np.sqrt(dim), size=(n, dim))
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def write_tables(out_dir: str, seed: int, tables: list[str]) -> dict[str, int]:
    """Write the named tables as ``<out_dir>/<table>.parquet``; returns the
    row count of each. One generator per table, so a table's contents
    depend only on the seed."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "documents": lambda r: documents(r, SIZES["documents"]),
        "embeddings": lambda r: embeddings(
            r, SIZES["embeddings"], SIZES["embedding_dim"], CLUSTERS
        ),
    }
    rows = {}
    for i, name in enumerate(sorted(makers)):
        if name not in tables:
            continue
        frame = makers[name](np.random.default_rng([seed, i]))
        table = pa.Table.from_pandas(frame, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
