"""The ``query`` workload's pass: a seeded document and
embedding corpus, the query operators run over it, and their checks.

The queries come from the engine's own registry
(``__spark_entry__.queries()``): ``ngram_jaccard`` (dedup), ``lsh_ann``
(similarity, through ``lsh_index``) and ``bm25`` (retrieval). Each is
checked after the timed region against its ``oracle_sql()`` under
DuckDB, compared the way ``tools/check_oracle.py`` compares.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.metrics import QUERIES

#: words and their weights (a few common ones, a long flat tail); the
#: ``bm25`` registry queries use these terms
VOCAB = (
    "the a of to and key agg row scan slow fast table value part hash "
    "merge batch spark line sort window order data column join small "
    "customer query big index shard cache page file block stream token "
    "model train score rank plan stage task node"
).split()
_WEIGHTS = np.array([8.0, 6.0, 4.0, 3.0, 3.0] + [1.0] * (len(VOCAB) - 5))
_WEIGHTS /= _WEIGHTS.sum()
LANGS = ("en", "de", "fr", "es")
SOURCES = tuple(f"src{i}" for i in range(5))
DIM = 64  # the similarity queries' embedding width
CLUSTERS = 16


def write_corpus(sf_dir: str, seed: int, n_docs: int) -> None:
    """``documents`` and ``embeddings`` parquet files in the registry's
    table shapes. A fifth of the documents are near-duplicates of an
    earlier one (up to 3 words changed); the embeddings fall into 16
    clusters."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(i))].split(" ")
            for _ in range(int(rng.integers(4))):
                words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB, p=_WEIGHTS))
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(8, 48)), p=_WEIGHTS).tolist()
        texts.append(" ".join(words))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs).tolist(),
        "source": rng.choice(SOURCES, size=n_docs).tolist(),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))

    centers = rng.standard_normal((CLUSTERS, DIM))
    label = rng.integers(CLUSTERS, size=n_docs)
    emb = (centers[label] + 0.5 * rng.standard_normal((n_docs, DIM))) / np.sqrt(DIM)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def builders() -> dict:
    """``{name: fn(spark, sf_dir) -> DataFrame}`` for ``QUERIES``."""
    import __spark_entry__ as entry

    registry = entry.queries()
    return {name: registry[name] for name in QUERIES}


def oracles(sf_dir: str) -> dict[str, str]:
    """The registry's DuckDB oracle SQL. The generated oracles read the
    corpus from ``$CX_ORACLE_SF_DIR``, which points at this run's."""
    import __spark_entry__ as entry

    os.environ["CX_ORACLE_SF_DIR"] = sf_dir
    return entry.oracle_sql()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same columns, same row count, and equal values in every column
    once both sides are sorted; floats must be equal too (both sides
    round), and NaN matches NaN."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows vs oracle {len(want)}"]
    a, b = _canon(got), _canon(want)
    problems = []
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av, bv = av.astype(float), bv.astype(float)
            neq = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
        else:
            neq = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
        if neq.any():
            i = int(np.argmax(neq))
            problems.append(f"column {c}: {int(neq.sum())} differ, first row {i}: "
                            f"{av[i]!r} vs oracle {bv[i]!r}")
    return problems


def check_all(sf_dir: str, results: dict[str, pd.DataFrame]) -> dict[str, list[str]]:
    """``{"query.<name>": problems}`` for every query that ran."""
    import duckdb

    sql = oracles(sf_dir)
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        problems = {}
        for name, pdf in results.items():
            problems[f"query.{name}"] = compare(pdf, con.sql(sql[name]).df())
        return problems
    finally:
        con.close()
