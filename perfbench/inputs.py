"""Seeded input generation for the benchmark workloads.

Everything here runs in the benchmark's own process, single-threaded:
inputs are generated in memory once per run and staged as plain parquet
files with pyarrow in every set-up round. The program under test receives
only these files. The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Word stock for the dedup tables: the shape of the shipped sf-tables'
# documents (uniform word salad over a small technical vocabulary, 10-100
# words per doc). At sf0.1's row counts (5,000 docs, 2,000 vectors) each of
# the four benchmarked dedup queries takes within 10% of its time on the
# shipped sf0.1 tables (perfbench/README.md).
DEDUP_VOCAB = (
    "a the data query table row column key value hash sort merge join group "
    "agg filter scan batch stream window order part line spark vector fast "
    "slow big small customer index shuffle spill task stage plan node cache "
    "disk memory file block split record field schema type string number "
    "date time event user source target model"
).split()


def _corpus_table(df: pd.DataFrame) -> pa.Table:
    # Spark rejects parquet TIMESTAMP(NANOS); the corpus schema is micros
    table = pa.Table.from_pandas(df, preserve_index=False)
    i = table.schema.get_field_index("warc_ts")
    return table.set_column(i, "warc_ts", table.column(i).cast(pa.timestamp("us")))


def write_corpus_files(df: pd.DataFrame, out_dir: str, rows_per_file: int) -> list[str]:
    """Stage the corpus as many small parquet files (a crawl has thousands
    of input splits). Returns the file paths in row order."""
    os.makedirs(out_dir, exist_ok=True)
    table = _corpus_table(df)
    paths = []
    for k, start in enumerate(range(0, table.num_rows, rows_per_file)):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(start, rows_per_file), path)
        paths.append(path)
    return paths


def dedup_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` tables in the layout the registry's
    dedup queries read, with planted near-duplicate docs and vectors so
    every dedup query finds pairs."""
    rng = np.random.default_rng(seed)

    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.choice(np.array(DEDUP_VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos:pos + n]))
        pos += n
    # 4% near-duplicates: a copy of another doc with one word replaced
    for target in rng.choice(n_docs, size=n_docs // 25, replace=False):
        copy = texts[int(rng.integers(0, n_docs))].split()
        copy[int(rng.integers(0, len(copy)))] = str(rng.choice(DEDUP_VOCAB))
        texts[int(target)] = " ".join(copy)
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "de", "es", "fr", "zh"]), size=n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str)),
    })
    docs["n_chars"] = docs.text.str.len().astype(np.int64)

    vecs = rng.normal(0.0, 0.125, size=(n_vecs, 64)).astype(np.float32)
    # 5% near-duplicate vectors: a neighbour plus small noise
    near = rng.choice(n_vecs, size=n_vecs // 20, replace=False)
    vecs[near[1:]] = vecs[near[:-1]] + rng.normal(
        0.0, 0.03, size=(len(near) - 1, 64)).astype(np.float32)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    })
    return {"documents": pa.Table.from_pandas(docs, preserve_index=False),
            "embeddings": pa.Table.from_pandas(emb, preserve_index=False)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Stage tables as ``<out_dir>/<name>.parquet`` (the sf-table layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
