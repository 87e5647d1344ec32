"""Seeded input generator for the benchmark.

Derives the nine tables the workloads read from the reference input in
``ref/`` (the program's sf0.01 test tables: ``region nation customer
supplier part orders lineitem events documents``). Every table keeps the
reference schema; the seed picks the transforms that make two inputs
differ the way real ones do:

- key shift: an offset added to every order key (orders and lineitem);
- row order: lineitem rows are shuffled;
- event-time jitter: every gap between consecutive events is scaled by a
  factor in [0.9, 1.1], so events stay in time order;
- replica count: 10 documents get 1 to 3 near-duplicate copies each;
- near-duplicate text edits: each copy has one or two words swapped for
  other words of the reference vocabulary.

Everything is drawn from one ``numpy.random.Generator`` seeded by the
seed, in a fixed order, and the files are written without any per-write
metadata, so the same seed gives byte-identical parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ref")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")
NEAR_DUP_SOURCES = 10
GAP_JITTER = 0.1


def _replace(table: pa.Table, name: str, values) -> pa.Table:
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def generate(out_dir: str, seed: int, only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the tables (all, or those in ``only``) under ``out_dir``;
    return the row count per table written. Every transform is drawn
    either way, so a table's content does not depend on which others are
    written."""
    rng = np.random.default_rng(seed)
    t = {name: pq.read_table(os.path.join(REF_DIR, f"{name}.parquet")) for name in TABLES}

    shift = int(rng.integers(1, 1000))
    t["orders"] = _replace(t["orders"], "o_orderkey",
                           t["orders"]["o_orderkey"].to_numpy() + shift)
    line = _replace(t["lineitem"], "l_orderkey", t["lineitem"]["l_orderkey"].to_numpy() + shift)
    t["lineitem"] = line.take(pa.array(rng.permutation(line.num_rows)))

    ts = t["events"]["ts"].cast(pa.int64()).to_numpy()
    gaps = np.diff(ts) * rng.uniform(1 - GAP_JITTER, 1 + GAP_JITTER, len(ts) - 1)
    jittered = ts[0] + np.concatenate(([0], np.cumsum(np.maximum(1, np.round(gaps)))))
    t["events"] = _replace(t["events"], "ts", jittered.astype(np.int64))

    docs = t["documents"].to_pydict()
    vocab = sorted({w for text in docs["text"] for w in text.split()})
    n_replicas = int(rng.integers(1, 4))
    next_id = max(docs["doc_id"]) + 1
    for src in rng.choice(len(docs["text"]), NEAR_DUP_SOURCES, replace=False):
        for _ in range(n_replicas):
            words = docs["text"][src].split()
            for pos in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[pos] = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join(words)
            for col, value in (("doc_id", next_id), ("text", text), ("lang", docs["lang"][src]),
                               ("source", docs["source"][src]), ("n_chars", len(text))):
                docs[col].append(value)
            next_id += 1
    t["documents"] = pa.table(docs, schema=t["documents"].schema)

    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name in only or TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        written[name] = t[name].num_rows
    return written
