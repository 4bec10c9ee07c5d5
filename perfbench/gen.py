"""Seeded workload inputs.

A workload's input is a sample of the document pool (``data/documents.parquet``,
a byte-identical copy of the 5,000 documents of the sf0.1 test corpus), in an
order and with fresh ``doc_id``s drawn from the seed. The sample is stratified
by length: the pool is sorted by token count and cut into ``docs`` strata of
equal size, and one document is taken from each, so every sample has nearly
the same number of tokens.

With ``fixed_set`` the strata are drawn once with ``SET_SEED`` and the seed
only permutes and relabels the documents, so the query's output is the same
for every seed up to ``doc_id`` and its oracle can be computed once. Without
it the seed also draws the documents, and a share of them can be replaced by
lightly edited copies of others, so that the near-duplicate detectors have
true positives.

The sample is written as ``files`` parquet files, one row group each, so the
scan plans at least ``files`` splits. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

# one substituted token per this many tokens (at least one per copy)
EDIT_EVERY = 25
# draws the document set of a fixed-set workload
SET_SEED = 20240601


def _near_copy(text: str, vocab: list[str], rng: np.random.Generator) -> str:
    toks = text.split()
    for i in rng.choice(len(toks), size=max(1, len(toks) // EDIT_EVERY), replace=False):
        toks[i] = vocab[rng.integers(len(vocab))]
    return " ".join(toks)


def stratified(lengths: np.ndarray, docs: int, rng: np.random.Generator) -> np.ndarray:
    """Pool rows, one drawn from each of ``docs`` equal strata by length."""
    order = np.lexsort((np.arange(len(lengths)), lengths))
    bounds = np.linspace(0, len(order), docs + 1).astype(int)
    return order[bounds[:-1] + rng.integers(0, np.diff(bounds))]


def pool_lengths() -> np.ndarray:
    return np.array([len(t.split()) for t in pq.read_table(POOL, columns=["text"]).column("text").to_pylist()])


def fixed_rows(docs: int, lengths: np.ndarray | None = None) -> np.ndarray:
    """The document set of a fixed-set workload of ``docs`` documents."""
    lengths = pool_lengths() if lengths is None else lengths
    return stratified(lengths, docs, np.random.default_rng(SET_SEED))


def _table(pool: pa.Table, take: np.ndarray, texts: list[str], ids: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pool.column("lang").take(pa.array(take)),
            "source": pool.column("source").take(pa.array(take)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_parts(table: pa.Table, out_dir: str, files: int) -> None:
    target = os.path.join(out_dir, "documents.parquet")
    os.makedirs(target, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(target, f"part-{i:05d}.parquet"))


def generate(
    out_dir: str, seed: int, docs: int, near_dup_share: float, files: int, fixed_set: bool = False
) -> tuple[dict, dict[int, int]]:
    """Write ``out_dir/documents.parquet/part-*.parquet``.

    Returns the input's properties and each ``doc_id``'s pool row.
    """
    pool = pq.read_table(POOL)
    if docs > pool.num_rows:
        raise ValueError(f"{docs} documents requested, pool has {pool.num_rows}")
    if fixed_set and near_dup_share:
        raise ValueError("a fixed document set takes no near-duplicates")
    pool_texts = pool.column("text").to_pylist()
    lengths = np.array([len(t.split()) for t in pool_texts])
    rng = np.random.default_rng(seed)
    chosen = fixed_rows(docs, lengths) if fixed_set else stratified(lengths, docs, rng)
    take = chosen[rng.permutation(docs)]
    texts = [pool_texts[i] for i in take]

    n_dup = int(round(docs * near_dup_share))
    if n_dup:
        vocab = sorted({w for t in pool_texts for w in t.split()})
        for row in rng.choice(docs, size=n_dup, replace=False):
            src = (row + 1 + rng.integers(docs - 1)) % docs
            texts[row] = _near_copy(texts[src], vocab, rng)

    ids = rng.permutation(np.sort(rng.choice(1 << 24, size=docs, replace=False))).astype(np.int64)
    write_parts(_table(pool, take, texts, ids), out_dir, files)
    props = {
        "documents": docs,
        "tokens": sum(len(t.split()) for t in texts),
        "near_dup_share": n_dup / docs,
        "files": files,
        "fixed_set": fixed_set,
    }
    return props, dict(zip(ids.tolist(), take.tolist()))


def canonical(out_dir: str, rows: list[int]) -> None:
    """Write the pool rows ``rows`` as one file, each with its pool row as ``doc_id``."""
    pool = pq.read_table(POOL)
    take = np.sort(np.asarray(rows))
    texts = pool.column("text").take(pa.array(take)).to_pylist()
    write_parts(_table(pool, take, texts, take), out_dir, 1)
