"""Seeded input generators for the benchmark workloads.

Every generator takes ``(seed, index)`` and derives its own numpy generator
from them, so a request's inputs depend only on the run seed and the
request's position in the run. Nothing here imports Spark or the library:
the library only ever sees the files these functions write.
"""
from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids keep generators for different purposes independent even when
# they share (seed, index)
_MARGIN, _CORPUS, _EMBED, _STREAM_DOCS, _STREAM_CHANGES, _VOCAB, _SHAPE = range(7)

FACT_ROWS = 100_000
CORPUS_DOCS = 10_000
EMBED_DIM = 64
KNN_QUERIES = 64
STREAM_BATCHES = 3
STREAM_DOCS_PER_BATCH = 2_000
STREAM_KEYS = 500
STREAM_CHANGES_PER_BATCH = 2_000

# The margin chains, in request order: request i applies MARGIN_CHAINS[i % 8].
# Depth cycles 1, 2, 3, 4, each op slot (subtotals, totals, agg, sort,
# percentages) occurs four times in the eight, and every percentage axis at
# least once, so every run applies the same mix; the seed draws the table under
# each chain. Arguments are fixed because they change a chain's cost
# several-fold (a both-axes total is two ops).
_SUB, _SORT = ("add_subtotals", {"axis": 0, "level": 0}), ("sort_totals", {"axis": 0})


def _tot(axis):
    return ("add_totals", {"axis": axis})


def _agg(fn):
    return ("add_agg", {"aggfunc": fn, "axis": 0})


MARGIN_CHAINS = (
    (_SUB,),
    (_agg("max"), _SORT),
    (_SUB, _tot(0), _SORT),
    (_tot(0), _agg("max"), _SORT, ("add_percentages", {"axis": 0})),
    (("as_percentages", {"axis": 2}),),
    (_tot(2), _agg("min")),
    (_SUB, _agg("max"), ("as_percentages", {"axis": 1})),
    (_SUB, _tot(2), _SORT, ("add_percentages", {"axis": 2})),
)

_STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
              "with", "as", "was", "on", "be", "by", "at", "this", "from", "or")


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream, int(index)])


# ----------------------------------------------------------------- margins
@dataclass(frozen=True)
class MarginRequest:
    """One margin_tables request: a fact table and the chain applied to its
    pivot. ``ops`` is a tuple of ``(op_name, kwargs)`` pairs."""

    index: int
    g0: int
    g1: int
    piv: int
    ops: tuple
    table: pa.Table = field(repr=False, compare=False)

    @property
    def rows(self) -> int:
        return self.table.num_rows


def margin_request(seed: int, index: int, rows: int = FACT_ROWS) -> MarginRequest:
    """Fact table ``(g0, g1, p, m)`` with a complete (g0, g1, p) grid, so the
    pivot has no empty cells, and integer measures, so every margin is an
    exact integer. The chain is ``MARGIN_CHAINS[index % 8]`` and the index
    and pivot cardinalities are drawn once per chain position, so every run
    builds the same plans (plan cost grows with the pivot's width); the seed
    draws the rows."""
    shape = _rng(0, _SHAPE, index % len(MARGIN_CHAINS))
    g0, g1, piv = (int(shape.integers(4, 7)), int(shape.integers(2, 5)),
                   int(shape.integers(4, 7)))
    rng = _rng(seed, _MARGIN, index)
    grid = g0 * g1 * piv
    codes = np.concatenate([np.arange(grid), rng.integers(0, grid, rows - grid)])
    a, rest = np.divmod(codes, g1 * piv)
    b, c = np.divmod(rest, piv)
    table = pa.table({
        "g0": _labels(a, [f"G{x:02d}" for x in range(g0)]),
        "g1": _labels(b, [f"h{x}" for x in range(g1)]),
        "p": _labels(c, [f"p{x:02d}" for x in range(piv)]),
        "m": pa.array(rng.integers(0, 1000, rows), pa.int64()),
    })
    ops = MARGIN_CHAINS[index % len(MARGIN_CHAINS)]
    return MarginRequest(index, g0, g1, piv, ops, table)


def _labels(codes: np.ndarray, names: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(names)
    ).cast(pa.string())


# ------------------------------------------------------------------ corpus
def vocabulary(seed: int, size: int = 4000) -> np.ndarray:
    """Synthetic words (consonant-vowel syllables) plus English stopwords, so
    the text-quality stopword ratio is not degenerate."""
    rng = _rng(seed, _VOCAB)
    syll = np.array([c + v for c in "bcdfghklmnprstvz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < size:
        picks = syll[rng.integers(0, len(syll), (size, 4))]
        lens = rng.integers(2, 5, size)
        words.update("".join(p[:n]) for p, n in zip(picks.tolist(), lens.tolist()))
    return np.array(sorted(words)[:size] + list(_STOPWORDS) * 10)


@dataclass(frozen=True)
class Corpus:
    """Documents with planted duplicates. ``exact_pairs`` and ``near_pairs``
    are ``(original_id, copy_id)``; near copies differ by 1-2 word edits."""

    ids: np.ndarray
    texts: list
    exact_pairs: list
    near_pairs: list

    def table(self) -> pa.Table:
        return pa.table({"id": pa.array(self.ids, pa.int64()), "text": self.texts})


def corpus(seed: int, index: int, n_docs: int = CORPUS_DOCS, vocab=None,
           exact_share: float = 0.05, near_share: float = 0.05,
           id_base: int = 0) -> Corpus:
    rng = _rng(seed, _CORPUS, index)
    vocab = vocabulary(seed) if vocab is None else vocab
    lens = rng.integers(8, 61, n_docs)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    toks: list[list[str]] = []
    for n in lens:
        t = vocab[words[pos:pos + n]].tolist()
        pos += n
        toks.append(t)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    # copies overwrite docs in the second half so each original precedes
    # its copy; originals come from the first half and are used once
    slots = rng.permutation(np.arange(n_docs // 2, n_docs))[: n_exact + n_near]
    origins = rng.permutation(n_docs // 2)[: n_exact + n_near]
    exact_pairs, near_pairs = [], []
    for k, (dst, src) in enumerate(zip(slots.tolist(), origins.tolist())):
        if k < n_exact:
            toks[dst] = list(toks[src])
            exact_pairs.append((id_base + src, id_base + dst))
        else:
            # near copies need enough words that 1-2 edits keep the 4-shingle
            # Jaccard well above the 0.5 MinHash threshold
            src_t = toks[src] if len(toks[src]) >= 40 else toks[src] + toks[src - 1][:40]
            toks[src] = src_t
            edited = list(src_t)
            for _ in range(int(rng.integers(1, 3))):
                j = int(rng.integers(0, len(edited)))
                w = edited[j]
                while w == edited[j]:
                    w = str(vocab[int(rng.integers(0, len(vocab)))])
                edited[j] = w
            toks[dst] = edited
            near_pairs.append((id_base + src, id_base + dst))
    texts = [" ".join(t) for t in toks]
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    return Corpus(ids, texts, exact_pairs, near_pairs)


@dataclass(frozen=True)
class Embeddings:
    """Unit-free float32 vectors with planted near-duplicates
    (``planted_pairs``: original, copy) and a query batch whose ids do not
    occur in the corpus."""

    ids: np.ndarray
    vecs: np.ndarray
    planted_pairs: list
    query_ids: np.ndarray
    queries: np.ndarray

    def table(self) -> pa.Table:
        return _vec_table(self.ids, self.vecs)

    def query_table(self) -> pa.Table:
        return _vec_table(self.query_ids, self.queries)


def _vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    arr = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"id": pa.array(ids, pa.int64()), "emb": arr})


def embeddings(seed: int, index: int, n: int = CORPUS_DOCS, dim: int = EMBED_DIM,
               dup_share: float = 0.03, n_queries: int = KNN_QUERIES) -> Embeddings:
    rng = _rng(seed, _EMBED, index)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    n_dup = int(n * dup_share)
    dst = rng.permutation(np.arange(n // 2, n))[:n_dup]
    src = rng.permutation(n // 2)[:n_dup]
    # noise at 0.05 per coordinate keeps planted cosines near 0.999
    vecs[dst] = vecs[src] + 0.05 * rng.standard_normal((n_dup, dim)).astype(np.float32)
    near = rng.integers(0, n, n_queries)
    queries = (vecs[near] + 0.3 * rng.standard_normal((n_queries, dim))).astype(np.float32)
    query_ids = np.arange(10_000_000, 10_000_000 + n_queries, dtype=np.int64)
    return Embeddings(np.arange(n, dtype=np.int64), vecs,
                      list(zip(src.tolist(), dst.tolist())), query_ids, queries)


# ----------------------------------------------------------------- streams
def stream_docs(seed: int, index: int, vocab=None,
                per_batch: int = STREAM_DOCS_PER_BATCH) -> list[pa.Table]:
    """Micro-batch files of documents; exact duplicates repeat content both
    within and across files. ``ts`` spans minutes, far inside the dedup
    watermark, so every duplicate is dropped."""
    n = STREAM_BATCHES * per_batch
    c = corpus(seed, index, n_docs=n, vocab=vocab, exact_share=0.15,
               near_share=0.0, id_base=int(index) * 1_000_000)
    rng = _rng(seed, _STREAM_DOCS, index)
    order = rng.permutation(n)
    ts = np.sort(rng.integers(0, 600, n)) + 1_700_000_000
    files = []
    for b in range(STREAM_BATCHES):
        sel = order[b * per_batch:(b + 1) * per_batch]
        files.append(pa.table({
            "id": pa.array(c.ids[sel], pa.int64()),
            "text": [c.texts[i] for i in sel.tolist()],
            "ts": pa.array(ts[b * per_batch:(b + 1) * per_batch], pa.int64()),
        }))
    return files


def stream_changes(seed: int, index: int,
                   per_batch: int = STREAM_CHANGES_PER_BATCH) -> list[pa.Table]:
    """Micro-batch files of keyed change events ``(key, version, event_id,
    value)``; versions repeat per key so the event id breaks ties."""
    rng = _rng(seed, _STREAM_CHANGES, index)
    files, base = [], 0
    for _ in range(STREAM_BATCHES):
        n = per_batch
        files.append(pa.table({
            "key": pa.array(rng.integers(0, STREAM_KEYS, n), pa.int64()),
            "version": pa.array(rng.integers(0, 50, n), pa.int64()),
            "event_id": pa.array(np.arange(base, base + n), pa.int64()),
            "value": pa.array(rng.integers(0, 10_000, n).astype(np.float64)),
        }))
        base += n
    return files


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
