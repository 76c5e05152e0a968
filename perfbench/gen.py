"""Seeded input generators for the KG-construction benchmark.

Every generator draws from ``numpy.random.Generator(PCG64(seed))`` and
writes parquet with pyarrow (no pandas metadata), so the same seed
gives the same bytes. The program under test only ever sees the files
written here.

- ``corpus``: a ``documents`` table in the shape the pipeline reads
  (doc_id, text, lang, source, n_chars). Lengths are lognormal with a
  mean of ~200 tokens, about half the tokens are out of vocabulary,
  5 languages. The hot host (30% of pages) is a property of the
  doc_id -> url formula in ``sources.pages``.
- ``stream_deltas``: the same corpus model cut into deltas; from the
  second delta on, ~20% of each delta re-crawls earlier doc_ids with
  new text.
- ``id_graph``: a same-as graph of string ids (one hub star holding
  ~5% of the ids, chains of diameter 7, stars of 50) plus ~1% tier-1
  anchors drawn uniformly, so components holding 2+ anchors (the hub,
  some stars) are conflict components.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
MEAN_TOKENS = 200
SIGMA = 0.6
VOCAB_SHARE = 0.5
RECRAWL_SHARE = 0.2
CHAIN_LEN = 8  # diameter 7
STAR = 50

# Token forms that exercise every pass of the link cascade: tier-1
# exact, case-insensitive, conflict ('the'), tier-2 singleton ('big'),
# ambiguous ('fast'), heuristic footnote / version suffixes.
IN_VOCAB = [
    "agg", "batch", "column", "customer", "data", "filter", "group", "hash",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window",
    "JOIN", "join", "Spark", "SORT", "the", "The", "big", "fast",
    "PMM0001", "PMM0001*", "dnaA", "dnaA+", "AAV95689", "AAV95689.1",
]
# Common words that are not vocabulary surfaces, then random OOV words.
STOPWORDS = ["a", "slow", "dup", "of", "in"]
N_OOV = 20000
_CONSONANTS = np.array(list("bcdfghjklmnpqrstvwxz"))

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class TextModel:
    """Draws page texts; one instance per seed."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        # consonant-only words can never equal a vocabulary surface
        lens = rng.integers(4, 10, N_OOV)
        letters = rng.choice(_CONSONANTS, int(lens.sum()))
        cuts = np.cumsum(lens)[:-1]
        oov = ["".join(w) for w in np.split(letters, cuts)]
        self.oov = np.array(STOPWORDS + oov, dtype=object)
        self.oov_p = _zipf_p(len(self.oov), 1.0)
        self.inv = np.array(IN_VOCAB, dtype=object)
        self.inv_p = _zipf_p(len(self.inv), 0.8)

    def texts(self, n: int) -> list[str]:
        rng = self.rng
        mu = np.log(MEAN_TOKENS) - SIGMA**2 / 2
        lens = np.clip(rng.lognormal(mu, SIGMA, n).astype(np.int64), 1, 2000)
        total = int(lens.sum())
        in_vocab = rng.random(total) < VOCAB_SHARE
        words = np.where(
            in_vocab,
            rng.choice(self.inv, total, p=self.inv_p),
            rng.choice(self.oov, total, p=self.oov_p),
        )
        cuts = np.cumsum(lens)[:-1]
        return [" ".join(chunk) for chunk in np.split(words, cuts)]

    def table(self, doc_ids: np.ndarray) -> pa.Table:
        texts = self.texts(len(doc_ids))
        langs = self.rng.choice(np.array(LANGS, dtype=object), len(doc_ids), p=LANG_P)
        return pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(list(langs), pa.string()),
                "source": pa.array([f"src{int(d) % 20}" for d in doc_ids], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            },
            schema=DOCS_SCHEMA,
        )


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def text_sizes(table: pa.Table) -> dict:
    texts = table.column("text").to_pylist()
    return {
        "pages": table.num_rows,
        "tokens": sum(t.count(" ") + 1 for t in texts),
        "text_mb": round(sum(len(t) for t in texts) / 1e6, 3),
    }


def corpus(seed: int, n_pages: int, sf_dir: str) -> dict:
    """Write ``{sf_dir}/documents.parquet``; return its input sizes."""
    model = TextModel(np.random.default_rng(seed))
    table = model.table(np.arange(n_pages, dtype=np.int64))
    _write(table, os.path.join(sf_dir, "documents.parquet"))
    return text_sizes(table)


def stream_deltas(seed: int, n_deltas: int, delta_pages: int, out_dir: str) -> tuple[list[str], dict]:
    """Write ``n_deltas`` documents files ``delta-NNNN.parquet`` under
    ``out_dir``; return (paths in arrival order, input sizes)."""
    rng = np.random.default_rng(seed)
    model = TextModel(rng)
    paths, tables, next_id, recrawled = [], [], 0, 0
    for i in range(n_deltas):
        n_re = int(round(delta_pages * RECRAWL_SHARE)) if i else 0
        recrawl = rng.choice(next_id, n_re, replace=False) if n_re else np.empty(0, np.int64)
        fresh = np.arange(next_id, next_id + delta_pages - n_re, dtype=np.int64)
        next_id += len(fresh)
        recrawled += n_re
        ids = np.sort(np.concatenate([recrawl.astype(np.int64), fresh]))
        table = model.table(ids)
        path = os.path.join(out_dir, f"delta-{i:04d}.parquet")
        _write(table, path)
        paths.append(path)
        tables.append(table)
    sizes = text_sizes(pa.concat_tables(tables))
    sizes.update(deltas=n_deltas, recrawled_pages=recrawled)
    return paths, sizes


def id_graph(seed: int, n_ids: int, out_dir: str) -> dict:
    """Write ``sameas.parquet`` (id_a, id_b) and ``anchors.parquet``
    (entity_id) under ``out_dir``; return the input sizes."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_ids)
    ids = np.array([f"id:{int(p):07d}" for p in perm], dtype=object)
    a, b = [], []
    pos = 0
    hub_n = n_ids // 20
    a.extend([pos] * (hub_n - 1))
    b.extend(range(pos + 1, pos + hub_n))
    pos += hub_n
    n_chain_nodes = int(n_ids * 0.4) // CHAIN_LEN * CHAIN_LEN
    for start in range(pos, pos + n_chain_nodes, CHAIN_LEN):
        a.extend(range(start, start + CHAIN_LEN - 1))
        b.extend(range(start + 1, start + CHAIN_LEN))
    pos += n_chain_nodes
    while pos + STAR <= n_ids:
        a.extend([pos] * (STAR - 1))
        b.extend(range(pos + 1, pos + STAR))
        pos += STAR
    a, b = np.array(a), np.array(b)
    flip = rng.random(len(a)) < 0.5
    a, b = np.where(flip, b, a), np.where(flip, a, b)
    order = rng.permutation(len(a))
    edges = pa.table(
        {"id_a": pa.array(ids[a[order]], pa.string()), "id_b": pa.array(ids[b[order]], pa.string())}
    )
    used = np.unique(np.concatenate([a, b]))
    anchor_idx = np.sort(rng.choice(used, max(1, len(used) // 100), replace=False))
    anchors = pa.table({"entity_id": pa.array(ids[anchor_idx], pa.string())})
    _write(edges, os.path.join(out_dir, "sameas.parquet"))
    _write(anchors, os.path.join(out_dir, "anchors.parquet"))
    return {"ids": int(len(used)), "sameas_edges": edges.num_rows, "anchors": anchors.num_rows}
