"""Seeded benchmark inputs, cached as parquet by (seed, size, version).

- ``crawl_corpus``: the repo's own pages-table generator
  (``sources.corpus.generate_rows``) plus one mega PDF, for the
  ``crawl_checkpoint`` workload. Rows of the ``broken`` family are truncated
  on purpose: their error rows are planted.
- ``curate_table``: a (doc_id, text) table for ``curate_dedup`` with planted
  near-duplicate clusters (each a clique of the threshold-pair graph, so
  every seed needs the same connected-components rounds), one hot
  boilerplate cluster (every band bucket of its text holds far more than the
  LSH bucket cap) and a keep/reject mix for the quality filter.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import oracles

# bump when curate_table output changes; cache paths embed it
CURATE_VERSION = 2


def _cached(path: str, build) -> tuple[str, float]:
    """Write ``build()``'s table to ``path`` unless it exists; returns
    (path, seconds spent generating — 0.0 on a cache hit)."""
    if os.path.exists(path):
        return path, 0.0
    t0 = time.perf_counter()
    table = build()
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


def crawl_corpus(cache_dir: str, n_docs: int, seed: int, mega_pages: int):
    from pdfplumber_spark.sources.corpus import CORPUS_VERSION, generate_rows

    path = os.path.join(
        cache_dir, f"crawl_v{CORPUS_VERSION}_s{seed}_n{n_docs}_m{mega_pages}.parquet"
    )

    def build():
        rows = list(generate_rows(n_docs, seed=seed, mega_pages=mega_pages))
        return pa.Table.from_pylist(
            [{"url": r["url"], "html": r["html"]} for r in rows],
            schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
        )

    return _cached(path, build)


def is_planted_error(url: str) -> bool:
    """The generator's ``broken`` family: truncated payloads whose error row
    is the expected output."""
    return url.startswith("synth://broken/")


# --- curate_dedup ------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "de", "pa", "gu", "re",
    "ba", "zo", "fi", "ha", "ju", "ce", "wy", "xo",
]


def _vocabulary() -> np.ndarray:
    rng = np.random.default_rng(20260101)
    words = set()
    while len(words) < 4000:
        n = int(rng.integers(1, 4))
        words.add("".join(_SYLLABLES[i] for i in rng.integers(0, 20, n)))
    return np.array(sorted(words), dtype=object)


def _words(rng, vocab, n: int) -> list:
    # Zipf-ish draw so common words repeat the way prose does
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(vocab) - 1)
    idx = (idx * 7919 + rng.integers(0, 3, n)) % len(vocab)
    return list(vocab[idx])


def _near_dup_cluster(rng, vocab, size: int) -> list:
    """``size`` edits of one base text (0-1 word substitutions, 0-2 words
    appended each), redrawn until every two of them are a threshold pair
    of the banding LSH: the cluster is a clique of the pair graph."""
    base = _words(rng, vocab, int(rng.integers(60, 100)))
    while True:
        texts = []
        for _ in range(size):
            w = list(base)
            if rng.random() < 0.5:
                w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
            w.extend(_words(rng, vocab, int(rng.integers(0, 3))))
            texts.append(" ".join(w))
        if oracles.is_clique(oracles.signatures(texts)):
            return texts


def _draw_curate(n_docs: int, rng) -> list:
    vocab = _vocabulary()
    texts: list = []

    n_hot = max(80, n_docs // 400)
    boiler = " ".join(_words(rng, vocab, 60))
    texts.extend([boiler] * n_hot)

    # cluster sizes cycle 2..6, so every seed plants the same clusters
    target_dup = int(n_docs * 0.20)
    size = 2
    while len(texts) < n_hot + target_dup:
        texts.extend(_near_dup_cluster(rng, vocab, size))
        size = 2 + (size - 1) % 5

    def n_of(share: float) -> int:
        return int(n_docs * share)

    for _ in range(n_of(0.08)):
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(3, 29)))))
    for _ in range(n_of(0.04)):
        nums = rng.integers(0, 10**6, int(rng.integers(40, 90)))
        texts.append(" ".join(f"{v} kg" if v % 5 == 0 else str(v) for v in nums))
    for _ in range(n_of(0.03)):
        # 48-letter runs + 14 marks: alpha 0.76 passes, punct 0.22 fails
        stream = "".join(_words(rng, vocab, int(rng.integers(500, 700))))
        texts.append(" ".join(
            stream[i:i + 48] + "!?" * 7 for i in range(0, len(stream) - 48, 48)
        ))
    for _ in range(n_of(0.04)):
        word = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join([word] * int(rng.integers(40, 120))))
    while len(texts) < n_docs:
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(30, 100)))) + ".")
    return texts[:n_docs]


def curate_rows(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text) with planted structure, in shuffled id order:

    - 20% of docs in near-duplicate clusters of 2, 3, 4, 5, 6, 2, ...
      members; each cluster is a clique of the threshold-pair graph;
    - one hot cluster of ``max(80, n/400)`` identical boilerplate texts;
    - quality rejects: 8% too short, 4% digit-heavy, 3% punctuation-heavy,
      4% one word repeated;
    - the rest are distinct prose docs of 30-100 words.

    A draw is kept only if every connected component of its pair graph is
    a clique (chance pairs, say two docs repeating the same word, are
    cliques of two): connected components then converge in the same
    number of label-propagation rounds for every seed, so the seed changes
    the texts, not the amount of work.
    """
    for attempt in range(100):
        rng = np.random.default_rng([seed, attempt])
        texts = _draw_curate(n_docs, rng)
        ids = rng.permutation(n_docs).astype(np.int64)
        _, pairs = oracles.lsh_pairs(ids, oracles.signatures(texts))
        if oracles.components_are_cliques(pairs):
            return pd.DataFrame({"doc_id": ids, "text": texts}).sort_values(
                "doc_id", ignore_index=True
            )
    raise RuntimeError(f"no draw for seed {seed} has clique components")


def curate_table(cache_dir: str, n_docs: int, seed: int):
    path = os.path.join(
        cache_dir, f"curate_v{CURATE_VERSION}_s{seed}_n{n_docs}.parquet"
    )
    return _cached(
        path,
        lambda: pa.Table.from_pandas(curate_rows(n_docs, seed), preserve_index=False),
    )
