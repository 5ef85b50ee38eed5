"""Single-process reference results and order-independent digests.

Each workload's Spark output is reduced to ``{key: digest}`` (key = url or
doc id) and compared with the same reduction of a computation that runs the
repo's kernels in this process, without Spark. ``mismatched`` counts keys
whose digest differs or that only one side has.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

def _h(*parts) -> str:
    return hashlib.sha256(repr(parts).encode("utf-8")).hexdigest()[:24]


def digest(per_key: dict) -> str:
    """Order-independent digest of a whole output."""
    h = hashlib.sha256()
    for k in sorted(per_key, key=str):
        h.update(f"{k}\t{per_key[k]}\n".encode("utf-8"))
    return h.hexdigest()[:32]


def mismatched(got: dict, want: dict) -> int:
    keys = set(got) | set(want)
    return sum(got.get(k) != want.get(k) for k in keys)


# --- crawl_checkpoint -----------------------------------------------------------

def _norm(v):
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    if isinstance(v, (int, float, np.number)):
        return int(v)
    return v


def page_row_digests(rows: pd.DataFrame) -> dict:
    """url -> digest of its page rows (every column, ordered by page)."""
    cols = ["page_number", "text", "n_chars", "n_words", "status", "error"]
    rows = rows.sort_values(["url", "page_number"], kind="stable")
    return {
        url: _h([tuple(map(_norm, r)) for r in sub[cols].itertuples(index=False)])
        for url, sub in rows.groupby("url", sort=False)
    }


# --- curate_dedup ----------------------------------------------------------------

NUM_PERM, K, BANDS, MAX_BUCKET, THRESHOLD = 64, 5, 16, 50, 0.8

_WS = re.compile(r"\S+", re.ASCII)
_ALPHA = re.compile(r"[A-Za-z]")
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)
_6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark's ROUND(x, 6) on a double: HALF_UP on the shortest repr."""
    return float(Decimal(repr(x)).quantize(_6, ROUND_HALF_UP))


def quality_reason(text: str):
    """First failing rule of ``quality_filter``'s chain (None = keep):
    too_short -> low_alpha -> too_punct -> repetitive."""
    n = max(len(text), 1)
    if max(len(_WS.findall(text)), 1) < 30:
        return "too_short"
    if _round6(len(_ALPHA.findall(text)) / n) < 0.75:
        return "low_alpha"
    if _round6(len(_PUNCT.findall(text)) / n) > 0.2:
        return "too_punct"
    words = _WS.findall(text.lower())
    if words and _round6(1 - len(set(words)) / len(words)) > 0.65:
        return "repetitive"
    return None


def signatures(texts: list) -> np.ndarray:
    from pdfplumber_spark.kernel.textstats import minhash_signatures_batch

    return minhash_signatures_batch(texts, num_perm=NUM_PERM, k=K)


def lsh_pairs(ids: np.ndarray, sigs: np.ndarray):
    """(candidate pairs, pairs at or above THRESHOLD) of the banding LSH:
    two docs are candidates iff they share a band slice whose bucket holds
    at most MAX_BUCKET docs; est_jaccard = matching positions / NUM_PERM."""
    rows = NUM_PERM // BANDS
    cand = set()
    for b in range(BANDS):
        keys = np.ascontiguousarray(sigs[:, b * rows:(b + 1) * rows]).view(
            f"V{8 * rows}"
        ).ravel()
        _, inv, counts = np.unique(keys, return_inverse=True, return_counts=True)
        ok = (counts[inv] >= 2) & (counts[inv] <= MAX_BUCKET)
        members = np.nonzero(ok)[0]
        order = members[np.argsort(inv[members], kind="stable")]
        bucket_of = inv[order]
        starts = np.flatnonzero(np.r_[True, bucket_of[1:] != bucket_of[:-1]])
        ends = np.r_[starts[1:], len(order)]
        for s, e in zip(starts, ends):
            grp = order[s:e]
            for i in range(len(grp)):
                for j in range(i + 1, len(grp)):
                    a, c = int(grp[i]), int(grp[j])
                    cand.add((a, c) if ids[a] < ids[c] else (c, a))
    strong = [
        (int(ids[a]), int(ids[c]))
        for a, c in cand
        if (sigs[a] == sigs[c]).sum() / NUM_PERM >= THRESHOLD
    ]
    return len(cand), strong


def is_clique(sigs: np.ndarray) -> bool:
    """Whether every two signatures share a band slice and agree on at
    least THRESHOLD of positions (the bucket cap aside)."""
    rows = NUM_PERM // BANDS
    for a in range(len(sigs)):
        for c in range(a + 1, len(sigs)):
            same = sigs[a] == sigs[c]
            if not (same.reshape(BANDS, rows).all(axis=1).any()
                    and same.sum() / NUM_PERM >= THRESHOLD):
                return False
    return True


def components_are_cliques(pairs) -> bool:
    """Whether each connected component of the pair graph has an edge
    between every two of its nodes."""
    nodes: dict = {}
    for a, b in pairs:
        nodes.setdefault(a, {a}).add(b)
        nodes.setdefault(b, {b}).add(a)
    # in a graph whose components are cliques, neighbours share one
    # closed neighbourhood
    return all(nodes[b] == around for around in nodes.values() for b in around)


def component_losers(pairs) -> set:
    """Nodes that are not the minimum id of their connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


def curate_survivors(docs: pd.DataFrame, sigs: np.ndarray):
    """({doc_id: 'keep'} for every doc the curation keeps — the minimum id
    of its near-dup component that also passes the quality filter;
    (candidate pairs, threshold pairs) of the LSH stage)."""
    ids = docs["doc_id"].to_numpy()
    n_cand, strong = lsh_pairs(ids, sigs)
    losers = component_losers(strong)
    keep = {
        int(i): "keep"
        for i, text in zip(ids, docs["text"])
        if int(i) not in losers and quality_reason(text) is None
    }
    return keep, (n_cand, len(strong))
