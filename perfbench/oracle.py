"""Exact shadow oracle: what every checked response must contain.

The oracle keeps its own copy of each tenant (point id → doc, chunk,
title, text) and recomputes answers with numpy, independently of the
program's Spark plans.  Its only shared knowledge is the program's
documented contracts:

* the embedder: ``md5(text)`` seeds PCG64, a standard-normal vector of
  the collection dimension, unit-normalised, stored as float32;
* search: cosine against the stored norm, ``score >= 0``, ordered by
  score desc then point id asc, first ``limit`` rows;
* scroll: ordered by point id asc, first ``limit`` rows;
* near-dup Jaccard over distinct 3-word shingles, rounded to 6 places.

Check functions return ``None`` when the response is right, else a short
description of the first difference.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

SCORE_TOL = 1e-6
DIM = 1024


class Embeddings:
    """Memoised replica of the program's deterministic text embedder."""

    def __init__(self, dim: int = DIM):
        self.dim = dim
        self._cache: dict[str, np.ndarray] = {}

    def __call__(self, text: str) -> np.ndarray:
        v = self._cache.get(text)
        if v is None:
            seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
            x = np.random.default_rng(seed).standard_normal(self.dim)
            v = (x / np.linalg.norm(x)).astype(np.float32)
            self._cache[text] = v
        return v


@dataclass
class Row:
    doc_id: int
    chunk_id: int
    title: str
    text: str


class Shadow:
    """One tenant's expected contents."""

    def __init__(self, user_id: str, emb: Embeddings):
        self.user_id = user_id
        self.emb = emb
        self.rows: dict[str, Row] = {}  # point id → row
        self._mat = None

    def put(self, pid: str, row: Row) -> None:
        self.rows[pid] = row
        self._mat = None

    def drop(self, pids) -> None:
        for p in list(pids):
            del self.rows[p]
        self._mat = None

    def set_text(self, pid: str, text: str) -> None:
        r = self.rows[pid]
        self.rows[pid] = Row(r.doc_id, r.chunk_id, r.title, text)
        self._mat = None

    def find(self, doc_id: int, chunk_id: int | None = None) -> list[str]:
        return sorted(
            p for p, r in self.rows.items()
            if r.doc_id == doc_id and (chunk_id is None or r.chunk_id == chunk_id)
        )

    def _matrix(self):
        if self._mat is None:
            pids = sorted(self.rows)
            m = np.stack([self.emb(self.rows[p].text) for p in pids]).astype(np.float64)
            self._mat = (pids, m, np.sqrt(np.einsum("ij,ij->i", m, m)))
        return self._mat

    def search(self, query: str, limit: int, doc_ids=None) -> list[tuple]:
        pids, m, norms = self._matrix()
        q = self.emb(query).astype(np.float64)
        scores = (m @ q) / (norms * np.sqrt(q @ q))
        keep = [
            i for i, p in enumerate(pids)
            if scores[i] >= 0.0 and (not doc_ids or self.rows[p].doc_id in doc_ids)
        ]
        keep.sort(key=lambda i: (-scores[i], pids[i]))
        return [self._key(pids[i]) + (float(scores[i]),) for i in keep[:limit]]

    def scroll(self, limit: int, doc_ids=None) -> list[tuple]:
        pids = [p for p in sorted(self.rows) if not doc_ids or self.rows[p].doc_id in doc_ids]
        return [self._key(p) + (p,) for p in pids[:limit]]

    def _key(self, pid: str) -> tuple:
        r = self.rows[pid]
        return (r.doc_id, r.chunk_id, r.title)


def check_search(body: dict, expected: list[tuple]) -> str | None:
    got = body.get("Results")
    if not isinstance(got, list) or len(got) != len(expected):
        return f"search: {len(got) if isinstance(got, list) else got!r} results, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if (g.get("DocId"), g.get("ChunkId"), g.get("Title")) != e[:3]:
            return f"search rank {i}: got {g}, expected {e}"
        if not isinstance(g.get("Similarity Score"), float) or abs(g["Similarity Score"] - e[3]) > SCORE_TOL:
            return f"search rank {i}: score {g.get('Similarity Score')} vs {e[3]}"
    return None


def check_scroll(body: dict, expected: list[tuple], with_ids: bool) -> str | None:
    got = body.get("Results")
    if not isinstance(got, list):
        return f"scroll: no results list in {body!r:.200}"
    keys = [(g.get("DocId"), g.get("ChunkId"), g.get("Title")) + ((g.get("VectorId"),) if with_ids else ()) for g in got]
    want = [e if with_ids else e[:3] for e in expected]
    if keys != want:
        return f"scroll: got {keys[:3]}… ({len(keys)}), expected {want[:3]}… ({len(want)})"
    if not with_ids and any("VectorId" in g for g in got):
        return "scroll_user_collection must not return VectorId"
    return None


def check_contents(shadow: Shadow, pids, doc_ids, chunk_ids, titles, embs, norms) -> str | None:
    """Full-tenant check: the stored rows are exactly the shadow's, each
    with the oracle's float32 vector and its norm."""
    if sorted(pids) != sorted(shadow.rows):
        return f"{shadow.user_id}: {len(pids)} stored points, expected {len(shadow.rows)}"
    for pid, d, c, t, e, n in zip(pids, doc_ids, chunk_ids, titles, embs, norms):
        r = shadow.rows[pid]
        if (d, c, t) != (r.doc_id, r.chunk_id, r.title):
            return f"{shadow.user_id}/{pid}: stored {(d, c, t)}, expected {(r.doc_id, r.chunk_id, r.title)}"
        want = shadow.emb(r.text)
        if not np.array_equal(np.asarray(e, dtype=np.float32), want):
            return f"{shadow.user_id}/{pid}: stored vector differs from embed(text)"
        if abs(n - float(np.sqrt(np.dot(want.astype(np.float64), want.astype(np.float64))))) > 1e-9:
            return f"{shadow.user_id}/{pid}: stored norm {n} is wrong"
    return None


# -- bulk: top-k join and near-duplicate clustering ----------------------------


def topk(ids: list[int], mat: np.ndarray, queries: list[int], k: int) -> list[tuple]:
    """Exact cosine top-k of each query row against all rows, self
    excluded, ordered by score desc then id asc → (query, neighbor,
    score, rank)."""
    m = mat.astype(np.float64)
    m = m / np.sqrt(np.einsum("ij,ij->i", m, m))[:, None]
    pos = {d: i for i, d in enumerate(ids)}
    out = []
    for q in queries:
        s = m @ m[pos[q]]
        order = sorted((i for i in range(len(ids)) if ids[i] != q), key=lambda i: (-s[i], ids[i]))
        out.extend((q, ids[i], float(s[i]), r + 1) for r, i in enumerate(order[:k]))
    return out


def check_topk(got: list[tuple], expected: list[tuple]) -> str | None:
    got = sorted(got, key=lambda r: (r[0], r[3]))
    if len(got) != len(expected):
        return f"top-k: {len(got)} rows, expected {len(expected)}"
    for g, e in zip(got, expected):
        if (g[0], g[1], g[3]) != (e[0], e[1], e[3]) or abs(g[2] - e[2]) > SCORE_TOL:
            return f"top-k: got {g}, expected {e}"
    return None


def shingles(text: str, k: int) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def components(nodes: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node → smallest node id of its connected component."""
    parent = {n: n for n in nodes}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: root(n) for n in nodes}


def check_dedup(texts: dict[int, str], clusters: list[list[int]], threshold: float, k: int,
                pairs: list[tuple], comps: list[tuple], canon: list[tuple],
                min_recall: float) -> tuple[str | None, float, int]:
    """Checks LSH pairs (exact Jaccard, above threshold), components (the
    closure of those pairs), canonical survivors (longest text, then
    smallest id), that no component spans two planted clusters and that
    at least ``min_recall`` of the planted pairs at or above the threshold
    were found.  Returns (error, recall over those planted pairs, their
    number)."""
    sh = {d: shingles(t, k) for d, t in texts.items()}
    for d1, d2, j in pairs:
        want = round(jaccard(sh[d1], sh[d2]), 6)
        if not d1 < d2 or abs(j - want) > 1e-6 or want < threshold:
            return f"dedup pair {(d1, d2, j)}: exact Jaccard {want}", 0.0, 0
    found = {(d1, d2) for d1, d2, _ in pairs}
    if len(found) != len(pairs):
        return "dedup: duplicate pairs", 0.0, 0
    want_comp = components(sorted(texts), sorted(found))
    if dict(comps) != want_comp:
        return "connected_components differs from the closure of the pairs", 0.0, 0
    groups: dict[int, list[int]] = {}
    for n, c in want_comp.items():
        groups.setdefault(c, []).append(n)
    want_canon = sorted(
        (c, min(ms, key=lambda d: (-len(texts[d]), d)), len(ms)) for c, ms in groups.items()
    )
    if sorted(canon) != want_canon:
        return "canonical_docs differs from the oracle's survivors", 0.0, 0
    cluster_of = {d: i for i, ms in enumerate(clusters) for d in ms}
    for c, ms in groups.items():
        if len(ms) > 1 and len({cluster_of.get(d, -1 - d) for d in ms}) != 1:
            return f"component {c} spans several planted clusters", 0.0, 0
    planted = [
        (a, b) for ms in clusters for a in ms for b in ms
        if a < b and jaccard(sh[a], sh[b]) >= threshold
    ]
    hit = sum(1 for p in planted if p in found)
    recall = hit / len(planted) if planted else 1.0
    if recall < min_recall:
        return f"dedup recall {recall:.4f} ({hit} of {len(planted)} planted pairs) is below {min_recall}", recall, len(planted)
    return None, recall, len(planted)
