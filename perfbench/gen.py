"""Seeded input generators for the benchmark workloads.

Everything the benchmark sends to the program comes from here, derived
from the ``--seed`` argument alone: the same seed gives the same tenants,
texts, query pools, request schedules and bulk corpus.  Nothing here
imports Spark or the program, so the generator can be tested on its own.

The sizing constants are the benchmark's definition; changing any of them
changes the benchmark and needs a fresh baseline.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

# -- serving workload (serve_mixed) ----------------------------------------

N_TENANTS = 8
#: Tenant sizes (points) are spaced log-uniformly over this range.  The
#: sizes are part of the workload, not of the seed, so every run stores
#: the same amount.
TENANT_MIN, TENANT_MAX = 40, 1280
CHUNKS_PER_DOC = 4
WORDS_PER_CHUNK = 12
#: Zipf exponent of the choice within a tenant's query pool.
ZIPF_S = 1.1
QUERY_POOL = 16
SEARCH_LIMIT = 5
SCROLL_LIMIT = 20

#: serve_mixed mix: the client runs this cycle of 16 slots = 20
#: requests.  Each upsert is followed by a ``scroll_user_doc`` of the new
#: document (read your write), so writes and reads are 10 requests each.
#: The order is fixed (only arguments are seeded), so every run sends the
#: same sequence of routes and tenants.
MIXED_CYCLE = [
    "upsert_data", "search_query", "delete_chunk", "scroll_user_collection",
    "upsert_list_data", "search_query", "delete_chunk_by_id", "search_query_on_doc",
    "update_data", "search_query", "delete_doc", "upsert_data",
    "search_query", "delete_chunk", "upsert_list_data", "delete_chunk_by_id",
]
LIST_UPSERT_CHUNKS = 4

# -- bulk workload (bulk_index) ------------------------------------------------

BULK_TENANTS = 4
BULK_DOCS_PER_TENANT = 1500
#: Docs per tenant of the untimed first pass that warms the session.
WARM_DOCS_PER_TENANT = 40
BULK_TOKENS = 40
#: Share of corpus docs that are planted near-duplicates of another doc
#: of the same tenant (1-3 token substitutions).
DUP_SHARE = 0.15
DEDUP_THRESHOLD = 0.5
#: Least share of the planted pairs at or above DEDUP_THRESHOLD that a
#: pass over the full corpus must find.  The MinHash constants are fixed,
#: so recall at a seed is fixed too: it was 0.923-0.958 over seeds 1-40.
#: Losing recall for speed is an oracle mismatch.
MIN_DEDUP_RECALL = 0.90
SHINGLE_K = 3
TOPK = 5
TOPK_QUERIES = 16
#: Rounds of the three scroll calls over every tenant in a bulk pass.  A
#: scroll takes ~0.1 s; one round (12 calls) was too few for a steady
#: median.
SCROLL_ROUNDS = 3

VOCAB_SIZE = 4096
_SYL = ["ka", "lo", "mi", "ne", "su", "ra", "ti", "po", "de", "fa", "gu", "he", "jo", "vi", "ze", "bu"]


def word(i: int) -> str:
    """Distinct pseudo-words of 6-9 letters (lengths vary, so near-duplicate
    edits change a document's length, which picks its cluster's survivor)."""
    return _SYL[i % 16] + _SYL[(i // 16) % 16] + _SYL[(i // 256) % 16] + "n" * ((i * 7) % 4)


def words(rng: np.random.Generator, n: int) -> str:
    return " ".join(word(int(i)) for i in rng.integers(0, VOCAB_SIZE, n))


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


@dataclass
class Point:
    doc_id: int
    chunk_id: int
    title: str
    text: str


@dataclass
class Tenant:
    user_id: str
    size: int
    points: list[Point]
    queries: list[str] = field(default_factory=list)


def tenants(seed: int) -> list[Tenant]:
    """The serving store: N_TENANTS tenants with log-uniformly spaced
    sizes, documents of CHUNKS_PER_DOC chunks, unique chunk texts and a
    pool of queries (half are stored chunk texts, so the top hit is exact;
    half are fresh text)."""
    rng = np.random.default_rng([seed, 1])
    u = np.arange(N_TENANTS) / (N_TENANTS - 1)
    sizes = np.round(TENANT_MIN * (TENANT_MAX / TENANT_MIN) ** u).astype(int)
    out = []
    for i in range(N_TENANTS):
        uid = f"tenant-{seed}-{i:02d}"
        pts = [
            Point(j // CHUNKS_PER_DOC, j % CHUNKS_PER_DOC, f"doc-{j // CHUNKS_PER_DOC}",
                  f"{uid} d{j // CHUNKS_PER_DOC} c{j % CHUNKS_PER_DOC} {words(rng, WORDS_PER_CHUNK)}")
            for j in range(int(sizes[i]))
        ]
        half = QUERY_POOL // 2
        hits = rng.choice(len(pts), half, replace=False)
        queries = [pts[int(h)].text for h in hits] + [words(rng, WORDS_PER_CHUNK) for _ in range(half)]
        out.append(Tenant(uid, int(sizes[i]), pts, queries))
    return out


def mixed_slots(seed: int, tenant_ids: list[str]):
    """Endless serve_mixed slot stream: ``(rng, route, tenant)``.
    ``tenant_ids`` is ordered by size; it is visited in bit-reversed
    order, so any stretch of the stream mixes small and large tenants
    alike.  The tenant order shifts by one each cycle, so every tenant
    meets every slot of the cycle.  The seeded rng fills in the
    arguments, which depend on the tenant's current contents."""
    rng = np.random.default_rng([seed, 3])
    bits = max(1, (len(tenant_ids) - 1).bit_length())
    order = [tenant_ids[i] for i in sorted(range(len(tenant_ids)), key=lambda i: int(f"{i:0{bits}b}"[::-1], 2))]
    k = 0
    while True:
        yield rng, MIXED_CYCLE[k % len(MIXED_CYCLE)], order[(k + k // len(MIXED_CYCLE)) % len(order)]
        k += 1


# -- bulk corpus -----------------------------------------------------------------


@dataclass
class Corpus:
    tenants: list[str]
    docs: list[tuple[int, int, str]]  # (doc_id, tenant index, text)
    clusters: list[list[int]]  # planted near-duplicate clusters (doc ids)
    queries: list[list[int]]  # per tenant: doc ids used as top-k queries


def corpus(seed: int, per_tenant: int = BULK_DOCS_PER_TENANT) -> Corpus:
    """Bulk corpus: BULK_TENANTS tenants of ``per_tenant`` docs of
    BULK_TOKENS words; DUP_SHARE of each tenant's docs are near-duplicates
    of one of its original docs (1-3 substituted words)."""
    rng = np.random.default_rng([seed, 4])
    names = [f"bulk-{seed}-{t}" for t in range(BULK_TENANTS)]
    docs: list[tuple[int, int, str]] = []
    clusters: list[list[int]] = []
    queries: list[list[int]] = []
    n_dup = int(round(per_tenant * DUP_SHARE))
    for t in range(BULK_TENANTS):
        base = t * per_tenant
        n_orig = per_tenant - n_dup
        toks = [list(rng.integers(0, VOCAB_SIZE, BULK_TOKENS)) for _ in range(n_orig)]
        members: dict[int, list[int]] = {}
        for j in range(n_dup):
            src = int(rng.integers(n_orig))
            copy = list(toks[src])
            for pos in rng.choice(BULK_TOKENS, int(rng.integers(1, 4)), replace=False):
                copy[int(pos)] = int(rng.integers(0, VOCAB_SIZE))
            toks.append(copy)
            members.setdefault(base + src, [base + src]).append(base + n_orig + j)
        for j, tk in enumerate(toks):
            docs.append((base + j, t, " ".join(word(int(i)) for i in tk)))
        clusters.extend(members.values())
        queries.append(sorted(base + int(q) for q in rng.choice(per_tenant, TOPK_QUERIES, replace=False)))
    return Corpus(names, docs, clusters, queries)
