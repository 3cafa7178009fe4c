"""Self-test of the benchmark's generator and oracle (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.trace import parse_metric


def test_tenants_are_seeded_and_sized():
    a, b = gen.tenants(7), gen.tenants(7)
    assert [(t.user_id, t.size, t.queries) for t in a] == [(t.user_id, t.size, t.queries) for t in b]
    assert [p.text for p in a[3].points] == [p.text for p in b[3].points]
    assert [p.text for p in gen.tenants(8)[3].points] != [p.text for p in a[3].points]
    sizes = [t.size for t in a]
    assert sizes[0] == gen.TENANT_MIN and sizes[-1] == gen.TENANT_MAX and sizes == sorted(sizes)
    for t in a:
        texts = [p.text for p in t.points]
        assert len(set(texts)) == len(texts) == t.size
        assert len({(p.doc_id, p.chunk_id) for p in t.points}) == t.size


def test_mixed_cycle_is_half_writes():
    writes = sum(1 for r in gen.MIXED_CYCLE if r.startswith(("upsert", "update", "delete")))
    follow_ups = sum(1 for r in gen.MIXED_CYCLE if r.startswith("upsert"))
    reads = len(gen.MIXED_CYCLE) - writes + follow_ups
    assert writes == reads == 10


def test_mixed_slots_visit_every_tenant_evenly():
    ids = [t.user_id for t in gen.tenants(3)]
    cycle = len(gen.MIXED_CYCLE)
    slots = list(itertools.islice(gen.mixed_slots(3, ids), len(ids) * cycle))
    # Each tenant meets the whole cycle once per len(ids) cycles.
    for u in ids:
        assert sorted(r for _, r, v in slots if v == u) == sorted(gen.MIXED_CYCLE)
    # Every cycle touches every tenant equally often: small and large
    # tenants are mixed alike in any stretch of the run.
    for k in range(0, len(slots), cycle):
        per = [v for _, _, v in slots[k:k + cycle]]
        assert sorted(per) == sorted(ids * (cycle // len(ids)))
    # The route and tenant sequence is the same for every seed.
    other = itertools.islice(gen.mixed_slots(4, ids), len(slots))
    assert [s[1:] for s in slots] == [s[1:] for s in other]


def test_corpus_plants_near_duplicates():
    c = gen.corpus(5)
    assert c.docs == gen.corpus(5).docs
    assert len(c.docs) == gen.BULK_TENANTS * gen.BULK_DOCS_PER_TENANT
    planted = sum(len(ms) - 1 for ms in c.clusters)
    assert planted == gen.BULK_TENANTS * round(gen.BULK_DOCS_PER_TENANT * gen.DUP_SHARE)
    text = {d: t for d, _, t in c.docs}
    tenant = {d: t for d, t, _ in c.docs}
    for ms in c.clusters:
        assert len({tenant[d] for d in ms}) == 1
        base = oracle.shingles(text[ms[0]], gen.SHINGLE_K)
        for d in ms[1:]:
            assert 0.4 < oracle.jaccard(base, oracle.shingles(text[d], gen.SHINGLE_K)) < 1.0


def test_embeddings_match_the_program():
    embedder = pytest.importorskip("vector_db_handler_spark.embedder")
    emb = oracle.Embeddings(dim=64)
    for text in ("", "hello vector world", "tenant-1-01 d3 c2 kaloma"):
        assert np.array_equal(emb(text), np.asarray(embedder.embed_text(text, 64), dtype=np.float32))


def _shadow(n=40, dim=16):
    emb = oracle.Embeddings(dim=dim)
    sh = oracle.Shadow("u", emb)
    for j in range(n):
        sh.put(f"p{j:03d}", oracle.Row(j // 4, j % 4, f"doc-{j // 4}", f"text {j}"))
    return sh, emb


def test_shadow_search_is_brute_force_topk():
    sh, emb = _shadow()
    q = "text 7"
    got = sh.search(q, 5)
    qv = emb(q).astype(np.float64)
    scored = []
    for pid, r in sh.rows.items():
        v = emb(r.text).astype(np.float64)
        s = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        if s >= 0:
            scored.append((-s, pid, (r.doc_id, r.chunk_id, r.title, s)))
    want = [x[2] for x in sorted(scored)[:5]]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert got[0][:3] == (1, 3, "doc-1") and abs(got[0][3] - 1.0) < 1e-9
    assert all(g[0] in (2, 3) for g in sh.search(q, 5, {2, 3}))


def test_checks_catch_wrong_answers():
    sh, _ = _shadow()
    want = sh.search("text 9", 5)
    body = {"Results": [{"DocId": d, "ChunkId": c, "Title": t, "Similarity Score": s} for d, c, t, s in want]}
    assert oracle.check_search(body, want) is None
    swapped = {"Results": body["Results"][1:2] + body["Results"][:1] + body["Results"][2:]}
    assert oracle.check_search(swapped, want)
    off = {"Results": [dict(body["Results"][0], **{"Similarity Score": want[0][3] + 1e-4})] + body["Results"][1:]}
    assert oracle.check_search(off, want)
    page = sh.scroll(20)
    with_ids = {"Results": [{"DocId": d, "ChunkId": c, "Title": t, "VectorId": p} for d, c, t, p in page]}
    assert oracle.check_scroll(with_ids, page, with_ids=True) is None
    assert oracle.check_scroll(with_ids, page, with_ids=False)  # collection scroll must not carry ids
    assert oracle.check_scroll({"Results": with_ids["Results"][:-1]}, page, with_ids=True)


def test_dedup_check_and_recall():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z w v u", 4: "x y z w v t", 5: "p q r s t u"}
    clusters = [[1, 2], [3, 4]]
    j12 = round(oracle.jaccard(oracle.shingles(texts[1], 3), oracle.shingles(texts[2], 3)), 6)
    comps = [(1, 1), (2, 1), (3, 3), (4, 4), (5, 5)]
    canon = [(1, 1, 2), (3, 3, 1), (4, 4, 1), (5, 5, 1)]
    err, recall, n = oracle.check_dedup(texts, clusters, 0.5, 3, [(1, 2, j12)], comps, canon, 0.5)
    assert err is None and n == 2 and recall == 0.5
    err, recall, _ = oracle.check_dedup(texts, clusters, 0.5, 3, [(1, 2, j12)], comps, canon, 0.6)
    assert err and recall == 0.5  # recall below the floor is a mismatch
    err, _, _ = oracle.check_dedup(texts, clusters, 0.5, 3, [(1, 2, j12)], [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)], canon, 0.0)
    assert err  # components must be the closure of the pairs
    err, _, _ = oracle.check_dedup(texts, clusters, 0.5, 3, [(1, 2, 0.9)], comps, canon, 0.0)
    assert err  # reported Jaccard must be exact


def test_topk_oracle():
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((30, 8)).astype(np.float32)
    ids = list(range(100, 130))
    rows = oracle.topk(ids, mat, [100, 117], 3)
    assert [r[0] for r in rows] == [100] * 3 + [117] * 3
    assert all(r[1] != r[0] for r in rows) and [r[3] for r in rows[:3]] == [1, 2, 3]
    assert oracle.check_topk(list(reversed(rows)), rows) is None
    swapped = [rows[0][:1] + rows[1][1:3] + (1,), rows[1][:1] + rows[0][1:3] + (2,)] + rows[2:]
    assert oracle.check_topk(swapped, rows)


def test_parse_metric():
    assert parse_metric("5,000") == 5000
    assert parse_metric("83.3 KiB") == pytest.approx(83.3 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n121.2 KiB (30.3 KiB, 30.3 KiB, 30.3 KiB (stage 2.0: task 5))") == pytest.approx(121.2 * 1024)
