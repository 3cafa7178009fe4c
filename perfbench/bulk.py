"""bulk_index: one caller, no HTTP.

A pass indexes the seeded corpus into a fresh store through
``DocumentPipeline.ingest_documents`` (one call per tenant), finds its
near-duplicates with ``minhash_lsh_pairs`` → ``connected_components`` →
``canonical_docs``, reads pages of each tenant back with the three
scroll calls and runs ``cosine_topk_join`` of each tenant's query sample
against its stored embeddings.  Every output is
checked against the oracle after the pass.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen, oracle
from perfbench.serve import user_bytes


class Pass:
    def __init__(self):
        self.ingest_s: list[float] = []
        self.scroll_s: list[float] = []
        self.topk_s: list[float] = []
        self.dedup_s: dict[str, float] = {}
        self.wall_s = 0.0  # ingest + dedup + top-k
        self.calls = 0
        self.docs = 0
        self.recall = 0.0
        self.pairs_found = 0
        self.topk_pairs_scored = 0


def run_pass(spark, root: str, c: gen.Corpus, emb: oracle.Embeddings, errors: list,
             call=None, group=None, min_recall=gen.MIN_DEDUP_RECALL,
             scroll_rounds=gen.SCROLL_ROUNDS) -> Pass:
    """One bulk pass over ``c``; ``min_recall`` is the dedup recall it
    must reach.
    ``call(name, fn, *args)`` runs an operator call (a tracer's, in traced
    passes, whose installed wrappers also cover the pipeline and store);
    ``group(name)`` tags the Spark jobs that follow."""
    from pyspark.sql import functions as F

    from vector_db_handler_spark.operators import dedup, similarity
    from vector_db_handler_spark.pipeline import DocumentPipeline
    from vector_db_handler_spark.store import PointsStore

    call = call or (lambda name, fn, *a, **kw: fn(*a, **kw))
    group = group or (lambda name: None)
    docs = c.docs
    n_tenants = len(c.tenants)
    texts = {d: txt for d, _, txt in docs}
    pipe = DocumentPipeline(PointsStore(spark, root))
    out = Pass()

    schema = "doc_id long, chunk_id long, title string, text string"
    frames = [spark.createDataFrame([(d, 0, f"doc-{d}", txt) for d, tt, txt in docs if tt == t], schema)
              for t in range(n_tenants)]
    for t in range(n_tenants):
        group(f"write:ingest{t}")
        t0 = time.perf_counter()
        pipe.ingest_documents(c.tenants[t], frames[t])
        out.ingest_s.append(time.perf_counter() - t0)

    corpus_df = spark.createDataFrame([(d, txt, len(txt)) for d, _, txt in docs], "doc_id long, text string, n_chars long")
    t0 = time.perf_counter()
    group("dedup:lsh")
    pairs = call("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, corpus_df, gen.DEDUP_THRESHOLD, k=gen.SHINGLE_K)
    t1 = time.perf_counter()
    group("dedup:cc")
    comps = call("dedup.connected_components", dedup.connected_components, pairs, nodes=corpus_df)
    t2 = time.perf_counter()
    group("dedup:canonical")
    canon = call("dedup.canonical_docs", dedup.canonical_docs, corpus_df, comps).collect()
    t3 = time.perf_counter()
    out.dedup_s = {"minhash_lsh_pairs": t1 - t0, "connected_components": t2 - t1, "canonical_docs": t3 - t2}

    pages = []  # (tenant, doc ids or None, page)
    for r in range(scroll_rounds):
        for t in range(n_tenants):
            uid, qs = c.tenants[t], c.queries[t]
            reads = ((None, lambda: pipe.scroll_user_collection(uid)),
                     ({qs[0]}, lambda: pipe.scroll_user_doc(uid, qs[0])),
                     (set(qs[:3]), lambda: pipe.scroll_user_docs(uid, qs[:3])))
            for k, (doc_ids, read) in enumerate(reads):
                group(f"scroll:{r}.{t}.{k}")
                s0 = time.perf_counter()
                pages.append((t, doc_ids, read()))
                out.scroll_s.append(time.perf_counter() - s0)

    topk = []
    for t in range(n_tenants):
        qs = c.queries[t]
        group(f"search:topk{t}")
        s0 = time.perf_counter()
        vecs = pipe.store.read_tenant(c.tenants[t]).select("doc_id", "embedding")
        res = call("similarity.cosine_topk_join", similarity.cosine_topk_join,
                   vecs, vecs.filter(F.col("doc_id").isin(qs)), k=gen.TOPK, id_col="doc_id").collect()
        out.topk_s.append(time.perf_counter() - s0)
        topk.append((qs, res))
        out.topk_pairs_scored += len(qs) * sum(1 for _, tt, _ in docs if tt == t)
    group(None)
    out.wall_s = sum(out.ingest_s) + (t3 - t0) + sum(out.topk_s)
    out.calls = len(out.ingest_s) + len(out.dedup_s) + len(out.scroll_s) + len(out.topk_s)
    out.docs = len(docs)

    # -- checks (untimed) ----------------------------------------------------------
    pair_rows = [(r.d1, r.d2, r.jaccard) for r in pairs.collect()]
    comp_rows = [(r.node, r.component) for r in comps.collect()]
    err, out.recall, _ = oracle.check_dedup(
        texts, c.clusters, gen.DEDUP_THRESHOLD, gen.SHINGLE_K,
        pair_rows, comp_rows, [(r.component, r.canonical_doc_id, r.cluster_size) for r in canon], min_recall)
    out.pairs_found = len(pair_rows)
    if err:
        errors.append(err)

    stored = pipe.store.read().select("user_id", "point_id", "doc_id", "chunk_id", "title",
                                      "embedding", "embedding_norm").toPandas()
    for t in range(n_tenants):
        part = stored[stored["user_id"] == c.tenants[t]]
        sh = oracle.Shadow(c.tenants[t], emb)
        ids = sorted(d for d, tt, _ in docs if tt == t)
        if sorted(int(d) for d in part["doc_id"]) != ids:
            errors.append(f"bulk {c.tenants[t]}: stored doc ids differ from the ingested ones")
            continue
        for pid, d in zip(part["point_id"], part["doc_id"]):
            sh.put(pid, oracle.Row(int(d), 0, f"doc-{d}", texts[int(d)]))
        err = oracle.check_contents(sh, list(part["point_id"]), list(part["doc_id"]), list(part["chunk_id"]),
                                    list(part["title"]), list(part["embedding"]), list(part["embedding_norm"]))
        for tt, doc_ids, page in pages:
            if tt == t and not err:
                err = oracle.check_scroll({"Results": page}, sh.scroll(gen.SCROLL_LIMIT, doc_ids),
                                          with_ids=doc_ids is not None)
        if err:
            errors.append(f"bulk {c.tenants[t]}: {err}")
        qs, res = topk[t]
        mat = np.stack([emb(texts[d]) for d in ids])
        err = oracle.check_topk([(r.query_id, r.neighbor_id, r.score, r.rank) for r in res],
                                oracle.topk(ids, mat, qs, gen.TOPK))
        if err:
            errors.append(f"bulk {c.tenants[t]}: {err}")
    return out


def user_bytes_of(c: gen.Corpus) -> int:
    return sum(user_bytes(f"doc-{d}") for d, _, _ in c.docs)
