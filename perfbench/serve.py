"""Serving workloads: the store build and the closed-loop HTTP clients.

The stack is the library's public serving stack with its defaults
(dimension 1024, cosine): ``VectorDBServer(VectorDBApi(DocumentPipeline(
PointsStore(spark, root))))``.  One closed-loop client runs in this
process, with one request in flight at a time.  Every response is checked
against the shadow oracle before the next request.
"""

from __future__ import annotations

import http.client
import json
import time
from dataclasses import dataclass

from perfbench import gen, oracle

SCROLL_ROUTES = {"scroll_user_collection", "scroll_user_doc"}
SEARCH_ROUTES = {"search_query", "search_query_on_doc"}
WRITE_ROUTES = {"upsert_data", "upsert_list_data", "update_data", "delete_chunk",
                "delete_chunk_by_id", "delete_doc"}
UPSERT_ROUTES = {"upsert_data", "upsert_list_data"}
METHOD = {"update_data": "PUT", "delete_chunk": "DELETE", "delete_chunk_by_id": "DELETE", "delete_doc": "DELETE"}


def op_class(route: str) -> str:
    if route in SEARCH_ROUTES:
        return "search"
    if route in SCROLL_ROUTES:
        return "scroll"
    if route in WRITE_ROUTES:
        return "write"
    return "other"


def user_bytes(title: str, dim: int = oracle.DIM) -> int:
    """What one point costs the user: its float32 vector, its two ids and
    its title."""
    return 4 * dim + 16 + len(title.encode("utf-8"))


def build_store(spark, store, ts: list[gen.Tenant]) -> None:
    """Indexes every tenant through the program's bulk ingest,
    ``DocumentPipeline.ingest_documents``, one call per tenant."""
    from vector_db_handler_spark.pipeline import DocumentPipeline

    pipe = DocumentPipeline(store)
    schema = "doc_id long, chunk_id long, title string, text string"
    for t in ts:
        pipe.ingest_documents(t.user_id, spark.createDataFrame(
            [(p.doc_id, p.chunk_id, p.title, p.text) for p in t.points], schema))


def shadows_from_store(store, ts: list[gen.Tenant], emb: oracle.Embeddings) -> dict[str, oracle.Shadow]:
    """The oracle's copy of the built store; point ids are assigned by
    the program, so they are read back once."""
    text = {(t.user_id, p.doc_id, p.chunk_id): p for t in ts for p in t.points}
    out = {t.user_id: oracle.Shadow(t.user_id, emb) for t in ts}
    for r in store.read().select("user_id", "point_id", "doc_id", "chunk_id").collect():
        p = text[(r[0], r[2], r[3])]
        out[r[0]].put(r[1], oracle.Row(p.doc_id, p.chunk_id, p.title, p.text))
    return out


@dataclass
class Rec:
    route: str
    body: dict | None
    start: float
    end: float
    ok: bool
    results: int


class Client:
    """The closed-loop client: sends a request, waits for the answer,
    checks it, sends the next."""

    def __init__(self, addr, seed: int, ts, shadows, errors: list):
        self.addr = addr
        self.shadows, self.errors = shadows, errors
        self.records: list[Rec] = []  # of the current window
        self.sent = self.failed = 0  # over the whole run
        self.user_bytes = 0
        self._slots = gen.mixed_slots(seed, [t.user_id for t in ts])
        self.pool = {t.user_id: t.queries for t in ts}
        self.q_probs = gen.zipf_probs(gen.QUERY_POOL)
        self.next_doc = {u: 1 + max(r.doc_id for r in sh.rows.values()) for u, sh in shadows.items()}
        self.n_fresh = 0

    # -- transport -------------------------------------------------------------

    def send(self, route: str, body: dict | None, check) -> dict | None:
        method = METHOD.get(route, "POST")
        t0 = time.perf_counter()
        ok, payload = False, None
        try:
            conn = http.client.HTTPConnection(*self.addr, timeout=170)
            try:
                conn.request(method, f"/{route}/", body=None if body is None else json.dumps(body),
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                raw = resp.read()
                status = resp.status
            finally:
                conn.close()
            t1 = time.perf_counter()
            payload = json.loads(raw)
            err = f"HTTP {status}: {payload}" if status != 200 else check(payload)
        except (OSError, http.client.HTTPException, ValueError, KeyError, TypeError, AttributeError) as e:
            # transport failures, and answers too malformed for the check
            t1 = time.perf_counter()
            err = f"{type(e).__name__}: {e}"
        self.sent += 1
        if err:
            self.failed += 1
            self.errors.append(f"{route} {json.dumps(body)[:160] if body else ''}: {err}")
        else:
            ok = True
        n = len(payload.get("Results", ())) if ok and isinstance(payload, dict) else 0
        self.records.append(Rec(route, body, t0, t1, ok, n))
        return payload if ok else None

    def window(self, seconds: float, warm_slots: int) -> tuple[float, float]:
        """Runs ``warm_slots`` slots of the cycle, then slots until
        ``seconds`` have passed, and returns that measured window.
        ``records`` then holds the window's requests; the one in flight
        at its end finishes (and is checked) but falls outside it."""
        for _ in range(warm_slots):
            self.step()
        self.records.clear()
        t0 = time.perf_counter()
        while time.perf_counter() < t0 + seconds:
            self.step()
        return t0, t0 + seconds

    def read(self, route: str, body: dict) -> None:
        sh = self.shadows[body["user_id"]]
        docs = set(body.get("doc_ids", ())) or ({body["doc_id"]} if "doc_id" in body else None)
        if route in SEARCH_ROUTES:
            want = sh.search(body["query"], gen.SEARCH_LIMIT, docs)
            self.send(route, body, lambda b: oracle.check_search(b, want))
        else:
            want = sh.scroll(gen.SCROLL_LIMIT, docs)
            with_ids = route != "scroll_user_collection"
            self.send(route, body, lambda b: oracle.check_scroll(b, want, with_ids))

    def fresh_text(self, uid: str, rng) -> str:
        self.n_fresh += 1
        return f"{uid} m{self.n_fresh} {gen.words(rng, gen.WORDS_PER_CHUNK)}"

    def step(self) -> None:
        rng, route, uid = next(self._slots)
        sh = self.shadows[uid]
        pids = list(sh.rows)
        if route.startswith("delete") and len(pids) < 8:
            route = "search_query"
        if route in UPSERT_ROUTES:
            doc = self.next_doc[uid]
            self.next_doc[uid] += 1
            n = 1 if route == "upsert_data" else gen.LIST_UPSERT_CHUNKS
            new = [oracle.Row(doc, c, f"doc-{doc}", self.fresh_text(uid, rng)) for c in range(n)]
            metas = [{"DocId": r.doc_id, "ChunkId": r.chunk_id, "Title": r.title} for r in new]
            if n == 1:
                body = {"user_id": uid, "chunk": new[0].text, "metadata": metas[0]}
            else:
                body = {"user_id": uid, "chunks": [r.text for r in new], "metadatas": metas}
            self.send(route, body, lambda b: None if b.get("message") == "Data upserted successfully" else f"{b}")
            self.user_bytes += sum(user_bytes(r.title) for r in new)
            self.learn_ids(uid, doc, new)
        elif route == "update_data":
            pid = pids[int(rng.integers(len(pids)))]
            r = sh.rows[pid]
            text = self.fresh_text(uid, rng)
            body = {"user_id": uid, "chunk": text, "doc_id": r.doc_id, "chunk_id": r.chunk_id}
            if self.send(route, body, lambda b: None if b.get("message") == "Data updated successfully" else f"{b}"):
                sh.set_text(pid, text)
            self.user_bytes += user_bytes(r.title)
        elif route.startswith("delete"):
            pid = pids[int(rng.integers(len(pids)))]
            r = sh.rows[pid]
            if route == "delete_chunk":
                body, gone = {"user_id": uid, "doc_id": r.doc_id, "chunk_id": r.chunk_id}, sh.find(r.doc_id, r.chunk_id)
            elif route == "delete_chunk_by_id":
                body, gone = {"user_id": uid, "vector_id": pid}, [pid]
            else:
                body, gone = {"user_id": uid, "doc_id": r.doc_id}, sh.find(r.doc_id)
            if self.send(route, body, lambda b: None if "deleted successfully" in str(b.get("message")) else f"{b}"):
                sh.drop(gone)
        elif route == "search_query_on_doc":
            docs = sorted({sh.rows[pids[int(i)]].doc_id for i in rng.integers(0, len(pids), 2)})
            self.read(route, {"user_id": uid, "doc_ids": docs, "query": self.query(uid, rng)})
        elif route == "search_query":
            self.read(route, {"user_id": uid, "query": self.query(uid, rng)})
        else:
            self.read(route, {"user_id": uid})

    def query(self, uid: str, rng) -> str:
        return self.pool[uid][int(rng.choice(gen.QUERY_POOL, p=self.q_probs))]

    def learn_ids(self, uid: str, doc: int, new: list[oracle.Row]) -> None:
        """Read-your-write: the new document's points, with the ids the
        server gave them, become part of the shadow."""
        sh = self.shadows[uid]
        want = sorted((r.doc_id, r.chunk_id, r.title) for r in new)

        def check(b):
            got = b.get("Results") or []
            ids = [g.get("VectorId") for g in got]
            if sorted((g.get("DocId"), g.get("ChunkId"), g.get("Title")) for g in got) != want:
                return f"read-your-write: got {got!r:.200}, expected {want}"
            if ids != sorted(ids) or len(set(ids)) != len(ids) or set(ids) & set(sh.rows):
                return f"read-your-write: bad point ids {ids}"
            return None

        body = self.send("scroll_user_doc", {"user_id": uid, "doc_id": doc}, check)
        if body:
            by_chunk = {r.chunk_id: r for r in new}
            for g in body["Results"]:
                sh.put(g["VectorId"], by_chunk[g["ChunkId"]])


def check_store(store, shadows: dict[str, oracle.Shadow], errors: list) -> None:
    """End of run: every tenant's full stored contents match its shadow."""
    pdf = store.read().select("user_id", "point_id", "doc_id", "chunk_id", "title",
                              "embedding", "embedding_norm").toPandas()
    for uid, sh in shadows.items():
        part = pdf[pdf["user_id"] == uid]
        err = oracle.check_contents(sh, list(part["point_id"]), list(part["doc_id"]), list(part["chunk_id"]),
                                    list(part["title"]), list(part["embedding"]), list(part["embedding_norm"]))
        if err:
            errors.append(f"store contents: {err}")
