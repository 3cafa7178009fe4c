"""The repository's benchmark: serving over HTTP and bulk indexing.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 25 --trace 0

Workloads (sizes and mixes in ``perfbench/gen.py``, metric definitions in
``perfbench/README.md``):

* ``serve_mixed``: one closed-loop HTTP client, half writes;
* ``bulk_index``: one caller, DataFrame ingest, near-duplicate removal and
  a top-k join.

Every response is checked against an exact shadow oracle
(``perfbench/oracle.py``); a mismatch is printed to stderr, counted as a
failed operation and makes ``correct`` false.  The last line of stdout is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it describes the run (environment, sizes, sample counts).

Each run works in a fresh directory under ``.perfbench/`` in the
checkout (store, Spark scratch, temp files), deleted at exit; a traced
run leaves its spans in ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shlex
import shutil
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
# The oracle's numpy runs beside the program on the same cores; keep its
# BLAS single-threaded (Spark does the same for its Python workers).
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

import numpy as np  # noqa: E402

from perfbench import bulk, gen, oracle, serve  # noqa: E402
from perfbench.trace import SparkStats, Tracer, _short, pct  # noqa: E402

WORKLOADS = ("serve_mixed", "bulk_index")
#: Whole cycles of the serve_mixed mix run before the measured window.
#: Request latency keeps falling for the first ~50 s of serving (the
#: JVM's JIT, the Python UDF workers); two cycles (40 requests, ~20 s)
#: get past the steepest part, and a fixed count starts every run's
#: window at the same request of the sequence.
WARM_CYCLES = 2
#: A traced serving run alternates untraced and traced slices of equal
#: length (untraced, traced, traced, untraced), so store growth and
#: machine drift fall on both halves alike.
TRACE_SLICES = 4
CORPUS_GENERATIONS = 3
#: A bulk_index run times one pass per whole BULK_PASS_S of ``--seconds``.
BULK_PASS_S = 20.0
#: wall seconds of each phase of the run, for the run description
PHASES: dict[str, float] = {}
_T = [time.perf_counter()]


def phase(name: str) -> None:
    now = time.perf_counter()
    PHASES[name] = PHASES.get(name, 0.0) + now - _T[0]
    _T[0] = now


API_ROUTES = ["search_query", "search_query_on_doc", "scroll_user_collection", "scroll_user_doc",
              "upsert_data", "upsert_list_data", "update_data", "delete_chunk", "delete_chunk_by_id",
              "delete_doc"]
CLASSES = ["search", "scroll", "write"]

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "ops/s", "search_p50_ms": "ms", "scroll_p50_ms": "ms",
    "write_p50_ms": "ms", "bulk_docs_per_s": "docs/s", "bytes_stored_per_user_byte": "ratio",
}
#: Reported with the per-layer metrics: a run has too few samples for a
#: steady 90th percentile, the JVM's resident size follows its garbage
#: collector more than the workload, and a rate that is 0 when all is
#: well cannot carry a relative bound.
TAIL_UNITS = {
    "tail.search_p90_ms": "ms", "tail.scroll_p90_ms": "ms", "tail.write_p90_ms": "ms",
    "process.peak_rss_mb": "MB", "error_rate": "fraction",
}


def per_layer_units() -> dict[str, str]:
    u = {
        "http_server.queue_ms.p50": "ms", "http_server.queue_ms.p90": "ms",
        **{f"api.calls.{r}": "count" for r in API_ROUTES},
        "api.self_ms.p50": "ms", "pipeline.self_ms.p50": "ms", "store.self_ms.p50": "ms",
        "embedder.self_ms.p50": "ms",
        "pipeline.search.self_ms.p50": "ms", "pipeline.scroll.self_ms.p50": "ms",
        "embedder.embed_text.ms.p50": "ms", "embedder.embed_text.calls": "count",
        "embedder.with_embeddings.rows_per_s": "rows/s",
        "store.read_tenant.ms.p50": "ms", "store.upsert_vectors.ms.p50": "ms",
        "store.delete.ms.p50": "ms", "store.update_vector.ms.p50": "ms",
        "store.write_amplification": "ratio", "store.files_per_tenant.mean": "count",
        "store.files_per_tenant.max": "count", "store.rows_scanned_per_result": "ratio",
        "store.append.rows_per_s": "rows/s",
        "vector.score_rows_per_s": "rows/s", "vector.python_bytes_per_search": "B",
        "spark.task_busy_frac": "fraction",
        "dedup.minhash_lsh_pairs.s": "s", "dedup.connected_components.s": "s",
        "dedup.canonical_docs.s": "s", "dedup.pairs_found": "count", "dedup.recall": "fraction",
        "similarity.cosine_topk_join.s": "s", "similarity.pairs_scored_per_s": "pairs/s",
        "setup.session_s": "s", "setup.store_build_s": "s", **TAIL_UNITS,
        "trace.overhead.ops_per_s": "ops/s", "trace.overhead.search_p50_ms": "ms",
        "trace.overhead.scroll_p50_ms": "ms", "trace.overhead.write_p50_ms": "ms",
    }
    for c in CLASSES:
        u.update({f"spark.jobs_per_op.{c}": "count", f"spark.stages_per_op.{c}": "count",
                  f"spark.tasks_per_op.{c}": "count", f"spark.job_ms.p50.{c}": "ms"})
    for p in ("ingest", "dedup", "topk"):
        u[f"spark.shuffle_write_bytes.{p}"] = "B"
    return u


# -- run environment ------------------------------------------------------------------


class Workdir:
    """Fresh per-run directory inside the checkout; Spark scratch, the JVM's
    and Python's temp files and the store all live under it."""

    def __init__(self):
        self.base = ROOT / ".perfbench"
        self.path = self.base / f"run-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        (self.path / "tmp").mkdir(parents=True)
        tmp = str(self.path / "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_WAREHOUSE"] = str(self.path / "warehouse")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = None

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.base.rmdir()  # only when no trace file is left in it
        except OSError:
            pass


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every 0.5 s."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(0.5)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / 2**20


def start_spark():
    from vector_db_handler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stops the session, then waits for the JVM and every Python worker
    it started to exit."""
    from pyspark import SparkContext

    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None and proc.stdin:
        proc.stdin.close()  # the JVM exits at end of its input
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        if proc is not None:
            proc.poll()  # reap the JVM
        children = [p for p in children if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    if proc is not None:
        proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def files_per_tenant(root: Path) -> list[int]:
    return [sum(1 for f in d.iterdir() if f.suffix == ".parquet") for d in root.glob("user_id=*") if d.is_dir()]


def fs_bytes_written(spark) -> int:
    jvm = spark.sparkContext._jvm
    st = jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get("file")
    return 0 if st is None else int(st.getLong("bytesWritten") or 0)


def environment(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {"nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "spark_master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0], "clients": 1}


# -- serving ---------------------------------------------------------------------------


def latency_stats(slices) -> dict:
    """ops/s and per-class latency percentiles of the records that ran
    inside their slice's window; ``slices`` is a list of ``(window,
    records)``."""
    done = [r for (t0, t1), recs in slices for r in recs if t0 <= r.start and r.end <= t1]
    out = {"ops_per_s": len(done) / sum(t1 - t0 for (t0, t1), _ in slices), "n": {}}
    for c in CLASSES:
        lat = [(r.end - r.start) * 1e3 for r in done if serve.op_class(r.route) == c]
        out["n"][c] = len(lat)
        out[f"{c}_p50_ms"] = pct(lat, 50)
        out[f"{c}_p90_ms"] = pct(lat, 90)
    return out


def upsert_points_per_s(slices) -> float:
    """Points indexed per second of upsert round trip, over the upsert
    requests that ran inside their slice's window."""
    ups = [r for (t0, t1), recs in slices for r in recs
           if r.route in serve.UPSERT_ROUTES and t0 <= r.start and r.end <= t1]
    points = sum(len(r.body["chunks"]) if "chunks" in r.body else 1 for r in ups)
    return points / sum(r.end - r.start for r in ups)


def run_serve(args, spark, session_s, rss, info, errors, tracer_out):
    from vector_db_handler_spark.api import VectorDBApi
    from vector_db_handler_spark.http_server import VectorDBServer
    from vector_db_handler_spark.pipeline import DocumentPipeline
    from vector_db_handler_spark.store import PointsStore

    ts = gen.tenants(args.seed)
    root = Path(os.environ["TMPDIR"]).parent / "store"
    store = PointsStore(spark, str(root))
    phase("start")
    t0 = time.perf_counter()
    serve.build_store(spark, store, ts)
    store_build_s = time.perf_counter() - t0
    phase("build")
    n_points = sum(t.size for t in ts)

    emb = oracle.Embeddings()
    shadows = serve.shadows_from_store(store, ts, emb)
    for sh in shadows.values():
        sh._matrix()  # embed the oracle's copy before any timing
    base_bytes = sum(serve.user_bytes(p.title) for t in ts for p in t.points)
    srv = VectorDBServer(VectorDBApi(DocumentPipeline(store))).start()
    layer = None
    phase("oracle_setup")
    try:
        client = serve.Client(srv.address, args.seed, ts, shadows, errors)
        if args.trace:
            plain, layer = trace_serve(args, spark, store, client, tracer_out)
            layer.update({
                "setup.session_s": session_s, "setup.store_build_s": store_build_s,
                "store.append.rows_per_s": n_points / store_build_s,
            })
        else:
            window = client.window(args.seconds, WARM_CYCLES * len(gen.MIXED_CYCLE))
            plain = [(window, list(client.records))]
        phase("window")
    finally:
        srv.stop()
    peak = rss.stop()
    phase("trace" if args.trace else "stop_server")
    serve.check_store(store, shadows, errors)
    phase("check_store")

    st = latency_stats(plain)
    recs = [r for _, rs in plain for r in rs]
    submitted = base_bytes + client.user_bytes
    e2e = {
        "setup_s": session_s + store_build_s, "ops_per_s": st["ops_per_s"],
        "search_p50_ms": st["search_p50_ms"], "search_p90_ms": st["search_p90_ms"],
        "scroll_p50_ms": st["scroll_p50_ms"], "scroll_p90_ms": st["scroll_p90_ms"],
        "write_p50_ms": st["write_p50_ms"], "write_p90_ms": st["write_p90_ms"],
        "bulk_docs_per_s": upsert_points_per_s(plain),
        "bytes_stored_per_user_byte": dir_bytes(root) / submitted, "peak_rss_mb": peak,
    }
    hot = hot_set(recs, ts)
    info.update({
        "tenants": len(ts), "points": n_points, "tenant_sizes": [t.size for t in ts],
        "zipf_s": gen.ZIPF_S, "store_bytes": dir_bytes(root), "user_bytes": submitted,
        "hot_set_bytes": hot[0], "hot_set_tenants": hot[1], "repeat_share": repeat_share(recs),
        "samples": st["n"], "window_s": sum(t1 - t0 for (t0, t1), _ in plain), "requests": route_counts(recs),
        "setup": {"session_s": session_s, "store_build_s": store_build_s},
    })
    attempted = client.sent
    failed = client.failed + sum(1 for e in errors if e.startswith("store contents"))
    return e2e, layer, attempted, failed


def route_counts(recs) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in recs:
        out[r.route] = out.get(r.route, 0) + 1
    return out


def hot_set(recs, ts) -> tuple[int, int]:
    """User bytes of the fewest tenants that received 80% of the requests."""
    per: dict[str, int] = {}
    for r in recs:
        if r.body and "user_id" in r.body:
            per[r.body["user_id"]] = per.get(r.body["user_id"], 0) + 1
    size = {t.user_id: sum(serve.user_bytes(p.title) for p in t.points) for t in ts}
    total, acc, n, b = sum(per.values()), 0, 0, 0
    for uid, k in sorted(per.items(), key=lambda kv: -kv[1]):
        if acc >= 0.8 * total:
            break
        acc, n, b = acc + k, n + 1, b + size[uid]
    return b, n


def repeat_share(recs) -> float:
    """Share of requests identical to an earlier request of the window."""
    seen, rep = set(), 0
    for r in sorted(recs, key=lambda r: r.start):
        key = (r.route, json.dumps(r.body, sort_keys=True))
        rep += key in seen
        seen.add(key)
    return rep / len(recs) if recs else 0.0


def trace_serve(args, spark, store, client, tracer_out) -> tuple[list, dict]:
    """A traced serving run: ``--seconds`` cut into TRACE_SLICES slices,
    the wrappers on in the middle two of every four.  Returns the
    untraced slices (``(window, records)``) and the per-layer metrics of
    the traced ones; ``trace.overhead.*`` is traced minus untraced."""
    stats = SparkStats(spark)
    tracer = Tracer()
    groups: dict[str, list[str]] = {c: [] for c in CLASSES}

    def hook(sp, entering):
        cls = serve.op_class(sp.name.split(".", 1)[1])
        if cls not in groups:
            return
        if entering:
            sp.attrs["group"] = f"{cls}:{sp.id}"
            groups[cls].append(sp.attrs["group"])
        stats.set_group(sp.attrs["group"] if entering else None)

    tracer.api_hook = hook
    hw = stats.stage_highwater()
    fs0, ub0 = fs_bytes_written(spark), client.user_bytes
    plain, traced, traced_recs = [], [], []
    for i in range(TRACE_SLICES):
        on = i % 4 in (1, 2)
        if on:
            tracer.install()
        try:
            window = client.window(args.seconds / TRACE_SLICES, WARM_CYCLES * len(gen.MIXED_CYCLE) if i == 0 else 0)
        finally:
            tracer.uninstall()
        recs = list(client.records)
        (traced if on else plain).append((window, recs))
        if on:  # every traced request, those finishing after the window too
            traced_recs += recs
    written, submitted = fs_bytes_written(spark) - fs0, client.user_bytes - ub0
    stats.drain()
    out = layer_metrics(tracer, stats, groups, hw, sum(t1 - t0 for (t0, t1), _ in traced))
    out.update(queue_metrics(tracer, traced_recs))
    tr, ut = latency_stats(traced), latency_stats(plain)
    for k in ("ops_per_s", "search_p50_ms", "scroll_p50_ms", "write_p50_ms"):
        out[f"trace.overhead.{k}"] = tr[k] - ut[k]
    out["store.write_amplification"] = written / submitted if submitted else 0.0
    results = sum(r.results for r in traced_recs if serve.op_class(r.route) == "search")
    out["store.rows_scanned_per_result"] = out.pop("_search_scan_rows") / results if results else 0.0
    out.pop("_shuffle_by_class")
    files = files_per_tenant(Path(store.root))
    out["store.files_per_tenant.mean"] = float(np.mean(files))
    out["store.files_per_tenant.max"] = float(max(files))
    biggest = max(gen.tenants(args.seed), key=lambda t: t.size).user_id
    out.update(microbench(spark, store, biggest))
    tracer.dump(str(tracer_out))
    return plain, out


#: api method → request field holding its first argument after user_id
FIRST_ARG = {"search_query": "query", "search_query_on_doc": "doc_ids", "scroll_user_doc": "doc_id",
             "upsert_data": "chunk", "upsert_list_data": "chunks",
             "update_data": "chunk", "delete_chunk": "doc_id", "delete_chunk_by_id": "vector_id",
             "delete_doc": "doc_id"}


def queue_metrics(tracer: Tracer, recs) -> dict:
    """Client round trip minus the matching ``api`` span: store-lock wait,
    JSON and socket time.  A request's span is the one with its route,
    tenant and first argument that lies inside the request's interval."""
    free: dict[tuple, list] = {}
    for s in tracer.spans:
        if s.name.startswith("api.") and s.end is not None:
            a = s.attrs["args"]
            free.setdefault((s.name[4:], a[1] if len(a) > 1 else None), []).append(s)
    q = []
    for r in recs:
        body = r.body or {}
        key = (r.route, body.get("user_id"))
        want = _short([body.get(FIRST_ARG[r.route])])[0] if r.route in FIRST_ARG else None
        for s in free.get(key, ()):
            a = s.attrs["args"]
            if r.start <= s.start and s.end <= r.end and (want is None or (len(a) > 2 and a[2] == want)):
                q.append((r.end - r.start) * 1e3 - s.ms)
                free[key].remove(s)
                break
    return {"http_server.queue_ms.p50": pct(q, 50), "http_server.queue_ms.p90": pct(q, 90)}


def layer_metrics(tracer: Tracer, stats: SparkStats, groups: dict, hw: int, wall_s: float) -> dict:
    """Span-, job- and stage-derived per-layer metrics.  ``groups`` maps
    each op class to the job groups of its ops; ``wall_s`` is the traced
    time."""
    kids = tracer.children()
    done = [s for s in tracer.spans if s.end is not None]
    by_name: dict[str, list] = {}
    for s in done:
        by_name.setdefault(s.name, []).append(s)
    jobs = stats.jobs()
    sqlm = stats.sql_metrics({j["id"]: g for g, js in jobs.items() for j in js})
    out: dict[str, float] = {}

    def p50(name):
        return pct([s.ms for s in by_name.get(name, ())], 50)

    def job_ms(g):
        return sum(j["ms"] for j in jobs.get(g, ()))

    for r in API_ROUTES:
        out[f"api.calls.{r}"] = float(len(by_name.get(f"api.{r}", ())))
    for layer in ("api", "pipeline", "store", "embedder"):
        out[f"{layer}.self_ms.p50"] = pct([tracer.self_ms(s, kids) for s in done if s.name.startswith(layer + ".")], 50)
    # A pipeline call's Spark time is the job time of its request's group.
    group_of = {s.id: s.attrs.get("group") for s in done}
    for cls, names in (("search", ("search_query", "search_query_on_doc")),
                       ("scroll", ("scroll_user_collection", "scroll_user_doc", "scroll_user_docs"))):
        out[f"pipeline.{cls}.self_ms.p50"] = pct([
            s.ms - tracer.under(s, kids, "embedder.") - job_ms(group_of.get(s.parent) or s.attrs.get("group"))
            for n in names for s in by_name.get(f"pipeline.{n}", ())], 50)
    out["embedder.embed_text.ms.p50"] = p50("embedder.embed_text")
    out["embedder.embed_text.calls"] = float(len(by_name.get("embedder.embed_text", ())))
    for name in ("read_tenant", "upsert_vectors", "update_vector"):
        out[f"store.{name}.ms.p50"] = p50(f"store.{name}")
    out["store.delete.ms.p50"] = pct([s.ms for n, ss in by_name.items() if n.startswith("store.delete_") for s in ss], 50)

    for cls in CLASSES:
        gs = groups.get(cls, [])
        n = len(gs) or 1
        out[f"spark.jobs_per_op.{cls}"] = sum(len(jobs.get(g, ())) for g in gs) / n
        out[f"spark.stages_per_op.{cls}"] = sum(j["stages"] for g in gs for j in jobs.get(g, ())) / n
        out[f"spark.tasks_per_op.{cls}"] = sum(j["tasks"] for g in gs for j in jobs.get(g, ())) / n
        out[f"spark.job_ms.p50.{cls}"] = pct([job_ms(g) for g in gs], 50)
    searches = groups.get("search", [])
    out["vector.python_bytes_per_search"] = (
        sum(sqlm.get(g, {}).get("python_bytes", 0.0) for g in searches) / len(searches) if searches else 0.0)
    out["_search_scan_rows"] = sum(sqlm.get(g, {}).get("scan_rows", 0.0) for g in searches)

    stages = {s["id"]: s for s in stats.stages(hw)}
    traced = {sid for js in jobs.values() for j in js for sid in j["stage_ids"] if sid in stages}
    cores = stats.sc.defaultParallelism
    out["spark.task_busy_frac"] = sum(stages[sid]["run_ms"] for sid in traced) / (wall_s * 1e3 * cores)
    out["_shuffle_by_class"] = {}
    for g, js in jobs.items():
        cls = g.split(":")[0]
        out["_shuffle_by_class"][cls] = out["_shuffle_by_class"].get(cls, 0) + sum(
            stages[sid]["shuffle_write"] for j in js for sid in j["stage_ids"] if sid in stages)
    return out


def microbench(spark, store, tenant: str) -> dict:
    """Layer throughputs timed alone: the embedder into a no-op sink, and
    cosine scoring over one cached tenant frame."""
    from pyspark.sql import functions as F

    from vector_db_handler_spark import embedder
    from vector_db_handler_spark.functions.vector import cosine_score_precomputed

    rng = np.random.default_rng(0)
    n_texts = 4000
    texts = spark.createDataFrame([(gen.words(rng, gen.WORDS_PER_CHUNK),) for _ in range(n_texts)], "text string")
    frame = store.read_tenant(tenant).select("embedding", "embedding_norm").cache()
    n_rows = frame.count()
    q = [float(x) for x in oracle.Embeddings()("microbench query")]
    emb_s, score_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        embedder.with_embeddings(texts).write.format("noop").mode("overwrite").save()
        emb_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        frame.select(cosine_score_precomputed(F.col("embedding"), F.col("embedding_norm"), q)
                     ).write.format("noop").mode("overwrite").save()
        score_s.append(time.perf_counter() - t0)
    frame.unpersist()
    return {"embedder.with_embeddings.rows_per_s": n_texts / float(np.median(emb_s)),
            "vector.score_rows_per_s": n_rows / float(np.median(score_s))}


# -- bulk ---------------------------------------------------------------------------------


def bulk_stats(passes) -> dict:
    lat = {"write": [s for p in passes for s in p.ingest_s], "scroll": [s for p in passes for s in p.scroll_s],
           "search": [s for p in passes for s in p.topk_s]}
    out = {"ops_per_s": float(np.median([p.calls / (p.wall_s + sum(p.scroll_s)) for p in passes])),
           "bulk_docs_per_s": float(np.median([p.docs / p.wall_s for p in passes]))}
    for c, v in lat.items():
        out[f"{c}_p50_ms"] = pct([x * 1e3 for x in v], 50)
        out[f"{c}_p90_ms"] = pct([x * 1e3 for x in v], 90)
    return out


def run_bulk(args, spark, session_s, rss, info, errors, tracer_out):
    from vector_db_handler_spark.store import PointsStore

    gens, corpora = [], []
    for _ in range(CORPUS_GENERATIONS):
        t0 = time.perf_counter()
        corpora.append(gen.corpus(args.seed))
        gens.append(time.perf_counter() - t0)
    c = corpora[0]
    if any(x.docs != c.docs or x.clusters != c.clusters for x in corpora[1:]):
        errors.append("corpus generation is not deterministic")
    emb = oracle.Embeddings()
    base = Path(os.environ["TMPDIR"]).parent
    phase("start")
    n = 0

    def passes_for(seconds, corpus=c, **kw):
        """One pass per whole BULK_PASS_S of ``seconds`` (at least one): a
        fixed count, so a slow moment on the machine does not change how
        many passes a run takes."""
        nonlocal n
        out = []
        for _ in range(max(1, int(seconds // BULK_PASS_S))):
            shutil.rmtree(base / f"store{n - 1}", ignore_errors=True)
            out.append(bulk.run_pass(spark, str(base / f"store{n}"), corpus, emb, errors, **kw))
            n += 1
        return out

    # A first pass over a small corpus pays the session's worker start-up
    # and JIT compilation; it is checked but not timed.  Its two dozen
    # planted pairs are too few for a recall floor, and one round of
    # scrolls warms them as well as three.
    warm = passes_for(0, gen.corpus(args.seed, gen.WARM_DOCS_PER_TENANT), min_recall=0.0, scroll_rounds=1)
    phase("warm")

    passes = passes_for(args.seconds / 2 if args.trace else args.seconds)
    phase("window")
    traced, layer = [], None
    if args.trace:
        stats = SparkStats(spark)
        tracer = Tracer()
        groups: dict[str, list[str]] = {c_: [] for c_ in CLASSES}

        def group(g):
            tracer.tag = g
            stats.set_group(g)
            if g and g.split(":")[0] in groups:
                groups[g.split(":")[0]].append(g)

        hw = stats.stage_highwater()
        fs0 = fs_bytes_written(spark)
        tracer.install()
        t0 = time.perf_counter()
        try:
            traced = passes_for(args.seconds / 2, call=tracer.call, group=group)
        finally:
            tracer.uninstall()
            group(None)
        wall_s = time.perf_counter() - t0
        written = fs_bytes_written(spark) - fs0
        stats.drain()
        layer = layer_metrics(tracer, stats, groups, hw, wall_s)
        layer.pop("_search_scan_rows")
        shuffle = layer.pop("_shuffle_by_class")
        appends = [s.end - s.start for s in tracer.spans if s.name == "store.append" and s.end is not None]
        last = base / f"store{n - 1}"
        files = files_per_tenant(last)
        ut, tr = bulk_stats(passes), bulk_stats(traced)
        layer.update({
            "http_server.queue_ms.p50": 0.0, "http_server.queue_ms.p90": 0.0,
            "store.write_amplification": written / (len(traced) * bulk.user_bytes_of(c)),
            "store.rows_scanned_per_result": 0.0,
            "store.append.rows_per_s": len(traced) * len(c.docs) / sum(appends),
            "store.files_per_tenant.mean": float(np.mean(files)), "store.files_per_tenant.max": float(max(files)),
            "setup.session_s": session_s, "setup.store_build_s": 0.0,
            "dedup.pairs_found": float(traced[-1].pairs_found), "dedup.recall": traced[-1].recall,
            "similarity.cosine_topk_join.s": float(np.median([sum(p.topk_s) for p in traced])),
            "similarity.pairs_scored_per_s": float(np.median([p.topk_pairs_scored / sum(p.topk_s) for p in traced])),
            "spark.shuffle_write_bytes.ingest": shuffle.get("write", 0) / len(traced),
            "spark.shuffle_write_bytes.dedup": shuffle.get("dedup", 0) / len(traced),
            "spark.shuffle_write_bytes.topk": shuffle.get("search", 0) / len(traced),
            **{f"dedup.{k}.s": float(np.median([p.dedup_s[k] for p in traced]))
               for k in ("minhash_lsh_pairs", "connected_components", "canonical_docs")},
            **{f"trace.overhead.{k}": tr[k] - ut[k]
               for k in ("ops_per_s", "search_p50_ms", "scroll_p50_ms", "write_p50_ms")},
        })
        layer.update(microbench(spark, PointsStore(spark, str(last)), c.tenants[0]))
        tracer.dump(str(tracer_out))
    peak = rss.stop()

    st = bulk_stats(passes)
    last = base / f"store{n - 1}"
    submitted = bulk.user_bytes_of(c)
    e2e = {
        "setup_s": session_s + float(np.median(gens)), "ops_per_s": st["ops_per_s"],
        "search_p50_ms": st["search_p50_ms"], "search_p90_ms": st["search_p90_ms"],
        "scroll_p50_ms": st["scroll_p50_ms"], "scroll_p90_ms": st["scroll_p90_ms"],
        "write_p50_ms": st["write_p50_ms"], "write_p90_ms": st["write_p90_ms"],
        "bulk_docs_per_s": st["bulk_docs_per_s"],
        "bytes_stored_per_user_byte": dir_bytes(last) / submitted, "peak_rss_mb": peak,
    }
    everything = warm + passes + traced
    info.update({
        "docs": len(c.docs), "tenants": len(c.tenants), "planted_clusters": len(c.clusters),
        "dup_share": gen.DUP_SHARE, "passes": len(passes), "traced_passes": len(traced),
        "pass_wall_s": [p.wall_s for p in everything], "dedup_recall": [p.recall for p in everything],
        "dedup_pairs_found": [p.pairs_found for p in everything],
        "store_bytes": dir_bytes(last), "user_bytes": submitted, "hot_set_bytes": submitted,
        "setup": {"session_s": session_s, "corpus_generation_s": gens},
    })
    return e2e, layer, sum(p.calls for p in everything), len(errors)


# -- main ----------------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # Fail before any work when the program is not in the checkout.
    import vector_db_handler_spark  # noqa: F401

    work = Workdir()
    atexit.register(work.remove)
    rss = RssSampler()
    spark, session_s = start_spark()
    errors: list[str] = []
    PHASES["session"] = session_s
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "env": environment(spark)}
    tracer_out = work.base / f"trace-{args.workload}-{args.seed}.json"
    try:
        runner = run_bulk if args.workload == "bulk_index" else run_serve
        e2e, layer, attempted, failed = runner(args, spark, session_s, rss, info, errors, tracer_out)
    finally:
        rss.stop()
        stop_spark(spark)
    for e in errors[:20]:
        print(f"ORACLE MISMATCH: {e}", file=sys.stderr)
    if len(errors) > 20:
        print(f"ORACLE MISMATCH: … {len(errors) - 20} more", file=sys.stderr)

    tail = {"tail.search_p90_ms": e2e["search_p90_ms"], "tail.scroll_p90_ms": e2e["scroll_p90_ms"],
            "tail.write_p90_ms": e2e["write_p90_ms"], "process.peak_rss_mb": e2e["peak_rss_mb"],
            "error_rate": failed / max(1, attempted)}
    info["tail"] = tail
    if args.trace:
        units = per_layer_units()
        layer.update(tail)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    info["errors"] = len(errors)
    info["phases_s"] = {k: round(v, 3) for k, v in PHASES.items()}
    print(json.dumps({"run": info}), flush=True)
    ok = not errors and failed == 0
    print(json.dumps({"correct": ok, "attempted": int(attempted), "failed": int(failed), "metrics": metrics}),
          flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
