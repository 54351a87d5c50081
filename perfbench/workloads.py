"""The benchmark's workloads.

``point_session``: one client in a closed loop against a
``VectorDbSession``, running whole passes of a fixed 10-op deck --
plain, recent-only and Mongo-filtered searches, a result-cache hit,
``get_vector`` and 10-id add, delete and metadata update.

``bulk_ann``: the write-then-serve pipeline -- bulk ingest, IVF training,
IVFPQ fit and encode, an HNSW build over a slice, save and load, then
sweeps of one query batch through exact ``knn_bulk``, IVF, IVFPQ (exact
rerank) and HNSW bulk search.

Each workload returns ``Outcome``: end-to-end metrics, per-layer metrics
(when traced), ops attempted and failed, and every output-check error.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import gen
from spans import Tracer, children_of, descendants, node_metric, self_time

K = 10
# ``floors``: recall@10 floors checked on every sweep, so a speed gain
# bought with recall fails the run instead of passing as a win.  At full
# scale each sits under the lowest per-sweep recall seen over 24 seeds
# (IVF 0.9995, IVFPQ 0.9395, HNSW 0.994) by about the spread of the
# per-run lowest values across those seeds, so an unlucky seed passes.
SCALES = {
    "full": {
        "point": dict(n=10_000, dim=128, passes=40, clusters=32, reps=4),
        "bulk": dict(
            n=10_000, dim=128, queries=200, batches=64, clusters=16, n_probe=4,
            pq_subspaces=8, pq_centroids=32, hnsw_n=2_000, hnsw_graphs=4, ef=64,
            reps=3, floors={"ivf": 0.99, "ivfpq": 0.92, "hnsw": 0.98},
        ),
    },
    "tiny": {
        "point": dict(n=600, dim=16, passes=40, clusters=8, reps=3),
        "bulk": dict(
            n=800, dim=16, queries=20, batches=8, clusters=8, n_probe=4,
            pq_subspaces=4, pq_centroids=16, hnsw_n=300, hnsw_graphs=2, ef=64,
            reps=3, floors={"ivf": 0.70, "ivfpq": 0.60, "hnsw": 0.80},
        ),
    },
}
FAMILIES = ["knn", "ivf", "ivfpq", "hnsw"]


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # name -> value, units in E2E
    layers: dict = field(default_factory=dict)  # name -> value, units in PER_LAYER
    samples: dict = field(default_factory=dict)  # raw timings, for stderr


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _now() -> float:
    return time.perf_counter()


def _fits(deadline: float, done: list[float]) -> bool:
    """Start another op (or deck pass) only if one of median length ends
    by the deadline."""
    return _now() + median(x for x in done if x != math.inf) <= deadline


def _fail(out: Outcome) -> float:
    out.failed += 1
    traceback.print_exc(file=sys.stderr)
    return math.inf


# ====================================================================
# point_session
# ====================================================================

def _point_table(spark, inp: gen.PointInputs, now):
    ts = (pd.to_datetime(now) - pd.to_timedelta(inp.ages_s, unit="s")).floor("us")
    pdf = pd.DataFrame(
        {
            "id": inp.ids,
            "vector": list(inp.vectors),
            "category": [m["category"] for m in inp.metadata],
            "tags": [m["tags"] for m in inp.metadata],
            "year": np.asarray([m["year"] for m in inp.metadata], dtype=np.int64),
            "ts": ts,
        }
    )
    df = spark.createDataFrame(
        pdf,
        "id string, vector array<float>, category string, tags array<string>, "
        "year long, ts timestamp",
    )
    return df.select(
        "id", "vector", F.struct("category", "tags", "year").alias("metadata"), "ts"
    )


def _point_op(sess, op: dict, now):
    kind = op["kind"]
    if kind == "search":
        return sess.search(
            op["query"].tolist(), k=K, search_historical=not op["recent_only"]
        )
    if kind == "fsearch":
        return sess.search(op["query"].tolist(), k=K, filter=op["filter"])
    if kind == "get":
        return sess.get_vector(op["id"])
    if kind == "add":
        return sess.batch_add_vectors(
            [
                {
                    "id": r["id"],
                    "vector": r["vector"].tolist(),
                    "metadata": r["metadata"],
                    "timestamp": now - pd.Timedelta(seconds=r["age_s"]).to_pytimedelta(),
                }
                for r in op["rows"]
            ]
        )
    if kind == "delete":
        return sess.batch_delete(op["ids"])
    return sess.batch_update_metadata(op["items"])


def _point_check(op: dict, res, prev: dict | None, model: dict) -> list[str]:
    kind = op["kind"]
    if kind == "search":
        errs = checks.search_rows(res, op["query"], K, model, recent_only=op["recent_only"])
        if prev is not None and prev["kind"] == "update":
            # the query sits next to an updated row: it must come back,
            # and search_rows has checked that it carries its new metadata
            if prev["target"] not in {r["id"] for r in res}:
                errs.append(f"updated row {prev['target']} missing next to its own vector")
        return errs
    if kind == "fsearch":
        return checks.filtered_search(res, op["query"], K, model, op["filter"])
    if kind == "get":
        return checks.get_vector(res, op["id"], model)
    n = len(op.get("rows") or op.get("ids") or op.get("items"))
    return checks.write_stats(res, n)


def _point_apply(op: dict, model: dict) -> None:
    kind = op["kind"]
    if kind == "add":
        for r in op["rows"]:
            model[r["id"]] = {
                "vector": r["vector"], "metadata": r["metadata"],
                "age_s": r["age_s"], "deleted": False,
            }
    elif kind == "delete":
        for vid in op["ids"]:
            model[vid]["deleted"] = True
    elif kind == "update":
        for vid, md in op["items"]:
            model[vid]["metadata"] = md


GROUP = {"search": "search", "fsearch": "search", "get": "get"}  # the rest: "write"


def point_session(spark, seed: int, seconds: float, tracer: Tracer | None,
                  scale: str, spark_start_s: float, workdir: str) -> Outcome:
    from fabstir_vectordb_spark.session import VectorDbSession

    P = SCALES[scale]["point"]
    out = Outcome()

    # ---- set-up: generate and load once, ingest and train repeatedly
    t0 = _now()
    inp = gen.point_inputs(seed, P["n"], P["dim"], P["passes"])
    now = gen.now_utc()
    table = _point_table(spark, inp, now).cache()
    table.count()
    load_s = _now() - t0
    sess, build_s = _ingest_reps(
        lambda: VectorDbSession.from_dataframe(table, metadata_col="metadata", ts_col="ts"),
        P["clusters"], P["reps"],
    )
    # ---- warm-up, once: every read path of the deck
    t0 = _now()
    warm = inp.vectors[0].tolist()
    sess.search(warm, k=K)
    sess.search(warm, k=K, filter=inp.filters[0])
    sess.get_vector(inp.ids[0])
    warm_s = _now() - t0

    model = {
        vid: {"vector": v, "metadata": md, "age_s": float(a), "deleted": False}
        for vid, v, md, a in zip(inp.ids, inp.vectors, inp.metadata, inp.ages_s)
    }

    def run(op: dict, prev: dict | None, traced: bool) -> tuple[float, int | None]:
        """One checked op; its latency (inf if it raised) and op id."""
        out.attempted += 1
        res = None
        ctx = tracer.op(GROUP.get(op["kind"], "write")) if traced else nullcontext(None)
        try:
            with ctx as op_id:
                t = _now()
                res = _point_op(sess, op, now)
                dt = _now() - t
        except Exception:
            return _fail(out), None
        out.errors.extend(_point_check(op, res, prev, model))
        _point_apply(op, model)
        return dt, op_id

    # ---- timed closed loop: whole passes of the deck, at least one, so
    # every run times the same positions whatever the engine's speed
    if tracer is not None:
        tracer.install()
    lat: dict[str, list[float]] = {"search": [], "write": [], "get": []}
    engine: list[float] = []  # every op but the repeats (cache hits by design)
    deck_ops: list[tuple[int, str]] = []
    pass_s: list[float] = []
    deck = len(gen.DECK)
    deadline = _now() + seconds
    while len(pass_s) * deck < len(inp.ops) and (not pass_s or _fits(deadline, pass_s)):
        t_pass = _now()
        first = len(pass_s) * deck
        for i in range(first, first + deck):
            op = inp.ops[i]
            dt, op_id = run(op, inp.ops[i - 1] if i else None, tracer is not None)
            group = GROUP.get(op["kind"], "write")
            lat[group].append(dt)
            if not op.get("repeat") and dt != math.inf:
                engine.append(dt)
            if op_id is not None:
                deck_ops.append((op_id, group))
        pass_s.append(_now() - t_pass)

    out.samples = {"load_s": load_s, "build_s": build_s, "warm_s": warm_s,
                   "pass_s": pass_s, **lat}
    busy = sum(engine)
    out.e2e = {
        "search_p50_ms": median(lat["search"]) * 1e3,
        "ops_per_s": len(engine) / busy if busy else 0.0,
        "build_s": median(build_s[1:]),
        "setup_s": spark_start_s + load_s + median(build_s) + warm_s,
    }
    if tracer is None:
        return out

    # ---- tracing overhead: fresh plain searches with no write between
    # them, untraced and traced in ABBA order, after the deck
    probe: dict[bool, list[float]] = {False: [], True: []}
    order = [False, True, True, False, False, True]
    for q, on in zip(inp.probe_queries, order):
        tracer.install() if on else tracer.uninstall()
        op = {"kind": "search", "query": q, "recent_only": False}
        dt, _ = run(op, None, on)
        probe[on].append(dt)
    tracer.uninstall()
    out.samples["probe"] = probe
    out.layers = _point_layers(tracer, deck_ops, len(pass_s), lat, probe)
    return out


def _point_layers(tracer: Tracer, deck_ops, n_passes: int, lat, probe) -> dict:
    """Per-layer figures over the deck's ops (every one of them traced);
    counts are per pass of the deck."""
    spans = tracer.spans
    kids = children_of(spans)
    mine = {o for o, _ in deck_ops}
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s.op in mine:
            by_name.setdefault(s.name, []).append(i)

    def top(name):  # called by the benchmark, not from inside the engine
        return [
            i for i in by_name.get(name, [])
            if spans[i].parent is not None and spans[spans[i].parent].name.startswith("op.")
        ]

    def collect_ms(idx):
        return sum(spans[d].dur for d in descendants(idx, kids) if spans[d].name == "spark.collect") * 1e3

    def dur_ms(name):
        return median(spans[i].dur for i in by_name.get(name, [])) * 1e3

    search_idx, write_idx = top("session.search"), top("session.write")
    lookups = [spans[i].result for i in by_name.get("cache.get", [])]
    hits = sum(1 for r in lookups if r)
    return {
        "session.search.self_ms": median(self_time(spans, i, kids) for i in search_idx) * 1e3,
        "session.search.jobs": median(tracer.ops[o].jobs for o, g in deck_ops if g == "search"),
        "session.search.collect_ms": median(collect_ms(i) for i in search_idx),
        "ivf.search.construct_ms": dur_ms("ivf.search"),
        "topk.construct_ms": dur_ms("topk.construct"),
        "filters.compile_ms": dur_ms("filters.compile"),
        "cache.hits": hits / n_passes,
        "cache.lookups": len(lookups) / n_passes,
        "cache.hit_ratio": hits / len(lookups) if lookups else 0.0,
        "session.refresh_assigned_ms": dur_ms("session.refresh_assigned"),
        "session.refresh_assigned.count": len(by_name.get("session.refresh_assigned", [])) / n_passes,
        "session.write.jobs": median(tracer.ops[o].jobs for o, g in deck_ops if g == "write"),
        "session.write.self_ms": median(self_time(spans, i, kids) for i in write_idx) * 1e3,
        "session.write.collect_ms": median(collect_ms(i) for i in write_idx),
        "session.write.p50_ms": median(lat["write"]) * 1e3,
        "trace.overhead_ms": (median(probe[True]) - median(probe[False])) * 1e3,
    }


# ====================================================================
# bulk_ann
# ====================================================================

def _vectors_df(spark, vecs: np.ndarray, id_name: str):
    pdf = pd.DataFrame({id_name: np.arange(len(vecs), dtype=np.int64), "vector": list(vecs)})
    return spark.createDataFrame(pdf, f"{id_name} long, vector array<float>")


def _rows_by_query(rows) -> dict:
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append((int(r["id"]), float(r["distance"])))
    for q in got:
        got[q].sort(key=lambda x: (round(x[1], 6), x[0]))
    return got


def _probed_rows(centroids: np.ndarray, corpus: np.ndarray, queries: np.ndarray, n_probe: int) -> int:
    """Rows inside the probed clusters, summed over queries: the rows an
    IVF-family search scores."""
    cents = np.asarray(centroids, dtype=np.float64)
    labels = gen.exact_topk(cents, corpus, 1)[0][:, 0]
    sizes = np.bincount(labels, minlength=len(cents))
    probes, _ = gen.exact_topk(cents, queries, min(n_probe, len(cents)))
    return int(sizes[probes].sum())


def bulk_ann(spark, seed: int, seconds: float, tracer: Tracer | None,
             scale: str, spark_start_s: float, workdir: str) -> Outcome:
    from fabstir_vectordb_spark.operators import knn as knn_mod
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.ivf import IVFIndex
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.session import VectorDbSession

    B = SCALES[scale]["bulk"]
    out = Outcome()
    op = tracer.op if tracer is not None else (lambda name: nullcontext(None))
    if tracer is not None:
        tracer.install()

    # ---- set-up: generate and load once, ingest (validation on) and train
    # repeatedly
    t0 = _now()
    inp = gen.bulk_inputs(seed, B["n"], B["dim"], B["queries"], B["batches"])
    table = _vectors_df(spark, inp.vectors, "id").cache()
    table.count()
    load_s = _now() - t0
    ingest_ops: list = []
    sess, ingest_s = _ingest_reps(
        lambda: VectorDbSession.from_dataframe(table), B["clusters"], B["reps"],
        lambda: op("ingest"), ingest_ops,
    )
    corpus = inp.vectors

    # ---- one-off builds
    t = _now()
    with op("ivfpq.build") as pq_op:
        pq = IVFPQIndex.fit(
            table, n_clusters=B["clusters"], n_subspaces=B["pq_subspaces"],
            n_centroids=B["pq_centroids"], id_col="id", vector_col="vector",
        )
        with tracer.span("ivfpq.encode.exec") if tracer is not None else nullcontext():
            enc = pq.encode(table).cache()
            enc.count()
    ivfpq_s = _now() - t

    t = _now()
    with op("hnsw.build") as hnsw_op:
        hnsw = HNSWIndex(M=16, M0=32, ef_construction=100, num_graphs=B["hnsw_graphs"])
        graph = hnsw.build(table.filter(F.col("id") < B["hnsw_n"])).cache()
        graph.count()
    hnsw_s = _now() - t

    path = os.path.join(workdir, "saved_session")
    probe_q = inp.query_batches[0][0].tolist()
    before = sess.search(probe_q, k=K)
    t_start = _now()
    with op("storage"):
        sess.save(path, checksums=True)
        t_save = _now()
        loaded = VectorDbSession.load(spark, path)
        t_load = _now()
        after = loaded.search(probe_q, k=K)
    t_end = _now()
    save_load_s = t_end - t_start
    if [r["id"] for r in after] != [r["id"] for r in before]:
        out.errors.append("loaded session's top-k differs from the one before save")
    out.errors += checks.sorted_by_distance(after)
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    saved_bytes = sum(os.path.getsize(f) for f in files)

    # ---- sweeps: each answers one query batch with every family
    slice_corpus = corpus[: B["hnsw_n"]]

    def family(name, qdf):
        if name == "knn":
            return knn_mod.knn_bulk(table, qdf, K)
        if name == "ivf":
            return sess.search_dataframe(qdf, k=K, n_probe=B["n_probe"])
        if name == "ivfpq":
            return pq.search_bulk(enc, qdf, K, n_probe=B["n_probe"], rerank_vectors=table)
        return hnsw.search_bulk(graph, qdf, K, ef=B["ef"])

    fam_lat = {f: [] for f in FAMILIES}
    fam_construct = {f: [] for f in FAMILIES}
    fam_exec = {f: [] for f in FAMILIES}
    fam_ops = {f: [] for f in FAMILIES}
    recall0: dict[str, float] = {}
    recall_min: dict[str, float] = {}  # over every checked sweep, for stderr

    def sweep(b: int, traced: bool, timed: bool) -> tuple[float, dict]:
        qdf = _vectors_df(spark, inp.query_batches[b], "query_id").cache()
        qdf.count()
        total, results = 0.0, {}
        for f in FAMILIES:
            if timed:
                out.attempted += 1
            ctx = op(f"{f}.search_bulk") if traced else nullcontext(None)
            try:
                with ctx as oid:
                    t0 = _now()
                    res = family(f, qdf)
                    t1 = _now()
                    rows = res.select("query_id", "id", "distance").collect()
                    t2 = _now()
                results[f] = _rows_by_query(rows)
                dt = t2 - t0
                if traced:
                    fam_construct[f].append(t1 - t0)
                    fam_exec[f].append(t2 - t1)
                    fam_ops[f].append(oid)
            except Exception:
                if not timed:
                    raise
                dt = _fail(out)
            if timed:
                fam_lat[f].append(dt)
            total += dt
        qdf.unpersist()
        return total, results

    def check(b: int, results: dict) -> None:
        qv = inp.query_batches[b]
        truth = gen.exact_topk(corpus, qv, K)
        truth_slice = gen.exact_topk(slice_corpus, qv, K)
        for f, got in results.items():
            if f == "knn":
                out.errors += checks.bulk_exact(got, *truth)
            base = slice_corpus if f == "hnsw" else corpus
            out.errors += checks.bulk_rows(got, base, qv, K)
            if f != "knn":
                ref = truth_slice[0] if f == "hnsw" else truth[0]
                rec = gen.recall_at_k([[i for i, _ in got.get(q, [])] for q in range(len(qv))], ref)
                out.errors += checks.recall_floor(f, rec, B["floors"][f])
                recall0.setdefault(f, rec)
                recall_min[f] = min(rec, recall_min.get(f, 1.0))

    t = _now()
    _, warm = sweep(0, traced=False, timed=False)
    warm_s = _now() - t
    check(0, warm)  # the first batch: its recall is the one reported

    sweeps, traced_sweeps, plain_sweeps, checked = [], [], [], []
    deadline = _now() + seconds
    b = 1
    while b < len(inp.query_batches) and _fits(deadline, sweeps):
        on = tracer is not None and b % 2 == 0
        if tracer is not None:
            tracer.install() if on else tracer.uninstall()
        s, results = sweep(b, traced=on, timed=True)
        checked.append((b, results))
        sweeps.append(s)
        if tracer is not None:
            (traced_sweeps if on else plain_sweeps).append(s)
        b += 1
    if tracer is not None:
        tracer.uninstall()
    for b, results in checked:
        check(b, results)

    out.samples = {
        "load_s": load_s, "ingest_s": ingest_s, "ivfpq_s": ivfpq_s, "hnsw_s": hnsw_s,
        "save_load_s": save_load_s, "warm_s": warm_s, "sweeps": sweeps, **fam_lat,
        "recall_min": recall_min,
    }
    busy = sum(x for xs in fam_lat.values() for x in xs if x != math.inf)
    answered = sum(1 for xs in fam_lat.values() for x in xs if x != math.inf) * B["queries"]
    out.e2e = {
        "search_p50_ms": sum(median(fam_lat[f]) for f in FAMILIES) * 1e3,
        "ops_per_s": answered / busy if busy else 0.0,
        "build_s": median(ingest_s[1:]) + ivfpq_s + hnsw_s + save_load_s,
        "setup_s": spark_start_s + load_s + median(ingest_s) + warm_s,
    }
    if tracer is None:
        return out

    # ---- per-layer table from the traced builds and sweeps
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def span_s(name, op_ids=None):
        ss = [s.dur for s in by_name.get(name, []) if op_ids is None or s.op in op_ids]
        return median(ss)

    n_q = B["queries"]
    probed_ivf = _probed_rows(IVFIndex.load(path).centroids, corpus, inp.query_batches[0], B["n_probe"])
    probed_pq = _probed_rows(pq.ivf.centroids, corpus, inp.query_batches[0], B["n_probe"])
    cands = {"knn": B["n"] / K, "ivf": probed_ivf / (n_q * K), "ivfpq": probed_pq / (n_q * K)}
    layers = {
        "ingest_vectors_per_s": B["n"] / median(ingest_s[1:]),
        "session.from_dataframe_s": span_s("session.from_dataframe", set(ingest_ops[1:])),
        "ivf.fit_s": span_s("ivf.fit", set(ingest_ops[1:])),
        "ivf.assign_s": span_s("session.refresh_assigned", set(ingest_ops[1:])),
        "ivfpq.fit_s": span_s("ivfpq.fit", {pq_op}),
        "ivfpq.encode_s": span_s("ivfpq.encode", {pq_op}) + span_s("ivfpq.encode.exec", {pq_op}),
        "hnsw.build_s": hnsw_s,
        "hnsw.build.python_worker_s": node_metric(tracer.ops[hnsw_op], "time to run Python workers"),
        "storage.save_s": t_save - t_start,
        "storage.load_s": t_load - t_save,
        "storage.first_search_ms": (t_end - t_load) * 1e3,
        "storage.files_written": len(files),
        "storage.bytes_per_vector_byte": saved_bytes / (B["n"] * B["dim"] * 4.0),
        "trace.overhead_ms": (median(traced_sweeps) - median(plain_sweeps)) * 1e3,
    }
    for f in FAMILIES:
        recs = [tracer.ops[o] for o in fam_ops[f]]
        py_bytes = [
            node_metric(r, "data sent to Python workers") + node_metric(r, "data returned from Python workers")
            for r in recs
        ]
        layers.update(
            {
                f"{f}.search_bulk.construct_ms": median(fam_construct[f]) * 1e3,
                f"{f}.search_bulk.exec_s": median(fam_exec[f]),
                f"{f}.qps": n_q / median(fam_lat[f]) if fam_lat[f] else 0.0,
                f"spark.{f}.python_worker_s": median(node_metric(r, "time to run Python workers") for r in recs),
                f"spark.{f}.python_bytes": median(py_bytes),
                f"spark.{f}.shuffle_bytes": median(r.shuffle_bytes for r in recs),
                f"spark.{f}.broadcast_bytes": median(node_metric(r, "data size", "BroadcastExchange") for r in recs),
                f"spark.{f}.driver_collect_bytes": median(r.result_bytes for r in recs),
            }
        )
        if f in cands:
            layers[f"{f}.candidates_per_result"] = cands[f]
        if f in recall0:
            layers[f"{f}.recall_at_10"] = recall0[f]
    out.layers = layers
    return out


def _ingest_reps(make_session, clusters: int, reps: int, op=None, op_ids=None):
    """Ingest and train ``reps`` times; the first repetition is the cold
    one (JIT, Python workers), so steady-state figures use the rest.
    Returns the last session and every repetition's seconds."""
    times = []
    for _ in range(reps):
        t = _now()
        with op() if op is not None else nullcontext(None) as oid:
            sess = make_session()
            sess.train_index(n_clusters=clusters)
        times.append(_now() - t)
        if op_ids is not None:
            op_ids.append(oid)
    return sess, times


WORKLOADS = {"point_session": point_session, "bulk_ann": bulk_ann}


# Every per-layer metric either workload can report, with its unit; a
# workload reports 0 for a layer it does not touch.
PER_LAYER = {
    "spark.start_s": "s",
    "trace.overhead_ms": "ms",
    # point_session
    "session.search.self_ms": "ms",
    "session.search.jobs": "count",
    "session.search.collect_ms": "ms",
    "ivf.search.construct_ms": "ms",
    "topk.construct_ms": "ms",
    "filters.compile_ms": "ms",
    "cache.hits": "count",
    "cache.lookups": "count",
    "cache.hit_ratio": "ratio",
    "session.refresh_assigned_ms": "ms",
    "session.refresh_assigned.count": "count",
    "session.write.jobs": "count",
    "session.write.self_ms": "ms",
    "session.write.collect_ms": "ms",
    "session.write.p50_ms": "ms",
    # bulk_ann
    "ingest_vectors_per_s": "1/s",
    "session.from_dataframe_s": "s",
    "ivf.fit_s": "s",
    "ivf.assign_s": "s",
    "ivfpq.fit_s": "s",
    "ivfpq.encode_s": "s",
    "hnsw.build_s": "s",
    "hnsw.build.python_worker_s": "s",
    "storage.save_s": "s",
    "storage.load_s": "s",
    "storage.first_search_ms": "ms",
    "storage.files_written": "count",
    "storage.bytes_per_vector_byte": "ratio",
    **{
        name: unit
        for f in FAMILIES
        for name, unit in [
            (f"{f}.search_bulk.construct_ms", "ms"),
            (f"{f}.search_bulk.exec_s", "s"),
            (f"{f}.qps", "1/s"),
            (f"spark.{f}.python_worker_s", "s"),
            (f"spark.{f}.python_bytes", "B"),
            (f"spark.{f}.shuffle_bytes", "B"),
            (f"spark.{f}.broadcast_bytes", "B"),
            (f"spark.{f}.driver_collect_bytes", "B"),
        ]
        + ([(f"{f}.candidates_per_result", "ratio")] if f != "hnsw" else [])
        + ([(f"{f}.recall_at_10", "ratio")] if f != "knn" else [])
    },
}
E2E = {"search_p50_ms": "ms", "ops_per_s": "1/s", "build_s": "s", "setup_s": "s"}
