"""Seeded input generators and the numpy reference model.

Everything the benchmark feeds the engine comes from here and is a pure
function of the seed (timestamps are offsets from the wall clock at
generation time, so the engine's 7-day recent/historical split lands on
the same rows every run).  The engine never sees the seed, only the
generated rows.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

DAY_S = 86_400.0
RECENCY_DAYS = 7  # the engine's recent/historical split
CATEGORIES = ["news", "blog", "code", "paper", "forum", "wiki", "mail", "chat"]
TAGS = ["ai", "db", "web", "ml", "ops", "sec", "ui", "io", "net", "os", "hw", "qa"]
CUTOFF_GAP_S = 3_600.0  # no timestamp within 1 h of the 7-day cutoff


def clustered_vectors(
    rng: np.random.Generator, n: int, dim: int, n_centres: int, spread: float = 3.0
) -> np.ndarray:
    """Gaussian blobs around ``n_centres`` random centres, float32."""
    centres = rng.normal(size=(n_centres, dim)).astype(np.float32) * spread
    labels = rng.integers(0, n_centres, n)
    return centres[labels] + rng.normal(size=(n, dim)).astype(np.float32)


def perturbed(rng: np.random.Generator, base: np.ndarray, n: int, noise: float) -> np.ndarray:
    """``n`` queries near corpus rows: the serving shape of a RAG lookup."""
    rows = base[rng.integers(0, len(base), n)]
    return (rows + rng.normal(size=rows.shape).astype(np.float32) * noise).astype(
        np.float32
    )


def metadata(rng: np.random.Generator) -> dict:
    """One struct-shaped metadata record (fields in the engine's inferred
    alphabetical order, year as a long)."""
    n_tags = int(rng.integers(1, 4))
    return {
        "category": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
        "tags": sorted(rng.choice(TAGS, n_tags, replace=False).tolist()),
        "year": int(rng.integers(2000, 2025)),
    }


def age_seconds(rng: np.random.Generator, n: int) -> np.ndarray:
    """Ages spread over 30 days, kept clear of the 7-day cutoff."""
    cut = RECENCY_DAYS * DAY_S
    ages = rng.uniform(0.0, 30 * DAY_S, n)
    near = np.abs(ages - cut) < CUTOFF_GAP_S
    ages[near] += 2 * CUTOFF_GAP_S
    return ages


# ------------------------------------------------------------- filters

def filter_pool(rng: np.random.Generator, n: int) -> list[dict]:
    """Mongo-dialect filters mixing $in, $gte and $or (plus array
    membership), each selective enough to leave >= k matches."""
    out = []
    for i in range(n):
        c1, c2 = rng.choice(CATEGORIES, 2, replace=False).tolist()
        year = int(rng.integers(2005, 2020))
        tag = TAGS[int(rng.integers(0, len(TAGS)))]
        shape = i % 4
        if shape == 0:
            out.append({"category": {"$in": [c1, c2]}})
        elif shape == 1:
            out.append({"year": {"$gte": year}, "category": {"$in": [c1, c2]}})
        elif shape == 2:
            out.append({"$or": [{"category": c1}, {"year": {"$gte": year}}]})
        else:
            out.append({"$or": [{"tags": tag}, {"category": {"$in": [c1, c2]}}]})
    return out


def matches(md: dict | None, flt: dict) -> bool:
    """Reference evaluator for the filter subset the benchmark issues."""
    md = md or {}
    for key, cond in flt.items():
        if key == "$or":
            if not any(matches(md, sub) for sub in cond):
                return False
            continue
        if key == "$and":
            if not all(matches(md, sub) for sub in cond):
                return False
            continue
        val = md.get(key)
        if isinstance(cond, dict):
            for op, arg in cond.items():
                if op == "$in":
                    ok = any(v in arg for v in val) if isinstance(val, list) else val in arg
                elif op == "$gte":
                    ok = isinstance(val, (int, float)) and val >= arg
                else:
                    raise ValueError(f"operator {op} not modelled")
                if not ok:
                    return False
        elif isinstance(val, list):
            if cond not in val:
                return False
        elif val != cond:
            return False
    return True


# ------------------------------------------------------------- point session

@dataclass
class PointInputs:
    ids: list[str]
    vectors: np.ndarray
    metadata: list[dict]
    ages_s: np.ndarray
    filters: list[dict]
    ops: list[dict] = field(default_factory=list)
    probe_queries: np.ndarray | None = None  # fresh plain searches, traced runs only


# One pass of the timed loop: a fixed 10-op deck holding every op kind,
# so every run times the same positions and every output check can fire
# (one pass takes about 16 s at full scale on 4 cores).  Each write is
# followed by the op that checks it: the search after ``delete`` queries
# next to a deleted row, ``get`` reads a row ``add`` just inserted, and
# the recent-only search after ``update`` queries next to an updated
# recent row, whose new metadata it must return.  ``repeat`` re-issues
# the previous plain search: the only result-cache hit, since every
# other search draws a new query.  Per pass: 4 plain searches (one of
# them recent-only, one a repeat), 2 filtered, 1 get_vector, 3 writes.
DECK = "search repeat delete search add get update recent fsearch fsearch".split()
FSEARCH_SHAPES = (1, 3)  # filter_pool shapes: $gte with $in; $or of array tag and $in
NEAR_NOISE = 0.1  # a query this close to a row has that row as its nearest


def point_inputs(
    seed: int, n: int, dim: int, n_passes: int, n_probe: int = 6, batch: int = 10
) -> PointInputs:
    """Corpus, filters and ``n_passes`` passes of the deck.  The op stream
    is simulated against a live-id model as it is drawn, so every delete,
    update and get names an id that is live when it runs."""
    rng = np.random.default_rng(seed)
    vecs = clustered_vectors(rng, n, dim, n_centres=64)
    ids = [f"v{i}" for i in range(n)]
    mds = [metadata(rng) for _ in range(n)]
    ages = age_seconds(rng, n)
    filters = filter_pool(rng, 16)
    vec_of = dict(zip(ids, vecs))
    recent = {vid for vid, a in zip(ids, ages) if a < RECENCY_DAYS * DAY_S}

    def fresh() -> np.ndarray:
        return perturbed(rng, vecs, 1, noise=0.5)[0]

    def near(vid: str) -> np.ndarray:
        v = vec_of[vid]
        return (v + rng.normal(size=v.shape).astype(np.float32) * NEAR_NOISE).astype(np.float32)

    live = list(ids)
    ops: list[dict] = []
    last_plain: dict | None = None
    for p in range(n_passes):
        for kind in DECK:
            prev = ops[-1] if ops else None
            if kind in ("search", "recent"):
                target = prev.get("target") if prev is not None else None
                last_plain = {
                    "kind": "search", "query": near(target) if target else fresh(),
                    "recent_only": kind == "recent",
                }
                ops.append(last_plain)
            elif kind == "repeat":
                ops.append(dict(last_plain, repeat=True))
            elif kind == "fsearch":
                # the shape is fixed by position, the seed picks its values
                shape = FSEARCH_SHAPES[sum(o["kind"] == "fsearch" for o in ops) % 2]
                flt = filters[shape + 4 * int(rng.integers(0, len(filters) // 4))]
                ops.append({"kind": "fsearch", "query": fresh(), "filter": flt})
            elif kind == "get":
                ops.append({"kind": "get", "id": prev["target"]})
            elif kind == "add":
                new = perturbed(rng, vecs, batch, noise=1.0)
                rows = [
                    {
                        "id": f"w{p}_{j}",
                        "vector": new[j],
                        "metadata": metadata(rng),
                        "age_s": float(age_seconds(rng, 1)[0]),
                    }
                    for j in range(batch)
                ]
                for r in rows:
                    vec_of[r["id"]] = r["vector"]
                    if r["age_s"] < RECENCY_DAYS * DAY_S:
                        recent.add(r["id"])
                live.extend(r["id"] for r in rows)
                ops.append({"kind": "add", "rows": rows, "target": rows[0]["id"]})
            elif kind == "delete":
                chosen = [live[int(i)] for i in rng.choice(len(live), batch, replace=False)]
                gone = set(chosen)
                live = [v for v in live if v not in gone]
                recent -= gone
                ops.append({"kind": "delete", "ids": chosen, "target": chosen[0]})
            else:  # update: recent rows, so the recent-only search can see them
                pool = sorted(recent)
                chosen = [pool[int(i)] for i in rng.choice(len(pool), batch, replace=False)]
                ops.append(
                    {
                        "kind": "update",
                        "items": [(vid, metadata(rng)) for vid in chosen],
                        "target": chosen[0],
                    }
                )
    probe = perturbed(rng, vecs, n_probe, noise=0.5)
    return PointInputs(ids, vecs, mds, ages, filters, ops, probe)


# ------------------------------------------------------------- bulk ANN

@dataclass
class BulkInputs:
    vectors: np.ndarray
    query_batches: list[np.ndarray]


def bulk_inputs(seed: int, n: int, dim: int, n_queries: int, n_batches: int) -> BulkInputs:
    rng = np.random.default_rng(seed)
    vecs = clustered_vectors(rng, n, dim, n_centres=256)
    batches = [perturbed(rng, vecs, n_queries, noise=0.5) for _ in range(n_batches)]
    return BulkInputs(vecs, batches)


# ------------------------------------------------------------- reference model

def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(idx, dist) of the k nearest rows by L2, ordered by (round(d, 6),
    row) — the engine's tie order."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    d2 = (q * q).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * q @ c.T
    d = np.sqrt(np.maximum(d2, 0.0))
    kk = min(k, c.shape[0])
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    idx = np.empty_like(part)
    for i in range(len(q)):
        cand = part[i]
        order = np.lexsort((cand, np.round(d[i, cand], 6)))
        idx[i] = cand[order]
    return idx, np.take_along_axis(d, idx, axis=1)


def l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    diff = a.astype(np.float64) - b.astype(np.float64)
    return np.sqrt((diff * diff).sum(-1))


def recall_at_k(got: list[list[int]], truth: np.ndarray) -> float:
    hits = sum(len(set(g) & set(t.tolist())) for g, t in zip(got, truth))
    return hits / float(truth.size)


def now_utc() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
