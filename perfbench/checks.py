"""Output checks.  Each returns a list of error strings (empty = pass),
so a run can report every violation rather than the first."""

from __future__ import annotations

import numpy as np

from gen import RECENCY_DAYS, DAY_S, exact_topk, l2, matches

DIST_TOL = 1e-3  # engine distances come from float32 storage


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= DIST_TOL * (1.0 + abs(b))


def sorted_by_distance(rows: list[dict]) -> list[str]:
    d = [r["distance"] for r in rows]
    if any(b < a - DIST_TOL * (1.0 + abs(a)) for a, b in zip(d, d[1:])):
        return [f"results not sorted by distance: {d}"]
    return []


def search_rows(
    rows: list[dict], query: np.ndarray, k: int, model: dict, recent_only: bool = False
) -> list[str]:
    """Any session search: <= k rows, sorted, live ids only, distances and
    metadata agree with the model, recency honoured."""
    errs = sorted_by_distance(rows)
    if len(rows) > k:
        errs.append(f"{len(rows)} rows returned for k={k}")
    for r in rows:
        rec = model.get(r["id"])
        if rec is None or rec["deleted"]:
            errs.append(f"deleted or unknown id returned: {r['id']!r}")
            continue
        want = float(l2(query, rec["vector"]))
        if not _close(r["distance"], want):
            errs.append(f"{r['id']}: distance {r['distance']} != {want}")
        if r["metadata"] != rec["metadata"]:
            errs.append(f"{r['id']}: metadata {r['metadata']} != {rec['metadata']}")
        if recent_only and rec["age_s"] >= RECENCY_DAYS * DAY_S:
            errs.append(f"{r['id']}: historical row in a recent-only search")
    return errs


def exact_ids(
    got_ids: list, got_d: list[float], corpus: np.ndarray, ids: list, query: np.ndarray, k: int
) -> list[str]:
    """``got`` is the exact top-k of ``corpus`` for ``query`` up to ties:
    same length, every row strictly inside the k-th distance present, and
    the k-th distance itself equal."""
    if len(corpus) == 0:
        return [f"{len(got_ids)} rows from an empty candidate set"] if got_ids else []
    idx, dist = exact_topk(corpus, query[None, :], k)
    want_n = min(k, len(corpus))
    if len(got_ids) != want_n:
        return [f"{len(got_ids)} rows, expected {want_n}"]
    kth = dist[0, -1]
    must = {ids[i] for i, d in zip(idx[0], dist[0]) if d < kth - DIST_TOL * (1 + kth)}
    errs = []
    missing = must - set(got_ids)
    if missing:
        errs.append(f"exact neighbours missing: {sorted(missing)[:5]}")
    if not _close(max(got_d), kth):
        errs.append(f"k-th distance {max(got_d)} != exact {kth}")
    return errs


def filtered_search(
    rows: list[dict], query: np.ndarray, k: int, model: dict, flt: dict
) -> list[str]:
    """A filtered session search is exact: every row matches, and the set
    is the exact top-k of the live rows that match."""
    errs = search_rows(rows, query, k, model)
    for r in rows:
        rec = model.get(r["id"])
        if rec is not None and not matches(rec["metadata"], flt):
            errs.append(f"{r['id']}: metadata {rec['metadata']} fails filter {flt}")
    live = [
        (vid, rec["vector"]) for vid, rec in model.items()
        if not rec["deleted"] and matches(rec["metadata"], flt)
    ]
    ids = [v for v, _ in live]
    corpus = np.asarray([v for _, v in live], dtype=np.float32).reshape(len(live), -1)
    errs += exact_ids(
        [r["id"] for r in rows], [r["distance"] for r in rows], corpus, ids, query, k
    )
    return errs


def get_vector(got: dict | None, vid: str, model: dict) -> list[str]:
    rec = model[vid]
    if got is None:
        return [f"get_vector({vid!r}) returned nothing for a live id"]
    errs = []
    if not np.allclose(np.asarray(got["vector"], dtype=np.float32), rec["vector"], atol=1e-6):
        errs.append(f"get_vector({vid!r}): vector differs from the inserted one")
    if got["metadata"] != rec["metadata"]:
        errs.append(f"get_vector({vid!r}): metadata {got['metadata']} != {rec['metadata']}")
    return errs


def write_stats(stats: dict, expected: int) -> list[str]:
    ok = stats.get("successful")
    if ok != expected or stats.get("failed"):
        return [f"write reported {stats}, expected {expected} successful"]
    return []


def bulk_exact(got: dict, truth_idx: np.ndarray, truth_d: np.ndarray) -> list[str]:
    """knn_bulk result ({qid: [(row, dist), ...]}) equals the numpy exact
    top-k, tie-tolerant at the k-th distance."""
    errs = []
    for q in range(len(truth_idx)):
        rows = got.get(q, [])
        if len(rows) != truth_idx.shape[1]:
            errs.append(f"query {q}: {len(rows)} rows, expected {truth_idx.shape[1]}")
            continue
        kth = truth_d[q, -1]
        must = {int(i) for i, d in zip(truth_idx[q], truth_d[q]) if d < kth - DIST_TOL * (1 + kth)}
        if must - {int(i) for i, _ in rows}:
            errs.append(f"query {q}: exact neighbours missing")
        elif not _close(max(d for _, d in rows), kth):
            errs.append(f"query {q}: k-th distance {max(d for _, d in rows)} != {kth}")
        if len(errs) >= 5:
            break
    return errs


def bulk_rows(got: dict, corpus: np.ndarray, queries: np.ndarray, k: int) -> list[str]:
    """Any bulk family: <= k distinct rows per query, sorted, and each
    distance is the true distance of the returned row (no made-up
    neighbours, whatever the recall)."""
    errs = []
    for q, rows in got.items():
        ids = [i for i, _ in rows]
        if len(rows) > k or len(set(ids)) != len(ids):
            errs.append(f"query {q}: {len(rows)} rows / {len(set(ids))} distinct for k={k}")
        d = [x for _, x in rows]
        if any(b < a - DIST_TOL * (1 + a) for a, b in zip(d, d[1:])):
            errs.append(f"query {q}: not sorted by distance")
        true = l2(queries[q][None, :], corpus[np.asarray(ids, dtype=np.int64)])
        if not all(_close(a, b) for a, b in zip(d, true)):
            errs.append(f"query {q}: distances disagree with the corpus")
        if len(errs) >= 5:
            break
    return errs


def recall_floor(name: str, recall: float, floor: float) -> list[str]:
    if recall < floor:
        return [f"{name} recall@10 {recall:.4f} below the benchmark floor {floor}"]
    return []
