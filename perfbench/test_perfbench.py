"""Self-test of the benchmark: generators, output checks, span analysis,
the BENCHMARK.json contract, and a tiny-scale run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import checks
import gen
from spans import Span, children_of, parse_metric, self_time
from workloads import E2E, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ------------------------------------------------------------ generators

def _op_key(op):
    return repr({k: (v.tobytes() if isinstance(v, np.ndarray) else v) for k, v in op.items()})


def test_point_inputs_repeat_for_a_seed():
    a = gen.point_inputs(7, 300, 8, 12)
    b = gen.point_inputs(7, 300, 8, 12)
    c = gen.point_inputs(8, 300, 8, 12)
    assert np.array_equal(a.vectors, b.vectors)
    assert np.array_equal(a.probe_queries, b.probe_queries)
    assert a.metadata == b.metadata and a.filters == b.filters
    assert [_op_key(o) for o in a.ops] == [_op_key(o) for o in b.ops]
    assert not np.array_equal(a.vectors, c.vectors)


def test_every_pass_holds_every_op_kind_and_targets_live_ids():
    inp = gen.point_inputs(3, 400, 8, 20)
    deck = len(gen.DECK)
    assert len(inp.ops) == 20 * deck
    for p in range(20):
        kinds = [op["kind"] for op in inp.ops[p * deck:(p + 1) * deck]]
        assert kinds == [
            "search", "search", "delete", "search", "add", "get", "update",
            "search", "fsearch", "fsearch",
        ]
    live = set(inp.ids)
    recent = {v for v, a in zip(inp.ids, inp.ages_s) if a < gen.RECENCY_DAYS * gen.DAY_S}
    vec_of = dict(zip(inp.ids, inp.vectors))
    shapes = []
    for i, op in enumerate(inp.ops):
        prev = inp.ops[i - 1] if i else None
        if op["kind"] == "add":
            live |= {r["id"] for r in op["rows"]}
            for r in op["rows"]:
                vec_of[r["id"]] = r["vector"]
                if r["age_s"] < gen.RECENCY_DAYS * gen.DAY_S:
                    recent.add(r["id"])
        elif op["kind"] == "delete":
            assert set(op["ids"]) <= live
            live -= set(op["ids"])
        elif op["kind"] == "update":
            assert {vid for vid, _ in op["items"]} <= live & recent
        elif op["kind"] == "get":
            assert op["id"] == prev["rows"][0]["id"]  # the row just inserted
        elif op["kind"] == "search" and prev is not None and "target" in prev:
            # the query sits next to the deleted or updated row
            assert float(gen.l2(op["query"], vec_of[prev["target"]])) < 2.0
            assert op["recent_only"] == (prev["kind"] == "update")
        elif op["kind"] == "fsearch":
            shapes.append(inp.filters.index(op["filter"]) % 4)
    assert shapes == list(gen.FSEARCH_SHAPES) * 20


def test_cache_hits_are_exactly_the_repeats():
    inp = gen.point_inputs(4, 300, 8, 20)
    seen, hits = set(), []
    for i, op in enumerate(inp.ops):
        if op["kind"] in ("add", "delete", "update"):
            seen.clear()  # every write invalidates the result cache
            continue
        if op["kind"] == "get":
            continue
        key = (op["query"].tobytes(), op.get("recent_only"), repr(op.get("filter")))
        if key in seen:
            hits.append(i % len(gen.DECK))
        seen.add(key)
    assert hits == [gen.DECK.index("repeat")] * 20


def test_ages_avoid_the_recency_cutoff():
    ages = gen.age_seconds(np.random.default_rng(0), 20_000)
    cut = gen.RECENCY_DAYS * gen.DAY_S
    assert np.all(np.abs(ages - cut) >= gen.CUTOFF_GAP_S)
    assert (ages < cut).any() and (ages > cut).any()


def test_filter_evaluator():
    md = {"category": "news", "tags": ["ai", "db"], "year": 2012}
    assert gen.matches(md, {"category": {"$in": ["news", "blog"]}})
    assert not gen.matches(md, {"year": {"$gte": 2013}})
    assert gen.matches(md, {"$or": [{"tags": "db"}, {"year": {"$gte": 2030}}]})
    assert not gen.matches(md, {"$or": [{"tags": "ui"}, {"category": "code"}]})
    assert gen.matches(md, {"tags": {"$in": ["db"]}, "category": "news"})


def test_bulk_inputs_repeat_for_a_seed():
    a, b = gen.bulk_inputs(5, 200, 8, 10, 3), gen.bulk_inputs(5, 200, 8, 10, 3)
    assert np.array_equal(a.vectors, b.vectors)
    assert all(np.array_equal(x, y) for x, y in zip(a.query_batches, b.query_batches))


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(1)
    c, q = rng.normal(size=(50, 4)), rng.normal(size=(6, 4))
    idx, dist = gen.exact_topk(c, q, 5)
    d = np.linalg.norm(q[:, None, :] - c[None, :, :], axis=2)
    assert np.allclose(dist, np.sort(d, axis=1)[:, :5])
    assert np.allclose(np.take_along_axis(d, idx, 1), dist)


# ------------------------------------------------------------ checks

def _model():
    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(40, 4)).astype(np.float32)
    model = {
        f"v{i}": {
            "vector": vecs[i],
            "metadata": {"category": "news" if i % 2 else "blog", "tags": ["ai"], "year": 2000 + i},
            "age_s": float(i * gen.DAY_S),
            "deleted": i == 3,
        }
        for i in range(40)
    }
    return model, rng.normal(size=4).astype(np.float32)


def _exact_rows(model, q, k, flt=None):
    live = [
        (vid, rec) for vid, rec in model.items()
        if not rec["deleted"] and (flt is None or gen.matches(rec["metadata"], flt))
    ]
    rows = [
        {"id": vid, "distance": float(gen.l2(q, rec["vector"])), "metadata": rec["metadata"]}
        for vid, rec in live
    ]
    return sorted(rows, key=lambda r: (round(r["distance"], 6), r["id"]))[:k]


def test_search_checks_pass_correct_rows_and_catch_faults():
    model, q = _model()
    rows = _exact_rows(model, q, 5)
    assert checks.search_rows(rows, q, 5, model) == []
    assert checks.search_rows(rows[::-1], q, 5, model)  # unsorted
    dead = dict(rows[0], id="v3")
    assert checks.search_rows([dead] + rows[1:], q, 5, model)  # soft-deleted id
    wrong_d = [dict(rows[0], distance=rows[0]["distance"] + 1.0)] + rows[1:]
    assert checks.search_rows(wrong_d, q, 5, model)
    wrong_md = [dict(rows[0], metadata={"category": "x"})] + rows[1:]
    assert checks.search_rows(wrong_md, q, 5, model)
    old = [r for r in _exact_rows(model, q, 40) if model[r["id"]]["age_s"] >= 7 * gen.DAY_S][:3]
    assert checks.search_rows(old, q, 5, model, recent_only=True)


def test_filtered_check_demands_exact_matching_rows():
    model, q = _model()
    flt = {"category": {"$in": ["news"]}}
    rows = _exact_rows(model, q, 5, flt)
    assert checks.filtered_search(rows, q, 5, model, flt) == []
    unfiltered = _exact_rows(model, q, 5)
    assert checks.filtered_search(unfiltered, q, 5, model, flt)
    assert checks.filtered_search(rows[:4], q, 5, model, flt)  # a neighbour missing
    skipped = rows[:2] + _exact_rows(model, q, 6, flt)[3:]
    assert checks.filtered_search(skipped, q, 5, model, flt)


def test_get_and_write_checks():
    model, _ = _model()
    rec = model["v1"]
    good = {"id": "v1", "vector": rec["vector"].tolist(), "metadata": rec["metadata"]}
    assert checks.get_vector(good, "v1", model) == []
    assert checks.get_vector(None, "v1", model)
    assert checks.get_vector(dict(good, vector=[0.0] * 4), "v1", model)
    assert checks.write_stats({"successful": 10, "failed": 0, "errors": []}, 10) == []
    assert checks.write_stats({"successful": 9, "failed": 1, "errors": ["x"]}, 10)


def test_search_after_an_update_must_return_the_updated_row():
    from workloads import _point_check

    model, q = _model()
    rows = _exact_rows(model, q, 5)
    update = {"kind": "update", "items": [], "target": rows[0]["id"]}
    op = {"kind": "search", "query": q, "recent_only": False}
    assert _point_check(op, rows, update, model) == []
    assert _point_check(op, rows[1:], update, model)


def test_bulk_checks():
    rng = np.random.default_rng(4)
    corpus = rng.normal(size=(60, 4)).astype(np.float32)
    qs = rng.normal(size=(5, 4)).astype(np.float32)
    idx, dist = gen.exact_topk(corpus, qs, 3)
    got = {q: [(int(i), float(d)) for i, d in zip(idx[q], dist[q])] for q in range(5)}
    assert checks.bulk_exact(got, idx, dist) == []
    assert checks.bulk_rows(got, corpus, qs, 3) == []
    bad = dict(got)
    bad[0] = [(int(idx[0][1]), float(dist[0][1]))] * 3
    assert checks.bulk_exact(bad, idx, dist)
    assert checks.bulk_rows(bad, corpus, qs, 3)
    assert gen.recall_at_k([[i for i, _ in got[q]] for q in range(5)], idx) == 1.0
    assert checks.recall_floor("ivf", 0.5, 0.9) and not checks.recall_floor("ivf", 0.95, 0.9)


# ------------------------------------------------------------ tracing

def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("a", 0.0, 10.0, None, 1),
        Span("b", 1.0, 4.0, 0, 1),
        Span("c", 3.0, 5.0, 0, 1),
        Span("d", 8.0, 9.0, 0, 1),
        Span("e", 1.5, 2.0, 1, 1),
    ]
    assert self_time(spans, 0, children_of(spans)) == pytest.approx(5.0)
    assert self_time(spans, 1, children_of(spans)) == pytest.approx(2.5)


def test_parse_metric():
    assert parse_metric("1,000") == 1000.0
    assert parse_metric("1024.1 KiB") == pytest.approx(1024.1 * 1024)
    assert parse_metric("828 ms") == pytest.approx(0.828)
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.6 s (1.7 s, 1.9 s, 1.9 s)") == 3.6


# ------------------------------------------------------------ contract

def test_benchmark_json_names_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    names = [w["name"] for w in spec["workloads"]]
    from workloads import WORKLOADS

    assert names == list(WORKLOADS)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", ["point_session", "bulk_ann"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "4",
             "--trace", trace, "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert json.loads(lines[-2])["run"]["seed"] == 3
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    want = PER_LAYER if trace == "1" else E2E
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "--workload", "point_session", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
