"""The benchmark's own tests: toy-size runs of every workload emit every
metric in BENCHMARK.json with its unit, and corrupted outputs are counted
as failures.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import gen  # noqa: E402
import workloads  # noqa: E402
from checks import index_problems, recall, search_problems  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TOY = {
    "serve": {
        "n": 400, "clusters": 4, "batch": 40, "request": 8,
        "warm_requests": 1, "rounds": 2, "round_requests": 2,
    },
    "upsert_read": {
        "n": 300, "clusters": 2, "new": 30, "updated": 10, "queries": 20,
        "reads": 2,
    },
}


@pytest.fixture(scope="module")
def new_run(tmp_path_factory):
    """Runs share one Spark session, stopped after the module."""
    runs = []

    def make(trace: bool) -> workloads.Run:
        r = workloads.Run(
            seed=3, trace=trace,
            workdir=str(tmp_path_factory.mktemp("run")),
            t_start=time.perf_counter(), cpus=2,
        )
        runs.append(r)
        return r

    yield make
    live = [r for r in runs if r.spark is not None]
    if live:
        live[-1].stop_spark()


def _toy(new_run, name: str, trace: bool):
    run = new_run(trace)
    metrics, layers = workloads.WORKLOADS[name](run, TOY[name])
    if trace:
        metrics = workloads.layer_metrics(run, layers)
    return run, metrics


@pytest.mark.parametrize("name", sorted(TOY))
@pytest.mark.parametrize("trace", [False, True])
def test_toy_run_emits_every_metric(new_run, name, trace):
    assert {w["name"] for w in BENCH["workloads"]} == set(TOY)
    run, metrics = _toy(new_run, name, trace)
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: u for k, (_, u) in metrics.items()
    }
    assert all(np.isfinite(v) for v, _ in metrics.values())
    assert run.attempted >= 4 and run.failed == 0
    if trace:
        # layer and harness times account for the traced wall
        assert metrics["trace.reconcile_err"][0] < 0.05


def test_untimed_work_shows_in_reconcile_err(new_run, monkeypatch):
    from vectordbindexing_spark.operators import shard

    real = shard.compact_npy_dir

    def slow(*a, **kw):  # called in the build, outside every timed span
        time.sleep(3.0)
        return real(*a, **kw)

    monkeypatch.setattr(shard, "compact_npy_dir", slow)
    run, metrics = _toy(new_run, "serve", True)
    wall = metrics["trace.wall_s"][0]
    assert metrics["trace.reconcile_err"][0] >= 2.9 / wall


def test_corrupted_search_results_count_as_failures(new_run, monkeypatch):
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators import search

    real = search.graph_search

    def one_wrong_dist(*a, **kw):
        out = real(*a, **kw)
        hit = (F.col("qid") == 0) & (F.col("nbr_rank") == 1)
        return out.withColumn(
            "dist", F.when(hit, F.col("dist") + 1e-3).otherwise(F.col("dist"))
        )

    monkeypatch.setattr(search, "graph_search", one_wrong_dist)
    run, _ = _toy(new_run, "serve", False)
    # every search (warm-up, batches, requests) has a qid 0; the build and
    # the writes (one a round) do not
    assert run.failed == run.attempted - 1 - TOY["serve"]["rounds"]


def test_wrong_upsert_status_counts_as_failure(new_run, monkeypatch):
    from vectordbindexing_spark.streaming import graph_ingest

    real = graph_ingest.upsert_graph_artifact
    monkeypatch.setattr(
        graph_ingest, "upsert_graph_artifact",
        lambda *a, **kw: real(*a, **kw) and "upsert",
    )
    run, _ = _toy(new_run, "upsert_read", False)
    assert run.failed == 1  # the replay reported "upsert", not "noop"


# -- the checks on their own, no Spark ------------------------------------


def _exact_result(seed=5, n=200, nq=6):
    c = gen.corpus(seed, 3)
    ids = np.arange(n, dtype=np.int64) * 3  # ids are not positions
    vecs = c.draw(n)
    q = c.queries(nq // 2, nq - nq // 2)
    qids = np.arange(nq, dtype=np.int64) + 100
    top = gen.exact_topk(q, ids, vecs)
    pos = top // 3
    dist = np.stack([gen.cosine_dist(q[i : i + 1], vecs[pos[i]])[0]
                     for i in range(nq)])
    out = pd.DataFrame({
        "qid": np.repeat(qids, gen.K),
        "nbr_rank": np.tile(np.arange(1, gen.K + 1), nq),
        "neighbor_id": top.ravel(),
        "dist": dist.ravel(),
    })
    return out, qids, q, ids, vecs, top


def test_exact_result_passes_and_has_full_recall():
    out, qids, q, ids, vecs, top = _exact_result()
    assert search_problems(out, qids, q, ids, vecs) == []
    assert recall(out, qids, top).tolist() == [1.0] * len(qids)


@pytest.mark.parametrize("corrupt", [
    "permute_ids", "one_dist", "drop_row", "repeat_id", "unknown_id",
    "swap_ranks",
])
def test_corrupted_result_fails_the_check(corrupt):
    out, qids, q, ids, vecs, _ = _exact_result()
    bad = out.copy()
    first = bad.index[bad["qid"] == qids[0]]
    if corrupt == "permute_ids":
        bad.loc[first, "neighbor_id"] = bad.loc[first, "neighbor_id"].to_numpy()[::-1]
    elif corrupt == "one_dist":
        bad.loc[first[3], "dist"] += 1e-5
    elif corrupt == "drop_row":
        bad = bad.drop(index=first[-1])
    elif corrupt == "repeat_id":
        bad.loc[first[1], "neighbor_id"] = bad.loc[first[0], "neighbor_id"]
    elif corrupt == "unknown_id":
        bad.loc[first[2], "neighbor_id"] = 1
    elif corrupt == "swap_ranks":
        bad.loc[first[:2], "nbr_rank"] = [2, 1]
    assert search_problems(bad, qids, q, ids, vecs) != []


def test_index_check_catches_a_stale_vector_and_a_dangling_edge():
    from vectordbindexing_spark.operators.search import CompactIndex

    ids = np.arange(4, dtype=np.int64)
    vecs = gen.corpus(1, 2).draw(4)
    ptr = np.array([0, 1, 2, 3, 4])
    ind = np.array([1, 0, 3, 2])
    ok = CompactIndex(ids, vecs.copy(), {0: ptr}, {0: ind}, np.array([0]))
    assert index_problems(ok, ids, vecs) == []
    stale = CompactIndex(ids, vecs[::-1].copy(), {0: ptr}, {0: ind}, np.array([0]))
    assert index_problems(stale, ids, vecs) != []
    dangling = CompactIndex(ids, vecs.copy(), {0: ptr}, {0: np.array([1, 0, 3, 4])},
                            np.array([0]))
    assert index_problems(dangling, ids, vecs) != []


def test_generator_is_a_function_of_the_seed():
    a, b, c = (gen.corpus(s, 4) for s in (7, 7, 8))
    assert np.array_equal(a.draw(50), b.draw(50))
    assert not np.array_equal(gen.corpus(7, 4).draw(50), c.draw(50))
    q = a.queries(10, 10)
    assert np.allclose(np.linalg.norm(q, axis=1), 1.0, atol=1e-6)
