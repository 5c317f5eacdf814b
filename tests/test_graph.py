"""PageRank (operators/graph): float variant vs a numpy power
iteration (dangling mass redistributed), integer variant vs an
independent pure-python integer implementation (exact equality — the
property the q84 oracle states in SQL), and persistence hygiene."""

from __future__ import annotations

import numpy as np
import pytest

from shotit_worker_spark.operators import graph as G


EDGES = [
    # a small digraph with a cycle, a hub, and a dangling node (5)
    (1, 2), (2, 3), (3, 1), (1, 4), (4, 2), (2, 5),
    (6, 1), (6, 2), (6, 3),
]


def _numpy_pagerank(edges, iters, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {u: 0 for u in idx.values()}
    for u, _ in edges:
        out[idx[u]] = out.get(idx[u], 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        dangling = sum(r[i] for i in range(n) if out.get(i, 0) == 0)
        for u, v in edges:
            nxt[idx[v]] += r[idx[u]] / out[idx[u]]
        r = (1 - d) / n + d * nxt + d * dangling / n
    return {v: r[i] for v, i in idx.items()}


def _python_pagerank_int(edges, iters, scale=10**12, dp=85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out: dict = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    tele = (100 - dp) * scale // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] // out[u]
        r = {v: tele + dp * contrib[v] // 100 for v in nodes}
    return r


def test_float_pagerank_matches_numpy(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, iters=12).collect()
    }
    want = _numpy_pagerank(EDGES, 12)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    # mass conserved: dangling redistribution keeps the sum at 1
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # the hub-fed node outranks the pure source
    assert got[2] > got[6]


def test_int_pagerank_exact_differential(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    for iters in (1, 3, 5):
        got = {
            r["node"]: r["rank_scaled"]
            for r in G.pagerank_int(df, iters=iters).collect()
        }
        want = _python_pagerank_int(EDGES, iters)
        assert got == want, iters


def test_int_pagerank_random_graph_exact(spark):
    rng = np.random.default_rng(13)
    edges = list(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, 60, size=(400, 2))
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_scaled"]
        for r in G.pagerank_int(df, iters=4).collect()
    }
    assert got == _python_pagerank_int(edges, 4)


def test_float_pagerank_no_node_scale_broadcast(spark):
    # the dangling set is node-scale on a web graph (20-50% of all
    # nodes): its mass must come from a conditional scalar agg over
    # the flag CARRIED in the rank frame, never a forced broadcast
    # of a node-scale table through the driver
    import inspect

    src = inspect.getsource(G.pagerank)
    assert "F.broadcast" not in src
    from shotit_worker_spark.operators.clustering import (
        _persistent_rdd_ids,
    )

    df = spark.createDataFrame(EDGES, "src int, dst int")
    before = _persistent_rdd_ids(spark)
    out = G.pagerank(df, iters=2)
    assert out.columns == ["node", "rank"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the returned frame is the persisted final round (the caller's
    # unpersist() contract): InMemoryTableScan at the root
    assert "InMemoryTableScan" in plan
    out.unpersist(blocking=True)
    assert _persistent_rdd_ids(spark) <= before


def test_pagerank_guards(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    with pytest.raises(ValueError, match="iters"):
        G.pagerank(df, iters=0)
    with pytest.raises(ValueError, match="damping_pct"):
        G.pagerank_int(df, damping_pct=0)


def test_no_cache_leak(spark):
    from shotit_worker_spark.operators.clustering import (
        _persistent_rdd_ids,
    )

    df = spark.createDataFrame(EDGES, "src int, dst int")
    before = _persistent_rdd_ids(spark)
    out = G.pagerank_int(df, iters=2)
    out.count()
    out.unpersist(blocking=True)
    after = _persistent_rdd_ids(spark)
    assert after <= before
    # persist_result=False: nothing left pinned even WITHOUT the
    # caller unpersisting (the one-shot-consumer mode the gate uses).
    # The helper caches release via unpersist(blocking=False), so
    # poll briefly rather than race the async removal.
    import time

    out2 = G.pagerank_int(df, iters=2, persist_result=False)
    out2.count()
    for _ in range(50):
        if _persistent_rdd_ids(spark) <= before:
            break
        time.sleep(0.2)
    assert _persistent_rdd_ids(spark) <= before
    # eager + persist_result=False is a contradiction and refuses
    with pytest.raises(ValueError, match="persist_result"):
        G.pagerank_int(df, iters=6, persist_result=False, eager=True)
    # default eager threshold respects the one-shot mode
    out3 = G.pagerank_int(df, iters=6, persist_result=False)
    out3.count()

def test_label_propagation_planted_cliques(spark):
    from shotit_worker_spark.operators.graph import label_propagation

    # two 6-cliques bridged by one edge: LPA converges to each
    # clique's minimum node id; the bridge can't flip a clique
    edges = []
    for base in (0, 10):
        for i in range(6):
            for j in range(i + 1, 6):
                edges.append((base + i, base + j))
    edges.append((5, 10))  # bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, max_rounds=8).collect()
    }
    assert set(got) == set(range(6)) | set(range(10, 16))
    assert all(got[n] == 0 for n in range(6)), got
    assert all(got[n] == 10 for n in range(10, 16)), got


def test_label_propagation_determinism_and_guard(spark):
    import pytest
    from shotit_worker_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (2, 1)], "src long, dst long"
    )
    a = sorted(map(tuple, label_propagation(df, max_rounds=6).collect()))
    b = sorted(map(tuple, label_propagation(df, max_rounds=6).collect()))
    assert a == b  # synchronous + min-tie-break: reproducible
    with pytest.raises(ValueError, match="max_rounds"):
        label_propagation(df, max_rounds=0)


def test_label_propagation_string_ids_fallback(spark):
    from shotit_worker_spark.operators.graph import label_propagation

    # string ids exercise the window-modal fallback; two triangles
    # converge to each one's lexicographic minimum
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, max_rounds=6).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x"}


def test_label_propagation_directed_keeps_voteless_nodes(spark):
    from shotit_worker_spark.operators.graph import label_propagation

    # r9 ADVICE (high): with directed=True a node with no out-edges
    # has no vote group; replacing labels wholesale dropped it and
    # losses cascaded until `changed` read 0 on an emptied frame.
    # 1->2, 2->3: node 3 has no out-edges; every node must survive.
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, max_rounds=4,
                                   directed=True).collect()
    }
    assert set(got) == {1, 2, 3}, got
    # directed votes flow src <- label(dst): 1 adopts 2's label, 2
    # adopts 3's, 3 keeps its own (voteless) — fixed point {3,3,3}
    assert got == {1: 3, 2: 3, 3: 3}, got


def test_label_propagation_directed_chain_star(spark):
    from shotit_worker_spark.operators.graph import label_propagation

    # sink-star: all spokes point at the hub; hub (no out-edges)
    # keeps its label, spokes adopt it — node count must not shrink
    df = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    rows = label_propagation(df, max_rounds=3, directed=True).collect()
    assert len(rows) == 6
    assert all(r["label"] == 0 for r in rows)


@pytest.mark.parametrize("algo", ["pagerank", "label_propagation"])
def test_failed_round_frees_checkpoints(spark, monkeypatch, algo):
    # a round that raises must not leave the previous round's
    # checkpoint blocks (or the edge cache) pinned for the session
    import time

    from shotit_worker_spark.operators.clustering import (
        _persistent_rdd_ids,
    )

    df = spark.createDataFrame(EDGES, "src int, dst int")
    real = G._truncate_round
    calls = []

    def flaky(frame, prev_handle):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected round failure")
        return real(frame, prev_handle)

    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(G, "_truncate_round", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        getattr(G, algo)(df)
    assert len(calls) == 2
    for _ in range(50):
        if _persistent_rdd_ids(spark) <= before:
            break
        time.sleep(0.2)
    assert _persistent_rdd_ids(spark) <= before
