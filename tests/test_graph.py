"""``ops.graph.connected_components`` against a pure-Python union-find.

The loop stops on its settle test: the first pass whose neighbour step
moves no label returns the labels as they stand, before any pointer jump.
These tests pin that this is exact (every label is its component's min),
that a graph settled at initialization costs one pass and one checkpoint
on both checkpoint backends, that repeated, reversed and self-loop edges
change nothing, and that no cache the call makes outlives it.
"""

from itertools import combinations

import pytest
from hypothesis import given, settings, strategies as st

from lingua_spark.ops.graph import connected_components


def union_find_labels(edges, key=lambda v: v) -> dict:
    """node -> the min node of its component, min taken under ``key``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb), key=key)
            parent[hi] = lo
    return {v: find(v) for v in parent}


@st.composite
def graphs(draw):
    """Disjoint chains, stars, cliques and pairs over shuffled ids, with
    edges in random orientation, some repeated, plus self-loops (one of
    them possibly on an otherwise isolated node)."""
    ids = iter(draw(st.permutations(range(48))))
    edges = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.sampled_from(["chain", "star", "clique", "pair"]))
        size = 2 if kind == "pair" else draw(st.integers(2, 8))
        nodes = [next(ids) for _ in range(size)]
        if kind == "chain":
            edges += zip(nodes, nodes[1:])
        elif kind == "star":
            edges += [(nodes[0], v) for v in nodes[1:]]
        elif kind == "clique":
            edges += combinations(nodes, 2)
        else:
            edges.append((nodes[0], nodes[1]))
    edges = [(b, a) if draw(st.booleans()) else (a, b) for a, b in edges]
    edges += draw(st.lists(st.sampled_from(edges), max_size=6))
    nodes = sorted({v for e in edges for v in e})
    loops = draw(st.lists(st.sampled_from(nodes), max_size=3))
    if draw(st.booleans()):
        loops.append(next(ids))
    return edges + [(v, v) for v in loops]


def _edges_df(spark, edges, as_str=False):
    if as_str:  # "10" < "9": string ids order differently from ints
        return spark.createDataFrame(
            [(str(a), str(b)) for a, b in edges], "src string, dst string"
        )
    return spark.createDataFrame(edges, "src long, dst long")


def _run(spark, edges, as_str=False, **kwargs):
    stats: dict = {}
    df = connected_components(
        _edges_df(spark, edges, as_str), stats=stats, **kwargs
    )
    return {r["doc"]: r["rep"] for r in df.collect()}, stats


def _spy(monkeypatch, spark, method: str) -> list:
    """Count calls of the session's DataFrame class's ``method``."""
    cls = type(spark.range(1))
    real = getattr(cls, method)
    calls: list = []

    def spy(self, *args, **kwargs):
        calls.append(method)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, method, spy)
    return calls


def test_connected_components_matches_union_find(spark):
    """Differential: int and string ids, any mix of component shapes,
    duplicate / reversed / self-loop edges — every label is its
    component's min and the last pass moved nothing."""

    @settings(max_examples=16, deadline=None)
    @given(edges=graphs(), as_str=st.booleans())
    def check(edges, as_str):
        key = str if as_str else int
        want = union_find_labels(
            [(key(a), key(b)) for a, b in edges], key=key
        )
        got, stats = _run(spark, edges, as_str)
        assert got == want
        assert stats["changed"][-1] == 0, stats
        assert stats["rounds"] == len(stats["changed"]) == len(
            stats["pass_s"]
        )
        # only the settling pass skips the pointer jumps
        assert [h is None for _, h in stats["pass_s"]] == [
            False
        ] * (stats["rounds"] - 1) + [True]

    check()


SETTLED = (
    list(combinations([3, 7, 5, 9], 2))      # clique, min 3
    + list(combinations([1, 8, 2], 2))     # clique, min 1
    + [(10, 11), (12, 10), (10, 13)]       # star centred on its min
    + [(30, 31)]                           # isolated pair
)
CHAIN = [(i, i + 1) for i in range(40)] + [(50, 41), (41, 60)]


@pytest.mark.parametrize("edges,settled", [(SETTLED, True), (CHAIN, False)])
def test_connected_components_settled_graph_one_pass_local(
    spark, monkeypatch, edges, settled
):
    """A graph already settled at initialization returns after exactly
    one pass and one checkpoint (the initial one); a graph that needs
    work checkpoints once at init and once per non-settling pass."""
    ckpts = _spy(monkeypatch, spark, "localCheckpoint")
    got, stats = _run(spark, edges)
    assert got == union_find_labels(edges)
    if settled:
        assert stats["rounds"] == 1 and stats["changed"] == [0], stats
        assert len(ckpts) == 1
    else:
        assert stats["rounds"] > 1, stats
        assert len(ckpts) == stats["rounds"]


@pytest.mark.parametrize("edges,settled", [(SETTLED, True), (CHAIN, False)])
def test_connected_components_settled_graph_one_pass_reliable(
    spark, monkeypatch, tmp_path, edges, settled
):
    """Same on the reliable backend: one ``checkpoint`` per label table,
    none local, and exactly one ``rdd-*`` dir left behind."""
    ckpts = _spy(monkeypatch, spark, "checkpoint")
    local = _spy(monkeypatch, spark, "localCheckpoint")
    ckdir = tmp_path / "cc"
    got, stats = _run(spark, edges, checkpoint_dir=str(ckdir))
    assert got == union_find_labels(edges)
    assert local == []
    assert len(ckpts) == stats["rounds"]
    assert (stats["rounds"] == 1) == settled, stats
    rdd_dirs = [p for p in ckdir.rglob("rdd-*") if p.is_dir()]
    assert len(rdd_dirs) == 1, rdd_dirs


def test_connected_components_repeated_edges_same_result(spark):
    """Contract: edges may repeat. The edge list given 3x in both
    orientations, plus a self-loop on every node, yields the same labels
    and the same passes as its deduplicated form."""
    base = CHAIN + SETTLED
    nodes = sorted({v for e in base for v in e})
    noisy = 3 * (base + [(b, a) for a, b in base]) + [(v, v) for v in nodes]
    got, stats = _run(spark, base)
    got_noisy, stats_noisy = _run(spark, noisy)
    assert got_noisy == got == union_find_labels(base)
    assert stats_noisy["rounds"] == stats["rounds"] > 1
    assert stats_noisy["changed"] == stats["changed"]


def test_connected_components_leaves_no_cache(spark, monkeypatch):
    """No cache outlives a call: the session's CacheManager holds as many
    entries after a call as before, whether the call returns, raises for
    not converging, or fails in a job after ``mid`` is cached."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()

    _run(spark, CHAIN)
    assert cache.cachedData().size() == before

    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, CHAIN, max_iters=1)
    assert cache.cachedData().size() == before

    # the first pass's checkpoint fails, with `und` and `mid` both cached
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls: list = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected checkpoint failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="injected"):
        _run(spark, CHAIN)
    assert cache.cachedData().size() == before
