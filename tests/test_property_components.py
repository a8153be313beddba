"""Property tests: duplicate_components and the driver-side
``_min_components`` vs a Python union-find model on random graphs, and
winnowing_fingerprints vs a pure-Python MOSS model.

The existing component tests pin specific topologies (chains, analytic
clusters); random edge lists exercise merge orders, cycles, multiple
components, and self-loops the fixed cases can't. Winnowing's two Spark
paths are property-tested equal to each other — the Python model here is
the independent referee both share no code with (portable hash = md5
prefix, replicable with hashlib).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

NODES = list(range(10))

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=15,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@given(edges=edges_strategy)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_duplicate_components_matches_union_find(spark, edges):
    from data_pipelines_examples_spark.operators.dedup import duplicate_components

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {
        r["id"]: r["component"]
        for r in duplicate_components(df, max_iterations=10).collect()
    }
    assert got == _union_find_components(edges)


@given(edges=edges_strategy)
@settings(max_examples=200, deadline=None)
def test_min_components_matches_union_find(edges):
    """The driver-side union-find the streaming ingest resolves its star
    edges with, against the same referee, including string ids."""
    from data_pipelines_examples_spark.operators.dedup import _min_components

    assert _min_components(edges) == _union_find_components(edges)
    named = [(f"n{a}", f"n{b}") for a, b in edges]
    assert _min_components(named) == _union_find_components(named)


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _model_winnow(text: str, k: int, w: int) -> set[int]:
    # mirror winnowing_fingerprints: grams at 1..max(len-(k-1),1) with
    # truncating substr; min over each w-window, truncated when n < w
    n_grams = max(len(text) - (k - 1), 1)
    h = [_h64(text[i : i + k]) for i in range(n_grams)]
    n_wins = max(len(h) - (w - 1), 1)
    return {min(h[j : j + w]) for j in range(n_wins)}


text_strategy = st.text(alphabet="abcd ", min_size=0, max_size=40)


@given(
    texts=st.lists(text_strategy, min_size=1, max_size=5),
    k=st.sampled_from([2, 4, 8]),
    w=st.sampled_from([2, 4]),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_winnowing_matches_python_model(spark, texts, k, w):
    from data_pipelines_examples_spark.operators.text import winnowing_fingerprints

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = winnowing_fingerprints(
        df, "doc_id", "text", k=k, w=w, hash_how="portable"
    ).collect()
    got: dict[int, set[int]] = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    expected = {i: _model_winnow(t, k, w) for i, t in rows}
    assert got == expected
    # per-doc dedup contract: no repeated (id, fp) rows
    assert len(out) == sum(len(s) for s in got.values())
