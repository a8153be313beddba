"""Property tests for the analytics family entering the graded window in
round 5: funnel strict-ordering vs a Python oracle, and transition-matrix
row-stochasticity, over randomized event streams."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

EVENTS = ["view", "click", "cart", "buy"]

stream = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),      # key
        st.integers(min_value=0, max_value=50),     # ts (seconds)
        st.sampled_from(EVENTS),
    ),
    min_size=1,
    max_size=40,
)


def py_funnel(rows, steps):
    """Greedy-earliest strict-order oracle: step i = min ts of step i's
    type strictly after step i-1's ts."""
    by_key = defaultdict(list)
    for k, t, e in rows:
        by_key[k].append((t, e))
    out = {}
    for k, evs in by_key.items():
        prev = None
        ts_list = []
        for s in steps:
            cands = [
                t
                for t, e in evs
                if e == s and (prev is None or t > prev)
            ]
            if not cands:
                break
            prev = min(cands)
            ts_list.append(prev)
        if ts_list:
            out[k] = ts_list
    return out


@given(rows=stream)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_funnel_steps_matches_python_oracle(spark, rows):
    from data_pipelines_examples_spark.operators.funnel import funnel_steps

    steps = ["view", "click", "buy"]
    df = spark.createDataFrame(
        [(k, float(t), e) for k, t, e in rows], "uid int, ts double, event string"
    )
    got = {}
    for r in funnel_steps(df, "uid", "ts", "event", steps).collect():
        ts_list = []
        for i in range(1, len(steps) + 1):
            v = r[f"step_{i}_ts"]
            if v is None:
                break
            ts_list.append(v)
        got[r["uid"]] = ts_list
        assert r["steps_completed"] == len(ts_list)
    exp = py_funnel(rows, steps)
    assert got == exp


@given(rows=stream)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_transition_matrix_row_stochastic(spark, rows):
    from data_pipelines_examples_spark.operators.funnel import transition_matrix

    df = spark.createDataFrame(
        [(k, float(t), e) for k, t, e in rows], "uid int, ts double, event string"
    )
    out = transition_matrix(df, "uid", "ts", "event").collect()
    by_from = defaultdict(float)
    for r in out:
        assert r["n_transitions"] >= 1
        assert 0.0 < r["probability"] <= 1.0
        by_from[r["from_state"]] += r["probability"]
    for state, total in by_from.items():
        assert abs(total - 1.0) < 1e-9, f"row {state} sums to {total}"


# ---------------------------------------------------------------------------
# itemsets: exact pair tier vs a Python brute-force oracle, including the
# basket-size guard applied to BOTH numerators and denominators
# ---------------------------------------------------------------------------

basket_stream = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),          # basket
        st.sampled_from(["a", "b", "c", "d", "e"]),     # item
    ),
    min_size=1,
    max_size=30,
)


def py_pairs(rows, min_support, max_basket):
    from itertools import combinations

    baskets = defaultdict(set)
    for b, i in rows:
        baskets[b].add(i)
    if max_basket is not None:
        baskets = {b: s for b, s in baskets.items() if len(s) <= max_basket}
    # a-priori prune mirrors the operator but the final counts are what matter
    cnt = defaultdict(int)
    for s in baskets.values():
        for x, y in combinations(sorted(s), 2):
            cnt[(x, y)] += 1
    return {p: c for p, c in cnt.items() if c >= min_support}


# A hot basket: its distinct items replayed ~2,000 times each, so the raw
# rows far exceed the size cap while the distinct items sit at or just
# past it. The size guard must count DISTINCT items on the one reducer
# that the basket-keyed exchange sends them all to: 3 items are kept, 4
# are dropped, and the small cold basket beside it is unaffected.
def _hot_basket(items, replays=2000):
    return [(1, i) for _ in range(replays) for i in items] + [(2, "a"), (2, "b")]


@given(rows=basket_stream,
       min_support=st.integers(min_value=1, max_value=3),
       max_basket=st.sampled_from([None, 2, 3]))
@example(rows=_hot_basket("abc"), min_support=1, max_basket=3)
@example(rows=_hot_basket("abcd"), min_support=1, max_basket=3)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_cooccurrence_pairs_matches_bruteforce(spark, rows, min_support, max_basket):
    from data_pipelines_examples_spark.operators.itemsets import cooccurrence_pairs

    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(
            df, "basket", "item", min_support=min_support, max_basket_size=max_basket
        ).collect()
    }
    assert got == py_pairs(rows, min_support, max_basket)


@given(rows=basket_stream, max_basket=st.sampled_from([2, 3]))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_association_metrics_denominators_respect_guard(spark, rows, max_basket):
    from data_pipelines_examples_spark.operators.itemsets import association_metrics

    df = spark.createDataFrame(rows, "basket int, item string")
    out = association_metrics(
        df, "basket", "item", min_support=1, max_basket_size=max_basket
    ).collect()
    # recompute denominators over the SAME guarded population
    baskets = defaultdict(set)
    for b, i in rows:
        baskets[b].add(i)
    baskets = {b: s for b, s in baskets.items() if len(s) <= max_basket}
    item_n = defaultdict(int)
    for s in baskets.values():
        for i in s:
            item_n[i] += 1
    nb = len(baskets)
    for r in out:
        assert r["n_antecedent"] == item_n[r["antecedent"]]
        assert abs(r["confidence"] - r["n_both"] / r["n_antecedent"]) < 1e-12
        expected_lift = (r["n_both"] / r["n_antecedent"]) / (item_n[r["consequent"]] / nb)
        assert abs(r["lift"] - expected_lift) < 1e-12


def test_cooccurrence_null_basket_matches_semijoin_semantics(spark):
    """r9: the size guard moved from a sizes-aggregate + semi join to a
    window count. A null basket key never matched the semi join's equi
    keys (and the q97/q107 oracles' JOIN USING(b) drops it the same
    way), so guarded runs must keep dropping null-basket rows — pin that
    the window form does, while null ITEMS still reach the denominators
    exactly as before (they die in the frequency semi join, never in the
    basket filter)."""
    from data_pipelines_examples_spark.operators.itemsets import (
        cooccurrence_pairs,
    )

    rows = [
        (None, "a"), (None, "b"),          # null basket: must not pair
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, None), (3, "a"),               # null item: never pairs
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(
            df, "basket", "item", min_support=2, max_basket_size=10
        ).collect()
    }
    assert got == {("a", "b"): 2}, got


def test_cooccurrence_null_basket_unguarded(spark):
    """r10 (ADVICE): with max_basket_size=None the guard branch — and
    its isNotNull filter — never runs, but the old a⋈b self-join still
    never matched a null basket key, so the combination explode must
    not pair null-basket rows either. The unguarded denominators, by
    contrast, DO keep counting null-basket (basket, item) rows, exactly
    like the self-join form: the filter lives in _pairs_from_items, not
    _filtered_items."""
    from data_pipelines_examples_spark.operators.itemsets import (
        association_metrics,
        cooccurrence_pairs,
    )

    rows = [
        (None, "a"), (None, "b"),          # null basket: must not pair
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(
            df, "basket", "item", min_support=2, max_basket_size=None
        ).collect()
    }
    assert got == {("a", "b"): 2}, got
    # unguarded denominators preserve self-join semantics: the null
    # basket counts toward n_antecedent (a appears in 3 baskets incl.
    # the null one) and the distinct-basket total (3)
    rules = {
        (r["antecedent"], r["consequent"]): r
        for r in association_metrics(
            df, "basket", "item", min_support=2, max_basket_size=None
        ).collect()
    }
    r = rules[("a", "b")]
    assert r["n_both"] == 2 and r["n_antecedent"] == 3
    assert abs(r["confidence"] - 2 / 3) < 1e-12
    assert abs(r["lift"] - (2 / 3) / (3 / 3)) < 1e-12
