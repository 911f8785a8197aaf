"""Tests for operators/graph.py::label_propagation, the engine's one LPA:
fixpoint values against a pure-Python reference beyond the queries' K=2
and K=4, a per-round compute plan that does not grow with the round
number, and both registered LPA queries against their DuckDB oracles
on the bucketed layout. The operator tests run over both storage
layouts, cached arcs and one bucketed arc copy (forced by a vote budget
one row below the pair count), each also with broadcasts disabled,
which partitions the arcs by neighbor instead of voter."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from makerdao_dw_spark import session as S
from makerdao_dw_spark.operators import graph as G
from makerdao_dw_spark.operators.graph import label_propagation
from makerdao_dw_spark.queries import oracles_dict, queries_dict
from makerdao_dw_spark.queries.basket_common import basket_ctes_duck
from makerdao_dw_spark.queries.insights import _LPA_MIN_ITEM

from .conftest import SF_DIR, compare_with_oracle, duck_con

# "-no-broadcast": broadcasts disabled, the plan a node set past Spark's
# broadcast limit takes (arcs partitioned by neighbor, not voter)
LAYOUTS = ("plain", "plain-no-broadcast", "bucketed", "bucketed-no-broadcast")


def _ref_lpa(pairs, max_rounds=20):
    """Pure-Python synchronous neighbor-vote LPA, same tie-break
    (vote count desc, label asc), run to fixpoint."""
    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    labels = {n: n for n in adj}
    for r in range(1, max_rounds + 1):
        new = {
            n: max(
                Counter(labels[m] for m in adj[n]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for n in adj
        }
        if new == labels:
            return labels, r
        labels = new
    return labels, max_rounds


# clique {1,2,3} + tail 3-4-5-6-7: the tail's label front advances one
# hop per round, so fixpoint takes 6 rounds — well beyond the query
# layer's unrolled K=2
CLIQUE_TAIL = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]
# two triangles bridged 3-4: converges in 4 rounds to TWO communities
TWO_TRI = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]


def _force_bucketed(monkeypatch, n_pairs: int) -> list:
    """Set the vote budget one row below `n_pairs`, so the operator takes
    the bucketed layout; returns the list that records the key of each
    stage_bucketed call it makes."""
    calls: list = []
    monkeypatch.setattr(G, "rows_per_task_budget", lambda spark, row_bytes: n_pairs - 1)
    monkeypatch.setattr(
        G, "stage_bucketed", lambda *a, **k: calls.append(a[1]) or S.stage_bucketed(*a, **k)
    )
    return calls


def _run(spark, pairs, layout, monkeypatch, max_rounds=10):
    no_bcast = {}
    if layout.endswith("-no-broadcast"):
        no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    with monkeypatch.context() as m, S.conf_override(spark, no_bcast):
        calls = []
        if layout.startswith("bucketed"):
            n_pairs = len({(min(p), max(p)) for p in pairs if p[0] != p[1]})
            calls = _force_bucketed(m, n_pairs)
        edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
        stats: dict = {}
        labels_df, rounds = label_propagation(edges, max_rounds=max_rounds, stats=stats)
        got = {r["node"]: r["label"] for r in labels_df.collect()}
        S.current_scope(spark).release()  # release the operator's staged dirs
    # one bucketed copy, keyed by voter unless the labels cannot broadcast
    want_calls = ["v" if no_bcast else "u"] if layout.startswith("bucketed") else []
    assert calls == want_calls, (layout, calls)
    return got, rounds, stats


def test_lpa_fixpoint_matches_reference_beyond_two_rounds(spark, monkeypatch):
    want, want_rounds = _ref_lpa(CLIQUE_TAIL)
    for layout in LAYOUTS:
        got, rounds, _ = _run(spark, CLIQUE_TAIL, layout, monkeypatch)
        assert got == want
        assert rounds == want_rounds == 6, "fixture must exercise >2 rounds"


def test_lpa_two_communities(spark, monkeypatch):
    want, want_rounds = _ref_lpa(TWO_TRI)
    for layout in LAYOUTS:
        got, rounds, _ = _run(spark, TWO_TRI, layout, monkeypatch)
        assert got == want
        assert rounds == want_rounds == 4
        assert sorted(set(got.values())) == [1, 3], "two communities expected"


def test_lpa_per_round_plan_is_invariant(spark, monkeypatch):
    """The invariance proof: every round's pre-checkpoint compute plan
    (staged scans + the vote aggregates) has the SAME structure — a
    growing plan would mean lineage or exchanges accumulate with the
    round count, the exact failure mode staging exists to prevent."""
    for layout in LAYOUTS:
        _got, rounds, stats = _run(spark, CLIQUE_TAIL, layout, monkeypatch)
        lines = stats["plan_lines"]
        assert len(lines) == rounds
        assert len(set(lines)) == 1, f"per-round plan grew: {lines}"


def test_lpa_counts_an_edge_listed_both_ways_once(spark, monkeypatch):
    """(6, 7) listed in both directions is ONE undirected edge: each
    endpoint gets one vote from it, so the tail still converges to the
    clique's community in 6 rounds, with per-round stats for each."""
    pairs = CLIQUE_TAIL + [(7, 6)]
    want, want_rounds = _ref_lpa(pairs)
    assert set(want.values()) == {1} and want_rounds == 6
    for layout in LAYOUTS:
        got, rounds, stats = _run(spark, pairs, layout, monkeypatch)
        assert got == want, layout
        assert rounds == want_rounds, layout
        assert len(stats["rounds"]) == rounds and stats["rounds"][-1] == (0, 1)


@pytest.mark.parametrize(
    "name", ["label_propagation_communities", "label_propagation_convergence"]
)
def test_lpa_queries_match_oracle_on_bucketed_layout(spark, monkeypatch, name):
    """Both registered LPA queries on the bucketed layout (which the
    sf0.001-sf0.1 inputs never reach on their own) still match their
    DuckDB oracles."""
    con = duck_con(SF_DIR)
    (n_pairs,) = con.execute(
        f"WITH {basket_ctes_duck(_LPA_MIN_ITEM)} SELECT COUNT(*) FROM ("
        "SELECT DISTINCT b1.p, b2.p FROM fb b1 JOIN fb b2"
        " ON b1.o = b2.o AND b1.p < b2.p)"
    ).fetchone()
    con.close()
    assert n_pairs > 1
    calls = _force_bucketed(monkeypatch, n_pairs)
    compare_with_oracle(spark, name, queries_dict()[name], oracles_dict()[name], SF_DIR)
    assert len(calls) == 1, calls
