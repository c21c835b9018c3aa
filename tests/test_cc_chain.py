"""Connected-components convergence bound (round-13 verdict #7): an
adversarial near-dup CHAIN (doc i ~ doc i+1 — incrementally-edited
boilerplate is exactly this shape) must converge in O(log n) rounds,
not O(n).  Both execution paths are gated: the cluster path (pointer
jumping, no driver twin) and the local path (full chain compression on
the pandas twin).
"""

from __future__ import annotations

import math

import pytest

import t_spoon_spark.tx.runner as runner_mod
from t_spoon_spark.operators.dedup import connected_components


def _chain_pairs(spark, n: int):
    # d0000 - d0001 - ... - d{n-1}: one path component, diameter n-1
    rows = [(f"d{i:04d}", f"d{i + 1:04d}") for i in range(n - 1)]
    return spark.createDataFrame(rows, "doc_a string, doc_b string")


def test_chain_cluster_path_log_rounds(spark, monkeypatch):
    """Force the no-driver-twin branch (what a real cluster runs): one
    pointer jump per round on top of one-hop min propagation halves the
    chain each round — 64 nodes in <= log2(64)+2 = 8 rounds, where bare
    min-propagation would need 63."""
    n = 64
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    stats: dict = {}
    out = connected_components(_chain_pairs(spark, n), stats=stats)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert len(got) == n
    assert set(got.values()) == {"d0000"}  # one component, min-label root
    bound = int(math.log2(n)) + 2
    assert stats["rounds"] <= bound, (stats, bound)


def test_chain_local_path_compresses_immediately(spark):
    """The driver-twin path compresses pointer chains to saturation in
    a dict walk per round: even a 128-node chain settles in <= 3 edge
    rounds (1 propagate+compress, 1 fixpoint confirmation)."""
    n = 128
    stats: dict = {}
    out = connected_components(_chain_pairs(spark, n), stats=stats)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert len(got) == n and set(got.values()) == {"d0000"}
    assert stats["rounds"] <= 3, stats


def test_two_components_chain_and_clique(spark):
    """Mixed shapes in one pair list: a 16-chain and a 4-clique keep
    disjoint labels; rounds still logarithmic on the cluster path."""
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(15)]
    clique = [
        (f"q{i}", f"q{j}") for i in range(4) for j in range(i + 1, 4)
    ]
    pairs = chain + clique
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    stats: dict = {}
    out = connected_components(df, stats=stats)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert {got[f"c{i:02d}"] for i in range(16)} == {"c00"}
    assert {got[f"q{i}"] for i in range(4)} == {"q0"}
