"""Regression: contaminated-chain invariant failures must REPLAY, not
permanently ABORT (reference C9 dependency replay,
tgraph/state/StandardDependencyTrackingStrategy.java:10-17 +
tgraph/twopc/OpenOperator.java:287-357).

The round-7 falsifying example (found by the hypothesis suite):
transfers [(k1->k2,60), (k1->k0,41), (k0->k1,103), (k0->k1,39)],
defaults 100, invariant value >= 0.  Serial tid-order replay (the
reference semantics, mirrored by tests/test_tx_core.simulate_pl3):

  t0: k1 100->40, k2 100->160            COMMIT
  t1: k1 40-41 < 0                       ABORT
  t2: k0 100-103 < 0                     ABORT
  t3: k0 100-39=61, k1 40+39=79          COMMIT

Final {k0: 61, k1: 79, k2: 160}, votes (C, A, A, C).  The round-7
engine instead pinned t3 to ABORT forever: round-0's chain fold on k0
applied t1's globally-doomed deposit, t3's withdrawal failed on the
contaminated 38, and the monotone override never re-evaluated it after
t1 (and then t2) left the chain.  The fix re-evaluates every txn each
cascade round (excluded ones evaluate-without-applying), so the
excluded set converges to the unique serial-replay fixpoint.
"""

from __future__ import annotations

import pytest

import t_spoon_spark.tx.runner as runner_mod
from tests.test_tx_core import bank_env, simulate_pl3, transfer_graph, transfers_df

REPRO = [("k1", "k2", 60), ("k1", "k0", 41), ("k0", "k1", 103), ("k0", "k1", 39)]

# a second deflating-chain case: the replayed txn itself re-aborts on
# the clean chain (t3 needs t1's doomed deposit AND overdraws without it)
REPRO2 = [("k1", "k2", 60), ("k1", "k0", 41), ("k0", "k1", 103), ("k0", "k1", 120)]

# three-deep cascade: t4's verdict depends on t3's replay outcome
REPRO3 = [
    ("k1", "k2", 60),
    ("k1", "k0", 41),
    ("k0", "k1", 103),
    ("k0", "k3", 39),
    ("k3", "k0", 130),
]


def _run(spark, rows, isolation):
    env = bank_env(spark, isolation=isolation)
    runner = env.runner(transfer_graph(env))
    epochs = runner.run_to_completion(transfers_df(spark, rows), max_epochs=32)
    got = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    votes: dict[int, str] = {}
    for ep in epochs:
        for r in ep.results.collect():
            if r["vote"] != "REPLAY" or r["_tid"] not in votes:
                votes[r["_tid"]] = r["vote"]
    return got, votes


def _spec(rows):
    txns = [(i, [(a, -float(x)), (b, float(x))]) for i, (a, b, x) in enumerate(rows)]
    want, votes = simulate_pl3(txns)
    final = {t: v for t, v in votes.items() if v != "REPLAY"}
    return want, final


@pytest.mark.parametrize("rows", [REPRO, REPRO2, REPRO3], ids=["r7", "re-abort", "deep"])
@pytest.mark.parametrize("isolation", ["PL3", "PL4"])
@pytest.mark.parametrize("mode", ["pandas", "reliable"], ids=["driver", "distributed"])
def test_contaminated_abort_replays(spark, monkeypatch, rows, isolation, mode):
    # the materialize mode selects the close: 'pandas' runs the driver
    # close, 'reliable' the distributed close a cluster runs
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
    want, want_votes = _spec(rows)
    got, got_votes = _run(spark, rows, isolation)
    assert got == want
    assert got_votes == want_votes
