"""Property-based parity for the ops-fold hot path (round 12): random
contended bank workloads, split across random epoch boundaries, must
produce IDENTICAL per-txn votes and final balances on the ops-fold
path and on the evaluated-pull driver close (the JVM chain fold,
pinned by _OPS_FOLD_MAX_TXNS = -1) — including overdraft aborts,
hot-key chains, and cross-epoch state carry.

Few examples by design: each example runs two full multi-epoch engines
(Spark jobs dominate); the deterministic corner tests live in
tests/test_ops_fold.py, this adds the randomized sweep.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import t_spoon_spark.tx.runner as runner_mod
from t_spoon_spark.tx import TxEnvironment


def _mk_runner(spark):
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    g = (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(F.col("from_account").alias("account"), (-F.col("amount")).alias("delta")),
                F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
            )
        )
        .state(
            "balances",
            key=lambda df: F.col("account"),
            update=lambda v: v + F.col("delta"),
            pre_combine={"delta": "sum"},
        )
    )
    return env, env.runner(g)


def _run(spark, rows, cuts):
    env, runner = _mk_runner(spark)
    votes: dict[int, str] = {}
    bounds = [0, *sorted(cuts), len(rows)]
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = rows[lo:hi]
        if not chunk:
            continue
        res = runner.run_epoch(
            spark.createDataFrame(
                chunk,
                "_tid long, from_account string, to_account string, amount double",
            )
        )
        for r in res.results.select("_tid", "vote").collect():
            votes[r["_tid"]] = r["vote"]
    while runner._replay is not None:
        res = runner.run_epoch(None)
        for r in res.results.select("_tid", "vote").collect():
            votes[r["_tid"]] = r["vote"]
    bal = {
        r["key"]: r["value"] for r in env.store.read("balances").collect()
    }
    return votes, bal


@st.composite
def _workloads(draw):
    n_keys = draw(st.integers(min_value=2, max_value=8))
    n_txns = draw(st.integers(min_value=4, max_value=40))
    rows = []
    for tid in range(n_txns):
        a = draw(st.integers(min_value=0, max_value=n_keys - 1))
        b = draw(st.integers(min_value=0, max_value=n_keys - 1))
        if a == b:
            b = (b + 1) % n_keys
        # amounts span clean commits AND guaranteed overdrafts on the
        # 100-balance keyspace, so chains, aborts, and contamination
        # all occur with high probability
        amt = draw(
            st.one_of(
                st.integers(min_value=1, max_value=60),
                st.integers(min_value=150, max_value=400),
            )
        )
        rows.append((tid, f"k{a}", f"k{b}", float(amt)))
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = draw(
        st.lists(
            st.integers(min_value=1, max_value=max(1, n_txns - 1)),
            min_size=n_cuts,
            max_size=n_cuts,
        )
    )
    return rows, cuts


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_workloads())
def test_ops_fold_matches_pinned_on_random_workloads(spark, wl):
    rows, cuts = wl
    # hot path (default): engages from the second epoch of each run
    votes_h, bal_h = _run(spark, rows, cuts)
    max_txns = runner_mod._OPS_FOLD_MAX_TXNS
    try:
        runner_mod._OPS_FOLD_MAX_TXNS = -1
        votes_p, bal_p = _run(spark, rows, cuts)
    finally:
        runner_mod._OPS_FOLD_MAX_TXNS = max_txns
    assert votes_h == votes_p
    assert bal_h == bal_p
    # money conservation holds on both (identical, so check once)
    assert round(sum(bal_h.values()), 6) == 100.0 * len(bal_h)
