"""Ops-fold hot path (round 12): for small epochs in pandas materialize
mode, the runner skips BUILDING the chain-fold plan and evaluates every
chain driver-side with the vectorized fold — per-epoch Catalyst
re-analysis of the multi-KB fold expression was the unloaded-latency
floor (r11 verdict next-round #2; measured 547 -> 229 ms on the probe
box).  These tests pin the path's equivalence to the evaluated-pull
driver close (pinned by _OPS_FOLD_MAX_TXNS = -1) and its fallback
behavior.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import t_spoon_spark.tx.driver_cascade as dcm
import t_spoon_spark.tx.runner as runner_mod
from t_spoon_spark.tx import TxEnvironment


def _bank_env(spark, invariant="value >= 0"):
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 100.0, invariant=invariant)
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


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "_tid long, from_account string, to_account string, amount double"
    )


def _run_workload(spark, runner):
    """Three epochs: clean, abort + hot-key chain, replay-ish drains —
    returns (per-epoch votes, final balances)."""
    votes = []
    epochs = [
        [(1, "a", "b", 10.0), (2, "b", "c", 5.0)],
        # tid 4 overdrafts c (300 > 105); tids 5/6 chain on key a
        [(3, "a", "b", 20.0), (4, "c", "d", 300.0), (5, "a", "d", 60.0), (6, "a", "d", 60.0)],
        [(7, "d", "a", 1.0)],
    ]
    for rows in epochs:
        res = runner.run_epoch(_batch(spark, rows))
        votes.append(res.vote_counts())
    bal = {
        r["key"]: r["value"]
        for r in runner.env.store.read("balances").collect()
    }
    return votes, bal


def _spy_engagement(monkeypatch):
    engaged = {"n": 0, "retries": 0}
    orig = dcm.DriverCascade._pull_ops_fold

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        if out is not None:
            engaged["n"] += 1
        return out

    monkeypatch.setattr(dcm.DriverCascade, "_pull_ops_fold", spy)
    return engaged


class TestOpsFoldEquivalence:
    def test_matches_pinned_path_with_aborts_and_chains(self, spark, monkeypatch):
        engaged = _spy_engagement(monkeypatch)
        env_h, runner_h = _bank_env(spark)
        votes_h, bal_h = _run_workload(spark, runner_h)
        assert engaged["n"] >= 1, "hot path never engaged"

        monkeypatch.setattr(runner_mod, "_OPS_FOLD_MAX_TXNS", -1)
        env_p, runner_p = _bank_env(spark)
        votes_p, bal_p = _run_workload(spark, runner_p)
        assert votes_h == votes_p
        assert bal_h == bal_p
        # chain semantics sanity: a = 100 -10 (e1) -20 -60 (e2, tid 6's
        # second -60 would overdraft -> ABORT) +1 (e3) = 11; tid 4's 300
        # overdraft on c aborts too
        assert bal_h["a"] == 11.0
        assert votes_h[1] == {"COMMIT": 2, "ABORT": 2}

    def test_pl4_strict_equivalence(self, spark, monkeypatch):
        def mk():
            env = TxEnvironment(spark, isolation="PL4")
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

        _env, r_h = mk()
        votes_h, bal_h = _run_workload(spark, r_h)
        monkeypatch.setattr(runner_mod, "_OPS_FOLD_MAX_TXNS", -1)
        _env, r_p = mk()
        votes_p, bal_p = _run_workload(spark, r_p)
        assert (votes_h, bal_h) == (votes_p, bal_p)


class TestOpsFoldFallbacks:
    def test_loaded_epoch_stays_on_fused_path(self, spark, monkeypatch):
        engaged = _spy_engagement(monkeypatch)
        monkeypatch.setattr(runner_mod, "_OPS_FOLD_MAX_TXNS", 1)
        _env, runner = _bank_env(spark)
        _votes, bal = _run_workload(spark, runner)
        # every epoch has >1 txn except the last; last epoch's decision
        # reads the PREVIOUS epoch's txn count (4 > 1) — never engages
        assert engaged["n"] == 0
        assert bal["a"] == 11.0

    def test_nan_amount_retries_then_distributed_takes_over(self, spark):
        _env, runner = _bank_env(spark)
        runner.run_epoch(_batch(spark, [(1, "a", "b", 10.0)]))
        # true NaN record data: ops-fold retries the epoch on the
        # standard path, which (pre-existing contract) hands the runner
        # to the distributed close for good — the epoch must still
        # produce the right votes either way
        res = runner.run_epoch(
            _batch(spark, [(2, "a", "b", float("nan")), (3, "b", "c", 5.0)])
        )
        votes = res.vote_counts()
        assert sum(votes.values()) == 2
        # and the next clean epoch still commits correctly
        res3 = runner.run_epoch(_batch(spark, [(4, "c", "a", 1.0)]))
        assert res3.vote_counts() == {"COMMIT": 1}

    def test_null_key_epoch_retries_and_reengages(self, spark, monkeypatch):
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        g = env.graph().state(
            "balances",
            key=lambda df: F.col("account"),
            update=lambda v: v + F.col("delta"),
            pre_combine={"delta": "sum"},
        )
        runner = env.runner(g)
        b = spark.createDataFrame(
            [(1, "a", 5.0)], "_tid long, account string, delta double"
        )
        runner.run_epoch(b)
        # null __key: the SQL fold keeps it as a group of its own, the
        # vec fold cannot — _OpsFoldRetry re-runs the epoch on the
        # standard path WITHOUT disabling the cascade
        res = runner.run_epoch(
            spark.createDataFrame(
                [(2, None, 5.0), (3, "a", 2.0)],
                "_tid long, account string, delta double",
            )
        )
        assert res.vote_counts() == {"COMMIT": 2}
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        # null key folds as its own group from the 100 default
        assert bal["a"] == 107.0
        assert bal[None] == 105.0
        assert isinstance(runner._dc_compiled, list), "cascade must stay enabled"
        # the NEXT clean epoch engages the hot path again
        engaged = _spy_engagement(monkeypatch)
        res3 = runner.run_epoch(
            spark.createDataFrame(
                [(4, "a", 1.0)], "_tid long, account string, delta double"
            )
        )
        assert engaged["n"] == 1 and res3.vote_counts() == {"COMMIT": 1}


class TestOpsFoldEmptyEpoch:
    def test_empty_micro_batch_after_small_epoch(self, spark, monkeypatch):
        """An empty batch following a small epoch engages the hot path
        with ZERO ops rows — the packed fold's index math assumed at
        least one row and crashed (found by the sf1 rate ladder, whose
        sparse tid slices produced empty warm epochs)."""
        engaged = _spy_engagement(monkeypatch)
        _env, runner = _bank_env(spark)
        runner.run_epoch(_batch(spark, [(1, "a", "b", 10.0)]))
        res = runner.run_epoch(_batch(spark, []))
        assert engaged["n"] == 1, "empty epoch must stay on the hot path"
        assert res.vote_counts() == {}
        res3 = runner.run_epoch(_batch(spark, [(2, "b", "a", 1.0)]))
        assert res3.vote_counts() == {"COMMIT": 1}
        bal = {r["key"]: r["value"] for r in _env.store.read("balances").collect()}
        assert bal == {"a": 91.0, "b": 109.0}


class TestOpsFoldMoneyConservation:
    def test_sum_invariant_over_many_small_epochs(self, spark):
        _env, runner = _bank_env(spark)
        accounts = [f"k{i}" for i in range(20)]
        tid = 1
        for e in range(6):
            rows = []
            for i in range(10):
                a = accounts[(e * 3 + i) % 20]
                b = accounts[(e * 7 + i + 1) % 20]
                if a != b:
                    rows.append((tid, a, b, float((i % 9) + 1)))
                    tid += 1
            runner.run_epoch(_batch(spark, rows))
        total = (
            runner.env.store.read("balances")
            .agg(F.sum("value").alias("s"))
            .collect()[0]["s"]
        )
        n_keys = runner.env.store.read("balances").count()
        assert round(total, 6) == 100.0 * n_keys


class TestOpsFoldChainCap:
    def test_hot_chain_past_cap_falls_back(self, spark, monkeypatch):
        """A chain longer than OPS_FOLD_MAX_CHAIN would turn the
        vectorized fold's step loop into per-row Python — the epoch must
        fall back to the JVM fold (retry path) and still produce the
        exact chain semantics."""
        monkeypatch.setattr(dcm, "OPS_FOLD_MAX_CHAIN", 3)
        engaged = _spy_engagement(monkeypatch)
        _env, runner = _bank_env(spark)
        runner.run_epoch(_batch(spark, [(1, "a", "b", 10.0)]))
        # 5 txns all hitting key "b" -> chain of 5 > cap 3
        res = runner.run_epoch(
            _batch(spark, [(i, "b", "c", 1.0) for i in range(2, 7)])
        )
        assert engaged["n"] == 0, "capped chain must not run the vec fold"
        assert res.vote_counts() == {"COMMIT": 5}
        assert isinstance(runner._dc_compiled, list)
        bal = {r["key"]: r["value"] for r in _env.store.read("balances").collect()}
        assert bal == {"a": 90.0, "b": 105.0, "c": 105.0}
