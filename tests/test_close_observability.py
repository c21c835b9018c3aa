"""How an epoch closed, as EpochResult reports it.

``close_path`` names the close that resolved the epoch (the driver
close's ops fold or evaluated pull, or the distributed close),
``cascade_rounds`` the abort-cascade refold rounds it ran,
``close_fallback`` why it left the driver close it would have taken, and
``phase_ms`` where the epoch's wall time went.
The driver close also keeps the vote frame lazy: counting votes builds
no Spark plan.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F

import t_spoon_spark.tx.runner as runner_mod
from t_spoon_spark.tx import TxEnvironment


def _bank_env(spark):
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


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "_tid long, from_account string, to_account string, amount double"
    )


# epoch 2: tids 4 (c overdraws) and 6 (a's fourth debit overdraws) abort
# after crediting d, so one cascade round refolds d's chain
E1 = [(1, "a", "b", 10.0), (2, "b", "c", 5.0)]
E2 = [(3, "a", "b", 20.0), (4, "c", "d", 300.0), (5, "a", "d", 60.0), (6, "a", "d", 60.0)]


def test_pandas_mode_takes_the_ops_fold_from_epoch_two(spark, monkeypatch):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    _env, runner = _bank_env(spark)
    r1 = runner.run_epoch(_batch(spark, E1))
    assert (r1.close_path, r1.cascade_rounds, r1.close_fallback) == (
        "evaluated_pull", 0, None,
    )
    t = time.perf_counter()
    r2 = runner.run_epoch(_batch(spark, E2))
    _assert_phases(r2, time.perf_counter() - t)
    assert (r2.close_path, r2.cascade_rounds, r2.close_fallback) == (
        "ops_fold", 1, None,
    )
    assert r2.vote_counts() == {"COMMIT": 2, "ABORT": 2}
    # counting votes read the driver twin: no vote frame was built
    assert callable(r2._votes)
    assert sorted(r["_tid"] for r in r2.votes.collect() if r["vote"] == 1) == [4, 6]


def test_reliable_mode_closes_distributed(spark, monkeypatch):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    _env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, E1))
    t = time.perf_counter()
    r2 = runner.run_epoch(_batch(spark, E2))
    _assert_phases(r2, time.perf_counter() - t)
    assert (r2.close_path, r2.cascade_rounds, r2.close_fallback) == (
        "distributed", 1, None,
    )
    assert r2.vote_counts() == {"COMMIT": 2, "ABORT": 2}


def test_nan_record_retries_and_records_the_fallback(spark, monkeypatch):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    _env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, E1))
    # a true NaN amount: the ops fold retries the epoch, whose evaluated
    # pull refuses the NaN too, so the distributed close takes over
    r2 = runner.run_epoch(_batch(spark, [(3, "a", "b", float("nan")), (4, "b", "c", 5.0)]))
    assert r2.close_path == "distributed"
    assert r2.close_fallback.startswith("ops-fold retry: ")
    assert "NaN" in r2.close_fallback
    # the driver close stays off for this runner, and says why
    r3 = runner.run_epoch(_batch(spark, [(5, "c", "a", 1.0)]))
    assert r3.close_path == "distributed"
    assert r3.close_fallback is not None and "NaN" in r3.close_fallback
    assert not r3.close_fallback.startswith("ops-fold retry")


def _assert_phases(r, wall_s):
    assert set(r.phase_ms) == {"plan", "close", "commit", "replay"}
    assert all(v >= 0 for v in r.phase_ms.values())
    assert sum(r.phase_ms.values()) <= wall_s * 1000.0


def test_ops_fold_epoch_py4j_budget_and_lazy_committed_frame(spark, monkeypatch):
    """A steady-state ops-fold epoch builds its frames from the rendered
    graph in a few JVM calls, and builds no committed LocalRelation until
    a read asks for one."""
    import threading

    import py4j.clientserver as cs

    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, E1))
    runner.run_epoch(_batch(spark, E2))
    batch = _batch(spark, [(7, "b", "a", 1.0), (8, "d", "c", 2.0), (9, "a", "d", 1000.0)])
    built = []
    twin_frame = env.store._twin_frame
    monkeypatch.setattr(
        env.store, "_twin_frame", lambda *a: built.append(a[0]) or twin_frame(*a)
    )
    main, calls = threading.current_thread(), [0]
    send = cs.ClientServerConnection.send_command

    def counting_send(self, command):
        if threading.current_thread() is main:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting_send)
    r3 = runner.run_epoch(batch)
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", send)
    assert r3.close_path == "ops_fold"
    assert r3.vote_counts() == {"COMMIT": 2, "ABORT": 1}
    # the apply_* walk alone made ~480 calls per epoch
    assert calls[0] <= 100, calls[0]
    assert built == []
    snap = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    assert built == ["balances"]
    assert snap["a"] == 11.0 and snap["d"] == 158.0
    env.store.read("balances")
    assert built == ["balances"]
