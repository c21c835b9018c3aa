"""StateStore.commit_pandas against StateStore.commit through the driver
close: the driver close hands its resolved finals to commit_pandas when
the store keeps a pandas twin (non-durable, checkpoint_every=1), and to
the Spark commit otherwise (checkpoint_every=2).  Both must yield the
same votes and snapshots — with aborts, over several epochs and
namespaces, with history for time travel, and with int64 tids past 2^53.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from t_spoon_spark.tx import TxEnvironment


def _graph(env, ns="balances"):
    return (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(
                    F.col("from_account").alias("account"),
                    (-F.col("amount")).alias("delta"),
                ),
                F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
            )
        )
        .state(
            ns,
            key=lambda df: F.col("account"),
            update=lambda v: v + F.col("delta"),
            pre_combine={"delta": "sum"},
        )
    )


def _batch(spark, rows, tid0=1):
    return spark.createDataFrame(
        [(tid0 + i, f, t, float(a)) for i, (f, t, a) in enumerate(rows)],
        "_tid long, from_account string, to_account string, amount double",
    )


def _run_epochs(env, batches):
    runner = env.runner(_graph(env))
    votes = []
    for b in batches:
        res = runner.run_epoch(b)
        votes.append(res.vote_counts())
    snap = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    return votes, snap


def test_pandas_commit_equals_commit_no_aborts(spark):
    """checkpoint_every=1 (commit_pandas) and checkpoint_every=2
    (commit: can_commit_pandas is False) must produce identical votes
    and identical final snapshots on a clean workload."""
    rows1 = [("a", "b", 10.0), ("b", "c", 5.0)]
    rows2 = [("c", "a", 3.0), ("a", "c", 1.0)]

    env_f = TxEnvironment(spark, isolation="PL3")
    env_f.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    assert env_f.store.can_commit_pandas("balances")
    v_f, s_f = _run_epochs(env_f, [_batch(spark, rows1, 1), _batch(spark, rows2, 10)])

    env_s = TxEnvironment(spark, isolation="PL3", checkpoint_every=2)
    env_s.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    assert not env_s.store.can_commit_pandas("balances")
    v_s, s_s = _run_epochs(env_s, [_batch(spark, rows1, 1), _batch(spark, rows2, 10)])

    assert v_f == v_s
    assert s_f == s_s
    assert all(v.get("ABORT", 0) == 0 for v in v_f)


def test_pandas_commit_excludes_aborted_writes(spark):
    """An epoch with an invariant abort commits through commit_pandas
    with the aborted transfer's writes excluded and the committing ones
    landed."""
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    # tid 1 overdraws (abort); tid 2 is clean
    votes, snap = _run_epochs(
        env, [_batch(spark, [("a", "b", 500.0), ("c", "d", 10.0)], 1)]
    )
    assert votes[0].get("ABORT", 0) == 1
    assert votes[0].get("COMMIT", 0) == 1
    assert snap == {"c": 90.0, "d": 110.0}
    # the next clean epoch commits on top of that snapshot
    votes2, snap2 = [], {}
    runner = env.runner(_graph(env))
    res = runner.run_epoch(_batch(spark, [("d", "a", 5.0)], 50))
    assert res.vote_counts().get("COMMIT", 0) == 1
    snap2 = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    assert snap2 == {"c": 90.0, "d": 105.0, "a": 105.0}


def test_pandas_commit_history_and_time_travel(spark):
    """commit_pandas must keep the same history contract as commit():
    every namespace readable at every retained epoch boundary."""
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 0.0)
    runner = env.runner(_graph(env))
    e0 = env.store.committed_epoch()
    runner.run_epoch(_batch(spark, [("x", "y", 7.0)], 1))
    runner.run_epoch(_batch(spark, [("y", "x", 2.0)], 10))
    cur = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    assert cur == {"x": -5.0, "y": 5.0}
    past = {
        r["key"]: r["value"]
        for r in env.store.read("balances", epoch=e0 + 1).collect()
    }
    assert past == {"x": -7.0, "y": 7.0}


def _two_ns_graph(env):
    return (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(
                    F.col("from_account").alias("account"),
                    (-F.col("amount")).alias("delta"),
                ),
                F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
            )
        )
        .state(
            "balances",
            key=lambda df: F.col("account"),
            update=lambda v: v + F.col("delta"),
            pre_combine={"delta": "sum"},
        )
        .state(
            "touch_counts",
            key=lambda df: F.col("account"),
            update=lambda v: v + F.lit(1.0),
            epoch_combine=False,
        )
    )


def test_pandas_commit_multi_namespace_parallel_states(spark):
    """commit_pandas covers several namespaces in one epoch: a parallel
    two-state graph commits both snapshots, matching commit exactly."""
    rows = [("a", "b", 10.0), ("b", "c", 5.0)]

    def run(checkpoint_every):
        kw = {} if checkpoint_every is None else {"checkpoint_every": checkpoint_every}
        env = TxEnvironment(spark, isolation="PL3", **kw)
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        env.create_namespace("touch_counts", "double", 0.0)
        runner = env.runner(_two_ns_graph(env))
        res = runner.run_epoch(_batch(spark, rows, 1))
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        tc = {r["key"]: r["value"] for r in env.store.read("touch_counts").collect()}
        return res.vote_counts(), bal, tc

    v_f, bal_f, tc_f = run(None)  # commit_pandas
    v_s, bal_s, tc_s = run(2)  # commit
    assert v_f == v_s
    assert bal_f == bal_s == {"a": 90.0, "b": 105.0, "c": 105.0}
    assert tc_f == tc_s == {"a": 1.0, "b": 2.0, "c": 1.0}


def test_pandas_commit_preserves_large_tids_exactly(spark):
    """Stamped tids exceed 2^53 from epoch ~8191 ((epoch+1)<<40 | row).
    The driver close's frames must keep _tid int64 end-to-end — a
    null-bearing Arrow int column degrades to float64, where adjacent
    huge tids collide and votes merge across transactions. Two adjacent
    tids just past 2^53, one aborting: the abort must land on the right
    tid."""
    base = 1 << 53
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    runner = env.runner(_graph(env))
    batch = spark.createDataFrame(
        [
            (base + 1, "a", "b", 500.0),  # overdraws -> ABORT
            (base + 2, "c", "d", 10.0),  # clean -> COMMIT
        ],
        "_tid long, from_account string, to_account string, amount double",
    )
    res = runner.run_epoch(batch)
    votes = {r["_tid"]: r["vote"] for r in res.votes.collect()}
    assert votes[base + 1] == 1  # ABORT
    assert votes[base + 2] == 0  # COMMIT
    snap = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    assert snap == {"c": 90.0, "d": 110.0}
