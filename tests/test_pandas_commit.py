"""StateStore.commit_pandas against StateStore.commit through the driver
close: the driver close hands its resolved finals to commit_pandas when
the store keeps a pandas twin (small state; an in-memory store also
needs checkpoint_every=1), and to the Spark commit otherwise.  Both must
yield the same votes and snapshots — with aborts, over several epochs
and namespaces, with history for time travel, with int64 tids past 2^53,
on a durable store on either side of the size selection, and after
reopening a durable store from disk.  A pinned read during either
commit never sees a namespace of the epoch being published.
"""

from __future__ import annotations

import threading

import pandas as pd
import pyspark.sql.functions as F
import pytest

from t_spoon_spark.serve import StateService
from t_spoon_spark.tx import TxEnvironment
from t_spoon_spark.tx.namespace import Namespace
from t_spoon_spark.tx.store import StateStore


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


def _snap(frame):
    return {r["key"]: r["value"] for r in frame.collect()}


def _twin_dict(twin):
    return dict(zip(twin["key"], twin["value"]))


def _durable_bank(spark, root, **kw):
    env = TxEnvironment(
        spark, isolation="PL3", durable=True, store_dir=root, checkpoint_every=2, **kw
    )
    env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    return env


_DURABLE_BATCHES = [
    [("a", "b", 10.0), ("c", "d", 500.0)],  # the second overdraws: ABORT
    [("b", "c", 5.0), ("d", "a", 20.0)],
    [("a", "e", 1.0)],
    [("e", "b", 0.5), ("c", "a", 2.0)],
]


def _serve_answers(env, epoch):
    svc = StateService(env)
    keys = svc.query_keys("balances", ["a", "b", "c", "d", "e", "zz"], epoch=epoch)
    pred = svc.query_predicate("balances", "value > 100", epoch=epoch)
    return keys, pred


def test_durable_size_selection_keeps_serve_answers(spark, tmp_path, monkeypatch):
    """A durable store takes commit_pandas while its snapshot is small;
    with the thresholds forced low it takes commit() instead.  Votes,
    on-disk state and every serve answer at every epoch agree."""
    calls = {"commit": 0, "commit_pandas": 0}
    for name in calls:
        orig = getattr(StateStore, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(StateStore, name, counted)

    def run(root):
        env = _durable_bank(spark, root)
        runner = env.runner(_graph(env))
        votes, answers = [], []
        for i, rows in enumerate(_DURABLE_BATCHES):
            votes.append(runner.run_epoch(_batch(spark, rows, 10 * i + 1)).vote_counts())
        for e in range(env.watermark() + 1):
            answers.append(_serve_answers(env, e))
        return env, votes, answers

    env_t, votes_t, answers_t = run(str(tmp_path / "twin"))
    assert calls == {"commit": 0, "commit_pandas": 4}
    assert env_t.store.read_twin("balances") is not None

    calls.update(commit=0, commit_pandas=0)
    monkeypatch.setattr(StateStore, "SMALL_SNAPSHOT_MEM_BYTES", 1)
    monkeypatch.setattr(StateStore, "SMALL_SNAPSHOT_PARQUET_BYTES", 1)
    env_s, votes_s, answers_s = run(str(tmp_path / "spark"))
    # the empty twin of a fresh namespace is under any threshold, so the
    # first epoch still merges in pandas; it sizes the snapshot and every
    # later epoch takes commit()
    assert calls == {"commit": 3, "commit_pandas": 1}
    assert not env_s.store.can_commit_pandas("balances")
    assert env_s.store.read_twin("balances") is None

    assert votes_t == votes_s
    assert votes_t[0] == {"COMMIT": 1, "ABORT": 1}
    assert answers_t == answers_s
    assert answers_t[-1][0]["rows"] == [
        ["a", 111.0], ["b", 105.5], ["c", 103.0], ["d", 80.0], ["e", 100.5]
    ]
    # both layouts reconstruct the same snapshots from disk
    for e in range(env_t.watermark() + 1):
        assert _snap(env_t.store._reconstruct("balances", e)) == _snap(
            env_s.store._reconstruct("balances", e)
        )


def test_durable_reopen_rebuilds_twin(spark, tmp_path):
    """Reopening a durable store rebuilds the twin of a small snapshot
    from disk: it equals the reconstruction at the committed epoch, the
    committed frame is its LocalRelation, key lookups answer from it and
    the reopened store keeps committing through commit_pandas."""
    root = str(tmp_path / "store")
    env = _durable_bank(spark, root)
    runner = env.runner(_graph(env))
    for i, rows in enumerate(_DURABLE_BATCHES[:3]):
        runner.run_epoch(_batch(spark, rows, 10 * i + 1))
    committed = env.watermark()
    before = _snap(env.store.read("balances"))

    env2 = _durable_bank(spark, root)
    store = env2.store
    assert store.committed_epoch() == committed
    twin = store.read_twin("balances")
    assert twin is not None
    assert _twin_dict(twin) == _snap(store._reconstruct("balances", committed)) == before
    assert _snap(store.read("balances")) == before

    def no_spark(*_a, **_k):
        raise AssertionError("key lookup left the twin")

    store.read = no_spark
    try:
        out = StateService(env2).query_keys("balances", ["a", "b"])
    finally:
        del store.read
    assert out == {"epoch": committed, "rows": [["a", before["a"]], ["b", before["b"]]]}

    assert store.can_commit_pandas("balances")
    runner2 = env2.runner(_graph(env2))
    runner2.run_epoch(_batch(spark, _DURABLE_BATCHES[3], 31))
    after = _snap(store.read("balances"))
    assert after == _snap(store._reconstruct("balances", committed + 1))
    assert _twin_dict(store.read_twin("balances")) == after


@pytest.mark.parametrize("path", ["commit", "commit_pandas"])
def test_pinned_read_never_sees_half_published_epoch(spark, tmp_path, path):
    """A checkpoint epoch writes namespace a's base, then b's.  A reader
    that pins the watermark while b's write is blocked must get a's
    snapshot at that pin — not a's frame of the epoch still being
    committed under the old pin's label."""
    store = StateStore(spark, root=str(tmp_path / "s"), durable=True, checkpoint_every=2)
    for ns in ("a", "b"):
        store.register(Namespace(ns, "double", 0.0))

    def commit(e):
        rows = {"a": [("x", float(e))], "b": [("y", float(e))]}
        if path == "commit":
            store.commit(
                e,
                {n: spark.createDataFrame(r, "key string, value double") for n, r in rows.items()},
                None,
            )
        else:
            store.commit_pandas(
                e, {n: pd.DataFrame(r, columns=["key", "value"]) for n, r in rows.items()}
            )

    commit(0)
    commit(1)
    reached, release = threading.Event(), threading.Event()
    errors: list[BaseException] = []
    orig_base_path = store._base_path

    def gated_base_path(ns, epoch):
        if ns == "b" and epoch == 2 and not reached.is_set():
            reached.set()
            release.wait(120)
        return orig_base_path(ns, epoch)

    def writer():
        try:
            commit(2)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)
        finally:
            reached.set()

    store._base_path = gated_base_path
    t = threading.Thread(target=writer)
    t.start()
    try:
        assert reached.wait(120)
        pin = store.committed_epoch()
        assert (pin, _snap(store.read("a", pin))) == (1, {"x": 1.0})
        twin = store.read_twin("a", pin)
        assert twin is None or _twin_dict(twin) == {"x": 1.0}
    finally:
        release.set()
        t.join(120)
    assert not errors, errors
    assert store.committed_epoch() == 2
    assert _snap(store.read("a")) == {"x": 2.0}
    assert _snap(store.read("a", 1)) == {"x": 1.0}
