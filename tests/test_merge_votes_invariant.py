"""The invariant the distributed close's cascade control relies on.

Each cascade round of the distributed close reads its four control
counts (aborted, newly aborted, replayed, newly contaminated) from ONE
aggregate over the merged vote frame, left-joined to the previous
round's abort set (tx/runner.py, the ``ctl = gv.agg(...)`` block).
Those counts are right only if ``GraphRunner._merge_votes`` returns
every epoch tid exactly once — including tids no state stage linked and
tids linked from several stages or keys — and so every previous-round
abort tid is among its rows.  Checked here in both materialize modes.
"""

from __future__ import annotations

import pytest

from t_spoon_spark.tx import TxEnvironment
from t_spoon_spark.tx import runner as runner_mod
from t_spoon_spark.tx.vote import ABORT, COMMIT

EPOCH_TIDS = list(range(1, 11))  # tids 9 and 10 reach no state stage


def _links(spark, rows):
    return spark.createDataFrame(rows, "_tid long, vote int")


def _round0_parts(spark):
    # stage 0: several key-links per tid, mixed votes on tid 2
    stage0 = _links(
        spark,
        [(1, COMMIT), (1, COMMIT), (2, COMMIT), (2, ABORT), (3, COMMIT), (4, ABORT)],
    )
    # stage 1 shares tids 2-4 with stage 0 and adds 5-8
    stage1 = _links(
        spark,
        [(2, COMMIT), (3, ABORT), (4, COMMIT), (5, COMMIT), (5, COMMIT),
         (6, ABORT), (7, COMMIT), (8, COMMIT)],
    )
    return [stage0, stage1]


def _round1_parts(spark):
    # a later round: aborted tid 6 kept no link at all, tid 4 flipped
    # back to COMMIT (replay), tid 7 newly aborts
    stage0 = _links(spark, [(1, COMMIT), (2, ABORT), (3, COMMIT), (4, COMMIT)])
    stage1 = _links(
        spark, [(2, COMMIT), (3, ABORT), (4, COMMIT), (5, COMMIT), (7, ABORT)]
    )
    return [stage0, stage1]


def _tid_rows(gvotes):
    rows = gvotes.select("_tid", "vote", "any_commit").collect()
    tids = [r["_tid"] for r in rows]
    return tids, {r["_tid"]: (r["vote"], r["any_commit"]) for r in rows}


@pytest.mark.parametrize("mode", ["pandas", "reliable"])
def test_merged_votes_hold_each_epoch_tid_once(spark, monkeypatch, mode):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
    env = TxEnvironment(spark, isolation="PL3")
    runner = env.runner(env.graph())
    tids = spark.createDataFrame([(t,) for t in EPOCH_TIDS], "_tid long")

    gv0 = runner_mod.materialize(runner._merge_votes(tids, _round0_parts(spark)))
    got0, by_tid0 = _tid_rows(gv0)
    assert sorted(got0) == EPOCH_TIDS  # every tid, none twice
    assert by_tid0[2] == (ABORT, 1)  # lattice MAX over stages and keys
    assert by_tid0[3] == (ABORT, 1)
    assert by_tid0[6] == (ABORT, 0)
    assert by_tid0[9] == (COMMIT, 0)  # unlinked: commits, cannot contaminate
    assert by_tid0[10] == (COMMIT, 0)

    prev_aborts = {t for t, (v, _) in by_tid0.items() if v == ABORT}
    assert prev_aborts == {2, 3, 4, 6}
    gv1 = runner_mod.materialize(runner._merge_votes(tids, _round1_parts(spark)))
    got1, by_tid1 = _tid_rows(gv1)
    assert sorted(got1) == EPOCH_TIDS
    assert prev_aborts <= set(got1)  # the ctl join sees every previous abort
    assert by_tid1[4] == (COMMIT, 1)  # replayed
    assert by_tid1[6] == (COMMIT, 0)  # lost every link: filled, not dropped
    assert by_tid1[7] == (ABORT, 0)


@pytest.mark.parametrize("mode", ["pandas", "reliable"])
def test_merged_votes_without_state_stages(spark, monkeypatch, mode):
    """No state stage at all: every tid commits, each exactly once."""
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
    env = TxEnvironment(spark, isolation="PL3")
    runner = env.runner(env.graph())
    tids = spark.createDataFrame([(t,) for t in EPOCH_TIDS], "_tid long")
    got, by_tid = _tid_rows(runner_mod.materialize(runner._merge_votes(tids, [])))
    assert sorted(got) == EPOCH_TIDS
    assert set(by_tid.values()) == {(COMMIT, 0)}
