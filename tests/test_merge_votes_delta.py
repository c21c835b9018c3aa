"""Property parity for the incremental cascade vote merge.

`_merge_votes_delta` re-merges, in place, only the tids affected by a
round's refolded chains; `_merge_votes` recomputes every tid's vote from
every stage's link table.  They must agree EXACTLY after every round of
any cascade — this pins the delta path's correctness independent of the
end-to-end runner parity tests (which only exercise the workloads they
run).  Pure numpy: no Spark session, so the whole property sweep is
milliseconds per example.

Reference semantics being preserved: the global vote is a MAX lattice
over per-key link votes (tgraph/twopc/ReduceVotesFunction.java), with
`any_commit` flagging transactions holding at least one COMMIT link
(the dependency-contamination signal the cascade iterates on).
"""

from __future__ import annotations

import random
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from t_spoon_spark.tx.driver_cascade import DriverCascade, _Compiled, _StageState
from t_spoon_spark.tx.vote import ABORT, COMMIT


def _pulled(rows) -> pd.DataFrame:
    """An evaluated pull: chain positions are each key's link order."""
    ep = pd.DataFrame(rows, columns=["key", "_tid", "value", "vote", "__wr"])
    ep["_ord"] = ep.groupby("key").cumcount()
    return ep


def _mk_stage(rng, tids, keys, kind="chain_expr"):
    """A stage with one eval link per (tid, key) pair drawn randomly."""
    rows = []
    for tid in tids:
        for key in rng.sample(keys, rng.randint(1, min(3, len(keys)))):
            rows.append((key, tid, float(rng.randint(0, 9)),
                         rng.choice([COMMIT, ABORT]), True))
    st = _StageState(ctx=SimpleNamespace(kind=kind), comp=None)
    st.pulled = _pulled(rows)
    return st


def _mk_ec_stage(rng, tids):
    ops = pd.DataFrame(
        {"_tid": [t for t in tids if rng.random() < 0.7], "__key": "k"}
    )
    st = _StageState(ctx=SimpleNamespace(kind="epoch_combine"), comp=None)
    st.ops_pdf = ops
    return st


def _dc(states, tids):
    dc = DriverCascade.__new__(DriverCascade)
    dc.states = states
    dc._tids = np.asarray(tids, dtype=np.int64)
    for st in states:
        dc._load_links(st, pd.Index(dc._tids))
    return dc


def _simulate(seed: int, with_ec: bool):
    rng = random.Random(seed)
    tids = list(range(rng.randint(5, 40)))
    keys = [f"k{i}" for i in range(rng.randint(2, 8))]
    states = [
        _mk_stage(rng, tids, keys)
        for _ in range(rng.randint(1, 3))
    ]
    if with_ec:
        states.append(_mk_ec_stage(rng, tids))
    dc = _dc(states, tids)

    vote, anyc = dc._merge_votes()
    excluded: set = set()
    for _round in range(rng.randint(1, 4)):
        # flip the exclusion status of a random slice of tids — since
        # the C9-replay fix the excluded set can both grow (new aborts)
        # and shrink (replays), and the delta contract must hold for any
        # status-change pattern
        changed = set(rng.sample(tids, rng.randint(1, 5)))
        if not changed:
            continue
        excluded = excluded ^ changed
        affected = set(changed)
        for st in dc.states:
            if st.ctx.kind == "epoch_combine":
                continue
            lk = st.links
            touched = np.unique(lk.key_code[np.isin(dc._tids[lk.tid_code], list(changed))])
            for k in touched:
                # refold: EVERY chain member re-votes (excluded links
                # evaluate without applying — their wr is False); any
                # votes are legal — the merge must be exact for ALL
                # link contents
                sl = slice(lk.start[k], lk.start[k] + lk.lens[k])
                for i in range(sl.start, sl.stop):
                    tid = int(dc._tids[lk.tid_code[i]])
                    lk.vote[i] = rng.choice([COMMIT, ABORT])
                    lk.wr[i] = tid not in excluded and rng.random() < 0.8
                    affected.add(tid)
        codes = pd.Index(dc._tids).get_indexer(sorted(affected))
        dc._merge_votes_delta(vote, anyc, codes)
        full_vote, full_anyc = dc._merge_votes()
        np.testing.assert_array_equal(vote, full_vote)
        np.testing.assert_array_equal(anyc, full_anyc)


def test_delta_merge_matches_full_merge_chain_only():
    for seed in range(60):
        _simulate(seed, with_ec=False)


def test_delta_merge_matches_full_merge_with_epoch_combine():
    for seed in range(60):
        _simulate(seed + 1000, with_ec=True)


def test_retouched_key_overwrites_rows_in_place():
    """A key refolded again in a later round has its links OVERWRITTEN
    in the table — one row per link, holding the latest round — never
    duplicated; other keys' rows are untouched."""
    ns = SimpleNamespace(default=0.0)
    ctx = SimpleNamespace(kind="chain_expr", ns=ns, stage=SimpleNamespace(pre_combine=None))
    comp = _Compiled(
        update=lambda acc, rec: acc + rec["delta"],
        invariant=lambda v, rec: v >= 0,
        cast=float,
    )
    st = _StageState(ctx=ctx, comp=comp)
    st.pulled = _pulled(
        [("a", 1, 5.0, COMMIT, True), ("a", 2, 1.0, COMMIT, True),
         ("b", 3, 2.0, COMMIT, True)]
    )
    st.chains = {"a": [(1, {"delta": 5.0}), (2, {"delta": -4.0})], "b": [(3, {"delta": 2.0})]}
    dc = _dc([st], [1, 2, 3])
    lk = st.links
    code_a = int(pd.Index(lk.keys).get_loc("a"))
    # round 1: txn 1 excluded -> txn 2's link reads 0 and aborts
    aff = dc._refold_keys(st, np.asarray([code_a]), np.array([True, False, False]))
    assert sorted(dc._tids[aff].tolist()) == [1, 2]
    assert len(lk.vote) == 3
    # round 2: txn 1 replays -> txn 2 commits again on 5
    dc._refold_keys(st, np.asarray([code_a]), np.array([False, False, False]))
    rows = sorted(
        (lk.keys[k], int(dc._tids[t]), int(v), float(x), bool(w))
        for k, t, v, x, w in zip(lk.key_code, lk.tid_code, lk.vote, lk.value, lk.wr)
    )
    assert rows == [
        ("a", 1, COMMIT, 5.0, True),
        ("a", 2, COMMIT, 1.0, True),
        ("b", 3, COMMIT, 2.0, True),
    ]


def test_foreign_link_tid_fails_loudly():
    """A link whose tid is not one of the epoch's would code as -1 and
    the merge would overwrite the LAST txn's vote; loading it raises,
    naming the tid."""
    st = _StageState(ctx=SimpleNamespace(kind="chain_expr"), comp=None)
    st.pulled = _pulled([("a", 1, 1.0, COMMIT, True), ("a", 99, 1.0, ABORT, True)])
    with pytest.raises(ValueError, match="99"):
        _dc([st], [1, 2, 3])
