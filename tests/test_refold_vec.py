"""Scalar-vs-vectorized refold equivalence.

The position-wise numpy refold (`_refold_suffixes`) must reproduce the
scalar per-key fold (`_refold_key`) LINK FOR LINK — tid, vote, value,
position, and applied flag — on any chain content, exclusion set, and
re-touched-key round pattern; and a cascade round that restarts each
changed chain mid-way (`_refold_round`) must leave the link table
exactly as a from-scratch refold under the round's exclusion set would.
Pure pandas/numpy (no Spark), so hundreds of randomized workloads cost
milliseconds; the end-to-end parity battery (test_driver_cascade)
separately pins both against the distributed path through real epochs.

Also pins the vec compile gate: expressions whose numpy semantics could
diverge from Spark's (division's ANSI error channel, NULL-propagating
constructs) must be Ineligible in vec mode, not silently compiled.
"""

from __future__ import annotations

import random
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from t_spoon_spark.tx import driver_cascade as dcm
from t_spoon_spark.tx.driver_cascade import (
    DriverCascade,
    Ineligible,
    _StageState,
    _to_float,
    compile_fragment,
)
from t_spoon_spark.tx.vote import ABORT

# rendered-SQL shapes the JVM fold actually produces (function-call
# form) plus raw invariants — each must compile in BOTH modes
CASES = [
    ("`+`(acc.value, x.delta)", "value >= 0"),
    ("`+`(acc.value, x.delta)", None),
    ("greatest(`+`(acc.value, x.delta), -50.0)", "value >= -25"),
    (
        "CASE WHEN `>`(x.delta, 0) THEN `+`(acc.value, x.delta) "
        "ELSE `+`(acc.value, `*`(x.delta, 2)) END",
        "value >= 0 AND value <= 10000",
    ),
    ("`-`(abs(`+`(acc.value, x.delta)), 1.0)", "NOT (value < -1000)"),
    ("least(`+`(acc.value, x.delta), 1000.0)", "value <= 999 OR delta < 0"),
]


def _mk_comp(upd_sql: str, inv_sql: str | None):
    upd = compile_fragment(upd_sql, ["delta"])
    upd_v = compile_fragment(upd_sql, ["delta"], vec=True)
    inv = inv_v = None
    if inv_sql:
        inv = compile_fragment(inv_sql, ["delta"])
        inv_v = compile_fragment(inv_sql, ["delta"], vec=True, forbid_acc=True)
    return dcm._Compiled(
        update=lambda acc, rec: upd(acc, rec),
        invariant=(lambda v, rec: inv(None, rec, v)) if inv else None,
        cast=_to_float,
        update_vec=lambda acc, rec: upd_v(acc, rec),
        invariant_vec=(lambda v, rec: inv_v(None, rec, v)) if inv_v else None,
    )


def _mk_state_from_ops(comp, ops: pd.DataFrame, v0: dict):
    ns = SimpleNamespace(default=100.0, value_type="double", invariant=None)
    ctx = SimpleNamespace(
        kind="chain_expr",
        stage=SimpleNamespace(pre_combine={"delta": "sum"}),
        ns=ns,
        value_cols=["delta"],
        ops=None,
    )
    st = _StageState(ctx=ctx, comp=comp)
    # pre-combined per (tid, key), like _pull_stage_ops' chain path
    gb = ops.groupby(["_tid", "__key"], sort=False)
    st.ops_pdf = pd.DataFrame({"delta": gb["delta"].sum()}).reset_index()
    st.v0 = dict(v0)
    st.v0_ready = True
    return st


def _mk_state(rng, comp, n_keys: int, n_links: int):
    keys = [f"k{i}" for i in range(n_keys)]
    rows = [
        (rng.randrange(0, 60), rng.choice(keys), float(rng.randint(-80, 80)))
        for _ in range(n_links)
    ]
    ops = pd.DataFrame(rows, columns=["_tid", "__key", "delta"])
    v0 = {k: float(rng.randint(-20, 200)) for k in keys if rng.random() < 0.7}
    return _mk_state_from_ops(comp, ops, v0)


def _dc(st):
    dc = DriverCascade.__new__(DriverCascade)
    dc.states = [st]
    return dc


def _loaded(st):
    """The stage's link table as the ops fold loads it: every chain
    folded from position 0 with nothing excluded."""
    dc = _dc(st)
    st.vec = dc._vec_init(st)
    assert st.vec, "workload unexpectedly not vec-eligible"
    dc._tids = np.unique(st.ops_pdf["_tid"].to_numpy().astype(np.int64))
    dc._load_links(st, pd.Index(dc._tids))
    return dc


def _table(dc, st):
    lk = st.links
    return sorted(
        (k, int(t), int(p), int(vo), round(float(va), 9), bool(w))
        for k, t, p, vo, va, w in zip(
            lk.keys[lk.key_code], dc._tids[lk.tid_code], lk.ord, lk.vote,
            lk.value, lk.wr,
        )
    )


@pytest.mark.parametrize("case_idx", range(len(CASES)))
def test_vec_refold_matches_scalar(case_idx):
    upd_sql, inv_sql = CASES[case_idx]
    comp = _mk_comp(upd_sql, inv_sql)
    for seed in range(40):
        rng = random.Random(seed * 101 + case_idx)
        st_s = _mk_state(rng, comp, n_keys=rng.randint(1, 8), n_links=rng.randint(1, 60))
        st_v = _mk_state_from_ops(comp, st_s.ops_pdf, st_s.v0)
        dc_s, dc_v = _dc(st_s), _loaded(st_v)
        lk = st_v.links
        all_keys = list(st_s.ops_pdf["__key"].unique())
        # the scalar fold's links per key, starting from the load's
        # empty exclusion set
        dc_s._ensure_chains(st_s, all_keys)
        scalar = {key: dc_s._refold_key(st_s, key, set()) for key in all_keys}
        excluded: set = set()
        for _round in range(rng.randint(1, 3)):
            # re-touch a random key subset under a randomly mutated
            # exclusion set each round
            excluded = excluded ^ set(rng.sample(range(60), rng.randint(0, 6)))
            touched = rng.sample(all_keys, rng.randint(1, len(all_keys)))
            ex = np.isin(dc_v._tids, np.fromiter(excluded, np.int64, len(excluded)))
            # scalar path
            for key in touched:
                scalar[key] = dc_s._refold_key(st_s, key, excluded)
            # vec path: whole chains (restart at position 0)
            codes = pd.Index(lk.keys).get_indexer(touched)
            aff = dc_v._refold_suffixes(
                st_v, codes, np.zeros(len(codes), np.int64), ex
            )
            # link-for-link comparison, (key, tid, pos)-indexed
            want = sorted(
                (key, tid, pos, vote, round(val, 9), wr)
                for key, links in scalar.items()
                for tid, vote, val, pos, wr in links
            )
            assert _table(dc_v, st_v) == want, (case_idx, seed, _round)
            # affected = exactly the refolded (touched) keys' chain tids;
            # earlier-round refolds of untouched keys are not re-reported
            assert sorted(int(t) for t in dc_v._tids[aff]) == sorted(
                int(t) for key in touched for t, *_ in scalar[key]
            )


# -- suffix-restarted rounds == from-scratch refolds ----------------------

def _scratch(st, ex):
    """A fresh table folded from position 0 under exclusion mask ``ex``."""
    fresh = _mk_state_from_ops(st.comp, st.ops_pdf, st.v0)
    dc = _loaded(fresh)
    lk = fresh.links
    ks = np.flatnonzero(lk.lens)
    dc._refold_suffixes(fresh, ks, np.zeros(ks.size, np.int64), ex)
    return fresh.links


def _assert_same(lk, want):
    np.testing.assert_array_equal(lk.vote, want.vote)
    np.testing.assert_array_equal(lk.value, want.value)
    np.testing.assert_array_equal(lk.wr, want.wr)
    np.testing.assert_array_equal(lk.acc_after, want.acc_after)


def _run_rounds(dc, st, rng, n_rounds: int):
    """Random exclusion flips (new aborts AND replays) through
    _refold_round; after each, the table must equal a from-scratch
    refold under the round's exclusion set."""
    n = len(dc._tids)
    ex = np.zeros(n, bool)
    for _ in range(n_rounds):
        changed = np.sort(rng.sample(range(n), rng.randint(1, min(n, 30))))
        new_ex = ex.copy()
        new_ex[changed] = ~new_ex[changed]
        dc._refold_round(st, np.asarray(changed, np.int64), new_ex)
        ex = new_ex
        _assert_same(st.links, _scratch(st, ex))
    return ex


def test_suffix_rounds_single_long_chain():
    comp = _mk_comp(*CASES[0])
    rng = random.Random(5)
    ops = pd.DataFrame(
        {
            "_tid": np.arange(1000),
            "__key": "hot",
            "delta": [float(rng.randint(-60, 40)) for _ in range(1000)],
        }
    )
    st = _mk_state_from_ops(comp, ops, {"hot": 50.0})
    dc = _loaded(st)
    assert st.links.lens.tolist() == [1000]
    _run_rounds(dc, st, rng, 6)


@pytest.mark.parametrize("case_idx", range(len(CASES)))
def test_suffix_rounds_random_multi_key(case_idx):
    comp = _mk_comp(*CASES[case_idx])
    for seed in range(25):
        rng = random.Random(seed * 7 + case_idx)
        st = _mk_state(rng, comp, n_keys=rng.randint(1, 10), n_links=rng.randint(5, 120))
        dc = _loaded(st)
        _run_rounds(dc, st, rng, rng.randint(1, 5))


def test_suffix_rounds_equal_length_chains():
    comp = _mk_comp(*CASES[2])
    rng = random.Random(9)
    # 6 keys x 40 links: every txn touches two keys, every chain is 40 long
    rows = []
    for t in range(120):
        a = t % 6
        rows.append((t, f"k{a}", float(rng.randint(-70, 50))))
        rows.append((t, f"k{(a + 3) % 6}", float(rng.randint(-70, 50))))
    st = _mk_state_from_ops(comp, pd.DataFrame(rows, columns=["_tid", "__key", "delta"]), {})
    dc = _loaded(st)
    assert st.links.lens.tolist() == [40] * 6
    _run_rounds(dc, st, rng, 5)


def test_round_of_local_aborts_refolds_nothing():
    """Txns whose every link is a local ABORT never applied a write:
    flipping their exclusion changes no chain, so the round restarts
    nothing and the table stays as it is (and still equals a
    from-scratch refold)."""
    comp = _mk_comp(*CASES[0])
    rng = random.Random(3)
    rows = [(t, f"k{t % 4}", float(rng.randint(-150, 30))) for t in range(200)]
    st = _mk_state_from_ops(comp, pd.DataFrame(rows, columns=["_tid", "__key", "delta"]), {})
    dc = _loaded(st)
    lk = st.links
    aborted = np.flatnonzero(
        np.bincount(lk.tid_code, weights=lk.vote == ABORT, minlength=len(dc._tids))
        == np.bincount(lk.tid_code, minlength=len(dc._tids))
    )
    assert aborted.size > 5
    before = (lk.vote.copy(), lk.value.copy(), lk.wr.copy(), lk.acc_after.copy())
    ex = np.zeros(len(dc._tids), bool)
    ex[aborted] = True
    assert dc._refold_round(st, aborted, ex) is None
    for got, was in zip((lk.vote, lk.value, lk.wr, lk.acc_after), before):
        np.testing.assert_array_equal(got, was)
    _assert_same(lk, _scratch(st, ex))


def test_replay_flip_back_restores_the_initial_fold():
    """Exclude a set of committed txns, then replay them (flip them
    back): the table returns to the load's fold, link for link."""
    comp = _mk_comp(*CASES[0])
    rng = random.Random(4)
    rows = [(t, f"k{rng.randrange(5)}", float(rng.randint(-90, 60))) for t in range(150)]
    st = _mk_state_from_ops(comp, pd.DataFrame(rows, columns=["_tid", "__key", "delta"]), {})
    dc = _loaded(st)
    lk = st.links
    initial = _scratch(st, np.zeros(len(dc._tids), bool))
    committed = np.unique(lk.tid_code[lk.wr])
    flip = np.sort(rng.sample(list(committed), 10)).astype(np.int64)
    ex = np.zeros(len(dc._tids), bool)
    ex[flip] = True
    assert dc._refold_round(st, flip, ex) is not None
    _assert_same(lk, _scratch(st, ex))
    assert dc._refold_round(st, flip, np.zeros(len(dc._tids), bool)) is not None
    _assert_same(lk, initial)


def test_vec_compile_gate():
    """Null/error-channel constructs must refuse vec compilation."""
    for sql in (
        "`/`(acc.value, x.delta)",          # ANSI divide error channel
        "`%`(acc.value, x.delta)",
        "CASE WHEN `>`(x.delta, 0) THEN acc.value END",  # no ELSE -> NULL
        "NULL",
        "acc.value IS NULL",
    ):
        with pytest.raises(Ineligible):
            compile_fragment(sql, ["delta"], vec=True)
    # and the invariant scope must reject accumulator references
    with pytest.raises(Ineligible):
        compile_fragment("`+`(acc.value, 0.0)", ["delta"], vec=True, forbid_acc=True)
    # while the same fragments stay compilable in scalar mode
    compile_fragment("`/`(acc.value, x.delta)", ["delta"])
    compile_fragment("CASE WHEN `>`(x.delta, 0) THEN acc.value END", ["delta"])


def test_vec_ineligible_on_none_default():
    """A namespace created with the API default (default=None) must
    fall back to the scalar fold, not crash float(None) — round-10
    review finding: the epoch close raised TypeError on the first
    cascade round for such graphs."""
    comp = _mk_comp("`+`(acc.value, x.delta)", None)
    rng = random.Random(7)
    st = _mk_state(rng, comp, n_keys=3, n_links=12)
    st.ctx.ns.default = None
    assert _dc(st)._vec_init(st) is False


def test_vec_ineligible_on_integer_record_column():
    """Integer deltas must fall back to the scalar fold even under
    2^53: Spark and the scalar fold evaluate record-only integer
    sub-expressions exactly and round once, while the numpy twin
    rounds per float64 op (delta=190000003 diverges delta*delta+delta
    in the last ulp) — round-10 review finding."""
    comp = _mk_comp(
        "`+`(acc.value, `+`(`*`(x.delta, x.delta), x.delta))", None
    )
    rng = random.Random(11)
    st = _mk_state(rng, comp, n_keys=2, n_links=8)
    st.ops_pdf["delta"] = pd.Series(
        [190000003] * len(st.ops_pdf), dtype="int64"
    )
    assert _dc(st)._vec_init(st) is False
    # the float-typed path stays eligible (the bench workloads' shape)
    st2 = _mk_state(rng, comp, n_keys=2, n_links=8)
    assert _dc(st2)._vec_init(st2) is not False
