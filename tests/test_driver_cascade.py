"""Driver-side close / abort-cascade fixpoint (tx/driver_cascade.py).

The pandas-mode close runs the abort-cascade fixpoint driver-resident
over batch-sized control frames.  These tests pin:

- RESULT IDENTITY with the distributed close, run the way a cluster
  reaches it (materialize mode 'reliable'), across contended PL3/PL4,
  multi-namespace, epoch_combine, and py_update workloads — same votes,
  same balances, same epoch count;
- the SQL-fragment -> Python compiler's Spark semantics (null
  propagation, CASE, CAST truncation, UTF-8 ordering) — checked
  end-to-end by running the SAME update expression through both paths;
- the eligibility fallback: a non-whitelisted expression (exp) makes a
  local session take the distributed close, never a wrong answer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from t_spoon_spark.tx import TxEnvironment
from t_spoon_spark.tx import driver_cascade as dcm
from t_spoon_spark.tx import runner as runner_mod


def _run_bank(spark, *, isolation="PL3", update=None, invariant="value >= 0",
              py_update=None, py_invariant=None, epoch_combine=False,
              keymod=7, overdraws=3, n=60, value_type="double", default=100.0):
    env = TxEnvironment(spark, isolation=isolation)
    env.create_namespace(
        "balances", value_type, default, invariant=invariant, py_invariant=py_invariant
    )
    g = (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                F.struct(F.col("dst").alias("account"), F.col("amt").alias("delta")),
            )
        )
        .state(
            "balances",
            key=lambda df: F.col("account"),
            update=update or (lambda v: v + F.col("delta")),
            py_update=py_update,
            pre_combine=None if py_update else {"delta": "sum"},
            epoch_combine=epoch_combine,
        )
    )
    rows = []
    tid = 0
    for i in range(n):
        rows.append((f"a{i % keymod}", f"a{(i * 7 + 1) % keymod}", float(20 + (i * 13) % 90), tid))
        tid += 1
    for j in range(overdraws):
        rows.append((f"a{j % keymod}", f"a{(j + 1) % keymod}", 5000.0 + j, tid))
        tid += 1
    rows = [(a, b, x, t) for a, b, x, t in rows if a != b]
    batch = spark.createDataFrame(rows, "src string, dst string, amt double, _tid long")
    runner = env.runner(g)
    epochs = runner.run_to_completion(batch)
    votes = {}
    for e in epochs:
        for r in e.results.select("_tid", "vote").collect():
            if r["vote"] != "REPLAY" or r["_tid"] not in votes:
                votes[r["_tid"]] = r["vote"]
    bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    return votes, bal, len(epochs), runner


def _both_paths(spark, monkeypatch, **kw):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    on = _run_bank(spark, **kw)[:3]
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    off = _run_bank(spark, **kw)[:3]
    return on, off


def test_parity_pl3_contended(spark, monkeypatch):
    on, off = _both_paths(spark, monkeypatch, isolation="PL3", keymod=5, overdraws=6)
    assert on == off
    assert "ABORT" in on[0].values()  # the workload actually cascades


def test_parity_pl4_contended(spark, monkeypatch):
    on, off = _both_paths(spark, monkeypatch, isolation="PL4", keymod=3, overdraws=8)
    assert on == off


def test_parity_epoch_combine(spark, monkeypatch):
    on, off = _both_paths(
        spark, monkeypatch, epoch_combine=True, invariant=None, overdraws=0
    )
    assert on == off
    assert set(on[0].values()) == {"COMMIT"}


def test_parity_py_update_stage(spark, monkeypatch):
    """The Arrow/pandas chain path's python twins are reused verbatim by
    the driver fold — identical outcomes."""
    on, off = _both_paths(
        spark,
        monkeypatch,
        py_update=lambda v, rec: v + rec["delta"],
        invariant=None,
        py_invariant=lambda v: v >= 0,
        keymod=4,
        overdraws=5,
    )
    assert on == off
    assert "ABORT" in on[0].values()


@pytest.mark.parametrize(
    "update,invariant",
    [
        (lambda v: v + F.col("delta"), "value >= 0"),
        (lambda v: F.greatest(v + F.col("delta"), F.lit(-50.0)), "value >= -25"),
        (
            lambda v: F.when(F.col("delta") > 0, v + F.col("delta")).otherwise(
                v + F.col("delta") * F.lit(2)
            ),
            "value >= 0 AND value <= 10000",
        ),
        (lambda v: F.abs(v + F.col("delta")) - F.lit(1.0), None),
    ],
    ids=["add", "greatest", "case_when", "abs"],
)
def test_parity_expression_battery(spark, monkeypatch, update, invariant):
    """The compiled python twin must reproduce Catalyst's evaluation of
    the SAME rendered expression — checked end-to-end, values included."""
    on, off = _both_paths(
        spark, monkeypatch, update=update, invariant=invariant, keymod=4, overdraws=4
    )
    assert on == off


def test_parity_bigint_cast_truncation(spark, monkeypatch):
    """Integer value type: CAST(double AS BIGINT) truncates toward zero
    in both engines."""
    on, off = _both_paths(
        spark,
        monkeypatch,
        update=lambda v: v + F.col("delta") * F.lit(0.5),
        value_type="bigint",
        default=100,
        keymod=4,
        overdraws=3,
    )
    assert on == off


def test_unknown_function_falls_back_to_distributed(spark, monkeypatch):
    """A function outside the compiler whitelist (exp) must mark the
    graph ineligible and keep the distributed cascade — with the same
    results as the distributed close in 'reliable' mode."""
    upd = lambda v: v + F.col("delta") * F.exp(F.lit(0.0))  # noqa: E731
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    votes_on, bal_on, n_on, runner = _run_bank(spark, update=upd, overdraws=3)
    assert runner._dc_compiled is False  # compile tried once, ineligible
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    votes_off, bal_off, n_off, _ = _run_bank(spark, update=upd, overdraws=3)
    assert (votes_on, bal_on, n_on) == (votes_off, bal_off, n_off)


def test_parity_division_update(spark, monkeypatch):
    """Division is whitelisted with the session's ANSI semantics bound
    at compile: a decay-style update (v + delta) / 1.25 must agree with
    the distributed path exactly, including through cascade refolds."""
    upd = lambda v: (v + F.col("delta")) / F.lit(1.25)  # noqa: E731
    on, off = _both_paths(
        spark, monkeypatch, update=upd, invariant="value >= 0", keymod=4, overdraws=4
    )
    assert on == off
    assert "ABORT" in on[0].values()


def test_compiler_spark_semantics():
    """Unit checks on the fragment compiler: null propagation,
    three-valued logic, CASE, CAST truncation toward zero."""
    c = dcm.compile_fragment("`+`(acc.value, x.delta)", ["delta"])
    assert c(1.5, {"delta": 2.0}) == 3.5
    assert c(None, {"delta": 2.0}) is None
    assert c(1.5, {"delta": None}) is None

    inv = dcm.compile_fragment("value >= 0", [])
    assert inv(None, {}, 0.0) is True
    assert inv(None, {}, -1.0) is False
    assert inv(None, {}, None) is None  # null comparison -> unknown -> ABORT

    case = dcm.compile_fragment(
        "CASE WHEN `>`(x.d, 0) THEN `+`(acc.value, x.d) ELSE acc.value END", ["d"]
    )
    assert case(10.0, {"d": 5.0}) == 15.0
    assert case(10.0, {"d": -5.0}) == 10.0
    assert case(10.0, {"d": None}) == 10.0  # null condition -> ELSE

    cast = dcm.compile_fragment("CAST(`+`(acc.value, x.d) AS BIGINT)", ["d"])
    assert cast(10.0, {"d": -12.5}) == -2  # trunc toward zero, not floor
    assert dcm.CASTS["bigint"](-0.9) == 0

    three = dcm.compile_fragment("value >= 0 AND x.d < 100", ["d"])
    assert three(None, {"d": None}, -1.0) is False  # False AND null = False

    gr = dcm.compile_fragment("greatest(acc.value, x.d, 5)", ["d"])
    assert gr(1, {"d": None}) == 5  # greatest skips nulls


def test_compiler_rejects_non_whitelisted():
    for frag in (
        "exp(acc.value)",
        "pmod(acc.value, 2)",
        "`+`(acc.value, x.nope)",
        "CAST(acc.value AS STRING)",
    ):
        with pytest.raises(dcm.Ineligible):
            dcm.compile_fragment(frag, ["delta"])


def test_compiler_division_semantics():
    """Spark `/` is always double; `%` keeps the dividend's sign; zero
    divisors raise under ANSI and yield NULL otherwise."""
    div = dcm.compile_fragment("`/`(acc.value, x.d)", ["d"], ansi=True)
    assert div(7, {"d": 2}) == 3.5
    assert div(None, {"d": 2}) is None
    with pytest.raises(ArithmeticError):
        div(7, {"d": 0})
    div_na = dcm.compile_fragment("`/`(acc.value, x.d)", ["d"], ansi=False)
    assert div_na(7, {"d": 0}) is None

    mod = dcm.compile_fragment("`%`(acc.value, x.d)", ["d"], ansi=True)
    assert mod(-7.0, {"d": 2.0}) == -1.0  # dividend sign, not Python's +1
    assert mod(7, {"d": 3}) == 1


def test_parity_no_pre_combine_full_struct_sort(spark, monkeypatch):
    """Without a pre-combiner the chain sorts by the FULL element
    struct (tid, _path, value cols) — the subtlest ordering code in the
    driver twin.  A flat_map that emits TWO ops on the SAME key per txn
    exercises the _path tiebreak; the string account column exercises
    UTF-8-byte ordering."""

    def run():
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        g = (
            env.graph()
            .flat_map(
                lambda df: F.array(
                    F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                    # second half of the debit hits the SAME key -> two
                    # chain links per (tid, key), ordered by _path
                    F.struct(F.col("src").alias("account"), (-F.col("amt2")).alias("delta")),
                    F.struct(F.col("dst").alias("account"), (F.col("amt") + F.col("amt2")).alias("delta")),
                )
            )
            .state(
                "balances",
                key=lambda df: F.col("account"),
                update=lambda v: v + F.col("delta"),
            )
        )
        rows = []
        for i in range(40):
            rows.append((i, f"a{i % 5}", f"a{(i * 3 + 1) % 5}", float(10 + i % 25), float(i % 7)))
        rows.append((99, "a1", "a2", 4000.0, 1000.0))  # overdraw cascade food
        rows = [(t, a, b, x, y) for t, a, b, x, y in rows if a != b]
        batch = spark.createDataFrame(
            rows, "_tid long, src string, dst string, amt double, amt2 double"
        )
        runner = env.runner(g)
        res = runner.run_epoch(batch)
        votes = res.vote_counts()
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        return votes, bal, runner

    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    votes_on, bal_on, runner = run()
    assert isinstance(runner._dc_compiled, list)  # eligible, driver path ran
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    votes_off, bal_off, _ = run()
    assert (votes_on, bal_on) == (votes_off, bal_off)
    assert votes_on.get("ABORT", 0) >= 1


def test_parity_bigint_values_past_2_53(spark, monkeypatch):
    """Integer namespaces must keep EXACT int64 through the driver
    close's pandas round-trips: values past 2^53 round silently in
    float64, the classic Arrow null-union degrade."""
    big = (1 << 55) + 3

    def run():
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "bigint", big, invariant="value >= 0")
        g = (
            env.graph()
            .flat_map(
                lambda df: F.array(
                    F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                    F.struct(F.col("dst").alias("account"), F.col("amt").alias("delta")),
                )
            )
            .state(
                "balances",
                key=lambda df: F.col("account"),
                update=lambda v: v + F.col("delta"),
                pre_combine={"delta": "sum"},
            )
        )
        rows = [(i, f"a{i % 4}", f"a{(i + 1) % 4}", 1 + i % 5) for i in range(20)]
        rows.append((50, "a0", "a1", big * 4))  # overdraw -> cascade
        rows = [(t, a, b, x) for t, a, b, x in rows if a != b]
        batch = spark.createDataFrame(
            rows, "_tid long, src string, dst string, amt long"
        )
        runner = env.runner(g)
        res = runner.run_epoch(batch)
        votes = res.vote_counts()
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        return votes, bal

    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    on = run()
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    off = run()
    assert on == off
    # odd-offset exactness: a float64 round-trip would have flattened +3
    assert all(v % (1 << 10) != 0 for v in on[1].values() if v > (1 << 54))


def test_nan_record_values_fall_back(spark, monkeypatch):
    """A TRUE NaN record value is indistinguishable from SQL NULL after
    toPandas; the driver path must detect it (one Spark-side isnan
    probe) and fall back to the distributed close, which handles NaN
    natively — identical results either way."""

    def run():
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        g = (
            env.graph()
            .flat_map(
                lambda df: F.array(
                    F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                    F.struct(F.col("dst").alias("account"), F.col("amt").alias("delta")),
                )
            )
            .state(
                "balances",
                key=lambda df: F.col("account"),
                update=lambda v: v + F.col("delta"),
                pre_combine={"delta": "sum"},
            )
        )
        rows = [(i, f"a{i % 4}", f"a{(i + 1) % 4}", float(5 + i)) for i in range(10)]
        rows.append((40, "a0", "a1", float("nan")))
        rows.append((41, "a2", "a3", 5000.0))  # overdraw -> cascade needed
        batch = spark.createDataFrame(
            rows, "_tid long, src string, dst string, amt double"
        )
        runner = env.runner(g)
        res = runner.run_epoch(batch)
        votes = {r["_tid"]: r["vote"] for r in res.results.select("_tid", "vote").collect()}
        bal = {
            r["key"]: (None if r["value"] is None else r["value"])
            for r in env.store.read("balances").collect()
        }
        return votes, bal

    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    on = run()
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    off = run()
    v_on, b_on = on
    v_off, b_off = off
    assert v_on == v_off
    # NaN != NaN, so compare balances with NaN-aware equality
    assert set(b_on) == set(b_off)
    import math as _m

    for k in b_on:
        a, b = b_on[k], b_off[k]
        assert (a == b) or (
            isinstance(a, float) and isinstance(b, float) and _m.isnan(a) and _m.isnan(b)
        ), (k, a, b)


def test_null_record_values_stay_on_driver_path(spark, monkeypatch):
    """SQL NULL record values (no true NaN) keep the driver path: a
    NULL candidate fails the invariant (unknown -> ABORT) identically
    in both engines."""

    def run(mode):
        monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        g = (
            env.graph()
            .flat_map(
                lambda df: F.array(
                    F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                    F.struct(F.col("dst").alias("account"), F.col("amt").alias("delta")),
                )
            )
            .state(
                "balances",
                key=lambda df: F.col("account"),
                update=lambda v: v + F.col("delta"),
                pre_combine={"delta": "sum"},
            )
        )
        rows = [(i, f"a{i % 4}", f"a{(i + 1) % 4}", float(5 + i)) for i in range(10)]
        rows.append((40, "a0", "a1", None))  # NULL amount -> NULL delta -> ABORT
        rows.append((41, "a2", "a3", 5000.0))  # overdraw -> cascade runs
        batch = spark.createDataFrame(
            rows, "_tid long, src string, dst string, amt double"
        )
        runner = env.runner(g)
        res = runner.run_epoch(batch)
        votes = {r["_tid"]: r["vote"] for r in res.results.select("_tid", "vote").collect()}
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        return votes, bal, runner

    v_on, b_on, runner = run("pandas")
    assert isinstance(runner._dc_compiled, list)  # still eligible
    assert v_on[40] == "ABORT"
    v_off, b_off, _ = run("reliable")
    assert (v_on, b_on) == (v_off, b_off)


def test_array_value_column_falls_back(spark, monkeypatch):
    """A chain stage WITHOUT pre_combine sorts by the full element
    struct; an array-typed record column is not driver-sortable, so the
    compile gate must mark the graph ineligible and the distributed
    path must produce the (identical) answer."""
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")

    def run():
        env = TxEnvironment(spark, isolation="PL3")
        env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
        g = env.graph().state(
            "balances",
            key=lambda df: F.col("account"),
            update=lambda v: v + F.col("delta"),
        )
        rows = [(i, f"a{i % 3}", float(10 + i), [f"t{i}"]) for i in range(12)]
        rows.append((50, "a0", -5000.0, ["over"]))  # overdraw -> abort
        batch = spark.createDataFrame(
            rows, "_tid long, account string, delta double, tags array<string>"
        )
        runner = env.runner(g)
        res = runner.run_epoch(batch)
        votes = res.vote_counts()
        bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
        return votes, bal, runner

    votes_on, bal_on, runner = run()
    assert runner._dc_compiled is False  # ineligible, distributed path ran
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    votes_off, bal_off, _ = run()
    assert (votes_on, bal_on) == (votes_off, bal_off)
    assert votes_on.get("ABORT", 0) == 1


def test_driver_close_engages_on_bank_graph(spark, monkeypatch):
    """Guard against silent fallback: the canonical bank graph must
    actually compile and take the driver path in pandas mode."""
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    _votes, _bal, _n, runner = _run_bank(spark, overdraws=2)
    assert isinstance(runner._dc_compiled, list) and runner._dc_compiled
