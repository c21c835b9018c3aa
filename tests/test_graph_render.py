"""The runner renders the pre-state stages to SQL once per batch schema
(graph.render_graph) and builds each epoch's state ops and stream from
that text.  For each graph the rendered ops (every column, and the ops
fold's projection) and stream equal the apply_* walk in rows and
schema; for the map/flat_map/filter graph the votes, final state and
stream of its first epoch also equal the distributed close's
(``reliable``).  Stages the renderer cannot express keep the walk, and
the runner records why."""

from __future__ import annotations

import math

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType

import t_spoon_spark.tx.runner as runner_mod
from t_spoon_spark.tx import TxEnvironment
from t_spoon_spark.tx import graph as G

SCHEMA = "_tid long, from_account string, to_account string, amount double"
E1 = [(1, "a", "b", 10.0), (2, "b", "c", 5.0), (3, "c", "a", 0.0)]
E2 = [(4, "a", "b", 20.0), (5, "c", "d", 300.0), (6, "a", "d", 60.0), (7, "a", "d", 60.0)]


def _transfer(df):
    return F.array(
        F.struct(F.col("from_account").alias("account"), (-F.col("amount")).alias("delta")),
        F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
    )


def _balances(g, key=lambda df: F.col("account")):
    return g.state(
        "acct", key=key, update=lambda v: v + F.col("delta"), pre_combine={"delta": "sum"}
    )


def _mapped(env):
    # map -> flat_map -> filter -> state
    return _balances(
        env.graph()
        .map(lambda df: {
            "from_account": F.col("to_account"),
            "to_account": F.col("from_account"),
            "amount": F.col("amount") * 2,
        })
        .flat_map(_transfer)
        .filter(lambda df: F.col("delta") != 0)
    )


def _split(env):
    # a data-dependent flat_map: one debit per listed account
    return _balances(
        env.graph()
        .map(lambda df: {
            "account": F.split(F.concat_ws(" ", "from_account", "to_account"), " "),
            "delta": F.array_repeat(-F.col("amount"), 2),
        })
        .flat_map(lambda df: F.arrays_zip(F.col("account"), F.col("delta")))
    )


def _df_col_key(env):
    return _balances(env.graph().flat_map(_transfer), key=lambda df: df["account"])


def _two_states(env):
    return (
        _balances(env.graph().flat_map(_transfer))
        .map(lambda df: {"account": F.col("account"), "one": F.lit(1.0)})
        .state("touches", key=lambda df: F.col("account"),
               update=lambda v: v + F.col("one"), pre_combine={"one": "sum"})
    )


def _udf_map(env):
    def abs(x):  # noqa: A001 — a Python UDF named like a SQL built-in
        return None if x is None else x * 3

    udf = F.udf(abs, DoubleType())
    return _balances(
        env.graph()
        .map(lambda df: {
            "from_account": F.col("from_account"),
            "to_account": F.col("to_account"),
            "amount": udf(F.col("amount")),
        })
        .flat_map(_transfer)
    )


def _window_key_by(env):
    return _balances(
        env.graph()
        .key_by(lambda df: F.col("from_account"))
        .flat_map(_transfer)
        .t_window(lambda items: {
            "account": F.element_at(items, 1).getField("account"),
            "delta": F.element_at(items, 1).getField("delta"),
        })
    )


def _norm(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else v


def _rows(df, order):
    return sorted(
        (tuple(_norm(x) if not isinstance(x, list) else tuple(x) for x in r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t[:order]),
    )


def _run(spark, monkeypatch, mode, build, batches):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("acct", "double", 100.0, invariant="value >= 0")
    env.create_namespace("touches", "double", 0.0)
    runner = env.runner(build(env))
    seen = []
    for rows in batches:
        res = runner.run_epoch(spark.createDataFrame(rows, SCHEMA))
        votes = {r["_tid"]: r["vote"] for r in res.votes.collect()}
        state = {
            ns: {r["key"]: _norm(r["value"]) for r in env.store.read(ns).collect()}
            for ns in ("acct", "touches")
        }
        seen.append((votes, state, _rows(res.stream, 4), res))
    return runner, seen


def _assert_render_parity(spark, runner, rows):
    """Rendered ops (full and the ops fold's projection) and stream equal
    the walk's, rows and schema."""
    (plan,) = runner._rendered.values()
    src = spark.createDataFrame(rows, SCHEMA)
    walked = runner._walk(src)
    ep = G.RenderedEpoch(plan, src)
    for n, (i, stage) in enumerate(runner._state_stages()):
        want = runner._walk_ops(walked[i], stage)
        got = ep.ops(n)
        assert got.schema == want.schema
        assert _rows(got, 4) == _rows(want, 4)
        narrow = list(stage.pre_combine)
        assert _rows(ep.ops(n, narrow), 3) == _rows(want.select("_tid", "__key", *narrow), 3)
    assert ep.stream().schema == walked[-1].schema
    assert _rows(ep.stream(), 4) == _rows(walked[-1], 4)


@pytest.mark.parametrize(
    "build, second, vs_distributed",
    [
        # a filter or a data-dependent flat_map can leave a txn without
        # a link, and the ops fold needs the links to cover the tids
        (_mapped, "evaluated_pull", True),
        (_split, "evaluated_pull", False),
        (_df_col_key, "ops_fold", False),
        (_two_states, "ops_fold", False),
    ],
    ids=["map_flat_map_filter", "split", "df_col_key", "two_states"],
)
def test_rendered_graph_matches_walk(spark, monkeypatch, build, second, vs_distributed):
    runner, got = _run(spark, monkeypatch, "pandas", build, [E1, E2])
    assert runner._render_ineligible is None
    assert [r.close_path for *_, r in got] == ["evaluated_pull", second]
    _assert_render_parity(spark, runner, E2)
    # votes, state and stream against the distributed close (the slow
    # one: one epoch of one graph covers it)
    if vs_distributed:
        _, want = _run(spark, monkeypatch, "reliable", build, [E1])
        assert got[0][:3] == want[0][:3]


@pytest.mark.parametrize(
    "build, reason, second",
    [(_udf_map, "PythonUDF", "ops_fold"), (_window_key_by, "KeyByStage", "evaluated_pull")],
    ids=["python_udf", "t_window_key_by"],
)
def test_unrenderable_stage_keeps_the_walk(spark, monkeypatch, build, reason, second):
    runner, got = _run(spark, monkeypatch, "pandas", build, [E1, E2])
    assert reason in runner._render_ineligible
    assert list(runner._rendered.values()) == [None]
    # the refusal is about how the ops are built, not how the epoch closes
    assert [r.close_path for *_, r in got] == ["evaluated_pull", second]
    assert all(r.close_fallback is None for *_, r in got)
    # the UDF ran (amounts x3): a built-in abs() would have left 10.0
    if build is _udf_map:
        assert got[0][1]["acct"]["a"] == 70.0


def test_t_window_alone_is_refused(spark):
    env = TxEnvironment(spark, isolation="PL3")
    g = _window_key_by(env)
    g = G.TGraph([s for s in g.stages if not isinstance(s, G.KeyByStage)])
    src = spark.createDataFrame(E1, SCHEMA)
    walked = env.runner(g)._walk(src)
    with pytest.raises(G.CannotRender, match="TWindowStage"):
        G.render_graph(spark, g, walked, src.columns)


def test_null_key_and_nan_record_take_the_retry(spark, monkeypatch):
    null_key = [(8, None, "b", 1.0), (9, "b", "c", 2.0)]
    nan_rec = [(10, "a", "b", float("nan")), (11, "b", "c", 2.0)]
    runner, got = _run(spark, monkeypatch, "pandas", _df_col_key, [E1, null_key, nan_rec])
    assert runner._render_ineligible is None
    paths = [(r.close_path, (r.close_fallback or "")[:14]) for *_, r in got]
    assert paths == [
        ("evaluated_pull", ""),
        ("evaluated_pull", "ops-fold retry"),
        ("distributed", "ops-fold retry"),
    ]
    assert got[2][1]["acct"]["b"] == "nan"
