"""Cluster-mode epoch materialization: TSPOON_MATERIALIZE=reliable cuts
control-frame lineage with distributed rdd.checkpoint instead of the
default Arrow-to-driver round-trip — the escape hatch for epochs whose
vote frames exceed driver memory (SCALING.md "control plane").

These tests pin result identity across modes on a multi-epoch workload
with aborts, cascades, and replays, so the documented cluster default is
exercised, not just asserted.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from t_spoon_spark.tx import TxEnvironment
from t_spoon_spark.tx import runner as runner_mod


def _bank(spark, isolation="PL3"):
    env = TxEnvironment(spark, isolation=isolation)
    env.create_namespace(
        "balances", "double", 100.0, "value >= 0", py_invariant=lambda v: v >= 0
    )
    g = (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(F.col("src").alias("account"), (-F.col("amt")).alias("delta")),
                F.struct(F.col("dst").alias("account"), F.col("amt").alias("delta")),
            )
        )
        .state("balances", key=lambda df: F.col("account"), update=lambda v: v + F.col("delta"))
    )
    return env, g


def _workload(spark):
    rows = []
    tid = 0
    for i in range(30):
        rows.append((f"a{i % 7}", f"a{(i * 3 + 1) % 7}", float(10 + i % 40), tid))
        tid += 1
    rows.append(("a0", "a1", 1000.0, tid))  # overdraw: abort + cascade food
    rows = [(a, b, x, t) for a, b, x, t in rows if a != b]
    return spark.createDataFrame(rows, "src string, dst string, amt double, _tid long")


def _run(spark, mode: str, monkeypatch):
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", mode)
    env, g = _bank(spark)
    runner = env.runner(g)
    epochs = runner.run_to_completion(_workload(spark))
    votes: dict[int, str] = {}
    for e in epochs:
        for r in e.results.select("_tid", "vote").collect():
            if r["vote"] != "REPLAY" or r["_tid"] not in votes:
                votes[r["_tid"]] = r["vote"]
    bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    return votes, bal, len(epochs)


def test_reliable_mode_matches_pandas(spark, monkeypatch):
    """Identical votes and final balances in both materialize modes —
    the cluster path (reliable) is result-equivalent to the local
    default (pandas)."""
    votes_p, bal_p, n_p = _run(spark, "pandas", monkeypatch)
    votes_r, bal_r, n_r = _run(spark, "reliable", monkeypatch)
    assert votes_r == votes_p
    assert bal_r == bal_p
    assert n_r == n_p


def test_reliable_mode_multi_epoch_stream(spark, monkeypatch, tmp_path):
    """reliable mode through the streaming runner: several micro-batch
    epochs, checkpointed control frames each epoch, exact final state."""
    from tests.test_streaming import SCHEMA, _bank_graph, _write_batches
    from t_spoon_spark.streaming import StreamRunner

    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    stream_dir = _write_batches(spark, str(tmp_path))
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace(
        "balances", "double", 100.0, "value >= 0", py_invariant=lambda v: v >= 0
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(stream_dir)
    sr = StreamRunner(env, _bank_graph(env))
    metrics = sr.process_all(stream)
    assert metrics.total_results >= 4
    bal = {r["key"]: r["value"] for r in env.store.read("balances").collect()}
    assert bal == {"a1": 70.0, "a2": 80.0, "a3": 90.0, "a4": 160.0}


def test_default_mode_keyed_off_master(spark, monkeypatch):
    """With no explicit TSPOON_MATERIALIZE the mode is auto-selected:
    pandas on local[*], reliable on any cluster master — a cluster
    session never drives epoch control frames through toPandas() unless
    explicitly opted in."""
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", None)
    assert runner_mod.materialize_mode(spark) == "pandas"  # local[N]

    class _SC:
        master = "spark://host:7077"

    class _Cluster:
        sparkContext = _SC()

    assert runner_mod.materialize_mode(_Cluster()) == "reliable"
    _SC.master = "yarn"
    assert runner_mod.materialize_mode(_Cluster()) == "reliable"
    _SC.master = "k8s://https://host:6443"
    assert runner_mod.materialize_mode(_Cluster()) == "reliable"

    # explicit env override beats auto-selection in both directions
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "pandas")
    assert runner_mod.materialize_mode(_Cluster()) == "pandas"
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "reliable")
    assert runner_mod.materialize_mode(spark) == "reliable"

    # exactly two modes: anything else is refused
    monkeypatch.setattr(runner_mod, "_MATERIALIZE", "ckpt")
    with pytest.raises(ValueError):
        runner_mod.materialize_mode(spark)

