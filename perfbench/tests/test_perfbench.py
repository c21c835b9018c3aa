"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import types
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


NAMED = {
    "bank_steady": {"txn_tps", "commit_p50_ms", "commit_p90_ms"},
    "bank_contended": {"txn_tps", "commit_p50_ms", "commit_p90_ms"},
    "serve_durable": {"txn_tps", "query_qps", "query_p50_ms", "query_p90_ms"},
    "analytics": {"analytics_s"},
}


def run_bench(workload: str, trace: int = 0) -> tuple[dict, list[str]]:
    """(the result line, the ``#`` lines before it) of a tiny run."""
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert all(line.startswith("#") for line in lines[:-1])
    return json.loads(lines[-1]), lines[:-1]


# bank_steady is runnable but not in BENCHMARK.json (README.md, "Time budget")
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_output_schema(workload):
    r, comments = run_bench(workload)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())
    named = json.loads(next(c for c in comments if c.startswith("# metrics "))[len("# metrics "):])
    assert set(named) == NAMED[workload] | {"setup_s", "peak_rss_mb"}
    assert all(v["value"] > 0 and v["unit"] for v in named.values())


def test_traced_run_reports_every_layer_metric():
    r, _ = run_bench("bank_contended", trace=1)
    assert r["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["tx.runner.epochs"] >= 1 and m["tx.runner.jobs_per_epoch"] >= 1
    assert m["tx.driver_cascade.commit_ratio"] < 0.5
    assert m["serve.requests"] == 0 and m["queries.q1_pricing_summary.wall_ms"] == 0


def committed_tid(t: gen.Transfers, hi: int) -> int:
    """A tid whose transfer commits in the serial fold."""
    bal = np.full(t.n_accounts, gen.START_BALANCE)
    for i in range(hi):
        if bal[t.src[i]] - t.amount[i] >= 0:
            return i
    raise AssertionError("no committed transfer")


def test_corrupted_reference_fails_the_gate():
    t = gen.zipf_transfers(np.random.default_rng(0), 400, 50, 200, 1.3, 100)
    ref, commits, _ = gen.serial_fold(t, len(t))
    names = gen.account_names(np.arange(t.n_accounts))
    engine = {n: v for n, v in zip(names, ref) if v != gen.START_BALANCE}
    assert workloads.check_balances(t, len(t), engine, commits) == (0, [])

    i = committed_tid(t, len(t))
    amount = t.amount.copy()
    amount[i] += 1.0  # one flipped amount in the reference
    bad = gen.Transfers(t.src, t.dst, amount, t.n_accounts)
    failed, reasons = workloads.check_balances(bad, len(t), engine, commits)
    assert failed > 0 and reasons


def test_wrong_query_answer_fails_the_gate():
    t = gen.uniform_transfers(np.random.default_rng(1), 300, 40, 10)
    hi_at = {0: 100, 1: 300}
    _, _, snaps = gen.serial_fold(t, 300, [100, 300])
    names = list(gen.account_names(np.arange(t.n_accounts)))
    keys = names[:5]
    rows = [[k, float(snaps[300][names.index(k)])] for k in keys]
    good = ({"op": "keys", "keys": keys}, 0.0, {"ok": True, "epoch": 1, "rows": rows})
    assert workloads.check_responses(t, hi_at, [good]) == 0
    wrong = [list(r) for r in rows]
    wrong[0][1] += 1.0
    bad = ({"op": "keys", "keys": keys}, 0.0, {"ok": True, "epoch": 1, "rows": wrong})
    stale = ({"op": "keys", "keys": keys}, 0.0, {"ok": True, "epoch": 0, "rows": rows})
    assert workloads.check_responses(t, hi_at, [good, bad, stale]) == 2


def test_embeddings_avoid_fixed_point_ties():
    # 0.0005 * 1000 and 0.5 / 254 * 254 sit on ties; 0.3 sits on none
    v = np.array([[0.0005, 0.5 / 254, 0.3]], dtype=np.float32)
    out = gen.off_ties(v)
    assert out[0, 2] == v[0, 2]
    for scale in gen.FIXED_POINT_SCALES:
        x = out.astype(np.float64) * scale
        assert np.all(np.abs(x % 1.0 - 0.5) >= gen.TIE_MARGIN)
        assert np.array_equal(np.floor(x + 0.5), np.floor((out * np.float32(scale)).astype(np.float32) + 0.5))


class _StubContext:
    def setJobGroup(self, *_args):
        pass

    def setLocalProperty(self, *_args):
        pass


def test_on_return_runs_outside_every_span():
    tracer = tracing.Tracer(types.SimpleNamespace(sparkContext=_StubContext()))

    class Layer:
        def inner(self):
            return 1

        def outer(self):
            return self.inner()

    seen = []
    tracer.wrap(Layer, "inner", "inner", lambda sp, _args, out: (time.sleep(0.05), seen.append(out)))
    tracer.wrap(Layer, "outer", "outer")
    try:
        assert Layer().outer() == 1
    finally:
        tracer.unwrap_all()
    spans = {s.name: s for s in tracer.spans}
    assert seen == [1] and spans["inner"].parent == spans["outer"].id
    assert spans["outer"].ms < 40 and tracer.bookkeeping_s >= 0.05


def test_union_of_intervals():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_s([]) == 0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from t_spoon_spark.session import build_spark

    session = build_spark(app_name="perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_status_store_reader_sees_jobs_and_cpu(spark):
    tracer = tracing.Tracer(spark)
    with tracer.span("trivial") as sp:
        spark.range(200_000).selectExpr("id % 13 AS k").groupBy("k").count().collect()
    tree = tracing.Tree(tracer.spans, tracing.spark_jobs(spark.sparkContext))
    jobs = tree.jobs(sp)
    assert len(jobs) >= 1
    assert sum(j.tasks for j in jobs) >= 1
    assert sum(j.cpu_ms for j in jobs) > 0
    assert sum(j.shuffle_write_bytes for j in jobs) > 0
