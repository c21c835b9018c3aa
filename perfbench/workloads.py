"""The four workloads.  Each drives the engine through its public API
only (``TxEnvironment``, ``GraphRunner.run_epoch``, ``StateService`` /
``query_client`` and the registry's ``spark_fn``s), measures for the
requested window, then checks every output against a reference outside
the timed region.

A workload returns an :class:`Outcome`.  Its ``ops`` are transactions
(``bank_*``), query requests (``serve_durable``) or passes over the 18
entries (``analytics``); ``op_p50_ms`` and ``op_p90_ms`` are defined
on them.  ``attempted`` and ``failed`` count single entry runs for
``analytics``.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing

# The 18 analytics entries timed by the repo's headline bench, copied so
# the benchmark does not depend on that harness.
ANALYTICS_ENTRIES = (
    "q1_pricing_summary",
    "q3_segment_top_orders",
    "q5_region_revenue",
    "q6_revenue_filter",
    "q10_returned_items",
    "outer_join_order_counts",
    "window_top3_orders_per_customer",
    "rollup_nation_status_revenue",
    "pivot_event_type_values",
    "asof_join_purchase_last_click",
    "sessionization_user_stats",
    "w2_sliding_topk_users",
    "dedup_minhash_lsh",
    "dedup_clusters_connected",
    "similarity_lsh_topk",
    "similarity_sq8_topk",
    "dedup_boilerplate_fraction",
    "text_quality_scores",
)

SETUP_REPEATS = 3
# The first epoch in a fresh JVM takes 1.5-8 s (class loading, codegen),
# and on a busy host the next ~7 still run ~30% slower while the JIT
# compiles; the window opens after them.
BANK_WARM_EPOCHS = 8


@dataclass
class BankShape:
    isolation: str
    n_accounts: int
    max_amount: int
    rate: int  # txns created per second by the open-loop source
    trigger_s: float  # processing-time trigger interval
    zipf: float | None = None  # sender skew; None = uniform


# Sizes: on a 4-core box a 10k-txn PL3 epoch over 100k accounts and a
# 4k-txn contended PL4 epoch each take ~0.45 s, so both rates keep the
# 1 s trigger on time even when a busy host slows the run by 1.8x
# (README.md, "Sizing").
SHAPES = {
    "full": {
        "bank_steady": BankShape("PL3", 100_000, 10, 10_000, 1.0),
        "bank_contended": BankShape("PL4", 1_000, 200, 4_000, 1.0, zipf=1.3),
    },
    "tiny": {
        "bank_steady": BankShape("PL3", 2_000, 10, 1_000, 1.0),
        "bank_contended": BankShape("PL4", 200, 200, 500, 1.0, zipf=1.3),
    },
}
# serve_durable: accounts, txns per writer epoch, checkpoint_every
# (= compaction cycle length in epochs) and max_epochs retention
SERVE = {"full": (10_000, 1_000, 2, 2), "tiny": (500, 100, 2, 2)}
# The window runs whole compaction cycles until it has lasted the
# requested seconds, covered SERVE_MIN_CYCLES cycles and completed
# SERVE_MIN_REQUESTS requests.  A request takes ~0.2 s beside the first
# epoch of a cycle and up to ~1 s beside the compacting one, so the p50
# falls between two modes and holds still from run to run only on
# enough samples: over ~40 requests it spread by 0.24 of its median
# across ten seeds, over 60-70 by 0.08.  SERVE_MAX_CYCLES bounds the run
# on a slow box.
SERVE_MIN_CYCLES = 2
SERVE_MIN_REQUESTS = {"full": 60, "tiny": 1}
SERVE_MAX_CYCLES = 6
ANALYTICS_SF = {"full": 0.01, "tiny": 0.001}
PREDICATE_MIN = 110.0
PREDICATE = f"value > {PREDICATE_MIN:g}"
PREDICATE_LIMIT = 20


# Units of the per-workload end-to-end metrics.  Each workload reports
# the ones that apply to it beside the shared ``ops_*`` metrics.
NAMED_UNITS = {
    "txn_tps": "1/s",
    "commit_p50_ms": "ms",
    "commit_p90_ms": "ms",
    "query_qps": "1/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "analytics_s": "s",
}


@dataclass
class Outcome:
    attempted: int
    failed: int
    op_p50_ms: float
    op_p90_ms: float
    gen_s: float
    warm_s: float
    checks: list = field(default_factory=list)  # human-readable failures
    # the workload's own end-to-end metrics under the names of NAMED_UNITS
    named: dict = field(default_factory=dict)
    # what the traced run's per-layer metrics need: measured epochs, the
    # window, the store root, client round trips
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    scale: str
    workdir: str
    tracer: tracing.Tracer | None


@dataclass
class EpochRec:
    epoch: int
    ret: float
    wall_s: float
    txns: int
    decided: int
    commits: int
    aborts: int
    lock_wait_s: float
    late_s: float = 0.0
    backlog: int = 0


def bank_graph(env):
    """The bank-transfer graph: each txn debits ``from_account`` and
    credits ``to_account`` in one state stage whose invariant keeps
    balances non-negative."""
    from pyspark.sql import functions as F

    return (
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
            epoch_combine=False,
        )
    )


def bank_env(spark, isolation: str, **store):
    from t_spoon_spark.tx import TxEnvironment

    env = TxEnvironment(spark, isolation=isolation, **store)
    env.create_namespace("balances", "double", gen.START_BALANCE, invariant="value >= 0")
    return env, env.runner(bank_graph(env))


def run_epoch(runner, batch, epoch_recs: list, txns: int = 0, **rec) -> object:
    """``runner.run_epoch(batch)``, recording the epoch in ``epoch_recs``."""
    t = time.time()
    res = runner.run_epoch(batch)
    ret = time.time()
    votes = res.vote_counts()
    commits, aborts = votes.get("COMMIT", 0), votes.get("ABORT", 0)
    epoch_recs.append(
        EpochRec(
            epoch=res.epoch,
            ret=ret,
            wall_s=ret - t,
            txns=txns,
            decided=commits + aborts,
            commits=commits,
            aborts=aborts,
            lock_wait_s=getattr(runner, "last_lock_wait_s", 0.0),
            **rec,
        )
    )
    return res


def replayed_tids(res) -> np.ndarray:
    if not res.n_replay:
        return np.empty(0, dtype=np.int64)
    from t_spoon_spark.tx.vote import REPLAY

    v = res.votes.toPandas()
    return v.loc[v["vote"] == REPLAY, "_tid"].to_numpy()


def decided_per_s(recs: list[EpochRec]) -> float:
    """Txns decided per second of ``run_epoch`` wall, over all ``recs``."""
    return sum(r.decided for r in recs) / sum(r.wall_s for r in recs)


def percentile_ms(lat_s: np.ndarray, q: float) -> float:
    return float(np.percentile(lat_s, q)) * 1000.0


def slice_frames(spark, t: gen.Transfers, n: int) -> list:
    """One Spark frame per ``n`` consecutive tids."""
    return [spark.createDataFrame(t.frame(lo, lo + n)) for lo in range(0, len(t), n)]


def timed_median(fn) -> tuple[float, object]:
    """Run ``fn`` SETUP_REPEATS times; (median seconds, last result)."""
    times, out = [], None
    for _ in range(SETUP_REPEATS):
        t = time.time()
        out = fn()
        times.append(time.time() - t)
    return statistics.median(times), out


# -- correctness ---------------------------------------------------------------


def check_balances(t: gen.Transfers, hi: int, engine: dict, engine_commits: int) -> tuple[int, list[str]]:
    """Compare the engine's final ``{account: balance}`` with the serial
    tid-order fold of tids ``[0, hi)``.  Returns (failed txns, reasons):
    every txn that touched a mismatched account counts as failed, plus
    the difference in commit counts."""
    ref, ref_commits, _ = gen.serial_fold(t, hi)
    names = gen.account_names(np.arange(t.n_accounts))
    got = np.array([engine.get(n, gen.START_BALANCE) for n in names])
    bad = np.flatnonzero(got != ref)
    reasons = []
    failed = 0
    if len(bad):
        touched = np.isin(t.src[:hi], bad) | np.isin(t.dst[:hi], bad)
        failed += max(1, int(touched.sum()))
        reasons.append(f"{len(bad)} balances differ from the serial fold (first {names[bad[0]]})")
    if engine_commits != ref_commits:
        failed += abs(engine_commits - ref_commits)
        reasons.append(f"commits {engine_commits} != serial fold {ref_commits}")
    if got.sum() != t.n_accounts * gen.START_BALANCE:
        failed = max(failed, 1)
        reasons.append("money not conserved")
    return min(failed, hi), reasons


def store_balances(env) -> dict:
    pdf = env.store.read("balances").toPandas()
    return dict(zip(pdf["key"], pdf["value"]))


# -- bank_steady / bank_contended ---------------------------------------------


def bank(ctx: Ctx, name: str) -> Outcome:
    shape = SHAPES[ctx.scale][name]
    spark = ctx.spark
    slice_n = int(shape.rate * shape.trigger_s)
    warm_epochs = BANK_WARM_EPOCHS
    n_slices = int(ctx.seconds / shape.trigger_s) + 1
    n_txns = slice_n * (warm_epochs + n_slices)

    def source():
        rng = np.random.default_rng(ctx.seed)
        if shape.zipf:
            return gen.zipf_transfers(rng, n_txns, shape.n_accounts, shape.max_amount, shape.zipf, slice_n)
        return gen.uniform_transfers(rng, n_txns, shape.n_accounts, shape.max_amount)

    gen_s, transfers = timed_median(source)
    t = time.time()
    # pre-sliced per trigger interval: building a batch costs nothing
    # inside the window
    frames = slice_frames(spark, transfers, slice_n)
    gen_s += time.time() - t

    t = time.time()
    env, runner = bank_env(spark, shape.isolation)
    recs: list[EpochRec] = []
    for k in range(warm_epochs):
        run_epoch(runner, frames[k], recs, txns=slice_n)
    warm_s = time.time() - t

    window = frames[warm_epochs:]
    first_tid = warm_epochs * slice_n
    n_warm_recs = len(recs)
    lat: list[np.ndarray] = []
    pending_tid = np.empty(0, dtype=np.int64)
    T = shape.trigger_s
    t0 = time.time()

    def settle(res, tids: np.ndarray) -> None:
        """Record the latency of every txn ``res`` decided; keep the
        replayed ones pending."""
        nonlocal pending_tid
        live = np.concatenate([pending_tid, tids])
        replay = np.isin(live, replayed_tids(res))
        pending_tid = live[replay]
        # txn j of the window is created at t0 + j / rate
        lat.append(recs[-1].ret - (t0 + (live[~replay] - first_tid) / shape.rate))

    nominal, handed, res = t0 + T, 0, None
    while nominal - t0 <= ctx.seconds + 1e-6:
        now = time.time()
        if now < nominal:
            time.sleep(nominal - now)
        fire = time.time()
        avail = min(int((fire - t0) / T + 1e-9), len(window))
        if avail > handed:
            batch = functools.reduce(lambda a, b: a.unionByName(b), window[handed:avail])
            tids = np.arange(first_tid + handed * slice_n, first_tid + avail * slice_n)
            res = run_epoch(
                runner,
                batch,
                recs,
                txns=len(tids),
                late_s=fire - nominal,
                backlog=len(tids) - slice_n,
            )
            settle(res, tids)
            handed = avail
        nominal = t0 + (math.floor((fire - t0) / T + 1e-9) + 1) * T
    measured = recs[n_warm_recs:]
    t_end = recs[-1].ret if measured else time.time()
    nominal_recs = [r for r in measured if r.backlog == 0] or measured
    while res is not None and res.n_replay:  # decide what is still pending
        res = run_epoch(runner, None, recs)
        settle(res, np.empty(0, dtype=np.int64))

    # correctness, untimed
    hi = first_tid + handed * slice_n
    failed, reasons = check_balances(transfers, hi, store_balances(env), sum(r.commits for r in recs))
    lat_s = np.concatenate(lat) if lat else np.array([0.0])
    out = Outcome(
        attempted=hi - first_tid,
        failed=failed,
        op_p50_ms=percentile_ms(lat_s, 50),
        op_p90_ms=percentile_ms(lat_s, 90),
        gen_s=gen_s,
        warm_s=warm_s,
        checks=reasons,
    )
    out.named = {
        # over the epochs that carried one trigger's slice (an epoch that
        # carried a backlog is larger, so its rate is not the capacity at
        # the workload's epoch size)
        "txn_tps": decided_per_s(nominal_recs),
        "commit_p50_ms": out.op_p50_ms,
        "commit_p90_ms": out.op_p90_ms,
    }
    # the traced window ends with the last window epoch, so the span- and
    # record-based per-epoch metrics cover the same epochs
    out.detail = {"epochs": measured, "window": (t0, t_end), "store_root": env.store.root}
    return out


# -- serve_durable ---------------------------------------------------------------


def serve_durable(ctx: Ctx) -> Outcome:
    from t_spoon_spark.serve import StateService, query_client

    n_accounts, per_epoch, cycle, retain = SERVE[ctx.scale]
    spark = ctx.spark
    warm_epochs = 1  # epoch 0 writes the first compacted base
    n_epochs = warm_epochs + cycle * SERVE_MAX_CYCLES

    gen_s, transfers = timed_median(
        lambda: gen.uniform_transfers(np.random.default_rng(ctx.seed), n_epochs * per_epoch, n_accounts, 10)
    )
    t = time.time()
    frames = slice_frames(spark, transfers, per_epoch)
    gen_s += time.time() - t

    t = time.time()
    env, runner = bank_env(
        spark,
        "PL3",
        durable=True,
        store_dir=os.path.join(ctx.workdir, "store"),
        checkpoint_every=cycle,
        max_epochs=retain,
    )
    recs: list[EpochRec] = []
    hi_at: dict[int, int] = {}
    for k in range(warm_epochs):
        res = run_epoch(runner, frames[k], recs, txns=per_epoch)
        hi_at[res.epoch] = (k + 1) * per_epoch
    svc = StateService(env).serve()
    call = query_client(*svc.address)
    # one unmeasured request of each kind plans and compiles their filters
    call({"op": "keys", "ns": "balances", "keys": ["a0"]})
    call({"op": "predicate", "ns": "balances", "predicate": PREDICATE, "limit": PREDICATE_LIMIT})
    warm_s = time.time() - t

    stop = threading.Event()
    sent: list[tuple[dict, float, dict]] = []
    rng = np.random.default_rng(ctx.seed + 1)

    def client():
        i = 0
        while not stop.is_set():
            i += 1
            if i % 5 == 0:
                req = {"op": "predicate", "ns": "balances", "predicate": PREDICATE, "limit": PREDICATE_LIMIT}
            else:
                keys = rng.choice(n_accounts, int(rng.integers(1, 11)), replace=False)
                req = {"op": "keys", "ns": "balances", "keys": list(gen.account_names(keys))}
            req["rid"] = i
            t_send = time.time()
            try:
                resp = call(req)
            except (OSError, ValueError) as exc:
                resp = {"ok": False, "error": repr(exc)}
            sent.append((req, time.time() - t_send, resp))

    client_thread = threading.Thread(target=client, name="serve-client")
    t0 = time.time()
    client_thread.start()
    k = warm_epochs
    try:
        while k + cycle <= len(frames) and (
            k < warm_epochs + SERVE_MIN_CYCLES * cycle
            or time.time() - t0 < ctx.seconds
            or len(sent) < SERVE_MIN_REQUESTS[ctx.scale]
        ):
            for _ in range(cycle):
                res = run_epoch(runner, frames[k], recs, txns=per_epoch)
                k += 1
                hi_at[res.epoch] = k * per_epoch
    finally:
        stop.set()
        client_thread.join(timeout=120)
        t_end = time.time()
        call.close()
        svc.close()
    measured = recs[warm_epochs:]

    # correctness, untimed
    hi = k * per_epoch
    failed_w, reasons = check_balances(transfers, hi, store_balances(env), sum(r.commits for r in recs))
    bad = check_responses(transfers, hi_at, sent)
    if bad:
        reasons.append(f"{bad} query responses differ from the serial fold at their epoch")
    if failed_w:
        # a wrong store state makes every answer suspect
        bad = len(sent)
    n_failed = sum(1 for _, _, r in sent if not r.get("ok")) + bad
    rtt = np.array([s for _, s, _ in sent]) if sent else np.array([0.0])
    out = Outcome(
        attempted=len(sent),
        failed=min(n_failed, len(sent)),
        op_p50_ms=percentile_ms(rtt, 50),
        op_p90_ms=percentile_ms(rtt, 90),
        gen_s=gen_s,
        warm_s=warm_s,
        checks=reasons,
    )
    out.named = {
        "query_qps": len(sent) / (t_end - t0),
        "query_p50_ms": out.op_p50_ms,
        "query_p90_ms": out.op_p90_ms,
        # the writer's capacity at its epoch size
        "txn_tps": decided_per_s(measured),
    }
    out.detail = {
        "epochs": measured,
        "window": (t0, t_end),
        "store_root": env.store.root,
        "rtt_by_rid": {req["rid"]: s for req, s, _ in sent},
    }
    return out


def check_responses(t: gen.Transfers, hi_at: dict, sent: list) -> int:
    """Number of successful responses that differ from the serial fold
    at the epoch the response was pinned to."""
    ok = [(req, resp) for req, _, resp in sent if resp.get("ok")]
    cuts = sorted({hi_at[resp["epoch"]] for _, resp in ok if resp["epoch"] in hi_at})
    _, _, snaps = gen.serial_fold(t, max(cuts, default=0), cuts)
    names = gen.account_names(np.arange(t.n_accounts))
    index = {n: i for i, n in enumerate(names)}
    bad = 0
    for req, resp in ok:
        if resp["epoch"] not in hi_at:
            bad += 1
            continue
        bal = snaps[hi_at[resp["epoch"]]]
        rows = {k: v for k, v in resp["rows"]}
        if req["op"] == "keys":
            # an account the fold never touched has no row in the store
            ok_resp = all(rows.get(k, gen.START_BALANCE) == bal[index[k]] for k in req["keys"])
        else:
            hits = sorted(n for n, v in zip(names, bal) if v > PREDICATE_MIN)
            want = hits[: req["limit"]]
            ok_resp = [k for k, _ in resp["rows"]] == want and all(
                rows[k] == bal[index[k]] for k in want
            ) and bool(resp.get("truncated")) == (len(hits) > req["limit"])
        bad += not ok_resp
    return bad


# -- analytics -------------------------------------------------------------------


def analytics(ctx: Ctx) -> Outcome:
    from t_spoon_spark.registry import all_oracles, all_queries
    from t_spoon_spark.testing import compare_frames, duckdb_connection

    spark = ctx.spark
    data = os.path.join(ctx.workdir, "tables")
    sf = ANALYTICS_SF[ctx.scale]
    gen_s, _ = timed_median(
        lambda: gen.write_tables(gen.analytics_tables(np.random.default_rng(ctx.seed), sf), data)
    )
    # Loading the registry and one untimed scan, shuffle and collect are
    # set-up, so the fresh JVM's start-up (parquet reader, codegen, Arrow
    # transfer) is not charged to whichever entry runs first.
    t = time.time()
    queries, oracles = all_queries(), all_oracles()
    spark.read.parquet(os.path.join(data, "lineitem.parquet")).groupBy("l_returnflag").count().toPandas()
    warm_s = time.time() - t

    # One timed pass in a fixed order, so each entry's figures come from
    # the same position in every run; planning, codegen and JIT of the
    # entry itself are part of its wall (a warm pass after it would cost
    # another 12-20 s per run, which the time budget does not have).  Each
    # entry is timed to its full result collected on the driver (never a
    # pruned count), which the oracle check then compares.
    reasons, walls, results = [], {}, {}
    tr = ctx.tracer
    t0 = time.time()
    for name in ANALYTICS_ENTRIES:
        t = time.time()
        try:
            with tr.span(f"queries.{name}") if tr is not None else contextlib.nullcontext():
                results[name] = queries[name](spark, data).toPandas()
            walls[name] = time.time() - t
        except Exception as exc:  # noqa: BLE001 - a broken entry fails, the rest still run
            reasons.append(f"{name}: {type(exc).__name__}: {exc}")
    t_end = time.time()

    con = duckdb_connection(data)
    try:
        for name, got in results.items():
            errs = compare_frames(got, con.execute(oracles[name]).df())
            if errs:
                reasons.append(f"{name}: {errs[0]}")
    finally:
        con.close()
    total = sum(walls.values())
    out = Outcome(
        attempted=len(ANALYTICS_ENTRIES),
        failed=len(reasons),
        # one op is the pass over all entries: a single entry's wall
        # swings with the run's speed, and an order statistic over 18
        # unlike entries jumps between them, so the suite total is the
        # steady figure
        op_p50_ms=1000.0 * total,
        op_p90_ms=1000.0 * total,
        gen_s=gen_s,
        warm_s=warm_s,
        checks=reasons,
    )
    out.named = {"analytics_s": total}
    out.detail = {"window": (t0, t_end)}
    return out


WORKLOADS = {
    "bank_steady": lambda ctx: bank(ctx, "bank_steady"),
    "bank_contended": lambda ctx: bank(ctx, "bank_contended"),
    "serve_durable": serve_durable,
    "analytics": analytics,
}
