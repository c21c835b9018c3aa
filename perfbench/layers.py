"""Per-layer metrics of a traced run.

A layer is an engine module; its metrics come from the spans the
tracer recorded around that module's public functions and from the
Spark jobs attributed to them.  A layer that does not run on a
workload reports 0 for every metric.
"""

from __future__ import annotations

import os
import statistics

import tracing
from workloads import ANALYTICS_ENTRIES, Outcome

RUN_EPOCH = "tx.runner.run_epoch"
MATERIALIZE = "tx.runner.materialize"
CASCADE = "tx.driver_cascade.close"
COMMIT = "tx.store.commit"
HANDLE = "serve.handle"


def install(tracer: tracing.Tracer) -> None:
    """Wrap the engine's layer entry points in spans."""
    from t_spoon_spark.serve import StateService
    from t_spoon_spark.tx import driver_cascade, runner, store

    def cascade_rounds(span, _args, out):
        span.attrs["rounds"] = out.rounds

    def written_bytes(span, args, _out):
        st = args[0]
        span.attrs["bytes"] = dir_bytes(st.root, span.start, span.end) if st.durable else 0

    def request(span, args, out):
        span.attrs["rid"] = args[1].get("rid")
        span.attrs["ok"] = bool(out.get("ok"))

    tracer.wrap(runner.GraphRunner, "run_epoch", RUN_EPOCH)
    # runner.py calls its module-level materialize() by global name
    tracer.wrap(runner, "materialize", MATERIALIZE)
    tracer.wrap(driver_cascade.DriverCascade, "close", CASCADE, cascade_rounds)
    tracer.wrap(store.StateStore, "commit", COMMIT, written_bytes)
    tracer.wrap(store.StateStore, "commit_pandas", COMMIT, written_bytes)
    tracer.wrap(StateService, "handle", HANDLE, request)


def dir_bytes(root: str, since: float = 0.0, until: float = float("inf")) -> int:
    """Bytes of the files under ``root`` last modified in ``[since, until]``."""
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:  # removed by retention while walking
                continue
            if since <= st.st_mtime <= until:
                total += st.st_size
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def compute(tracer: tracing.Tracer, outcome: Outcome, build_s: float, names: list[str]) -> dict[str, float]:
    """Every metric in ``names`` (the per-layer list of BENCHMARK.json)."""
    jobs = tracing.spark_jobs(tracer.sc)
    tree = tracing.Tree(tracer.spans, jobs)
    info = outcome.detail
    lo, hi = info["window"]
    m = dict.fromkeys(names, 0.0)
    m["session.build_s"] = build_s
    m["source.gen_s"] = outcome.gen_s

    recs = info.get("epochs", [])
    if recs:
        m["source.trigger_late_ms_max"] = 1000.0 * max(r.late_s for r in recs)
        m["source.backlog_txns_max"] = max(r.backlog for r in recs)
        m["source.batch_txns_mean"] = _mean(r.txns for r in recs)

    epochs = [s for s in tree.roots(RUN_EPOCH) if lo <= s.start <= hi]
    if epochs:
        ej = [tree.jobs(e) for e in epochs]
        mats = [tree.descendants(e, MATERIALIZE) for e in epochs]
        closes = [tree.descendants(e, CASCADE) for e in epochs]
        commits = [tree.descendants(e, COMMIT) for e in epochs]
        m.update(
            {
                "tx.runner.epochs": len(epochs),
                "tx.runner.epoch_ms_p50": _median(e.ms for e in epochs),
                "tx.runner.self_ms_per_epoch": _mean(tree.self_ms(e) for e in epochs),
                "tx.runner.driver_ms_per_epoch": _mean(tree.driver_ms(e) for e in epochs),
                "tx.runner.lock_wait_ms_per_epoch": 1000.0 * _mean(r.lock_wait_s for r in recs),
                "tx.runner.jobs_per_epoch": _mean(len(js) for js in ej),
                "tx.runner.stages_per_epoch": _mean(sum(j.stages for j in js) for js in ej),
                "tx.runner.tasks_per_epoch": _mean(sum(j.tasks for j in js) for js in ej),
                "tx.runner.exec_cpu_ms_per_epoch": _mean(sum(j.cpu_ms for j in js) for js in ej),
                "tx.runner.shuffle_write_bytes_per_epoch": _mean(sum(j.shuffle_write_bytes for j in js) for js in ej),
                "tx.runner.materialize_calls_per_epoch": _mean(len(ms) for ms in mats),
                "tx.runner.materialize_ms_per_epoch": _mean(sum(s.ms for s in ms) for ms in mats),
                "tx.driver_cascade.close_ms_per_epoch": _mean(sum(s.ms for s in cs) for cs in closes),
                "tx.driver_cascade.rounds_per_epoch": _mean(sum(s.attrs.get("rounds", 0) for s in cs) for cs in closes),
                "tx.driver_cascade.aborts_per_epoch": _mean(r.aborts for r in recs),
                "tx.driver_cascade.commit_ratio": sum(r.commits for r in recs) / max(1, sum(r.decided for r in recs)),
                "tx.store.commit_ms_per_epoch": _mean(sum(s.ms for s in cs) for cs in commits),
                "tx.store.commit_jobs_per_epoch": _mean(
                    sum(len(tree.jobs_of.get(d.id, [])) for c in cs for d in tree.subtree(c)) for cs in commits
                ),
                "tx.store.bytes_written_per_epoch": _mean(sum(s.attrs.get("bytes", 0) for s in cs) for cs in commits),
                "tx.store.footprint_bytes_end": dir_bytes(info["store_root"]),
            }
        )

    handles = [s for s in tree.roots(HANDLE) if lo <= s.start <= hi]
    if handles:
        rtt = info.get("rtt_by_rid", {})
        hj = [tree.jobs(h) for h in handles]
        m.update(
            {
                "serve.requests": len(handles),
                "serve.requests_failed": sum(not h.attrs.get("ok") for h in handles),
                "serve.handle_ms_p50": _median(h.ms for h in handles),
                "serve.transport_ms_p50": _median(
                    1000.0 * rtt[h.attrs["rid"]] - h.ms for h in handles if h.attrs.get("rid") in rtt
                ),
                "serve.jobs_per_request": _mean(len(js) for js in hj),
                "serve.tasks_per_request": _mean(sum(j.tasks for j in js) for js in hj),
                "serve.exec_cpu_ms_per_request": _mean(sum(j.cpu_ms for j in js) for js in hj),
            }
        )

    for entry in ANALYTICS_ENTRIES:
        runs = [s for s in tree.roots(f"queries.{entry}") if lo <= s.start <= hi]
        if runs:
            rj = [tree.jobs(r) for r in runs]
            m[f"queries.{entry}.wall_ms"] = _median(r.ms for r in runs)
            m[f"queries.{entry}.jobs"] = _median(len(js) for js in rj)
            m[f"queries.{entry}.exec_cpu_ms"] = _median(sum(j.cpu_ms for j in js) for js in rj)
            m[f"queries.{entry}.shuffle_write_bytes"] = _median(sum(j.shuffle_write_bytes for j in js) for js in rj)

    m["trace.bookkeeping_us_per_span"] = 1e6 * tracer.bookkeeping_s / max(1, len(tracer.spans))
    return m
