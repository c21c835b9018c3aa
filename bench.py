"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The line is deliberately COMPACT (round-6 verdict "What's wrong" #1:
the round-6 line carried per-query {best, spread} dicts + an 8-point
probe curve and outgrew the driver's ~2 kB tail capture, making the
round's only bench record unparseable).  The contract line now carries
plain best values only and is kept under ~1.5 kB; spreads, the probe
curve, and everything else auditable land in `bench_details.json`
(referenced from the line via "details_file") and on stderr.

Also reports transactional throughput (bank-transfer workload derived
from the events table) as queries entries "txn_bank_tps_*".
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

DETAILS_FILE = "bench_details.json"

HEADLINE = [
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
]

# one representative per operator family, timed as x_<name>_sec and
# kept OUT of headline_total (cross-round totals stay comparable);
# the bench-line size-cap test derives its synthetic shape from this
EXTRA_REPRESENTATIVES = (
    "text_bm25_search",
    "graph_pagerank_nations",
    "clustering_kmeans_fixed",
    "decontamination_ngram_overlap",
    "text_lm_bigram_score",
    "skyline_orders_pareto",
    "packing_greedy_whole_doc",
    "dedup_prefix_filter_jaccard",
    "graph_bfs_hop_frontier",
    "text_duplicate_ngram_spans",
    "dedup_semdedup_clusters",
    "sampling_dsir_importance",
    # round-14 perceptual family representative: hash + banding +
    # occupancy in one row (the pair kernel's cost is the band join
    # this measures; the corpus pair set is empty by design)
    "dedup_phash_band_stats",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = -1.0  # unknown scale tag; timings still valid

    from t_spoon_spark.registry import all_queries
    from t_spoon_spark.session import build_spark

    spark = build_spark(app_name="t_spoon_spark_bench")
    qs = all_queries()

    # session warmup: JVM/codegen/parquet-footer costs land here, not in
    # the first measured query
    qs["q6_revenue_filter"](spark, sf_dir).count()

    # compact: name -> best seconds (or "failed"), the contract line;
    # details: name -> {best, spread, ...}, the companion file
    compact: dict[str, object] = {}
    details: dict[str, object] = {}
    total = 0.0
    failed: list[str] = []
    for name in HEADLINE:
        if name not in qs:
            continue
        fn = qs[name]
        # 1 warmup + 3 measured runs: the warmup pays one-time Catalyst
        # planning + whole-stage-codegen compilation (5s+ for the wide
        # dedup DAGs); the measured runs report best + spread
        # (max-min), so every cross-round delta carries its own error
        # bar (round-5 verdict: single-shot numbers drifted 2.2x on
        # untouched code and the ghost-chasing cost a round).
        #
        # Per-query isolation: a broken query reports "failed" and the
        # rest of the bench still runs and emits numbers.
        try:
            n = 0
            samples: list[float] = []
            for i in range(4):
                t0 = time.time()
                df = fn(spark, sf_dir)
                n = df.count()
                dt = time.time() - t0
                if i > 0:
                    samples.append(dt)
            best = min(samples)
            spread = max(samples) - best
            compact[name] = round(best, 3)
            details[name] = {"best": round(best, 3), "spread": round(spread, 3)}
            total += best
            print(
                f"# {name}: best={best:.2f}s spread={spread:.2f}s rows={n}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            compact[name] = "failed"
            details[name] = "failed"
            failed.append(name)
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)

    try:
        bench_extra(spark, sf_dir, compact, details)
    except Exception as exc:  # noqa: BLE001
        compact["bench_extra"] = "failed"
        print(f"# bench_extra: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)

    # A partial sum would under-report (look *better*) when a slow query
    # crashed, so a run with failures emits value=null + valid=false and
    # cross-round consumers can't mis-rank it (ADVICE r4).
    result = {
        "metric": "headline_total",
        "value": None if failed else round(total, 3),
        "unit": "sec",
        "queries": compact,
        "sf": sf,
        "details_file": DETAILS_FILE,
    }
    if failed:
        result["failed"] = failed
        result["valid"] = False

    details_doc = {"sf": sf, "sf_dir": sf_dir, "queries": details}
    # Low-core-count interpretation aid (VERDICT r14 scaling block /
    # next-round #8): at sf0.1 (~17 MB parquet) most analytic rows are
    # FIXED-OVERHEAD bound (job launch, py4j plan construction,
    # codegen), so a ~1.0 ratio between the driver's 32- and 8-core
    # runs means "overhead-bound at this SF", NOT "serial".  The rows
    # below showed real core sensitivity in the r14 artifact
    # (8c/32c >= 1.1x) and are the ones where a low-core regression is
    # meaningful at sf0.1; for everything else the load-bearing scale
    # evidence is the sf1 rehearsal in SCALING.md (10x data => <= 3.0x
    # time on every restructured kernel, value-exact vs DuckDB at sf1).
    details_doc["scaling_interpretation"] = {
        "note": (
            "sf0.1 is overhead-bound for sub-second rows; compare core "
            "counts only on the volume_sensitive_rows list, and use "
            "SCALING.md's sf1 rehearsal for data-volume scaling claims"
        ),
        "volume_sensitive_rows": [
            "asof_join_purchase_last_click",
            "dedup_minhash_lsh",
            "dedup_clusters_connected",
            "w2_sliding_topk_users",
            "text_quality_scores",
            "x_packing_greedy_whole_doc_sec",
            "x_text_duplicate_ngram_spans_sec",
            "x_dedup_prefix_filter_jaccard_sec",
            "x_dedup_semdedup_clusters_sec",
            "txn_bank_tps_fold",
            "txn_bank_tps_pl4",
            "cluster_txn_latency_ms_at_5200_fixed",
            "cluster_txn_ms_per_txn",
        ],
    }
    try:
        with open(REPO / DETAILS_FILE, "w") as fh:
            json.dump(details_doc, fh, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout: the contract line still lands
        print(f"# details file not written: {exc}", file=sys.stderr)

    print(format_line(result))


# Stay well inside the driver's ~2 kB tail capture (the line prints
# last, so only its own length matters).  1,500 left ~515 B unused and
# round 11's two new keys (x_edge_build_sec, cluster_cascade_latency_ms)
# pushed the front-of-list shedding into the cross-round-tracked
# packing/prefix-filter family rows; the r13 line measured 1,596 B, so
# round 14's four serve_key_query_* rows (~160 B) would shed x_ family
# comparables at 1,600 — the r14 sf0.1 clean line measured 1,793 B, so
# 1,850 absorbs digit growth with ~200 B of the 2 kB capture in hand.
# Round 15 adds the packed latency-pin spread key (~43 B, VERDICT r14
# #7; five separate ~110 B `*_sp` keys measured 2,065 B pre-shed on the
# real line and shed themselves).  The driver tail capture is 2,000 B
# and the line prints LAST, so the whole line is captured as long as
# line + newline <= 2,000 regardless of anything printed before it;
# with compact JSON separators the real r15 line reads 1,957 B, so
# 1,985 leaves the packed spread key ~28 B of digit-growth headroom
# while staying 15 B inside the capture.
MAX_LINE_BYTES = 1985


def format_line(result: dict) -> str:
    """Serialize the contract line, shedding x_* extras (they stay in
    the details file) if the line would outgrow the driver's tail
    capture — the round-6 failure mode, now structurally impossible for
    the contract keys.

    Compact separators (optimization r15): the default ", " / ": "
    spent ~117 B of the 2 kB capture on whitespace, which is exactly
    why the r15 leg-A1 line (1,953 B post-shed) shed ALL FIVE `*_sp`
    latency-pin spreads — the keys VERDICT r14 #7 added so a 0.4x
    latency swing is attributable in one round.  Same keys, same
    values, still one JSON line; only the separators change."""
    queries = result.get("queries", {})

    def dump() -> str:
        return json.dumps(result, separators=(",", ":"))

    line = dump()
    # shed order: spread self-evidence keys first (their primaries and
    # the details file keep the signal), then x_* extras
    shed_order = [k for k in list(queries) if k.endswith("_sp")] + [
        k for k in list(queries) if k.startswith("x_")
    ]
    for k in shed_order:
        if len(line) <= MAX_LINE_BYTES:
            break
        del queries[k]
        line = dump()
    return line


# the five latency pins whose spreads `txn_lat_sp` packs, in key order
_SP_ORDER = (
    "txn_latency_ms_at_5200_fixed",
    "txn_latency_ms_at_30k_fixed",
    "txn_latency_ms_at_52k_fixed",
    "txn_latency_ms_unloaded",
    "txn_latency_ms_at_80pct_sustained",
)


def pack_spreads(sp_vals: dict) -> str:
    """The `txn_lat_sp` value: each pin's spread in _SP_ORDER,
    "/"-joined, "-" for a pin that did not run.  A spread prints as
    ``f"{round(v, 1):g}"`` (one decimal, at most six significant
    digits), so an unrounded float can never grow the key until the
    shed loop drops it and the self-evidence with it."""
    return "/".join(
        f"{round(sp_vals[n], 1):g}" if n in sp_vals else "-" for n in _SP_ORDER
    )


def _prev_discovered_rate() -> float | None:
    """Seed for the sustained probe's bracket: the newest committed
    BENCH_r*.json's sustainable_tps_pl3 (round-12 verdict next-round #3:
    the adaptive widening re-searches from an 8k cold start, adding ~2
    searches per round as the rate climbs; seeding from the prior
    round's discovery keeps the bench inside its wall window).  None
    when no artifact carries a numeric value — the probe then runs its
    prior cold-start behavior.  The seed only positions the search;
    every accepted rate still comes from a passed probe."""
    import glob

    import re

    def _round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    # numeric round order, NOT lexicographic: BENCH_r100 must outrank
    # BENCH_r99 once rounds reach three digits
    for path in sorted(glob.glob(str(REPO / "BENCH_r*.json")), key=_round_no, reverse=True):
        try:
            with open(path) as fh:
                doc = json.load(fh)
            # driver artifacts nest the contract line under "parsed";
            # a raw contract line carries "queries" at top level
            queries = (doc.get("parsed") or doc).get("queries", {})
            v = queries.get("sustainable_tps_pl3")
            if isinstance(v, (int, float)) and v > 0:
                return float(v)
        except Exception:  # noqa: BLE001 — seeding is best-effort;
            continue  # an unreadable artifact falls through to older ones
    return None


def bench_extra(spark, sf_dir, compact: dict, details: dict) -> None:
    """Non-SQL benchmarks (transactional tx/s etc.) plus one
    representative per operator family (retrieval / graph / clustering /
    decontamination), kept OUT of headline_total so cross-round totals
    stay comparable.  Best values go into `compact` (the contract
    line); {best, spread} and the probe curve go into `details`."""
    from t_spoon_spark.registry import all_queries

    qs = all_queries()

    # Pre-build the shared co-order edge artifact and time it as its
    # OWN row (round-10 verdict "What's wrong" #1): when the source
    # fingerprint changes (fresh testdata, fresh /tmp) the one-time
    # lineitem self-join + bucketed write used to land inside whichever
    # graph kernel ran first, reading as a +75% BFS regression.  The
    # kernel rows below now always measure the kernel; this row makes
    # the (possibly ~0 when the artifact is warm) build cost visible
    # instead of attributed.
    edge_build: object = "failed"
    try:
        from t_spoon_spark.queries.graph import co_order_edges

        t0 = time.time()
        co_order_edges(spark, sf_dir).count()
        edge_build = round(time.time() - t0, 3)
        print(f"# x_edge_build: {edge_build}s", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 — per-metric isolation
        print(f"# x_edge_build: FAILED {exc}", file=sys.stderr)

    for name in EXTRA_REPRESENTATIVES:
        if name not in qs:
            continue
        try:
            samples: list[float] = []
            for i in range(3):  # 1 warmup + 2 measured, same error-bar
                t0 = time.time()  # convention as the headline set
                qs[name](spark, sf_dir).count()
                dt = time.time() - t0
                if i > 0:
                    samples.append(dt)
            best = min(samples)
            compact[f"x_{name}_sec"] = round(best, 3)
            details[f"x_{name}_sec"] = {
                "best": round(best, 3),
                "spread": round(max(samples) - best, 3),
            }
            print(f"# x_{name}: best={best:.2f}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — per-metric isolation
            compact[f"x_{name}_sec"] = "failed"
            details[f"x_{name}_sec"] = "failed"
            print(f"# x_{name}: FAILED {exc}", file=sys.stderr)
    # inserted AFTER the representatives so the contract line's x_-
    # shedding (front of insertion order first) drops generic family
    # rows before this attribution row — it exists precisely to explain
    # the BFS/triangle numbers, so it must survive alongside them
    compact["x_edge_build_sec"] = edge_build
    details["x_edge_build_sec"] = (
        {"best": edge_build, "one_time_artifact": True}
        if edge_build != "failed"
        else "failed"
    )
    try:
        from t_spoon_spark.bench_txn import (
            bank_transfer_tps_fold_stats,
            bank_transfer_tps_pl4_contended_stats,
            bank_transfer_tps_pl4_stats,
            bank_transfer_tps_stats,
            sustainable_tps,
            txn_latency_ms_at_rate,
            txn_latency_ms_unloaded_stats,
        )
    except ImportError:
        return

    # Fresh session for the transactional + streaming sections (round
    # 9): the ~40 query benches above leave localCheckpoint blocks and
    # cached relations in the block manager, and the txn pins measured
    # in that session read 3,65x-3,77x ms at the 30k pin across two full
    # bench runs while three FRESH-session runs of the identical pin
    # read 2,9xx-3,1xx (spread 69 on the tightest).  A deployment runs
    # its transactional engine in its own session; the bench now does
    # the same, isolating session-state contamination the same way each
    # pin already owns a fresh env + warm epochs.
    from t_spoon_spark.session import build_spark

    spark.stop()
    spark = build_spark(app_name="t_spoon_spark_bench_txn")

    # round-15 (VERDICT r14 #7): the driver diffs the COMPACT line, so
    # the five cross-round latency pins carry their spread there too —
    # a 0.4x swing on untouched code is then attributable to box
    # scatter in ONE round instead of two.  Packed into ONE ~43 B key
    # ("txn_lat_sp": "a/b/c/d/e", fixed order _SP_ORDER, "-" for a missing
    # row) because five separate `*_sp` keys (~110 B) pushed the real
    # r15 line past the cap and were shed — self-evidence that sheds
    # itself is no evidence.  Additions only; every existing key keeps
    # its meaning and position; bench_details keeps the structured
    # copies.
    sp_vals: dict[str, float] = {}

    def _run_stats(name: str, fn) -> None:
        """best-of-N + spread for a txn metric (round-6 verdict missing
        #2: single-shot txn numbers can't distinguish machine drift from
        regression inside one artifact)."""
        try:
            best, spread = fn()
            compact[name] = best
            details[name] = {"best": best, "spread": spread}
            if name in _SP_ORDER:
                sp_vals[name] = spread
            print(f"# {name}: best={best} spread={spread}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — per-metric isolation
            compact[name] = "failed"
            details[name] = "failed"
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)

    # Fixed-rate latency pins FIRST (round 9): these are the honest
    # cross-round comparables, and measured immediately after the
    # sustained-rate probe they carry its JVM/box contamination — the
    # r9 idle-box artifact read the 30k pin 3,652 ms (spread 971, the
    # documented noise signature) in the old late position vs 2,926 ms
    # (spread 69) in a fresh session.  Each pin still owns its fresh
    # env + 2 full-size warm epochs; only the position changed.
    #
    # 5,200 = the round-6 operating point (0.8x the rate the
    # un-amplified probe discovered) — the cross-round comparable for
    # the loaded-epoch close cost, since the 80pct metric's operating
    # point moves whenever the sustained-rate discovery moves.
    _run_stats(
        "txn_latency_ms_at_5200_fixed",
        lambda: txn_latency_ms_at_rate(spark, sf_dir, 5200.0),
    )
    # second pin in the HEAVY regime (150k-txn epochs): the 80pct
    # metric's point drifts with every sustained-rate re-discovery, so
    # amplified-close cost needs its own fixed comparable too
    _run_stats(
        "txn_latency_ms_at_30k_fixed",
        lambda: txn_latency_ms_at_rate(spark, sf_dir, 30000.0),
    )
    # third pin at the r11 discovered rate (round-12 verdict "What's
    # wrong" #2): the at-sustained latency rows measure epochs at
    # whatever rate THIS round's probe discovers — edge-of-saturation
    # by construction, so they whipsaw whenever the discovery moves.
    # 52k freezes the r11 operating point as a cross-round comparable.
    _run_stats(
        "txn_latency_ms_at_52k_fixed",
        lambda: txn_latency_ms_at_rate(spark, sf_dir, 52000.0),
    )
    # methodology tag (ADVICE r9): the pin protocol changed in round 9
    # (pre-sliced checkpointed batches, AQE off at pins, fresh session,
    # 2 full-size warm epochs) — pin readings from r6-r8 artifacts were
    # measured under pin-v1 and are NOT on the same comparison axis
    for k in (
        "txn_latency_ms_at_5200_fixed",
        "txn_latency_ms_at_30k_fixed",
        "txn_latency_ms_at_52k_fixed",
    ):
        if isinstance(details.get(k), dict):
            details[k]["protocol"] = (
                "pin-v2 (since r9): pre-sliced checkpointed batches, AQE off, "
                "fresh session, 2 full-size warm epochs; r6-r8 pin readings "
                "are pin-v1 and not directly comparable"
            )

    # the reference's latency-unloaded accumulator: commit latency of a
    # small epoch on an idle engine (the micro-batch floor)
    _run_stats(
        "txn_latency_ms_unloaded", lambda: txn_latency_ms_unloaded_stats(spark, sf_dir)
    )

    _run_stats("txn_bank_tps_pl3", lambda: bank_transfer_tps_stats(spark, sf_dir))
    _run_stats("txn_bank_tps_fold", lambda: bank_transfer_tps_fold_stats(spark, sf_dir))
    # reference PL4 comparables: 1,000 tx/s (series/pessimistic) and
    # 500 tx/s (1k-key contended) — start_rates.properties.example:5-6
    _run_stats("txn_bank_tps_pl4", lambda: bank_transfer_tps_pl4_stats(spark, sf_dir))
    _run_stats(
        "txn_bank_tps_pl4_contended",
        lambda: bank_transfer_tps_pl4_contended_stats(spark, sf_dir),
    )

    # BASELINE.md engine gate: >= 2,500 tx/s measured with a
    # rate-targeting loop (TunableSource semantics), not a fixed
    # workload — plus end-to-end commit latency AT that rate (the
    # reference's latency-at-sustained-rate metric).
    curve: list = []
    rate = None
    seed = _prev_discovered_rate()
    try:
        rate, latency_ms = sustainable_tps(
            spark, sf_dir, measure_latency=True, curve=curve, seed_rate=seed
        )
        compact["sustainable_tps_pl3"] = rate
        compact["txn_latency_ms_at_sustained_pl3"] = latency_ms
        confirm = next(
            (
                c
                for c in reversed(curve)
                if isinstance(c, dict) and c.get("event") == "confirm_walls"
            ),
            None,
        )
        details["sustainable_tps_pl3"] = {
            "best": rate,
            "seed_rate": seed,
            # round-13 verdict #3: the confirmation round's implied-tps
            # band self-evidences box scatter, so a driver-vs-clean-room
            # gap can be attributed without a one-round A/B round-trip
            "confirm_implied_tps": confirm["implied_tps"] if confirm else None,
            "note": (
                "at-sustained latency rows measure epochs at the "
                "saturation edge by construction (wall ~= budget); the "
                "fixed 5200/30k/52k pins are the cross-round latency "
                "comparables"
            ),
        }
    except Exception as exc:  # noqa: BLE001
        compact["sustainable_tps_pl3"] = "failed"
        print(f"# sustainable_tps_pl3: FAILED {exc}", file=sys.stderr)
    # the full probe trace (reference: `targeting-curve` accumulator,
    # evaluation/TunableSource.java:29-33) — makes the sustained-rate
    # claim auditable; details-file only (the curve is what blew the
    # round-6 contract line)
    if curve:
        details["sustainable_tps_pl3_curve"] = curve

    # latency backed off to 0.8x sustained: at the saturation edge the
    # wall equals its budget by construction (queueing); 20% under it
    # measures service time — the deployment operating point.  Own
    # try/except (ADVICE r6 medium): a failure here must not clobber the
    # already-landed sustained-rate keys.
    if rate is not None:
        try:
            lat, lat_spread = txn_latency_ms_at_rate(spark, sf_dir, 0.8 * rate)
            compact["txn_latency_ms_at_80pct_sustained"] = lat
            sp_vals["txn_latency_ms_at_80pct_sustained"] = lat_spread
            details["txn_latency_ms_at_80pct_sustained"] = {
                "best": lat,
                "spread": lat_spread,
            }
        except Exception as exc:  # noqa: BLE001
            compact["txn_latency_ms_at_80pct_sustained"] = "failed"
            print(f"# txn_latency_ms_at_80pct_sustained: FAILED {exc}", file=sys.stderr)
    # compose the packed latency-pin spread key (VERDICT r14 #7) now
    # that all five pins have run; order documented at _SP_ORDER
    compact["txn_lat_sp"] = pack_spreads(sp_vals)

    # streaming end-to-end trigger-to-commit latency — the epoch-model
    # analogue of the reference's LatencyTrackerStart/End sink pair
    # (evaluation/LatencyTracker*.java)
    try:
        from t_spoon_spark.bench_streaming import (
            streaming_bank_latency_ms,
            streaming_concurrent_latency_ms,
        )

        _run_stats(
            "streaming_bank_commit_latency_ms",
            lambda: streaming_bank_latency_ms(spark, sf_dir),
        )
        # contended multi-TGraph case: two queries, one env — the epoch
        # lock serializes foreachBatch; lock_wait_share_pct reports how
        # much of the trigger-to-commit wall was queueing
        try:
            mean, spread, share = streaming_concurrent_latency_ms(spark, sf_dir)
            compact["streaming_concurrent_commit_latency_ms"] = mean
            details["streaming_concurrent_commit_latency_ms"] = {
                "best": mean,
                "spread": spread,
                "lock_wait_share_pct": share,
            }
            print(
                f"# streaming_concurrent_commit_latency_ms: best={mean} "
                f"spread={spread} lock_share={share}%",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — per-metric isolation
            compact["streaming_concurrent_commit_latency_ms"] = "failed"
            details["streaming_concurrent_commit_latency_ms"] = "failed"
            print(
                f"# streaming_concurrent_commit_latency_ms: FAILED "
                f"{type(exc).__name__}: {exc}",
                file=sys.stderr,
            )
    except ImportError:
        pass

    # queryable-state serving latency (round-13 verdict #6) as
    # committed artifact rows — the closest analogue to the reference's
    # per-query latency metric (its evaluation issues 1-10-key queries
    # against live state, launch_scripts/parse_results.py:31-38).  Runs
    # in the live txn session BEFORE the cluster pins stop it.
    try:
        from t_spoon_spark.bench_txn import serve_query_latency

        sl = serve_query_latency(spark)
        compact["serve_key_query_p50_ms"] = sl["idle_committed"]["p50_ms"]
        compact["serve_key_query_p95_ms"] = sl["idle_committed"]["p95_ms"]
        compact["serve_key_query_under_commit_p50_ms"] = sl[
            "under_commit_committed"
        ]["p50_ms"]
        compact["serve_key_query_under_commit_p95_ms"] = sl[
            "under_commit_committed"
        ]["p95_ms"]
        details["serve_key_query_latency_ms"] = {
            **sl,
            "protocol": (
                "TCP round-trip of `keys` "
                "ops sizes cycling 1..10 over a 100k keyspace, 60 "
                "queries per mode, 1 unmeasured warm pass; modes = idle "
                "committed / under continuous commits / under commits "
                "with freshness=uncommitted (PL0 overlay)"
            ),
        }
        print(
            f"# serve_key_query: idle p50={sl['idle_committed']['p50_ms']} "
            f"p95={sl['idle_committed']['p95_ms']}; under-commit "
            f"p50={sl['under_commit_committed']['p50_ms']} "
            f"p95={sl['under_commit_committed']['p95_ms']}; uncommitted "
            f"p50={sl['under_commit_uncommitted']['p50_ms']}",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001 — per-metric isolation
        for key in (
            "serve_key_query_p50_ms",
            "serve_key_query_p95_ms",
            "serve_key_query_under_commit_p50_ms",
            "serve_key_query_under_commit_p95_ms",
        ):
            compact[key] = "failed"
        details["serve_key_query_latency_ms"] = "failed"
        print(
            f"# serve_key_query: FAILED {type(exc).__name__}: {exc}",
            file=sys.stderr,
        )

    # deployment-shape pin (round-10): the multi-JVM RELIABLE close path
    # on a local-cluster master at the fixed 5,200 tx/s rate — the shape
    # a real cluster runs, previously only probed by
    # tools/bench_cluster_probe.py, now a committed artifact row.  Last
    # section: it stops the session and owns cluster JVM startup.
    try:
        from t_spoon_spark.bench_txn import cluster_latency_pin

        spark.stop()
        med, spread, per_txn, walls = cluster_latency_pin(sf_dir)
        compact["cluster_txn_latency_ms_at_5200_fixed"] = med
        compact["cluster_txn_ms_per_txn"] = per_txn
        details["cluster_txn_latency_ms_at_5200_fixed"] = {
            "best": med,
            "spread": spread,
            "walls_ms": walls,
            "ms_per_txn": per_txn,
            "master": "local-cluster[4,8,8192]",
            "materialize_mode": "reliable",
            "protocol": (
                "pin-cluster-v2 (since r14): 4 measured epochs, first "
                "post-warm-up epoch discarded, median of the kept 3 + "
                "max-min spread; r13-and-earlier cluster readings were "
                "mean-of-3 with no discard and are not directly "
                "comparable"
            ),
        }
        print(
            f"# cluster_txn_latency_ms_at_5200_fixed: median={med} "
            f"spread={spread} walls={walls} ms/txn={per_txn}",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001 — per-metric isolation
        # mark BOTH cluster keys failed, mirroring the success path, so
        # cross-round consumers see an explicit failure rather than a
        # silently missing metric
        for key in ("cluster_txn_ms_per_txn", "cluster_txn_latency_ms_at_5200_fixed"):
            compact[key] = "failed"
            details[key] = "failed"
        print(f"# cluster pin: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)

    # contended heavy-abort cascade on the multi-JVM path (round-10
    # verdict #3): the distributed refold — the 100x-scale path that
    # until now had correctness coverage but no perf row.  Own session
    # (the pin builds and stops it); anatomy (no-abort twin, cascade
    # share) lands in the details file.
    try:
        from t_spoon_spark.bench_txn import cluster_cascade_latency_pin

        cc = cluster_cascade_latency_pin(sf_dir)
        compact["cluster_cascade_latency_ms"] = cc["contended_ms"]
        details["cluster_cascade_latency_ms"] = {
            **cc,
            "master": "local-cluster[4,8,8192]",
            "keyspace": 1000,
            "rate": 5200.0,
            "materialize_mode": "reliable (distributed refold)",
            "protocol": (
                "pin-cluster-v2 (since r14): per side 4 measured epochs, "
                "first discarded, median of kept 3 + max-min spread"
            ),
        }
        print(
            f"# cluster_cascade_latency_ms: contended={cc['contended_ms']} "
            f"no_abort={cc['no_abort_ms']} cascade_share={cc['cascade_share_pct']}%",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001 — per-metric isolation
        compact["cluster_cascade_latency_ms"] = "failed"
        details["cluster_cascade_latency_ms"] = "failed"
        print(
            f"# cluster cascade pin: FAILED {type(exc).__name__}: {exc}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
