"""Bench artifact contract (round-6 verdict "What's wrong" #1): the
single JSON line bench.py prints must stay inside the driver's ~2 kB
tail capture, parse as JSON, and carry plain (non-dict) best values in
"queries" — spreads and the probe curve belong to bench_details.json.

These tests exercise the line assembly without running the (minutes-
long) bench itself: a synthetic result dict shaped exactly like a full
run — 18 headline + 7 x_* + 8 txn entries — must serialize under the
cap, and an adversarially inflated one must shed x_* extras rather than
overflow.
"""

from __future__ import annotations

import json

import bench


def _full_shape_result() -> dict:
    queries: dict[str, object] = {}
    for name in bench.HEADLINE:
        queries[name] = 123.456
    for name in bench.EXTRA_REPRESENTATIVES:
        queries[f"x_{name}_sec"] = 123.456
    queries["x_edge_build_sec"] = 123.456
    for name in (
        "txn_bank_tps_pl3",
        "txn_bank_tps_fold",
        "txn_bank_tps_pl4",
        "txn_bank_tps_pl4_contended",
        "sustainable_tps_pl3",
        "txn_latency_ms_at_sustained_pl3",
        "txn_latency_ms_at_80pct_sustained",
        "txn_latency_ms_at_5200_fixed",
        "txn_latency_ms_at_30k_fixed",
        "txn_latency_ms_at_52k_fixed",
        "txn_latency_ms_unloaded",
        "streaming_bank_commit_latency_ms",
        "streaming_concurrent_commit_latency_ms",
        "serve_key_query_p50_ms",
        "serve_key_query_p95_ms",
        "serve_key_query_under_commit_p50_ms",
        "serve_key_query_under_commit_p95_ms",
        "cluster_txn_latency_ms_at_5200_fixed",
        "cluster_txn_ms_per_txn",
        "cluster_cascade_latency_ms",
    ):
        queries[name] = 123456.7
    # round-15 latency-pin spread key (VERDICT r14 #7): the five pins'
    # spreads packed into ONE short key (fixed order, see bench._SP_ORDER)
    # so the self-evidence actually fits the capture — still shed FIRST
    # if the line ever outgrows the cap
    queries["txn_lat_sp"] = "12345.6/12345.6/12345.6/12345.6/12345.6"
    return {
        "metric": "headline_total",
        "value": 12345.678,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "details_file": bench.DETAILS_FILE,
    }


def test_full_run_line_fits_and_parses():
    result = _full_shape_result()
    line = bench.format_line(result)
    assert len(line) <= bench.MAX_LINE_BYTES, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_total"
    assert parsed["value"] == 12345.678
    # contract keys intact, all plain scalars (no nested dicts)
    for name in bench.HEADLINE:
        assert isinstance(parsed["queries"][name], (int, float, str))
    assert "txn_bank_tps_pl3" in parsed["queries"]
    assert not any(isinstance(v, dict) for v in parsed["queries"].values())


def test_oversized_line_sheds_extras_not_contract_keys():
    result = _full_shape_result()
    # inflate: pretend 40 more x_* families landed
    for i in range(40):
        result["queries"][f"x_some_very_long_family_name_number_{i:02d}_sec"] = 9999.999
    line = bench.format_line(result)
    assert len(line) <= bench.MAX_LINE_BYTES, len(line)
    parsed = json.loads(line)
    for name in bench.HEADLINE:  # headline + txn keys never shed
        assert name in parsed["queries"]
    assert "txn_latency_ms_at_80pct_sustained" in parsed["queries"]


def test_failed_run_still_fits():
    result = _full_shape_result()
    result["value"] = None
    result["failed"] = [bench.HEADLINE[0], bench.HEADLINE[1]]
    result["valid"] = False
    result["queries"][bench.HEADLINE[0]] = "failed"
    line = bench.format_line(result)
    assert len(line) <= bench.MAX_LINE_BYTES
    assert json.loads(line)["valid"] is False


def test_shedding_drops_front_x_rows_and_keeps_edge_build_last():
    """x_ shedding removes keys in insertion order (front first), so
    the attribution row x_edge_build_sec — inserted after the family
    rows — must be the LAST x_ key standing when the line is squeezed
    (it exists to explain the graph-kernel rows; dropping it before
    them would re-create the round-10 misattribution in the artifact)."""
    result = _full_shape_result()
    x_keys = [k for k in result["queries"] if k.startswith("x_")]
    assert x_keys[-1] == "x_edge_build_sec"
    # inflate via a fat non-x key so shedding must dig deep
    result["queries"]["sustainable_tps_pl3"] = 1.0e300  # long repr
    import copy

    squeezed = bench.format_line(copy.deepcopy(result))
    kept = [k for k in json.loads(squeezed)["queries"] if k.startswith("x_")]
    dropped = [k for k in x_keys if k not in kept]
    # whatever was dropped is exactly a PREFIX of the insertion order
    assert dropped == x_keys[: len(dropped)]
    if kept:
        assert kept[-1] == "x_edge_build_sec"


def test_spread_keys_shed_before_x_rows():
    """The `*_sp` latency-pin spread keys are self-evidence (their
    primaries and bench_details.json keep the signal), so when the
    line outgrows the cap they must be shed BEFORE any x_ family
    comparable."""
    result = _full_shape_result()
    for i in range(6):  # inflate just past the cap
        result["queries"][f"x_padding_family_row_number_{i:02d}_sec"] = 9999.999
    line = bench.format_line(result)
    parsed = json.loads(line)
    sp_keys = [k for k in parsed["queries"] if k.endswith("_sp")]
    x_keys = [k for k in parsed["queries"] if k.startswith("x_")]
    # if any x_ row was shed, every _sp key must already be gone
    if len(x_keys) < 13 + 1 + 6:  # families + edge_build + padding
        assert not sp_keys, (sp_keys, x_keys)
    assert len(line) <= bench.MAX_LINE_BYTES


def test_unrounded_spread_does_not_lengthen_packed_key():
    """`txn_lat_sp` prints each spread from a bounded repr: an unrounded
    float (a spread computed outside _median_discard_first) packs to
    exactly the length of its one-decimal rounded form, never to the
    ~18-character repr that would push the key off the line."""
    raw = {n: 12345.6 + 1.0 / 3.0 for n in bench._SP_ORDER}
    rounded = {n: round(v, 1) for n, v in raw.items()}
    assert str(raw[bench._SP_ORDER[0]]) != str(rounded[bench._SP_ORDER[0]])
    packed = bench.pack_spreads(raw)
    assert len(packed) == len(bench.pack_spreads(rounded))
    assert packed == "/".join(["12345.9"] * 5)
    # a missing pin still reads "-", and small spreads stay short
    partial = bench.pack_spreads({bench._SP_ORDER[0]: 0.04999999999})
    assert partial == "0/-/-/-/-"


def test_median_discard_first_protocol():
    """pin-cluster-v2 (round-13 verdict #2): first post-warm-up epoch
    discarded, median of the kept walls, spread = max-min of kept."""
    from t_spoon_spark.bench_txn import _median_discard_first

    med, spread, kept = _median_discard_first([9000.0, 5000.0, 5600.0, 5200.0])
    assert kept == [5000.0, 5600.0, 5200.0]
    assert med == 5200.0
    assert spread == 600.0
    # degenerate single-epoch input: nothing to discard
    med1, spread1, kept1 = _median_discard_first([4200.0])
    assert (med1, spread1, kept1) == (4200.0, 0.0, [4200.0])
