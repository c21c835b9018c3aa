"""Queryable-state service (serve.py): the reference's external query
client flow (QuerySupplier -> Query/PredicateQuery -> QueryResultMerger)
over a long-lived engine session — key/predicate/SQL queries against a
pinned committed snapshot, concurrent with epoch commits."""

from __future__ import annotations

import json
import math
import sys

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from t_spoon_spark.serve import StateService, query_client
from t_spoon_spark.tx import TxEnvironment


def _bank_env(spark):
    env = TxEnvironment(spark, isolation="PL3")
    env.create_namespace("balances", "double", 100.0, invariant="value >= 0")
    g = (
        env.graph()
        .flat_map(
            lambda df: F.array(
                F.struct(F.col("from_account").alias("account"), (-F.col("amount")).alias("delta")),
                F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
            )
        )
        .state("balances", key=lambda df: F.col("account"), update=lambda v: v + F.col("delta"))
    )
    return env, env.runner(g)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "_tid long, from_account string, to_account string, amount double"
    )


def test_in_process_service_pins_snapshot(spark):
    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, [(1, "a1", "a2", 30.0)]))
    svc = StateService(env)

    e1 = env.watermark()
    out = svc.query_keys("balances", ["a1", "a2"])
    assert out == {"epoch": e1, "rows": [["a1", 70.0], ["a2", 130.0]]}

    # state advances; a request pinned at the OLD epoch still answers
    # from that snapshot (time travel), a fresh request sees the new one
    runner.run_epoch(_batch(spark, [(2, "a2", "a1", 50.0)]))
    old = svc.query_keys("balances", ["a1", "a2"], epoch=e1)
    assert old["rows"] == [["a1", 70.0], ["a2", 130.0]]
    new = svc.query_keys("balances", ["a1", "a2"])
    assert new["epoch"] == e1 + 1
    assert new["rows"] == [["a1", 120.0], ["a2", 80.0]]

    pred = svc.query_predicate("balances", "value > 100.0")
    assert pred["rows"] == [["a1", 120.0]]

    agg = svc.sql("SELECT count(*) AS n, sum(value) AS total FROM state_balances")
    assert agg["columns"] == ["n", "total"]
    assert agg["rows"] == [[2, 200.0]]


def test_tcp_server_roundtrip_and_errors(spark):
    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, [(1, "a1", "a2", 25.0)]))

    with StateService(env).serve() as svc:
        call = query_client(*svc.address)
        wm = call({"op": "watermark"})
        assert wm["ok"] and wm["epoch"] == env.watermark()

        resp = call({"op": "keys", "ns": "balances", "keys": ["a2"]})
        assert resp["ok"] and resp["rows"] == [["a2", 125.0]]

        resp = call({"op": "predicate", "ns": "balances", "predicate": "value < 100"})
        assert resp["ok"] and resp["rows"] == [["a1", 75.0]]

        resp = call(
            {"op": "sql", "query": "SELECT key FROM state_balances ORDER BY key"}
        )
        assert resp["ok"] and resp["rows"] == [["a1"], ["a2"]]

        # the network sql op is read-only: DDL/DML/config statements are
        # rejected before reaching the session (ADVICE r6 — a TCP client
        # must not be able to drop views or mutate the shared session)
        for stmt in (
            "DROP VIEW state_balances",
            "CREATE TABLE t (x INT)",
            "SET spark.sql.shuffle.partitions=1",
            "INSERT INTO state_balances VALUES ('z', 1.0)",
            "/* sneaky */ DROP VIEW state_balances",
            # CTE-prefixed DML parses under a 'WITH' head — the parsed-
            # plan check must reject it even though the head passes
            "WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY "
            "'/tmp/pwn' USING parquet SELECT * FROM x",
            "WITH x AS (SELECT 'z' k, 1.0 v) INSERT INTO state_balances SELECT * FROM x",
        ):
            resp = call({"op": "sql", "query": stmt})
            assert not resp["ok"] and "read-only" in resp["error"], stmt
        # comments and parenthesized set-ops still pass the whitelist
        resp = call(
            {"op": "sql", "query": "-- c\n(SELECT key FROM state_balances) ORDER BY key"}
        )
        assert resp["ok"] and resp["rows"] == [["a1"], ["a2"]]

        # errors are per-request, the connection survives them
        resp = call({"op": "keys", "ns": "nope", "keys": ["x"]})
        assert not resp["ok"] and "error" in resp
        resp = call({"op": "frobnicate"})
        assert not resp["ok"]
        resp = call({"op": "watermark"})
        assert resp["ok"]
        call.close()


def test_server_concurrent_with_epoch_commits(spark):
    """Queries racing epoch commits: every response is internally
    consistent (sum conserved at ANY pinned epoch — money invariant)."""
    import threading

    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, [(1, "a1", "a2", 10.0)]))
    with StateService(env).serve() as svc:
        call = query_client(*svc.address)
        stop = threading.Event()
        errors: list[str] = []

        def commits():
            tid = 2
            while not stop.is_set():
                runner.run_epoch(_batch(spark, [(tid, "a1", "a2", 1.0)]))
                tid += 1

        t = threading.Thread(target=commits, daemon=True)
        t.start()
        try:
            for _ in range(10):
                resp = call({"op": "sql", "query": "SELECT sum(value) AS s FROM state_balances"})
                if not resp["ok"]:
                    errors.append(resp["error"])
                elif resp["rows"][0][0] != 200.0:
                    errors.append(f"sum violated: {resp['rows']}")
        finally:
            stop.set()
            t.join(timeout=60)
        call.close()
    assert not errors, errors


def test_row_cap_truncates_unbounded_queries(spark):
    """Round-10 verdict #8: an unbounded predicate/sql query must not
    collect its full result to the long-lived driver — responses
    truncate at the server cap (flagged), a client may lower the cap
    per request but never raise it, and an oversized key list is capped
    the same way."""
    env, runner = _bank_env(spark)
    # 30 keys via transfers out of a hub account (balance stays >= 0 on
    # the hub because it RECEIVES first)
    rows = [(i, "hub", f"k{i:02d}", 1.0) for i in range(30)]
    runner.run_epoch(_batch(spark, rows))
    svc = StateService(env, max_rows=10)

    pred = svc.query_predicate("balances", "value >= 0.0")
    assert len(pred["rows"]) == 10
    assert pred["truncated"] is True
    # deterministic page: orderBy(key) -> the 10 smallest keys
    assert pred["rows"][0][0] == "hub" or pred["rows"][0][0] == "k00"

    tight = svc.query_predicate("balances", "value >= 0.0", limit=3)
    assert len(tight["rows"]) == 3 and tight["truncated"] is True
    # a client-supplied limit can never RAISE the server cap
    wide = svc.query_predicate("balances", "value >= 0.0", limit=10_000)
    assert len(wide["rows"]) == 10

    sql = svc.sql("SELECT key, value FROM state_balances")
    assert len(sql["rows"]) == 10 and sql["truncated"] is True
    # under-cap results come back whole, no flag
    small = svc.sql("SELECT count(*) AS n FROM state_balances")
    assert small["rows"] == [[31]] and "truncated" not in small

    keys = svc.query_keys("balances", [f"k{i:02d}" for i in range(30)])
    assert len(keys["rows"]) == 10 and keys["truncated"] is True

    # the TCP path honors the request-level limit field
    with StateService(env, max_rows=10).serve() as served:
        call = query_client(*served.address)
        out = call(
            {"op": "predicate", "ns": "balances", "predicate": "value >= 0.0",
             "limit": 4}
        )
        assert out["ok"] and len(out["rows"]) == 4 and out["truncated"] is True
        call.close()


def test_concurrent_clients_consistent_pin_under_commit_load(spark):
    """Round-11 verdict #8: concurrent clients during ACTIVE epoch
    commits each see one consistent snapshot — for a response pinned at
    epoch E, the keys / predicate / sql ops re-issued AT that explicit
    pin must agree with each other exactly (the sql path serializes on
    _sql_lock and every op pins per request; this is the cross-op
    consistency those mechanisms promise)."""
    import threading

    env, runner = _bank_env(spark)
    # a pin must outlive the 2 follow-up reads even if commits race
    # several epochs ahead meanwhile — widen the retained history so the
    # test exercises cross-op consistency, not history eviction
    env.store.history_epochs = 64
    runner.run_epoch(_batch(spark, [(1, "a1", "a2", 10.0)]))
    with StateService(env).serve() as svc:
        stop = threading.Event()
        commit_err: list[str] = []

        def commits():
            tid = 2
            while not stop.is_set():
                try:
                    runner.run_epoch(_batch(spark, [(tid, "a1", "a2", 1.0)]))
                except Exception as exc:  # noqa: BLE001
                    commit_err.append(str(exc))
                    return
                tid += 1

        t = threading.Thread(target=commits, daemon=True)
        t.start()

        errors: list[str] = []

        def client(n_reqs: int):
            call = query_client(*svc.address)
            try:
                for _ in range(n_reqs):
                    # pin via an unpinned sql request, then re-read the
                    # SAME epoch through all three ops
                    sql = call(
                        {"op": "sql",
                         "query": "SELECT key, value FROM state_balances"}
                    )
                    if not sql["ok"]:
                        errors.append(sql["error"])
                        continue
                    pin = sql["epoch"]
                    by_sql = {k: v for k, v in sql["rows"]}
                    pred = call(
                        {"op": "predicate", "ns": "balances",
                         "predicate": "value >= 0.0", "epoch": pin}
                    )
                    keys = call(
                        {"op": "keys", "ns": "balances",
                         "keys": ["a1", "a2"], "epoch": pin}
                    )
                    if not (pred["ok"] and keys["ok"]):
                        errors.append(str((pred, keys)))
                        continue
                    by_pred = {k: v for k, v in pred["rows"]}
                    by_keys = {k: v for k, v in keys["rows"]}
                    if by_pred != by_sql:
                        errors.append(
                            f"pin {pin}: predicate {by_pred} != sql {by_sql}"
                        )
                    if by_keys != by_sql:
                        errors.append(
                            f"pin {pin}: keys {by_keys} != sql {by_sql}"
                        )
                    if round(sum(by_sql.values()), 6) != 200.0:
                        errors.append(f"pin {pin}: sum violated: {by_sql}")
            finally:
                call.close()

        clients = [
            threading.Thread(target=client, args=(6,), daemon=True)
            for _ in range(3)
        ]
        try:
            for c in clients:
                c.start()
            for c in clients:
                c.join(timeout=300)
        finally:
            stop.set()
            t.join(timeout=60)
    assert not commit_err, commit_err
    assert not errors, errors[:5]


def test_cursor_pages_full_result_under_commit_load(spark):
    """Round-12 verdict #6: a truncated response carries a first-class
    cursor token (epoch-pinned), and following it retrieves the FULL
    result set — every page read from the same snapshot even while
    commits race ahead.  Both paths: keyset cursor on predicate
    (after_key), offset cursor on sql."""
    import threading

    env, runner = _bank_env(spark)
    env.store.history_epochs = 256  # pins must outlive the racing commits
    rows = [(i, "hub", f"k{i:02d}", 1.0) for i in range(30)]
    runner.run_epoch(_batch(spark, rows))

    with StateService(env, max_rows=7).serve() as svc:
        stop = threading.Event()

        def commits():
            tid = 100
            while not stop.is_set():
                runner.run_epoch(_batch(spark, [(tid, "hub", "k00", 1.0)]))
                tid += 1

        t = threading.Thread(target=commits, daemon=True)
        t.start()
        try:
            call = query_client(*svc.address)

            # -- predicate path: keyset cursor ------------------------
            req = {"op": "predicate", "ns": "balances", "predicate": "value >= 0.0"}
            resp = call(req)
            assert resp["ok"] and resp["truncated"] is True
            pin = resp["epoch"]
            assert resp["cursor"] == {"epoch": pin, "after_key": resp["rows"][-1][0]}
            pages = [resp["rows"]]
            while resp.get("truncated"):
                resp = call({**req, "cursor": resp["cursor"]})
                assert resp["ok"], resp
                assert resp["epoch"] == pin  # cursor re-pins the snapshot
                pages.append(resp["rows"])
            got = {k: v for page in pages for k, v in page}
            oracle = {
                r["key"]: r["value"]
                for r in env.query_predicate("balances", "value >= 0.0", epoch=pin).collect()
            }
            assert got == oracle
            assert len(got) == 31  # hub + 30 keys: nothing lost or duplicated
            assert sum(len(p) for p in pages) == 31

            # -- sql path: offset cursor -------------------------------
            req = {
                "op": "sql",
                "query": "SELECT key, value FROM state_balances ORDER BY key",
            }
            resp = call(req)
            assert resp["ok"] and resp["truncated"] is True
            pin = resp["epoch"]
            assert resp["cursor"] == {"epoch": pin, "offset": 7}
            sql_rows = list(resp["rows"])
            while resp.get("truncated"):
                resp = call({**req, "cursor": resp["cursor"]})
                assert resp["ok"], resp
                assert resp["epoch"] == pin
                sql_rows.extend(resp["rows"])
            oracle_rows = [
                [r["key"], r["value"]]
                for r in env.sql(
                    "SELECT key, value FROM state_balances ORDER BY key", epoch=pin
                ).collect()
            ]
            assert sql_rows == oracle_rows
            # the engine kept committing while we paged
            wm = call({"op": "watermark"})
            assert wm["ok"] and wm["epoch"] >= pin
            call.close()
        finally:
            stop.set()
            t.join(timeout=60)


def test_freshness_uncommitted_over_tcp(spark):
    """Round-13 freshness option on the wire: idle engine -> uncommitted
    equals committed (flagged); pinning + uncommitted is rejected
    per-request; bad freshness value is rejected."""
    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, [(1, "a1", "a2", 30.0)]))
    with StateService(env).serve() as svc:
        call = query_client(*svc.address)
        fresh = call(
            {"op": "keys", "ns": "balances", "keys": ["a1", "a2"],
             "freshness": "uncommitted"}
        )
        assert fresh["ok"] and fresh["uncommitted"] is True
        assert fresh["rows"] == [["a1", 70.0], ["a2", 130.0]]
        assert fresh["epoch"] == env.watermark()

        pred = call(
            {"op": "predicate", "ns": "balances", "predicate": "value > 100",
             "freshness": "uncommitted"}
        )
        assert pred["ok"] and pred["rows"] == [["a2", 130.0]]

        bad = call(
            {"op": "keys", "ns": "balances", "keys": ["a1"],
             "epoch": 0, "freshness": "uncommitted"}
        )
        assert not bad["ok"] and "cannot pin" in bad["error"]
        bad2 = call(
            {"op": "keys", "ns": "balances", "keys": ["a1"], "freshness": "dirty"}
        )
        assert not bad2["ok"]
        call.close()


def test_cursor_pin_below_retention_horizon_refuses(spark, tmp_path):
    """Round-13 features composed: a cursor pins its epoch, and the
    retention horizon (max_epochs) can pass that pin while a slow
    client pages.  The next page must refuse loudly (the store's
    KeyError surfaces as an error response) — never silently answer
    from a newer snapshot."""
    from t_spoon_spark.tx import TxEnvironment

    env = TxEnvironment(
        spark,
        isolation="PL3",
        durable=True,
        store_dir=str(tmp_path / "store"),
        checkpoint_every=1,
        max_epochs=3,
    )
    env.create_namespace("kv", "double", 0.0)

    def commit_epoch(e):
        upd = spark.createDataFrame(
            [(f"k{i:02d}", float(e * 100 + i)) for i in range(30)],
            "key string, value double",
        )
        env.store.commit(e, {"kv": upd}, None)

    commit_epoch(0)
    svc = StateService(env, max_rows=7)
    page1 = svc.handle({"op": "predicate", "ns": "kv", "predicate": "value >= 0"})
    assert page1["ok"] and page1["truncated"] and page1["epoch"] == 0

    # retention passes the pin while the client dawdles
    for e in range(1, 6):
        commit_epoch(e)
    stale = svc.handle(
        {"op": "predicate", "ns": "kv", "predicate": "value >= 0",
         "cursor": page1["cursor"]}
    )
    assert not stale["ok"] and "retention horizon" in stale["error"], stale
    # a fresh request (new pin) works fine
    fresh = svc.handle({"op": "predicate", "ns": "kv", "predicate": "value >= 0"})
    assert fresh["ok"] and fresh["epoch"] == 5


def test_sql_op_honors_freshness_and_flags_unpageable(spark):
    """Review findings (r13): the wire sql op must honor freshness like
    keys/predicate (flagged response, invalid value rejected), and a
    truncated uncommitted response must say paging_unavailable instead
    of silently omitting the cursor a paging loop expects."""
    env, runner = _bank_env(spark)
    rows = [(i, "hub", f"k{i:02d}", 1.0) for i in range(30)]
    runner.run_epoch(_batch(spark, rows))
    with StateService(env, max_rows=7).serve() as svc:
        call = query_client(*svc.address)
        # sql + freshness honored (idle: equals committed, flagged)
        resp = call(
            {"op": "sql",
             "query": "SELECT key, value FROM state_balances ORDER BY key",
             "freshness": "uncommitted"}
        )
        assert resp["ok"] and resp["uncommitted"] is True
        assert resp["epoch"] == env.watermark()
        # truncated uncommitted: no cursor, explicit paging_unavailable
        assert resp["truncated"] is True and "cursor" not in resp
        assert resp["paging_unavailable"] is True
        # same contract on the predicate path
        pred = call(
            {"op": "predicate", "ns": "balances", "predicate": "value >= 0",
             "freshness": "uncommitted"}
        )
        assert pred["ok"] and pred["truncated"] is True
        assert "cursor" not in pred and pred["paging_unavailable"] is True
        # invalid freshness and pinned+uncommitted rejected on sql too
        bad = call({"op": "sql", "query": "SELECT 1 AS x", "freshness": "dirty"})
        assert not bad["ok"] and "freshness" in bad["error"]
        bad2 = call(
            {"op": "sql", "query": "SELECT 1 AS x", "epoch": 0,
             "freshness": "uncommitted"}
        )
        assert not bad2["ok"] and "cannot pin" in bad2["error"]
        call.close()


def test_sql_keyset_cursor_pages_under_commit_load(spark):
    """Round-13 verdict #8: the sql path accepts keyset paging — the
    client names its ORDER BY columns (unique tiebreak) in
    ``keyset_cols``, a truncated response carries ``cursor={"epoch":
    pin, "keyset": {...}}`` from the last served row, and following it
    drains the FULL result at ONE pinned snapshot while commits race —
    each page a range-continuation predicate, no offset rescan."""
    import threading

    env, runner = _bank_env(spark)
    env.store.history_epochs = 256  # pins must outlive the racing commits
    rows = [(i, "hub", f"k{i:02d}", 1.0) for i in range(30)]
    runner.run_epoch(_batch(spark, rows))

    with StateService(env, max_rows=7).serve() as svc:
        stop = threading.Event()

        def commits():
            tid = 100
            while not stop.is_set():
                runner.run_epoch(_batch(spark, [(tid, "hub", "k00", 1.0)]))
                tid += 1

        t = threading.Thread(target=commits, daemon=True)
        t.start()
        try:
            call = query_client(*svc.address)
            req = {
                "op": "sql",
                "query": "SELECT key, value FROM state_balances ORDER BY key",
                "keyset_cols": ["key"],
            }
            resp = call(req)
            assert resp["ok"] and resp["truncated"] is True, resp
            pin = resp["epoch"]
            # the cursor is a keyset (last served row's key), not an offset
            assert resp["cursor"] == {
                "epoch": pin,
                "keyset": {"key": resp["rows"][-1][0]},
            }
            assert "unordered" not in resp  # ORDER BY present
            sql_rows = list(resp["rows"])
            while resp.get("truncated"):
                resp = call({**req, "cursor": resp["cursor"]})
                assert resp["ok"], resp
                assert resp["epoch"] == pin  # cursor re-pins the snapshot
                sql_rows.extend(resp["rows"])
            oracle_rows = [
                [r["key"], r["value"]]
                for r in env.sql(
                    "SELECT key, value FROM state_balances ORDER BY key", epoch=pin
                ).collect()
            ]
            assert sql_rows == oracle_rows
            assert len(sql_rows) == 31  # hub + 30 keys: exact drain
            call.close()
        finally:
            stop.set()
            t.join(timeout=60)


def test_sql_keyset_validation(spark):
    """Keyset sharp edges: unknown columns refused, keyset+offset
    refused, multi-column lexicographic continuation is exact."""
    env, runner = _bank_env(spark)
    runner.run_epoch(_batch(spark, [(i, "hub", f"k{i}", 1.0) for i in range(5)]))
    svc = StateService(env, max_rows=2)
    bad = svc.handle(
        {"op": "sql", "query": "SELECT key FROM state_balances ORDER BY key",
         "keyset_cols": ["nope"]}
    )
    assert not bad["ok"] and "keyset column" in bad["error"], bad
    both = svc.handle(
        {"op": "sql", "query": "SELECT key FROM state_balances ORDER BY key",
         "keyset_cols": ["key"], "cursor": {"offset": 2, "keyset": {"key": "a"}}}
    )
    assert not both["ok"] and "mutually exclusive" in both["error"], both
    # multi-column keyset: order by (value, key) — value ties across
    # many keys, the key tiebreak must advance through the tie
    req = {
        "op": "sql",
        "query": "SELECT value, key FROM state_balances ORDER BY value, key",
        "keyset_cols": ["value", "key"],
    }
    resp = svc.handle(req)
    got = list(resp["rows"])
    while resp.get("truncated"):
        resp = svc.handle({**req, "cursor": resp["cursor"]})
        assert resp["ok"], resp
        got.extend(resp["rows"])
    oracle = [
        [r["value"], r["key"]]
        for r in env.sql(
            "SELECT value, key FROM state_balances ORDER BY value, key"
        ).collect()
    ]
    assert got == oracle and len(got) == 6


_PARITY_ROWS = {
    "double": lambda e: [
        ("k0", 1.5 + e), ("k1", None), ("k2", float("nan")), ("k3", -2.0 * e), ("k4", 10.0 + e)
    ],
    # 2**62 + e is exact in int64 only, not in a float64 detour
    "bigint": lambda e: [("k0", e), ("k1", None), ("k2", 2**62 + e), ("k3", -7), ("k4", 10 + e)],
}


@pytest.mark.parametrize("route", ["commit_pandas", "commit"])
@pytest.mark.parametrize("vt", ["double", "bigint"])
def test_twin_key_lookup_matches_spark_path(spark, tmp_path, vt, route):
    """A committed ``keys`` response from the store's pandas twin equals
    the Spark-path response at the same pin: NULL and NaN values, int64
    precision, absent keys, an over-long key list, a historical pin, and
    the same errors for a pin below the retention horizon or above the
    watermark.  The twin is built by commit_pandas's merge, or by
    commit()'s Arrow cut at a checkpoint epoch."""
    env = TxEnvironment(
        spark,
        isolation="PL3",
        durable=True,
        store_dir=str(tmp_path / "store"),
        checkpoint_every=1 if route == "commit" else 2,
        max_epochs=2,
    )
    env.create_namespace("kv", vt, 0)
    store = env.store
    for e in range(4):
        rows = _PARITY_ROWS[vt](e)
        if route == "commit":
            upd = spark.createDataFrame(rows, f"key string, value {vt}")
            store.commit(e, {"kv": upd}, None)
        else:
            upd = pd.DataFrame(
                {"key": [k for k, _ in rows], "value": pd.Series([v for _, v in rows], dtype=object)}
            )
            store.commit_pandas(e, {"kv": upd})
    assert store.committed_epoch() == 3
    assert store.read_twin("kv") is not None

    svc = StateService(env, max_rows=4)
    sc = spark.sparkContext

    def via_twin(req):
        def no_spark(*_a, **_k):
            raise AssertionError("the key lookup left the twin")

        store.read = no_spark
        sc.setJobGroup("twin-lookup", "twin key lookup")
        try:
            return svc.handle(req)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            del store.read

    def via_spark(req):
        svc._twin_readable = lambda ns: False
        try:
            return svc.handle(req)
        finally:
            del svc._twin_readable

    requests = [
        {"keys": ["k2", "absent", "k1"]},
        {"keys": ["k4", "k0", "k1", "k2", "k3"]},  # over the 4-key cap
        {"keys": ["k0", "k4", "k2"], "epoch": 2},  # historical pin k-1
        {"keys": []},
        {"keys": ["k0"], "epoch": 1},  # below the max_epochs=2 horizon
        {"keys": ["k0"], "epoch": 4},  # above the watermark
    ]
    outs = []
    for req in requests:
        req = {"op": "keys", "ns": "kv", **req}
        got, want = via_twin(req), via_spark(req)
        # json text compares NaN equal to NaN, and tells 1 from 1.0
        assert json.dumps(got) == json.dumps(want), req
        outs.append(got)
    assert list(sc.statusTracker().getJobIdsForGroup("twin-lookup")) == []

    latest, capped, historical, empty, below, above = outs
    assert latest["ok"] and latest["epoch"] == 3
    assert latest["rows"][0] == ["k1", None]
    if vt == "double":
        assert latest["rows"][1][0] == "k2" and math.isnan(latest["rows"][1][1])
    else:
        assert latest["rows"][1] == ["k2", 2**62 + 3]
    assert capped["truncated"] and capped["keys_dropped"] == 1
    assert [k for k, _ in capped["rows"]] == ["k0", "k1", "k2", "k4"]
    assert historical["epoch"] == 2 and historical["rows"][0] == ["k0", _PARITY_ROWS[vt](2)[0][1]]
    assert empty["ok"] and empty["rows"] == []
    # a JSON null key matches no row, as in Spark's IN (such a list
    # is looked up on Spark)
    null_key = svc.handle({"op": "keys", "ns": "kv", "keys": [None, "k0"]})
    assert null_key["ok"] and [k for k, _ in null_key["rows"]] == ["k0"]
    assert not below["ok"] and "retention horizon" in below["error"]
    assert not above["ok"] and "above the committed watermark" in above["error"]


def test_twin_key_lookups_under_durable_commit_load(spark, tmp_path):
    """Readers (more threads than cores, a short switch interval) look
    keys up while a writer commits durable epochs that set every key to
    the epoch number: every response holds exactly its pin's values."""
    import sys
    import threading

    env = TxEnvironment(
        spark, isolation="PL3", durable=True, store_dir=str(tmp_path / "store"),
        checkpoint_every=2, max_epochs=3,
    )
    env.create_namespace("kv", "double", 0.0)
    keys = [f"k{i}" for i in range(10)]

    def commit(e):
        env.store.commit_pandas(e, {"kv": pd.DataFrame({"key": keys, "value": float(e)})})

    commit(0)
    svc = StateService(env)
    done = threading.Event()
    errors: list = []
    seen: set = set()

    def reader():
        while not done.is_set():
            out = svc.handle({"op": "keys", "ns": "kv", "keys": keys})
            if not out["ok"] or out["rows"] != [[k, float(out["epoch"])] for k in keys]:
                errors.append(out)
                return
            seen.add(out["epoch"])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    readers = [threading.Thread(target=reader, daemon=True) for _ in range(6)]
    try:
        for r in readers:
            r.start()
        for e in range(1, 9):
            commit(e)
    finally:
        done.set()
        for r in readers:
            r.join(timeout=60)
        sys.setswitchinterval(old)
    assert not any(r.is_alive() for r in readers)
    assert not errors, errors[:3]
    assert len(seen) > 1


# twin predicate parity: ±inf, a float32-rounded 110.1, int64-only
# values past 2^53, and keys whose code-point order differs from a
# locale's ("Z" < "a" < "k0" < "é" < "日本")
_PRED_ROWS = {
    "double": lambda e: [
        ("a", 110.5 + e), ("b", 5.0), ("Z", float("inf")), ("é", float("-inf")),
        ("日本", 100.0), ("k0", 0.0), ("k1", 3.5), ("k2", 111.0 + e), ("k3", 110.1),
    ],
    "bigint": lambda e: [
        ("a", 2**62 + e), ("b", 5), ("Z", 110), ("é", -(2**62)),
        ("日本", 100), ("k0", 0), ("k1", 3), ("k2", 111 + e), ("k3", 2**53 + 1),
    ],
}
_PRED_ROWS["float"] = _PRED_ROWS["double"]
_ALL = {"double", "float", "bigint"}
# (predicate, value types the twin answers; the rest fall back to Spark)
_PRED_CASES = [
    ("value > 110", _ALL),
    ("value >= 110.1", {"double", "float"}),  # float: 110.1f < 110.1
    ("NOT (value < 5) AND value <= 100", _ALL),
    ("abs(value - 3) < 2", {"double"}),
    ("greatest(value, 0) = 0", _ALL),
    ("CASE WHEN value > 100 THEN value - 100 ELSE -value END > 0", {"double"}),
    ("CASE WHEN value > 100 THEN value ELSE 0 END > 0", _ALL),
    ("value - value >= 0", {"double"}),  # inf - inf is NaN, and NaN >= 0
    (f"value >= {2**62 + 2}", {"double", "bigint"}),
    (f"value > {2**62}.5", set()),
    ("key = 'k0' AND value > 0", set()),
    ("value > true", set()),  # Spark rejects it at analysis
    ("value >", set()),
    # past the driver compiler's recursion limit or int()'s digit limit:
    # Spark answers, or rejects, as it always did
    ("(" * 300 + "value > 110" + ")" * 300, set()),
    ("value > " + "9" * 5000, set()),
]


@pytest.mark.parametrize(
    "vt, route",
    [
        ("double", "commit_pandas"),
        ("double", "commit"),
        ("bigint", "commit_pandas"),
        ("bigint", "commit"),
        # a commit_pandas float twin holds unrounded doubles; commit()'s
        # Arrow cut holds float32 already
        ("float", "commit_pandas"),
    ],
)
def test_twin_predicate_matches_spark_path(spark, tmp_path, vt, route):
    """A committed ``predicate`` response from the pinned twin equals the
    Spark-path response at the same pin, and runs no Spark job: float
    coercion, ±inf, int64 precision, non-ASCII key order, a zero limit,
    keyset paging, a historical pin, and the same errors for a
    predicate Spark rejects and for a pin below the retention horizon
    or above the watermark.  NULL and NaN values (commit_pandas twins)
    fall back, and the stats op says which path answered and why."""
    env = TxEnvironment(
        spark,
        isolation="PL3",
        durable=True,
        store_dir=str(tmp_path / "store"),
        checkpoint_every=1 if route == "commit" else 2,
        max_epochs=2,
    )
    dirty = {} if route == "commit" else {"nul": None} if vt == "bigint" else {"nul": None, "nan": float("nan")}
    for ns in ("kv", *dirty):
        env.create_namespace(ns, vt, 0)
    store = env.store
    one = 1 if vt == "bigint" else 1.0
    for e in range(3):
        rows = {"kv": _PRED_ROWS[vt](e)}
        if e == 2:
            rows.update({ns: [("k0", one), ("k1", v)] for ns, v in dirty.items()})
        if route == "commit":
            store.commit(e, {ns: spark.createDataFrame(r, f"key string, value {vt}") for ns, r in rows.items()}, None)
        else:
            store.commit_pandas(e, {
                ns: pd.DataFrame({"key": [k for k, _ in r], "value": pd.Series([v for _, v in r], dtype=object)})
                for ns, r in rows.items()
            })
    assert store.read_twin("kv") is not None

    svc = StateService(env, max_rows=4)
    sc = spark.sparkContext
    seen: list = []

    def call(req, path, reason=None):
        """The twin-enabled response, checked against the Spark path and
        against the path the stats op reports."""
        before = svc.stats()
        group = f"twin-predicate-{vt}-{route}-{len(seen)}"
        seen.append(req)
        sc.setJobGroup(group, "twin predicate")
        try:
            got = svc.handle(req)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        after = svc.stats()
        op = req["op"]
        delta = {
            k: n - before["answers"].get(op, {}).get(k, 0)
            for k, n in after["answers"].get(op, {}).items()
        }
        svc._twin_readable = lambda ns: False
        try:
            want = svc.handle(req)
        finally:
            del svc._twin_readable
        # json text compares NaN equal to NaN, and tells 1 from 1.0
        assert json.dumps(got) == json.dumps(want), req
        if path == "twin":
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], req
        if not got["ok"]:
            assert after == before, req  # an error is no answer
        else:
            assert delta.get(path) == 1, (req, delta)
            if reason:
                fb = after["fallbacks"]["predicate"].get(reason, 0)
                assert fb == before["fallbacks"].get("predicate", {}).get(reason, 0) + 1, req
        return got

    # the nested case overflows the driver compiler's stack at Python's
    # default recursion limit; a Spark call may raise the limit (an
    # import of jedi sets 3000), so it is reset before each request
    limit = sys.getrecursionlimit()
    try:
        for pred, twin_types in _PRED_CASES:
            sys.setrecursionlimit(1000)
            path = "twin" if vt in twin_types else "spark"
            call({"op": "predicate", "ns": "kv", "predicate": pred}, path, None if path == "twin" else "ineligible_expr")
    finally:
        sys.setrecursionlimit(limit)

    base = {"op": "predicate", "ns": "kv", "predicate": "value > -1"}
    first = call({**base, "limit": 2}, "twin")
    assert first["truncated"] and [k for k, _ in first["rows"]] == ["Z", "a"]
    got, page = list(first["rows"]), first
    while page.get("truncated"):
        page = call({**base, "limit": 2, "cursor": page["cursor"]}, "twin")
        assert page["epoch"] == first["epoch"]
        got.extend(page["rows"])
    assert [k for k, _ in got] == ["Z", "a", "b", "k0", "k1", "k2", "k3", "日本"]
    zero = call({**base, "limit": 0}, "twin")
    assert zero["rows"] == [] and zero["truncated"] and "cursor" not in zero
    historical = call({**base, "epoch": 1}, "twin")
    assert historical["epoch"] == 1 and ["a", _PRED_ROWS[vt](1)[0][1]] in historical["rows"]
    below = call({**base, "epoch": 0}, "twin")
    assert not below["ok"] and "retention horizon" in below["error"]
    above = call({**base, "epoch": 3}, "twin")
    assert not above["ok"] and "above the committed watermark" in above["error"]
    if vt == "float":
        # 110.1 reads back as the float Spark stores, from either path
        keys = call({"op": "keys", "ns": "kv", "keys": ["k3"]}, "twin")
        assert keys["rows"] == [["k3", float(np.float32(110.1))]]
    for ns in dirty:
        call({"op": "predicate", "ns": ns, "predicate": "value > 0"}, "spark", ns if ns == "nan" else "null")


def test_stats_op_counts_answer_paths_and_fallbacks(spark):
    """Each fallback a request can take is counted under its reason, a
    twin answer under ``twin``, and the network stats op returns the
    same counts."""
    env = TxEnvironment(spark, isolation="PL3", checkpoint_every=2)
    env.create_namespace("kv", "double", 0.0)
    env.create_namespace("s", "string", "")
    store = env.store
    store.commit_pandas(0, {
        "kv": pd.DataFrame({"key": ["a", "b"], "value": [1.0, 2.0]}),
        "s": pd.DataFrame({"key": ["a"], "value": ["x"]}),
    })
    pred = {"op": "predicate", "ns": "kv", "predicate": "value > 1"}
    svc = StateService(env)
    assert svc.handle(pred)["rows"] == [["b", 2.0]]
    assert svc.handle({**pred, "freshness": "uncommitted"})["rows"] == [["b", 2.0]]
    assert svc.handle({**pred, "predicate": "key = 'b'"})["rows"] == [["b", 2.0]]
    assert svc.handle({"op": "predicate", "ns": "s", "predicate": "value = 'x'"})["rows"] == [["a", "x"]]
    assert svc.handle({"op": "keys", "ns": "kv", "keys": ["a"]})["rows"] == [["a", 1.0]]
    assert svc.handle({"op": "keys", "ns": "kv", "keys": [None, "a"]})["rows"] == [["a", 1.0]]
    # a chain that compiles but nests one call per link when evaluated
    # (Spark refuses to parse it, so only the twin side is checked)
    chain = "value" + " + 0" * 3 * sys.getrecursionlimit() + " > 1"
    assert svc._twin_predicate("kv", chain, 0, 10, None) == (None, "ineligible_expr")
    # an uncut commit() epoch keeps a lazy Spark plan and no twin
    store.commit(1, {"kv": spark.createDataFrame([("c", 3.0)], "key string, value double")}, None)
    assert store.read_twin("kv") is None
    assert svc.handle(pred)["rows"] == [["b", 2.0], ["c", 3.0]]
    want = {
        "answers": {"keys": {"spark": 1, "twin": 1}, "predicate": {"spark": 4, "twin": 1}},
        "fallbacks": {
            "keys": {"type": 1},
            "predicate": {"ineligible_expr": 1, "no_twin": 1, "type": 1, "uncommitted": 1},
        },
    }
    assert svc.stats() == want
    with svc.serve():
        call = query_client(*svc.address)
        try:
            assert call({"op": "stats"}) == {**want, "ok": True}
        finally:
            call.close()


def test_twin_predicate_cursor_pages_under_durable_commit_load(spark, tmp_path):
    """Readers page ``value > 20`` through cursors while a max_epochs=2
    durable writer commits: every page equals the Spark path's page at
    its pin (or, when retention prunes the pin before Spark reads it,
    both refuse it), and a cursor whose pin is pruned mid-paging gets
    the clean retention-horizon error, never a torn page.  More readers
    than cores and a short switch interval: the stats counters lose no
    answer."""
    import threading

    env = TxEnvironment(
        spark, isolation="PL3", durable=True, store_dir=str(tmp_path / "store"),
        checkpoint_every=2, max_epochs=2,
    )
    env.create_namespace("kv", "double", 0.0)
    keys = [f"k{i:02d}" for i in range(40)]

    def values(e):
        return [float((7 * i + e) % 40) for i in range(len(keys))]

    def commit(e):
        env.store.commit_pandas(e, {"kv": pd.DataFrame({"key": keys, "value": values(e)})})

    commit(0)
    svc, spark_svc = StateService(env, max_rows=3), StateService(env, max_rows=3)
    spark_svc._twin_readable = lambda ns: False
    req = {"op": "predicate", "ns": "kv", "predicate": "value > 20"}
    done = threading.Event()
    errors: list = []
    pruned: list = []
    pages: list = []
    answered: list = []

    def reader():
        while not done.is_set():
            page = svc.handle(req)
            answered.append(page["ok"])
            got = list(page["rows"])
            while page.get("ok") and page.get("truncated"):
                nxt = {**req, "cursor": page["cursor"]}
                page = svc.handle(nxt)
                answered.append(page["ok"])
                if not page["ok"]:
                    if "outside retention horizon" not in page["error"]:
                        errors.append(page)
                    pruned.append(nxt["cursor"]["epoch"])
                    break
                spark_page = spark_svc.handle(nxt)
                if spark_page != page and not (
                    not spark_page["ok"] and "outside retention horizon" in spark_page["error"]
                ):
                    errors.append((page, spark_page))
                pages.append(page["epoch"])
                got.extend(page["rows"])
            else:
                if not page["ok"]:
                    errors.append(page)
                    return
                e = page["epoch"]
                want = sorted(k for k, v in zip(keys, values(e)) if v > 20)
                if [k for k, _ in got] != want or any(v <= 20 for _, v in got):
                    errors.append((e, got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    readers = [threading.Thread(target=reader, daemon=True) for _ in range(6)]
    try:
        for r in readers:
            r.start()
        for e in range(1, 7):
            commit(e)
    finally:
        done.set()
        for r in readers:
            r.join(timeout=120)
        sys.setswitchinterval(old)
    assert not any(r.is_alive() for r in readers)
    assert not errors, errors[:3]
    assert len(set(pages)) > 1
    assert svc.stats()["answers"]["predicate"] == {"twin": sum(answered)}
    # deterministic prune: a cursor taken at the watermark, then two
    # more commits move the max_epochs=2 horizon past its pin
    first = svc.handle(req)
    assert first["truncated"]
    commit(7)
    commit(8)
    resumed = svc.handle({**req, "cursor": first["cursor"]})
    assert not resumed["ok"] and "outside retention horizon" in resumed["error"], resumed
    assert svc.stats()["answers"]["predicate"].get("spark", 0) == 0


def test_uncommitted_read_mid_commit_keeps_null_and_nan(spark, tmp_path):
    """A freshness='uncommitted' read taken while a driver-close commit is
    blocked answers from the in-flight finals: a NULL final (which the
    driver close hands over as a NaN in a float column) reads NULL, and
    an untouched key's committed NaN stays NaN."""
    import threading

    env = TxEnvironment(spark, isolation="PL3", durable=True, store_dir=str(tmp_path / "s"))
    env.create_namespace("kv", "double", 0.0)
    store = env.store
    store.commit_pandas(
        0,
        {"kv": pd.DataFrame(
            {"key": ["n", "x"], "value": pd.Series([float("nan"), 1.0], dtype=object)}
        )},
    )
    reached, release = threading.Event(), threading.Event()
    log_path = store._log_path

    def gated_log_path(ns, epoch):
        if epoch == 1 and not reached.is_set():
            reached.set()
            release.wait(120)
        return log_path(ns, epoch)

    store._log_path = gated_log_path
    finals = pd.DataFrame({"key": ["x", "y"], "value": [float("nan"), 2.0]})
    t = threading.Thread(target=lambda: store.commit_pandas(1, {"kv": finals}))
    t.start()
    try:
        assert reached.wait(120)
        got = StateService(env).handle(
            {"op": "keys", "ns": "kv", "keys": ["n", "x", "y"], "freshness": "uncommitted"}
        )
    finally:
        release.set()
        t.join(120)
    assert got["ok"] and got["uncommitted"] and got["epoch"] == 1, got
    rows = dict(got["rows"])
    assert rows["x"] is None and rows["y"] == 2.0 and math.isnan(rows["n"])
    assert store.committed_epoch() == 1
