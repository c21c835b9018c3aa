"""Queryable-state service: the reference's external query client flow
(tgraph/query/QuerySupplier.java -> Query/PredicateQuery ->
QueryResultMerger.java:36-51) as a thin server over a long-lived
TxEnvironment.

The reference runs a TCP mesh where query clients submit key/predicate
queries that execute against state partitions at a consistent
watermark.  Here the equivalent surface is a line-delimited-JSON TCP
service over the engine session: every request pins the committed
epoch at arrival (`watermark()`), reads the snapshot-consistent store
at that pin, and returns control-plane-sized JSON rows.  Concurrent
epochs keep committing underneath; the pin guarantees each response is
one consistent snapshot (SURVEY.md §2.4 Q1/Q2/Q4).

A committed ``keys`` lookup or ``predicate`` on a small snapshot
answers from the store's driver-side pandas twin of the pinned epoch
(``StateStore.read_twin``) and runs no Spark job — as the reference
reads a shard's in-memory versions at the watermark
(tgraph/db/Shard.java:186-217, tgraph/query/PredicateQuery.java).  A
predicate is filtered in numpy by the driver cascade's vec compiler in
predicate mode, which accepts only what it evaluates exactly as Spark
does.  Spark answers the rest: large state, ``uncommitted`` reads, SQL,
a non-numeric value type, a snapshot holding a NULL key or a NULL or
NaN value, and a predicate outside that whitelist (``key`` references,
string/NULL/boolean literals, division, arithmetic on a float or
integer value, ...); for small state its frame is the twin's
LocalRelation.  ``{"op": "stats"}`` counts which path answered each
request and why a request fell back.

In-process use (no socket)::

    svc = StateService(env)
    svc.query_keys("balances", ["a1", "a2"])   # rows at pinned epoch
    svc.sql("SELECT count(*) AS n FROM state_balances WHERE value < 0")

As a server::

    with StateService(env).serve() as addr:    # (host, port)
        # any client, any language:
        #   send  {"op": "keys", "ns": "balances", "keys": ["a1"]}\n
        #   recv  {"ok": true, "epoch": 7, "rows": [["a1", 70.0]]}\n

The result payloads are collected to the driver deliberately: query
responses are key-set / aggregate sized (the reference's query results
likewise travel its TCP mesh as materialized values), never the
data-plane state itself.

Trust boundary: the server binds a plain TCP socket with no auth, so it
must only ever be exposed on a trusted network (the reference's query
mesh makes the same assumption, tgraph/query/QueryServer.java).  The
network-facing ``sql`` op is additionally restricted to read-only
statements (SELECT/WITH/VALUES/TABLE/EXPLAIN/SHOW/DESCRIBE): a client
that can reach the socket must not be able to run DDL/DML on the shared
session or disturb its temp views (ADVICE r6).  The in-process
:meth:`StateService.sql` keeps full SQL — the caller already holds the
session object there.
"""

from __future__ import annotations

import bisect
import json
import re
import socket
import socketserver
import threading
from collections import Counter
from typing import Any

# value types whose twin values convert to the same JSON as a Spark Row's
# (other types, e.g. arrays or structs, answer key lookups on Spark)
_TWIN_VALUE_TYPES = frozenset(
    ("double", "float", "bigint", "long", "int", "integer", "smallint", "tinyint",
     "string", "boolean")
)

# leading statement keywords accepted on the NETWORK sql op — queries
# only, nothing that mutates session state or catalog
_READ_ONLY_HEADS = ("select", "with", "values", "table", "explain", "show", "describe", "desc")
_COMMENT = re.compile(r"(?s)--[^\n]*|/\*.*?\*/")

# logical-plan node names that mean the statement writes or mutates —
# Spark's grammar allows CTE-prefixed DML ("WITH x AS (...) INSERT ..."),
# so the head check alone is bypassable; the parsed plan is not.
_MUTATING_NODES = (
    "InsertInto",
    "MergeInto",
    "DeleteFrom",
    "UpdateTable",
    "CreateTable",
    "CreateView",
    "CreateNamespace",
    "DropTable",
    "DropView",
    "DropNamespace",
    "AlterTable",
    "AlterView",
    "RenameTable",
    "SetCatalog",
    "SetNamespace",
    "SetCommand",
    "TruncateTable",
    "CacheTable",
    "UncacheTable",
    "RefreshTable",
    "RefreshResource",
    "AddJar",
    "AddFile",
    "WriteFiles",
)


def _is_read_only_sql(query: str, spark=None) -> bool:
    """Two layers: (1) whitelist on the statement head (comments
    stripped; a leading ``(`` set-op parenthesization is transparent);
    (2) parse the statement with Spark's own parser and reject any plan
    containing a mutating node — Spark accepts CTE-prefixed DML, so
    ``WITH x AS (...) INSERT ...`` passes the head check but not this
    one.  Unparseable text is rejected (it could only error later
    anyway)."""
    head = _COMMENT.sub(" ", query).lstrip(" \t\r\n(")
    word = head.split(None, 1)[0].lower() if head.split() else ""
    if word not in _READ_ONLY_HEADS:
        return False
    if spark is None:
        return True
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
        tree = plan.toString()
    except Exception:  # noqa: BLE001 — parse failure: reject, don't execute
        return False
    return not any(node in tree for node in _MUTATING_NODES)


def _twin_rows(twin, keys: list, value_type: str) -> list:
    """``[[key, value]]`` of the twin rows for ``keys``, ordered by key
    (Python ``str`` order is code-point order, the order of Spark's
    UTF-8 byte comparison), values as plain Python objects.  A float
    value reads as Spark's float: a commit_pandas twin may hold it
    unrounded as a double."""
    import numpy as np

    sub = twin[twin["key"].isin(keys)].sort_values("key")
    f32 = value_type in ("float", "real")
    rows = []
    for k, v in zip(sub["key"].tolist(), sub["value"].tolist()):
        v = v.item() if isinstance(v, np.generic) else v
        rows.append([k, float(np.float32(v)) if f32 and v is not None else v])
    return rows


def _compile_predicate(predicate_sql: str, value_type: str):
    """``fn(values) -> mask`` equal to Spark's filter, or None when the
    predicate stays on Spark (tx/driver_cascade.py predicate mode).  A
    predicate nested past the recursive parser's stack, or an integer
    literal past Python's int() digit limit, stays on Spark too."""
    from t_spoon_spark.tx.driver_cascade import Ineligible, compile_fragment

    try:
        run = compile_fragment(predicate_sql, [], vec=True, forbid_acc=True, predicate=value_type)
    except (Ineligible, RecursionError, ValueError):
        return None
    return lambda values: run(None, None, values)


def _predicate_index(twin, kind: str):
    """``(keys, values)`` of a twin sorted by key, values as a predicate
    of ``kind`` (driver_cascade.PREDICATE_KINDS) evaluates them: int64,
    or float64 with a float value rounded to float32 first, as Spark
    stores it.  Or the reason Spark must answer: a NULL key or value
    (``None``), a NaN value (Spark's NaN sorts above every number and
    equals itself), or values of another type."""
    import numpy as np

    keys, vals = twin["key"], twin["value"]
    if keys.isna().any():
        return "null"
    vals = vals.to_numpy()
    if vals.dtype == object:
        if any(v is None for v in vals):
            return "null"
        vals = np.asarray(vals.tolist())
    if vals.dtype.kind not in ("i" if kind == "int" else "fi"):
        return "type"
    if kind == "int":
        vals = vals.astype(np.int64)
    else:
        vals = vals.astype(np.float32 if kind == "float" else np.float64).astype(np.float64)
        if np.isnan(vals).any():
            return "nan"
    # Python str order is Spark's UTF-8 byte order (code points)
    keys = keys.to_numpy()
    order = np.argsort(keys, kind="stable")
    return keys[order].tolist(), vals[order]


def _keyset_predicate(keyset: dict):
    """Lexicographic row-continuation predicate for keyset paging:
    ``{c1: v1, c2: v2}`` -> ``c1 > v1 OR (c1 = v1 AND c2 > v2)`` — the
    WHERE form of "strictly after the last served row" under the
    client's ORDER BY c1, c2.  Spark SQL has no row-value comparison
    ``(c1, c2) > (v1, v2)``, so the expansion is built column-wise."""
    from pyspark.sql import functions as F

    items = list(keyset.items())
    pred = None
    for i, (col, val) in enumerate(items):
        term = F.col(col) > F.lit(val)
        for prev_col, prev_val in items[:i]:
            term = (F.col(prev_col) == F.lit(prev_val)) & term
        pred = term if pred is None else (pred | term)
    return pred


def _has_total_order(df) -> bool:
    """True iff the query's analyzed plan carries a GLOBAL sort (a
    ``Sort [...], true`` node) — the precondition for exact offset
    paging: the snapshot pin freezes the data, only an ORDER BY freezes
    the enumeration.  Introspection failure counts as ordered (the flag
    is advisory; a false negative must not break a well-formed client).
    """
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001 — advisory only
        return True
    return re.search(r"Sort \[[^\]]*\], true", tree) is not None


class StateService:
    """Read-only query facade over a :class:`TxEnvironment`.

    ``max_rows`` caps every response payload (round-10 verdict #8): an
    unbounded predicate/sql query from a client used to collect its
    full result to the long-lived driver, so one careless request could
    OOM the session every other client shares.  Results are truncated
    to the cap (executor-side ``limit``, so at most cap+1 rows ever
    reach the driver) and the response carries ``"truncated": true``;
    clients page with a tighter predicate or a caller-chosen lower
    ``limit`` per request."""

    def __init__(self, env, max_rows: int = 10_000):
        self.env = env
        self.max_rows = int(max_rows)
        self._server: _Server | None = None
        # env.sql pins its snapshot via shared state_<ns> temp views;
        # concurrent sql requests would race the view rebind, so the
        # sql path is serialized (control-plane rate, not a bottleneck)
        self._sql_lock = threading.Lock()
        # the stats op's counters; no commit ever takes this lock
        self._lock = threading.Lock()
        self._answers: Counter = Counter()  # (op, "twin" | "spark")
        self._fallbacks: Counter = Counter()  # (op, reason)
        # ns -> (twin, its predicate index), rebuilt when the pinned twin
        # is another object (a commit_pandas epoch that leaves a
        # namespace untouched keeps its twin object)
        self._indexes: dict[str, tuple[Any, Any]] = {}

    # -- in-process API (each call = one pinned consistent snapshot) ----

    def pin(self, epoch: int | None = None) -> int:
        """Resolve the snapshot epoch for one request: the committed
        watermark at arrival, or a caller-chosen historical epoch
        (time travel, SURVEY §2.4 Q4)."""
        return self.env.watermark() if epoch is None else int(epoch)

    def _cap(self, limit: int | None) -> int:
        """Effective row cap for one request: the caller may lower the
        server cap, never raise it (a client-supplied huge limit is the
        attack this guards against)."""
        if limit is None:
            return self.max_rows
        return max(0, min(int(limit), self.max_rows))

    def _value_type(self, ns: str) -> str | None:
        nso = self.env.namespaces.get(ns)
        return None if nso is None else nso.value_type.strip().lower()

    def _twin_readable(self, ns: str) -> bool:
        return self._value_type(ns) in _TWIN_VALUE_TYPES

    def _count(self, op: str, fallback: str | None) -> None:
        with self._lock:
            self._answers[op, "spark" if fallback else "twin"] += 1
            if fallback:
                self._fallbacks[op, fallback] += 1

    def stats(self) -> dict[str, Any]:
        """Answers per op and path (``twin`` ran no Spark job) and the
        reasons answered requests fell back to Spark, since the service
        started.  A request that ends in an error counts nowhere."""
        with self._lock:
            answers, fallbacks = dict(self._answers), dict(self._fallbacks)
        out: dict[str, Any] = {"answers": {}, "fallbacks": {}}
        for (op, path), n in sorted(answers.items()):
            out["answers"].setdefault(op, {})[path] = n
        for (op, reason), n in sorted(fallbacks.items()):
            out["fallbacks"].setdefault(op, {})[reason] = n
        return out

    def _snapshot(self, ns: str, epoch: int | None, freshness: str):
        """(frame, effective_epoch, uncommitted?) for one request.
        ``freshness='uncommitted'`` (round-13): answer from the
        PL0-visibility overlay — the in-flight epoch's resolved updates
        while a commit is underway — instead of the committed pin; the
        frame and its effective epoch come from ONE read_uncommitted
        call so they cannot disagree under a racing commit."""
        from t_spoon_spark.tx.env import check_freshness

        if check_freshness(freshness, epoch):
            frame, eff = self.env.store.read_uncommitted(ns)
            return frame, eff, True
        pin = self.pin(epoch)
        return self.env.store.read(ns, pin), pin, False

    def query_keys(
        self,
        ns: str,
        keys: list[str],
        epoch: int | None = None,
        limit: int | None = None,
        freshness: str = "committed",
    ) -> dict[str, Any]:
        from pyspark.sql import functions as F

        from t_spoon_spark.tx.env import check_freshness

        cap = self._cap(limit)
        # the key list itself bounds the result, but a client can send
        # an arbitrarily long list — cap it like every other payload.
        # keys_dropped tells the client HOW MANY of its keys were never
        # looked up (an absent key also returns no row, so a bare
        # truncated flag can't distinguish "key missing" from "key
        # ignored" — ADVICE r11)
        keys = list(keys)
        dropped = max(0, len(keys) - cap)
        keys = keys[:cap]
        twin = None
        # a non-string key (JSON null, a number) takes Spark's IN
        # semantics: NULL never matches, numbers compare after a cast
        if check_freshness(freshness, epoch):
            fallback = "uncommitted"
        elif not self._twin_readable(ns):
            fallback = "no_twin"
        elif not all(isinstance(k, str) for k in keys):
            fallback = "type"
        else:
            # one pin for both paths: the Spark fallback reads the same
            # epoch the twin lookup resolved
            epoch = self.pin(epoch)
            twin = self.env.store.read_twin(ns, epoch)
            fallback = None if twin is not None else "no_twin"
        if twin is not None:
            pin, uncommitted, rows = epoch, False, _twin_rows(twin, keys, self._value_type(ns))
        else:
            frame, pin, uncommitted = self._snapshot(ns, epoch, freshness)
            rows = [
                [r["key"], r["value"]]
                for r in frame.filter(F.col("key").isin(keys)).orderBy("key").collect()
            ]
        self._count("keys", fallback)
        out = {"epoch": pin, "rows": rows}
        if uncommitted:
            out["uncommitted"] = True
        if dropped:
            out["truncated"] = True
            out["keys_dropped"] = dropped
        return out

    def query_predicate(
        self,
        ns: str,
        predicate_sql: str,
        epoch: int | None = None,
        limit: int | None = None,
        after_key: str | None = None,
        freshness: str = "committed",
    ) -> dict[str, Any]:
        """``after_key`` is the keyset-pagination cursor (round-12
        verdict #6): a truncated response carries
        ``cursor = {"epoch": pin, "after_key": <last key served>}``; the
        client re-sends the same request with that cursor and receives
        the next page AT THE SAME pinned snapshot — commits advancing
        underneath cannot tear the result set.  Keyset (not offset)
        because ``key`` is unique per namespace: each page is one
        ``key > after_key`` range scan under the pushed predicate, so
        deep paging costs O(pages), not the O(pages^2) an offset rescan
        would.  Uncommitted reads never emit cursors: the overlay has no
        stable pin to page against (freshness is a hot-read mode, not a
        paging mode).

        A committed read of a small numeric snapshot filters the pinned
        twin in numpy (:meth:`_twin_predicate`) and runs no Spark job;
        its rows, truncation and cursor are the Spark path's."""
        from pyspark.sql import functions as F

        from t_spoon_spark.tx.env import check_freshness

        cap = self._cap(limit)
        if check_freshness(freshness, epoch):
            rows, fallback = None, "uncommitted"
        else:
            # one pin for both paths, as in query_keys
            epoch = self.pin(epoch)
            rows, fallback = self._twin_predicate(ns, predicate_sql, epoch, cap, after_key)
        if rows is not None:
            pin, uncommitted = epoch, False
        else:
            frame, pin, uncommitted = self._snapshot(ns, epoch, freshness)
            df = frame.filter(F.expr(predicate_sql))
            if after_key is not None:
                df = df.filter(F.col("key") > F.lit(after_key))
            # orderBy + limit compiles to TakeOrderedAndProject: the
            # top-k runs executor-side and at most cap+1 rows reach the
            # driver
            rows = [[r["key"], r["value"]] for r in df.orderBy("key").limit(cap + 1).collect()]
        self._count("predicate", fallback)
        out = {"epoch": pin, "rows": rows[:cap]}
        if uncommitted:
            out["uncommitted"] = True
        if len(rows) > cap:
            out["truncated"] = True
            if cap > 0 and not uncommitted:
                out["cursor"] = {"epoch": pin, "after_key": rows[cap - 1][0]}
            if uncommitted:
                # machine-readable "no cursor is coming": the overlay has
                # no stable pin, so a paging loop must fall back to a
                # committed read instead of KeyError-ing on the cursor
                out["paging_unavailable"] = True
        return out

    def _twin_predicate(self, ns, predicate_sql, pin, cap, after_key):
        """``(rows, None)``: the first ``cap + 1`` ``[key, value]`` hits
        after ``after_key`` at ``pin``, ordered by key, from the pinned
        twin; or ``(None, reason)`` when Spark must answer.  Raises the
        Spark path's KeyError for a pin outside the retained window."""
        import numpy as np

        from t_spoon_spark.tx.driver_cascade import PREDICATE_KINDS

        vt = self._value_type(ns)
        twin = self.env.store.read_twin(ns, pin) if self._twin_readable(ns) else None
        if twin is None:
            return None, "no_twin"
        kind = PREDICATE_KINDS.get(vt)
        if kind is None or not isinstance(after_key, (str, type(None))):
            return None, "type"
        match = _compile_predicate(predicate_sql, vt)
        if match is None:
            return None, "ineligible_expr"
        cached = self._indexes.get(ns)
        if cached is None or cached[0] is not twin:
            cached = self._indexes[ns] = (twin, _predicate_index(twin, kind))
        index = cached[1]
        if isinstance(index, str):
            return None, index
        keys, vals = index
        start = 0 if after_key is None else bisect.bisect_right(keys, after_key)
        try:
            with np.errstate(all="ignore"):  # inf - inf is NaN here as in Spark
                mask = match(vals[start:])
        except RecursionError:  # a long operator chain nests one call per link
            return None, "ineligible_expr"
        hits = np.flatnonzero(mask)[: cap + 1] + start
        return [[keys[i], vals[i].item()] for i in hits], None

    def sql(
        self,
        query: str,
        epoch: int | None = None,
        limit: int | None = None,
        offset: int = 0,
        freshness: str = "committed",
        keyset_cols: list[str] | None = None,
        keyset: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """``offset`` is the SQL-path page cursor (round-12 verdict #6):
        a truncated response carries ``cursor = {"epoch": pin,
        "offset": served_so_far}``; re-sending the same query with the
        cursor returns the next page at the SAME pinned snapshot.  Exact
        paging requires the client's query to impose a total order
        (ORDER BY with a tiebreak) — the snapshot pin freezes the data,
        the ORDER BY freezes the enumeration.  Offset paging rescans the
        skipped prefix each page (fine at control-plane result sizes the
        cap enforces); result sets that outgrow that want the keyset
        predicate path.  ``freshness='uncommitted'`` binds the views to
        the PL0 overlay (one consistent capture across all namespaces)
        and reports the in-flight epoch; uncommitted responses never
        carry cursors (no stable pin) — ``paging_unavailable`` says so.

        ``keyset_cols`` opts into KEYSET paging instead (round-13
        verdict #8): for a query ordered by a unique tiebreak (``ORDER
        BY c1, c2`` with ``keyset_cols=["c1", "c2"]``), a truncated
        response carries ``cursor = {"epoch": pin, "keyset": {c1: v1,
        c2: v2}}`` from the last served row, and the next page applies
        it as a lexicographic WHERE predicate at the same pin — each
        page is one range-continuation scan, so deep paging costs
        O(pages) instead of the offset rescan's O(pages^2).  The
        keyset columns must match the query's ORDER BY (tiebreak
        included, no nulls) — the server cannot verify the match, only
        that the columns exist; the ``unordered`` advisory still fires
        when the plan has no global Sort at all."""
        from t_spoon_spark.tx.env import check_freshness

        uncommitted = check_freshness(freshness, epoch)
        cap = self._cap(limit)
        offset = max(0, int(offset))
        page_cols = list(keyset.keys()) if keyset else list(keyset_cols or [])
        with self._sql_lock:  # held through collect: the view bind and
            # the read must see the same pin
            if uncommitted:
                # env.sql_lock too (r14 self-review): the committed
                # branch binds under it via env.sql, but this branch
                # binds the same state_<ns> names directly — without the
                # shared lock a DIRECT env.sql caller in another thread
                # could rebind between our bind and our analysis, and
                # this query would analyze against the other caller's
                # pin.  RLock: ordering serve._sql_lock -> env.sql_lock
                # is consistent everywhere; env.sql never takes ours.
                with self.env.sql_lock:
                    frames, pin = self.env.store.read_uncommitted_all(
                        list(self.env.namespaces)
                    )
                    for name, frame in frames.items():
                        frame.createOrReplaceTempView(f"state_{name}")
                    df = self.env.spark.sql(query)
            else:
                pin = self.pin(epoch)
                df = self.env.sql(query, epoch=pin)
            ordered = _has_total_order(df)
            if page_cols:
                missing = [c for c in page_cols if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"keyset column(s) not in the result: {missing}"
                    )
                if offset:
                    raise ValueError(
                        "keyset and offset paging are mutually exclusive"
                    )
                if keyset:
                    # the continuation filter sits ABOVE the client's
                    # Sort; Catalyst pushes it below, so the output
                    # enumeration survives and the page is a range scan
                    df = df.filter(_keyset_predicate(keyset))
            elif offset:
                df = df.offset(offset)
            df = df.limit(cap + 1)
            cols = df.columns
            rows = [[row[c] for c in cols] for row in df.collect()]
        out = {"epoch": pin, "columns": cols, "rows": rows[:cap]}
        if uncommitted:
            out["uncommitted"] = True
        if len(rows) > cap:
            out["truncated"] = True
            if cap > 0 and not uncommitted:
                if page_cols:
                    last = rows[cap - 1]
                    idx = {c: cols.index(c) for c in page_cols}
                    out["cursor"] = {
                        "epoch": pin,
                        "keyset": {c: last[idx[c]] for c in page_cols},
                    }
                else:
                    out["cursor"] = {"epoch": pin, "offset": offset + cap}
                if not ordered:
                    # advisory (ADVICE r13): the cursor pages exactly
                    # only under a client-imposed total order; without a
                    # global Sort in the plan, pages at the same pin may
                    # duplicate or drop rows across an enumeration Spark
                    # is free to reshuffle
                    out["unordered"] = True
            if uncommitted:
                out["paging_unavailable"] = True
        return out

    def handle(self, request: dict[str, Any]) -> dict[str, Any]:
        """Execute one protocol request (the server's dispatch, usable
        directly for in-process 'RPC')."""
        try:
            op = request.get("op")
            epoch = request.get("epoch")
            limit = request.get("limit")
            # a cursor token (echoed from a truncated response) carries
            # the page position AND the snapshot pin — its epoch wins
            # over a bare "epoch" field so every page of one result set
            # reads the same consistent snapshot (round-12 verdict #6)
            cursor = request.get("cursor") or {}
            if "epoch" in cursor:
                epoch = cursor["epoch"]
            freshness = request.get("freshness", "committed")
            if op == "watermark":
                out: dict[str, Any] = {"epoch": self.env.watermark()}
            elif op == "stats":
                out = self.stats()
            elif op == "keys":
                out = self.query_keys(
                    request["ns"], request["keys"], epoch, limit, freshness=freshness
                )
            elif op == "predicate":
                out = self.query_predicate(
                    request["ns"],
                    request["predicate"],
                    epoch,
                    limit,
                    after_key=cursor.get("after_key"),
                    freshness=freshness,
                )
            elif op == "sql":
                if not _is_read_only_sql(request["query"], self.env.spark):
                    return {
                        "ok": False,
                        "error": "rejected: sql op accepts read-only statements "
                        "(SELECT/WITH/VALUES/TABLE/EXPLAIN/SHOW/DESCRIBE) only",
                    }
                out = self.sql(
                    request["query"],
                    epoch,
                    limit,
                    offset=cursor.get("offset", 0),
                    freshness=freshness,
                    keyset_cols=request.get("keyset_cols"),
                    keyset=cursor.get("keyset"),
                )
            else:
                return {"ok": False, "error": f"unknown op: {op!r}"}
            out["ok"] = True
            return out
        except Exception as exc:  # noqa: BLE001 — service edge: report, don't die
            return {"ok": False, "error": f"{type(exc).__name__}: {exc}"}

    # -- TCP server -----------------------------------------------------

    def serve(self, host: str = "127.0.0.1", port: int = 0) -> "StateService":
        """Start the line-delimited-JSON TCP server on a daemon thread.
        ``port=0`` picks a free port; the bound address is ``.address``.
        Context-manager friendly: ``with svc.serve(): ...`` closes it."""
        if self._server is not None:
            raise RuntimeError("already serving")
        self._server = _Server((host, port), self)
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self

    @property
    def address(self) -> tuple[str, int]:
        if self._server is None:
            raise RuntimeError("not serving")
        return self._server.server_address[:2]

    def close(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self) -> "StateService":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        svc: StateService = self.server.service  # type: ignore[attr-defined]
        for raw in self.rfile:
            line = raw.strip()
            if not line:
                continue
            try:
                request = json.loads(line)
            except json.JSONDecodeError as exc:
                resp = {"ok": False, "error": f"bad json: {exc}"}
            else:
                resp = svc.handle(request)
            self.wfile.write((json.dumps(resp) + "\n").encode())
            self.wfile.flush()


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, addr, service: StateService):
        super().__init__(addr, _Handler)
        self.service = service


def query_client(host: str, port: int):
    """Minimal client: returns a ``call(dict) -> dict`` closure over one
    persistent connection (the reference's QuerySupplier loop)."""
    sock = socket.create_connection((host, port))
    rfile = sock.makefile("rb")

    def call(request: dict[str, Any]) -> dict[str, Any]:
        sock.sendall((json.dumps(request) + "\n").encode())
        return json.loads(rfile.readline())

    call.close = sock.close  # type: ignore[attr-defined]
    return call
