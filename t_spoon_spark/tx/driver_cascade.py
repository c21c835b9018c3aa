"""Driver-side abort-cascade fixpoint for the pandas materialize mode.

Reference semantics this realizes (unchanged from the distributed loop
in runner._close): forward dependency tracking + replay of transactions
that read an aborted write (tgraph/state/PL4DependencyTrackingStrategy.java:23-44,
tgraph/twopc/StrictnessEnforcer.java:27-118), with the global vote as a
MAX lattice over per-key link votes (tgraph/twopc/ReduceVotesFunction.java).
Only WHERE the fixpoint iterates moves: the reference replays through
its record-at-a-time 2PC, the distributed path refolds via Spark jobs,
and this module refolds the same chains in driver pandas.

The abort cascade (runner._close) is control-plane ITERATION: exclude
the globally-aborted transactions, refold the touched key chains, merge
votes, repeat until the abort set is stable.  On the distributed path
each round is a Spark job over control-sized frames — correct anywhere,
but in local pandas mode a 26k-txn round was measured at ~0.95 s of
almost pure plan/exchange overhead (BENCHNOTES "round-7 starting map":
149-node / 22-Exchange refold plans; the chains themselves are
milliseconds of arithmetic).  Round-6 verdict item #1 asked for exactly
this: route the cascade through the already-driver-sized control frames.

So: when the session materializes epoch control frames through pandas
anyway (materialize_mode == "pandas", i.e. single-JVM local — a cluster
session NEVER enters here), and every state stage's update/invariant has
a Python twin, the whole fixpoint runs on the driver:

- the per-stage ops and evaluation frames are pulled once (they are
  bounded by BATCH size, not state size — the same argument that makes
  pandas materialize mode sound);
- each cascade round is a pure-Python refold of the affected key chains
  (cost proportional to the contended key set, zero Spark jobs);
- the final votes / writes re-enter Spark as LocalRelations, and the
  resolved per-namespace finals are handed to the store's pandas commit
  (StateStore.commit_pandas) when its size gates allow.

Result identity with the distributed close is pinned by tests
(tests/test_driver_cascade.py): same votes, same balances, same epoch
count, with the distributed close run the way a cluster reaches it
(materialize mode 'reliable').

Python twins for expression stages are AUTO-DERIVED: the same rendered
SQL the JVM chain fold executes (runner._chain_update_sql — Catalyst's
Expression.sql() in function-call form, e.g. ``+`(acc.value, x.delta)``)
is compiled by a tiny whitelisted parser into a Python closure with
Spark's null semantics (division binds the session's ANSI
divide-by-zero behavior at compile).  Anything outside the whitelist
(unknown functions, non-numeric value types, NaN-bearing records) makes
the stage INELIGIBLE and the runner silently keeps the distributed
cascade; eligibility never changes results, only where the fixpoint
runs.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as _np
import pandas as pd

from t_spoon_spark.tx.vote import ABORT, COMMIT


class Ineligible(Exception):
    """This stage cannot run the driver-side cascade — fall back."""


# ---------------------------------------------------------------------------
# Spark-SQL-fragment -> Python compiler (whitelisted grammar)
# ---------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<bq>`[^`]+`)
      | (?P<str>'(?:[^'\\]|\\.|'')*')
      | (?P<num>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?[DdLlFf]?)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
      | (?P<op>>=|<=|!=|<>|==|[-+*/%()<>=,])
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "case", "when", "then", "else", "end", "and", "or", "not",
    "cast", "as", "true", "false", "null", "is",
}


def _tokenize(sql: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN.match(sql, pos)
        if m is None:
            rest = sql[pos:].strip()
            if not rest:
                break
            raise Ineligible(f"unparseable at: {rest[:30]!r}")
        pos = m.end()
        if m.lastgroup == "bq":
            out.append(("fn", m.group("bq")[1:-1]))
        elif m.lastgroup == "str":
            raw = m.group("str")[1:-1]
            raw = raw.replace("''", "'")
            raw = re.sub(r"\\(.)", lambda mm: {"n": "\n", "t": "\t"}.get(mm.group(1), mm.group(1)), raw)
            out.append(("str", raw))
        elif m.lastgroup == "num":
            out.append(("num", m.group("num")))
        elif m.lastgroup == "ident":
            t = m.group("ident")
            out.append(("kw", t.lower()) if t.lower() in _KEYWORDS else ("ident", t))
        else:
            out.append(("op", m.group("op")))
    return out


# -- null-propagating evaluation helpers (Spark semantics) ------------------

def _arith(op: str, a, b):
    if a is None or b is None:
        return None
    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    raise Ineligible(op)  # pragma: no cover - parser only routes + - *


def _divide(a, b, ansi: bool):
    """Spark `/`: always double; divisor 0 raises under ANSI (the same
    failure the JVM fold raises — both paths crash the epoch), returns
    NULL otherwise."""
    if a is None or b is None:
        return None
    if b == 0:
        if ansi:
            raise ArithmeticError("[DIVIDE_BY_ZERO] Division by zero")
        return None
    return float(a) / float(b)


def _modulo(a, b, ansi: bool):
    """Spark `%`: remainder with the DIVIDEND's sign (Java semantics —
    Python's % follows the divisor, so use fmod); integer operands stay
    integral."""
    if a is None or b is None:
        return None
    if b == 0:
        if ansi:
            raise ArithmeticError("[DIVIDE_BY_ZERO] Division by zero")
        return None
    r = math.fmod(a, b)
    if isinstance(a, (int, _np.integer)) and isinstance(b, (int, _np.integer)):
        return int(r)
    return r


def _compare(op: str, a, b):
    if a is None or b is None:
        return None
    if op in ("=", "=="):
        return bool(a == b)
    if op in ("!=", "<>"):
        return bool(a != b)
    if op == ">":
        return bool(a > b)
    if op == ">=":
        return bool(a >= b)
    if op == "<":
        return bool(a < b)
    return bool(a <= b)


def _and(a, b):
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def _or(a, b):
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


def _greatest(*vals):
    nn = [v for v in vals if v is not None]
    return max(nn) if nn else None


def _least(*vals):
    nn = [v for v in vals if v is not None]
    return min(nn) if nn else None


# -- vectorized (numpy) twins for the vec-mode compile -----------------------
#
# Vec mode compiles the SAME token stream to closures over numpy ARRAYS
# (one element per chain), used by the position-wise cascade refold.  It
# is only sound for NULL-FREE inputs — the vec eligibility gate
# (_vec_init) guarantees that — so every null-propagating construct
# (null literal, IS NULL, no-ELSE case, /, %, casts to non-float types,
# strings) is Ineligible AT COMPILE TIME and the stage keeps the scalar
# fold.  +, -, *, unary minus, abs and coalesce reuse the scalar
# helpers verbatim: their `is None` guards are False for arrays and the
# Python operators are numpy's elementwise ones.

def _vcompare(op: str, a, b):
    if op in ("=", "=="):
        return a == b
    if op in ("!=", "<>"):
        return a != b
    if op == ">":
        return a > b
    if op == ">=":
        return a >= b
    if op == "<":
        return a < b
    return a <= b


def _to_int(v):
    return None if v is None else int(v)  # Spark CAST truncates toward zero


def _to_float(v):
    return None if v is None else float(v)


def _to_bool(v):
    return None if v is None else bool(v)


# Spark DDL type -> python cast. Types outside this table (string,
# decimal, arrays...) make the stage ineligible: their cast/render
# semantics are not guaranteed to round-trip bit-identically.
CASTS: dict[str, Callable[[Any], Any]] = {
    "double": _to_float,
    "float": _to_float,
    "real": _to_float,
    "bigint": _to_int,
    "long": _to_int,
    "int": _to_int,
    "integer": _to_int,
    "smallint": _to_int,
    "tinyint": _to_int,
    "boolean": _to_bool,
}


class _Parser:
    """Pratt parser over the token stream; builds closures fn(scope)
    where scope = (acc_value, rec_dict, inv_value).  `ansi` binds the
    session's divide-by-zero behavior (raise vs NULL) at compile.

    ``vec=True`` emits numpy-array closures instead (scope fields are
    ndarrays, one element per chain being refolded); constructs whose
    semantics need NULLs or error channels raise Ineligible at compile
    so the caller falls back to the scalar fold.  ``forbid_acc`` rejects
    ``acc.value`` references — the invariant scope has no accumulator
    (the scalar twin passes None there, which vec arrays cannot)."""

    def __init__(
        self,
        tokens: list[tuple[str, str]],
        cols: set[str],
        ansi: bool = True,
        vec: bool = False,
        forbid_acc: bool = False,
    ):
        self.toks = tokens
        self.i = 0
        self.cols = cols
        self.ansi = ansi
        self.vec = vec
        self.forbid_acc = forbid_acc

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, kind, val=None):
        k, v = self._next()
        if k != kind or (val is not None and v != val):
            raise Ineligible(f"expected {kind} {val}, got {k} {v}")
        return v

    # precedence: OR < AND < NOT < cmp < add < mul < unary
    def parse(self):
        e = self._or()
        if self.i != len(self.toks):
            raise Ineligible(f"trailing tokens: {self.toks[self.i:]}")
        return e

    def _or(self):
        left = self._and()
        while self._peek() == ("kw", "or"):
            self._next()
            right = self._and()
            if self.vec:
                left = (lambda l, r: lambda s: _np.logical_or(l(s), r(s)))(left, right)
            else:
                left = (lambda l, r: lambda s: _or(l(s), r(s)))(left, right)
        return left

    def _and(self):
        left = self._not()
        while self._peek() == ("kw", "and"):
            self._next()
            right = self._not()
            if self.vec:
                left = (lambda l, r: lambda s: _np.logical_and(l(s), r(s)))(left, right)
            else:
                left = (lambda l, r: lambda s: _and(l(s), r(s)))(left, right)
        return left

    def _not(self):
        if self._peek() == ("kw", "not"):
            self._next()
            inner = self._not()
            if self.vec:
                return (lambda _i: lambda s: _np.logical_not(_i(s)))(inner)

            def neg(s, _i=inner):
                v = _i(s)
                return None if v is None else not v

            return neg
        return self._cmp()

    def _cmp(self):
        left = self._add()
        k, v = self._peek()
        if k == "op" and v in (">=", "<=", "!=", "<>", "==", "=", ">", "<"):
            self._next()
            right = self._add()
            if self.vec:
                return (lambda l, r, o: lambda s: _vcompare(o, l(s), r(s)))(left, right, v)
            return (lambda l, r, o: lambda s: _compare(o, l(s), r(s)))(left, right, v)
        if self._peek() == ("kw", "is"):  # IS [NOT] NULL
            if self.vec:
                raise Ineligible("IS NULL in vec mode")
            self._next()
            neg = False
            if self._peek() == ("kw", "not"):
                self._next()
                neg = True
            self._expect("kw", "null")
            return (lambda l, n: lambda s: (l(s) is None) != n)(left, neg)
        return left

    def _add(self):
        left = self._mul()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("+", "-"):
                self._next()
                right = self._mul()
                left = (lambda l, r, o: lambda s: _arith(o, l(s), r(s)))(left, right, v)
            else:
                return left

    def _mul(self):
        left = self._unary()
        while True:
            k, v = self._peek()
            if k == "op" and v == "*":
                self._next()
                right = self._unary()
                left = (lambda l, r: lambda s: _arith("*", l(s), r(s)))(left, right)
            elif k == "op" and v == "/":
                if self.vec:
                    raise Ineligible("division in vec mode")
                self._next()
                right = self._unary()
                left = (
                    lambda l, r, a=self.ansi: lambda s: _divide(l(s), r(s), a)
                )(left, right)
            elif k == "op" and v == "%":
                if self.vec:
                    raise Ineligible("modulo in vec mode")
                self._next()
                right = self._unary()
                left = (
                    lambda l, r, a=self.ansi: lambda s: _modulo(l(s), r(s), a)
                )(left, right)
            else:
                return left

    def _unary(self):
        k, v = self._peek()
        if k == "op" and v == "-":
            self._next()
            inner = self._unary()

            def neg(s, _i=inner):
                val = _i(s)
                return None if val is None else -val

            return neg
        if k == "op" and v == "+":
            self._next()
            return self._unary()
        return self._primary()

    def _fn_call(self, name: str):
        self._expect("op", "(")
        args = []
        if self._peek() != ("op", ")"):
            args.append(self._or())
            while self._peek() == ("op", ","):
                self._next()
                args.append(self._or())
        self._expect("op", ")")
        if name in ("+", "-", "*") and len(args) == 2:
            a, b = args
            return (lambda a, b, o: lambda s: _arith(o, a(s), b(s)))(a, b, name)
        if name == "/" and len(args) == 2:
            if self.vec:
                raise Ineligible("division in vec mode")
            a, b = args
            return (lambda a, b, an=self.ansi: lambda s: _divide(a(s), b(s), an))(a, b)
        if name in ("%", "mod", "pmod") and len(args) == 2:
            if name == "pmod":
                raise Ineligible("pmod (positive modulo) not whitelisted")
            if self.vec:
                raise Ineligible("modulo in vec mode")
            a, b = args
            return (lambda a, b, an=self.ansi: lambda s: _modulo(a(s), b(s), an))(a, b)
        if name in (">", ">=", "<", "<=", "=", "==", "!=", "<>") and len(args) == 2:
            a, b = args
            if self.vec:
                return (lambda a, b, o: lambda s: _vcompare(o, a(s), b(s)))(a, b, name)
            return (lambda a, b, o: lambda s: _compare(o, a(s), b(s)))(a, b, name)
        if name == "negative" and len(args) == 1:
            a = args[0]

            def negf(s, _a=a):
                v = _a(s)
                return None if v is None else -v

            return negf
        if name == "abs" and len(args) == 1:
            a = args[0]

            def absf(s, _a=a):
                v = _a(s)
                return None if v is None else abs(v)

            return absf
        if name == "greatest":
            if self.vec:
                # pairwise (not .reduce over a list): the args mix
                # arrays and scalar literals, which numpy cannot stack
                def vgreatest(s, _args=args):
                    out = _args[0](s)
                    for a in _args[1:]:
                        out = _np.maximum(out, a(s))
                    return out

                return vgreatest
            return lambda s: _greatest(*[a(s) for a in args])
        if name == "least":
            if self.vec:
                def vleast(s, _args=args):
                    out = _args[0](s)
                    for a in _args[1:]:
                        out = _np.minimum(out, a(s))
                    return out

                return vleast
            return lambda s: _least(*[a(s) for a in args])
        if name == "coalesce":
            if self.vec:
                # vec inputs are provably non-null, so coalesce IS its
                # first argument (nothing upstream can produce a null)
                return args[0]
            def co(s, _args=args):
                for a in _args:
                    v = a(s)
                    if v is not None:
                        return v
                return None
            return co
        if name == "and" and len(args) == 2:
            a, b = args
            if self.vec:
                return lambda s: _np.logical_and(a(s), b(s))
            return lambda s: _and(a(s), b(s))
        if name == "or" and len(args) == 2:
            a, b = args
            if self.vec:
                return lambda s: _np.logical_or(a(s), b(s))
            return lambda s: _or(a(s), b(s))
        raise Ineligible(f"function {name!r} not whitelisted")

    def _primary(self):
        k, v = self._next()
        if k == "num":
            text = v
            suffix = text[-1] if text[-1] in "DdLlFf" else ""
            if suffix:
                text = text[:-1]
            if suffix in "DdFf" or "." in text or "e" in text or "E" in text:
                val = float(text)
            else:
                val = int(text)
            return lambda s: val
        if k == "str":
            if self.vec:
                raise Ineligible("string literal in vec mode")
            return lambda s, _v=v: _v
        if k == "fn":  # backquoted operator-named function
            return self._fn_call(v)
        if k == "kw":
            if v == "true":
                return lambda s: True
            if v == "false":
                return lambda s: False
            if v == "null":
                if self.vec:
                    raise Ineligible("null literal in vec mode")
                return lambda s: None
            if v == "cast":
                self._expect("op", "(")
                inner = self._or()
                self._expect("kw", "as")
                tk, tv = self._next()
                if tk != "ident" or tv.lower() not in CASTS:
                    raise Ineligible(f"cast target {tv!r} not whitelisted")
                cast = CASTS[tv.lower()]
                self._expect("op", ")")
                if self.vec:
                    # only float targets vectorize exactly (int needs
                    # truncation + overflow semantics, bool is unused in
                    # value position) — others keep the scalar fold
                    if cast is not _to_float:
                        raise Ineligible(f"cast to {tv!r} in vec mode")
                    return (lambda i: lambda s: _np.asarray(i(s), dtype=_np.float64))(inner)
                return (lambda i, c: lambda s: c(i(s)))(inner, cast)
            if v == "case":
                whens = []
                while self._peek() == ("kw", "when"):
                    self._next()
                    cond = self._or()
                    self._expect("kw", "then")
                    val = self._or()
                    whens.append((cond, val))
                default = None
                if self._peek() == ("kw", "else"):
                    self._next()
                    default = self._or()
                self._expect("kw", "end")

                if self.vec:
                    if default is None:
                        # no ELSE -> a non-matching row is NULL
                        raise Ineligible("CASE without ELSE in vec mode")

                    def vcase(s, _whens=whens, _default=default):
                        out = _default(s)
                        for c, val in reversed(_whens):
                            out = _np.where(c(s), val(s), out)
                        return out

                    return vcase

                def case(s, _whens=whens, _default=default):
                    for c, val in _whens:
                        if c(s) is True:
                            return val(s)
                    return _default(s) if _default is not None else None

                return case
            raise Ineligible(f"keyword {v!r} in expression position")
        if k == "op" and v == "(":
            inner = self._or()
            self._expect("op", ")")
            return inner
        if k == "ident":
            if self._peek() == ("op", "("):
                return self._fn_call(v.lower())
            low = v.lower()
            if low == "acc.value":
                if self.forbid_acc:
                    raise Ineligible("acc reference in invariant scope")
                return lambda s: s[0]
            if low == "value":
                return lambda s: s[2]
            if low.startswith("x."):
                col = v[2:]
                if col not in self.cols:
                    raise Ineligible(f"unknown column x.{col}")
                if self.vec:  # vec inputs are pre-verified non-null arrays
                    return lambda s, _c=col: s[1][_c]
                return lambda s, _c=col: _nan_none(s[1].get(_c))
            if v in self.cols:  # bare record column (raw invariant SQL)
                if self.vec:
                    return lambda s, _c=v: s[1][_c]
                return lambda s, _c=v: _nan_none(s[1].get(_c))
            raise Ineligible(f"unknown reference {v!r}")
        raise Ineligible(f"unexpected token {k} {v}")


def _nan_none(v):
    """pandas surfaces SQL NULL in float columns as NaN; Spark's null
    semantics (not NaN's) are what the chain fold sees for a null
    record value, so normalize at the reference boundary."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def compile_fragment(
    sql: str,
    cols: list[str],
    ansi: bool = True,
    vec: bool = False,
    forbid_acc: bool = False,
) -> Callable:
    """Compile a rendered Spark SQL fragment to fn(acc, rec, value).

    `sql` is either runner._chain_update_sql output (refs ``acc.value``
    and ``x.<col>``) or a raw namespace invariant (refs ``value`` and
    bare record columns).  Raises Ineligible outside the whitelist.
    ``ansi`` binds the divide-by-zero behavior (raise vs NULL) to the
    session's `spark.sql.ansi.enabled` at compile time.  ``vec=True``
    compiles to numpy-array closures for the position-wise refold (a
    stricter whitelist — see _Parser)."""
    fn = _Parser(_tokenize(sql), set(cols), ansi, vec=vec, forbid_acc=forbid_acc).parse()

    def run(acc, rec, value=None):
        return fn((acc, rec, value))

    return run


# ---------------------------------------------------------------------------
# per-stage compiled context
# ---------------------------------------------------------------------------

_AGGS = {
    "sum": lambda vs: sum(vs) if vs else None,
    "min": lambda vs: min(vs) if vs else None,
    "max": lambda vs: max(vs) if vs else None,
    "count": lambda vs: len(vs),
}


@dataclass
class StageCtx:
    """Captured by GraphRunner._run_state for the epoch being closed."""

    kind: str  # 'chain_expr' | 'pandas' | 'epoch_combine'
    stage: Any
    ns: Any
    stage_idx: int
    ops: Any  # persisted Spark DataFrame (alive ops with __key)
    snapshot: Any  # committed snapshot DataFrame at epoch open
    value_cols: list[str]
    evaluated: Any  # persisted evaluation frame (None for epoch_combine)


@dataclass
class _Compiled:
    update: Callable  # fn(acc, rec) -> candidate (raw)
    invariant: Callable | None  # fn(value, rec) -> bool|None
    cast: Callable  # value-type cast
    # numpy twins of update/invariant over per-chain ARRAYS, or None
    # when the expression doesn't vectorize (the scalar fold then runs)
    update_vec: Callable | None = None
    invariant_vec: Callable | None = None


def compile_stage(spark, ctx: StageCtx, sql_cache: dict | None = None) -> _Compiled:
    """Python twin for one state stage, or raise Ineligible.

    ``sql_cache`` is the runner's rendered-SQL memo — the SAME fragment
    the JVM fold executes is what gets compiled (and the py4j
    Expression.sql() round-trip is paid once per runner, not once per
    compile site)."""
    from t_spoon_spark.tx.runner import _chain_update_sql

    ns = ctx.ns
    vt = re.sub(r"\s", "", ns.value_type.lower())
    if vt not in CASTS:
        raise Ineligible(f"value type {ns.value_type!r}")
    cast = CASTS[vt]

    if ctx.kind == "pandas":
        # the Arrow chain path already HAS python twins — reuse them
        # verbatim so the driver fold is the same code the executors run
        # (record values of ANY type are fine here: the fold sorts by
        # (tid, path) only and py_update owns the value semantics)
        if ctx.stage.py_update is None:  # pragma: no cover - impl invariant
            raise Ineligible("pandas path without py_update")
        upd = ctx.stage.py_update
        inv = ns.py_invariant
        return _Compiled(
            update=lambda acc, rec, _u=upd: _u(acc, rec),
            invariant=(lambda v, rec, _i=inv: _i(v)) if inv else None,
            cast=cast,
        )

    if ctx.kind == "chain_expr" and not ctx.stage.pre_combine:
        # the chain sorts by the FULL element struct (tid, path, value
        # cols) — validate sortability from the Spark schema NOW so a
        # pull can never discover ineligibility mid-close
        atomic = re.compile(r"^(string|boolean|tinyint|smallint|int|bigint|float|double)$")
        for c in ctx.value_cols:
            if not atomic.match(ctx.ops.schema[c].dataType.simpleString()):
                raise Ineligible(f"non-atomic chain sort column {c}")

    if ctx.stage.pre_combine:
        for how in ctx.stage.pre_combine.values():
            if how.lower() not in _AGGS:
                raise Ineligible(f"pre_combine agg {how!r}")

    sql_key = (id(ctx.stage), tuple(ctx.value_cols))
    upd_sql = sql_cache.get(sql_key) if sql_cache is not None else None
    if upd_sql is None:
        upd_sql = _chain_update_sql(spark, ctx.stage, ctx.value_cols)
        if sql_cache is not None:
            sql_cache[sql_key] = upd_sql
    ansi = str(spark.conf.get("spark.sql.ansi.enabled", "true")).lower() == "true"
    upd = compile_fragment(upd_sql, ctx.value_cols, ansi)
    inv = None
    if ctx.kind == "chain_expr" and ns.invariant:
        inv = compile_fragment(ns.invariant, ctx.value_cols, ansi)
    # vec twins are best-effort: Ineligible here never fails the stage,
    # it only keeps the cascade's scalar per-key fold
    upd_v = inv_v = None
    try:
        upd_v = compile_fragment(upd_sql, ctx.value_cols, ansi, vec=True)
    except Ineligible:
        pass
    if inv is not None and upd_v is not None:
        try:
            inv_v = compile_fragment(
                ns.invariant, ctx.value_cols, ansi, vec=True, forbid_acc=True
            )
        except Ineligible:
            upd_v = None  # both or neither: a half-vec stage can't fold
    return _Compiled(
        update=lambda acc, rec, _u=upd: _u(acc, rec),
        invariant=(lambda v, rec, _i=inv: _i(None, rec, v)) if inv else None,
        cast=cast,
        update_vec=(lambda acc, rec, _u=upd_v: _u(acc, rec)) if upd_v else None,
        invariant_vec=(
            (lambda v, rec, _i=inv_v: _i(None, rec, v)) if inv_v else None
        ),
    )


# the driver fixpoint
# ---------------------------------------------------------------------------

# pandas-native aggregations for the vectorized pre-combine; each must
# match Spark's null handling (skip nulls; all-null group -> NULL,
# except count -> 0)
def _pd_agg(gb, col: str, how: str):
    how = how.lower()
    if how == "sum":
        return gb[col].sum(min_count=1)  # all-NaN group -> NaN (Spark: NULL)
    if how == "min":
        return gb[col].min()
    if how == "max":
        return gb[col].max()
    return gb[col].count()  # non-null count (Spark semantics)


def _sort_key_field(v):
    """Per-field struct-comparison key matching Spark's ascending
    ordering: null first, strings by UTF-8 bytes (Spark compares
    UTF8String binary).  A float NaN here can only be SQL NULL read
    through a pandas float column — true NaN record values make the
    stage ineligible at pull time — so NaN sorts null-first too."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (0,)
    if isinstance(v, str):
        return (1, v.encode("utf-8"))
    if isinstance(v, (list, tuple)):
        return (1, tuple(_sort_key_field(x) for x in v))
    return (1, v)


_INT_VTS = {"bigint", "long", "int", "integer", "smallint", "tinyint"}

# ops-fold chain-length cap: the vectorized fold pays one numpy step per
# chain position, so a single chain approaching the batch size would
# degrade the step loop to per-row Python — past this, the epoch falls
# back to the JVM fold (one sequential task, JVM-speed).  Contended
# operating points run chains of a few hundred.
OPS_FOLD_MAX_CHAIN = 50_000


def _pull_pdf(df, key_cols: tuple[str, ...] = ()) -> pd.DataFrame:
    """Collect a control frame with its key columns DICTIONARY-ENCODED.

    Half of a measured 144k-txn fused pull was Arrow→pandas conversion,
    and the driver of that was object-dtype materialization of ~672k
    string key cells (BENCHNOTES round-8 map, lever 1b).  Collecting via
    ``toArrow()`` and dictionary-encoding the key column turns that into
    an int32 code copy plus ONE str object per distinct key (bounded by
    the touched keyspace, not the link count); downstream pandas sees a
    Categorical whose ops (isin/groupby/tolist) run on the codes.
    Key-level groupbys must pass ``observed=True`` — without it pandas
    manufactures a group per CATEGORY (the full dictionary), turning a
    per-(tid,key) combine into a cross product.

    Falls back to plain ``toPandas()`` when Arrow collection is
    unavailable (non-Arrow types never appear in these frames, but the
    fallback keeps eligibility decoupled from the transport)."""
    try:
        import pyarrow.compute as pc

        tbl = df.toArrow()
        for c in key_cols:
            i = tbl.schema.get_field_index(c)
            tbl = tbl.set_column(i, c, pc.dictionary_encode(tbl.column(c)))
        return tbl.to_pandas(self_destruct=True)
    except Exception:  # pragma: no cover - transport fallback
        return df.toPandas()


def _plain_keys(pdf: pd.DataFrame, col: str) -> pd.DataFrame:
    """Decode a categorical key column back to object dtype before the
    frame crosses the module boundary (store twin / createDataFrame).
    Pointer copies of the already-materialized category strings — cheap."""
    if isinstance(pdf[col].dtype, pd.CategoricalDtype):
        pdf[col] = pdf[col].astype(object)
    return pdf


@dataclass
class _StageState:
    ctx: StageCtx
    comp: _Compiled
    # raw per-op frame: _tid, __key, (+ _path, value cols) — for chain
    # kinds pre-combined per (tid, key) when the stage pre-combines
    ops_pdf: Any = None
    # original evaluation (chain kinds): key, _tid, value, vote, _ord, __wr
    eval_pdf: Any = None
    v0: dict = field(default_factory=dict)
    v0_ready: bool = False
    # lazily-built per-key chains: key -> [(tid, rec)] in fold order
    chains: dict = field(default_factory=dict)
    # per-key refold results superseding eval_pdf rows.  Scalar mode:
    # key -> [(tid, vote, value, ord, wr)].  Vec mode: key -> None (the
    # dict is the KEY-MEMBERSHIP container both modes share; the link
    # data lives flat in ov_flat)
    overrides: dict = field(default_factory=dict)
    # flat (key, _tid, vote) frame of the CURRENT override links —
    # maintained incrementally so a cascade round's vote merge reads
    # override votes without iterating the whole overrides dict
    ov_links: Any = None
    # vec mode only: the flat override table (key, _tid, vote, value,
    # _ord, wr) the position-wise refold writes and the writes assembly
    # reads; ov_links aliases it (extra columns are harmless there)
    ov_flat: Any = None
    # packed fold state built once per epoch by _vec_init: None = not
    # yet decided, False = stage not vec-eligible, dict = eligible
    vec: Any = None
    # True when the RAW pulled ops carried a NULL __key (the pandas
    # pre-combine groupby drops those rows; the ops-fold path must see
    # the flag and fall back)
    ops_null_keys: bool = False


@dataclass
class CascadeResult:
    gv_pdf: pd.DataFrame  # _tid, vote, any_commit
    writes: dict[str, list[pd.DataFrame]]  # ns -> per-stage writes pdfs
    finals: dict[str, pd.DataFrame]  # ns -> resolved (key, value)
    rounds: int


class DriverCascade:
    """One epoch's driver-side cascade; built lazily by the runner.

    Control-frame sizes here are bounded by BATCH size (ops and links
    are one row per key-touch of the epoch), never by state size — the
    same invariant that justifies the pandas materialize mode itself.
    All per-round set algebra is vectorized pandas; the only Python
    loops run over the REFOLDED chains (the contended-key subset)."""

    def __init__(
        self,
        spark,
        ctxs: list[StageCtx],
        compiled: list[_Compiled],
        ops_fold: bool = False,
    ):
        self.spark = spark
        self.states = [_StageState(ctx=c, comp=k) for c, k in zip(ctxs, compiled)]
        self._pulled_eval = False
        self._pulled_ops = False
        # runner-selected hot path (round-12 unloaded-latency floor):
        # the epoch's ONE Spark job is the pre-fold ops projection
        # (scan -> graph -> 3-column select: no chain shuffle, no
        # multi-KB fold expression for Catalyst to re-analyze per
        # epoch), and the initial evaluation of EVERY chain runs
        # through the vectorized numpy fold — the exact machinery
        # cascade rounds already use for overrides, applied from round
        # 0 with an empty exclusion set. The runner engages it only
        # when every stage is statically vec-eligible and the previous
        # epoch was small (driver-resident control frames by
        # construction).
        self.ops_fold = ops_fold

    # -- data pulls -----------------------------------------------------

    def _pull_eval(self, store) -> None:
        """Eager per-epoch pull: the evaluation links of every chain
        stage (one Spark job each — THE epoch's compute job), plus the
        raw ops of epoch_combine stages (their links and writes are
        derived driver-side)."""
        if self._pulled_eval:
            return
        for st in self.states:
            ctx = st.ctx
            if ctx.kind == "epoch_combine":
                self._pull_stage_ops(st)
                self._ensure_v0(store, st)
            else:
                st.eval_pdf = _pull_pdf(
                    ctx.evaluated.select(
                        "key", "_tid", "value", "vote", "_ord", "__wr"
                    ),
                    key_cols=("key",),
                )
                self._sanitize_eval_values(st)
        self._pulled_eval = True

    def _pull_fused(self, store, tids_df) -> pd.Series | None:
        """ONE-job pull of everything a loaded epoch needs: the tid set,
        every chain stage's evaluation links, AND the raw ops the
        cascade would refold from — as a part-tagged union frame.
        Job launches dominate control-frame pulls locally (~0.1-0.2 s
        each), so three pulls into one job is a direct latency cut.

        Returns the tid Series, or None when the graph shape doesn't
        fit one union frame (non-chain stages, multi-column records,
        value-type mismatches) — callers then use the per-frame pulls."""
        import pyspark.sql.functions as F

        if self._pulled_eval:
            return None
        vts = {re.sub(r"\s", "", st.ctx.ns.value_type.lower()) for st in self.states}
        if len(vts) != 1:
            return None
        vt = next(iter(vts))
        for st in self.states:
            ctx = st.ctx
            if ctx.kind != "chain_expr" or len(ctx.value_cols) != 1:
                return None
            if not ctx.stage.pre_combine:
                # without a pre-combiner the chain sorts by (tid, _path,
                # value) and the union frame carries no _path — use the
                # per-frame pulls
                return None
            col = ctx.value_cols[0]
            if ctx.ops.schema[col].dataType.simpleString() != vt:
                return None
            if (
                "__rec" not in ctx.evaluated.columns
                or ctx.evaluated.schema["__rec"].dataType.simpleString() != vt
            ):
                # the fold's dual output (the pre-combined record riding
                # the link struct) is what lets ONE slice execution feed
                # both the evaluation and the refoldable ops; a widened
                # pre-combine type (sum(int) -> bigint) can't share the
                # union's value column — per-frame pulls handle it
                return None

        def row(part, stage, tid, key, value, vote, ordv, wr, rec):
            return [
                F.lit(part).alias("part"),
                F.lit(stage).alias("stage"),
                tid.alias("_tid"),
                key.alias("key"),
                value.cast(vt).alias("value"),
                vote.alias("vote"),
                ordv.cast("long").alias("_ord"),
                wr.alias("wr"),
                rec.cast(vt).alias("rec"),
            ]

        # value sentinel is a TYPED ZERO, not NULL: one null in an
        # integer Arrow column degrades the whole pandas column to
        # float64, where values past 2^53 round (part-0 values are never
        # read).
        # tids_df is None when the graph provably links every txn
        # (links_cover_tids): no part-0 branch, tid set derived from the
        # links below — one fewer source scan, batch-size fewer rows.
        u = None
        if tids_df is not None:
            u = tids_df.select(
                *row(
                    0, -1, F.col("_tid"), F.lit(""), F.lit(0), F.lit(-1),
                    F.lit(-1), F.lit(False), F.lit(0),
                )
            )
        for i, st in enumerate(self.states):
            ev = st.ctx.evaluated.select(
                *row(
                    1, i, F.col("_tid"), F.col("key"), F.col("value"),
                    F.col("vote"), F.col("_ord"), F.col("__wr"), F.col("__rec"),
                )
            )
            u = ev if u is None else u.unionByName(ev)
        pdf = _pull_pdf(u, key_cols=("key",))

        if tids_df is not None:
            tids_pdf = pdf.loc[pdf["part"] == 0, "_tid"].reset_index(drop=True)
        else:
            tids_pdf = pd.Series(pdf["_tid"].unique(), dtype="int64")
        links_only = tids_df is None and len(self.states) == 1
        for i, st in enumerate(self.states):
            # single stage + no tid branch: the whole frame IS the links
            # frame — skip the 2x batch-sized boolean masks + take, and
            # build the eval/ops frames as COLUMN-SHARING views of the
            # pulled frame (dict-of-Series with copy=False is zero-copy;
            # every later mutation in this module is a whole-column
            # replacement, never an in-place write) — round-9 verdict
            # next-round #2's links_only copy elision
            stage_rows = (
                pdf if links_only else
                pdf[(pdf["stage"] == i) & (pdf["part"] == 1)].reset_index(drop=True)
            )
            st.eval_pdf = pd.DataFrame(
                {
                    "key": stage_rows["key"],
                    "_tid": stage_rows["_tid"],
                    "value": stage_rows["value"],
                    "vote": stage_rows["vote"],
                    "_ord": stage_rows["_ord"],
                    "__wr": stage_rows["wr"],
                },
                copy=False,
            )
            self._sanitize_eval_values(st)
            # the refoldable ops are a PROJECTION of the same link rows:
            # one link per (tid, key) after the pre-combine, with the
            # pre-combined record value in 'rec' — no second execution
            # of the epoch slice, no driver-side re-combine
            ops = pd.DataFrame(
                {
                    "_tid": stage_rows["_tid"],
                    "__key": stage_rows["key"],
                    st.ctx.value_cols[0]: stage_rows["rec"],
                },
                copy=False,
            )
            self._check_ops_nan(st, ops, [st.ctx.value_cols[0]])
            st.ops_pdf = ops
        self._pulled_eval = True
        self._pulled_ops = True
        return tids_pdf

    def _pull_ops_fold(self, store, tids_series, tids_covered: bool):
        """Ops-pull + full driver-side fold (the runner's ops_fold hot
        path): pull each chain stage's PRE-FOLD ops (a trivial
        projection plan — the per-epoch Catalyst cost of the fold
        expression disappears), take v0 from the store's pandas twin,
        and evaluate every chain with ``_refold_keys_vec`` over an empty
        exclusion set — bit-identical semantics to the SQL fold by the
        same pinning that makes cascade overrides exact
        (tests/test_refold_vec.py).  Populates eval state exactly like a
        cascade round that refolded every key: eval_pdf empty, all keys
        overridden, links in ov_flat — every downstream consumer (vote
        merge, cascade rounds, writes assembly) reads that shape today.

        Returns the epoch's tid Series, or None when a stage's DATA is
        not vec-eligible this epoch (NaN record values etc.) — the
        caller raises Ineligible and the runner retries the epoch on
        the standard path (nothing was committed)."""
        if self._pulled_eval:
            return None
        if not (tids_covered or tids_series is not None):
            return None
        for st in self.states:
            if st.ctx.kind != "chain_expr":
                return None
        for st in self.states:
            self._pull_stage_ops(st)
            self._ensure_v0(store, st)
        self._pulled_ops = True
        for st in self.states:
            if len(st.ops_pdf) == 0:
                # empty stage (e.g. an empty streaming micro-batch): no
                # keys, no links — nothing to fold, nothing to vec-init
                continue
            # the SQL fold groups NULL keys as a group of their own;
            # the pandas pre-combine dropped those rows (and factorize
            # would code them -1), so a null-key epoch takes the
            # standard path instead — flag recorded on the RAW frame
            # in _pull_stage_ops, before the groupby could hide it
            if st.ops_null_keys or bool(st.ops_pdf["__key"].isna().any()):
                return None
            if st.vec is None:
                st.vec = self._vec_init(st)
            if not st.vec:
                return None
            # the vectorized fold costs one numpy step per chain
            # POSITION: a pathological single-hot-key epoch (chain ~
            # epoch size) would turn the step loop into a Python loop
            # over the whole batch — the JVM fold handles that shape in
            # one sequential task at JVM speed, so fall back.  The
            # contended operating points (chains of a few hundred) stay
            # far under the cap.
            if len(st.vec["lens"]) and int(st.vec["lens"].max()) > OPS_FOLD_MAX_CHAIN:
                return None
        no_excl = _np.empty(0, dtype=_np.int64)
        tid_arrs = []
        for st in self.states:
            st.eval_pdf = pd.DataFrame(
                {
                    "key": pd.Series(dtype=object),
                    "_tid": pd.Series(dtype="int64"),
                    "value": pd.Series(dtype="float64"),
                    "vote": pd.Series(dtype="int32"),
                    "_ord": pd.Series(dtype="int64"),
                    "__wr": pd.Series(dtype=bool),
                }
            )
            if isinstance(st.vec, dict):
                all_keys = _np.asarray(st.vec["kindex"], dtype=object)
                if len(all_keys):
                    self._refold_keys_vec(st, all_keys, no_excl)
            tid_arrs.append(
                st.ops_pdf["_tid"].to_numpy().astype(_np.int64, copy=False)
            )
        self._pulled_eval = True
        if tids_series is not None:
            return pd.Series(tids_series, dtype="int64")
        return pd.Series(
            _np.unique(_np.concatenate(tid_arrs)) if tid_arrs else [],
            dtype="int64",
        )

    def _pull_refold(self, store) -> None:
        """Lazy pull for cascade refolds: the raw ops and v0 snapshot of
        every chain stage — only paid when a refold actually happens."""
        for st in self.states:
            if st.ctx.kind != "epoch_combine":
                if not self._pulled_ops:
                    self._pull_stage_ops(st)
                self._ensure_v0(store, st)
        self._pulled_ops = True

    def _pull_stage_ops(self, st: _StageState) -> None:
        ctx = st.ctx
        pre = ctx.stage.pre_combine
        if ctx.kind != "pandas" and pre:
            pdf = _pull_pdf(
                ctx.ops.select("_tid", "__key", *pre), key_cols=("__key",)
            )
            # recorded on the RAW frame: the pandas pre-combine groupby
            # below silently DROPS NaN keys (dropna default), so a
            # post-groupby check would miss them — the ops-fold path
            # must know a null-key op existed and fall back (the SQL
            # fold keeps NULL keys as a group of their own)
            st.ops_null_keys = bool(pdf["__key"].isna().any())
            self._check_ops_nan(st, pdf, list(pre))
            if ctx.kind == "chain_expr":
                # the JVM path pre-combines per (tid, key); the chain
                # then sorts by tid alone
                gb = pdf.groupby(["_tid", "__key"], sort=False, observed=True)
                agg = {c: _pd_agg(gb, c, h) for c, h in pre.items()}
                pdf = pd.DataFrame(agg).reset_index()
        else:
            cols = ["_tid", "__key", "_path", *ctx.value_cols]
            pdf = _pull_pdf(
                ctx.ops.select(*dict.fromkeys(cols)), key_cols=("__key",)
            )
            st.ops_null_keys = bool(pdf["__key"].isna().any())
            if ctx.kind != "pandas":
                # pandas-kind folds never null-normalize record values
                # (py_update owns them), so only chain_expr needs the
                # NaN/NULL disambiguation
                self._check_ops_nan(st, pdf, ctx.value_cols)
        st.ops_pdf = pdf

    def _check_ops_nan(self, st: _StageState, pdf, cols: list[str]) -> None:
        """pandas reads BOTH SQL NULL and double NaN as NaN; the driver
        treats every NaN as NULL (null propagation, null-first sort,
        null-skipping aggregation — Spark's NULL semantics).  That is
        only sound if the source has no TRUE NaN, so when the ambiguity
        appears (any NaN in a float record column) ask Spark: genuine
        NaN record values make the stage ineligible and the distributed
        path (which distinguishes them natively) takes over.  Integer
        record columns that arrived as float (a null somewhere in the
        column) either fall back (nulls present — int64 can't hold
        them alongside exact >2^53 values) or are restored to int64."""
        import pyspark.sql.functions as F

        for c in cols:
            if pdf[c].dtype.kind != "f" or c not in st.ctx.ops.columns:
                continue
            dt = st.ctx.ops.schema[c].dataType.simpleString()
            has_na = bool(pdf[c].isna().any())
            if dt in _INT_VTS:
                if has_na:
                    raise Ineligible(f"NULL integer record values in {c}")
                pdf[c] = pdf[c].astype("int64")
            elif has_na and dt in ("double", "float") and (
                st.ctx.ops.filter(F.isnan(F.col(c))).limit(1).count() > 0
            ):
                raise Ineligible(f"NaN values in record column {c}")

    def _sanitize_eval_values(self, st: _StageState) -> None:
        """The pulled evaluation's `value` column feeds writes VERBATIM,
        so its NULL/NaN/precision must survive the pandas round-trip:
        integer value types are restored to int64 (or the stage falls
        back if nulls make that impossible), and float NULLs — read as
        NaN — are turned back into None unless the evaluation really
        contains NaN (then fall back; Spark distinguishes, pandas
        cannot)."""
        import pyspark.sql.functions as F

        vt = re.sub(r"\s", "", st.ctx.ns.value_type.lower())
        col = st.eval_pdf["value"]
        if col.dtype.kind != "f":
            return
        has_na = bool(col.isna().any())
        if vt in _INT_VTS:
            if has_na:
                raise Ineligible("NULL chain values with integer value type")
            st.eval_pdf["value"] = col.astype("int64")
        elif has_na:
            if (
                st.ctx.evaluated.filter(F.isnan(F.col("value"))).limit(1).count()
                > 0
            ):
                raise Ineligible("NaN chain values")
            st.eval_pdf["value"] = col.astype(object).where(col.notna(), None)

    def _ensure_v0(self, store, st: _StageState) -> None:
        """v0: committed snapshot values for the touched keys — from the
        store's pandas twin when present (vectorized filter to the
        batch's keys — never a dict over the whole state), else one
        bounded Spark job (distinct batch keys join snapshot).  A
        NULL/absent v0 coalesces to the namespace default in BOTH
        engines (the chain folds read coalesce(__v0, default))."""
        import pyspark.sql.functions as F

        if st.v0_ready:
            return
        st.v0_ready = True
        ctx = st.ctx
        twin = store._current_pdf.get(ctx.ns.name)
        if twin is not None:
            # .unique() (categorical-aware) instead of a set over every
            # row: the batch's distinct keys, not one str per link
            keys = st.ops_pdf["__key"].unique() if st.ops_pdf is not None else None
            sub = twin if keys is None else twin[twin["key"].isin(keys)]
            st.v0 = dict(zip(sub["key"], sub["value"]))
        else:
            spdf = (
                ctx.ops.select("__key")
                .distinct()
                .join(
                    ctx.snapshot.select(F.col("key").alias("__key"), F.col("value")),
                    "__key",
                    "left",
                )
                .toPandas()
            )
            st.v0 = dict(zip(spdf["__key"], spdf["value"]))

    # -- chains (built lazily for refolded keys only) -------------------

    def _ensure_chains(self, st: _StageState, keys) -> None:
        missing = [k for k in keys if k not in st.chains]
        if not missing:
            return
        ctx = st.ctx
        pdf = st.ops_pdf
        sub = pdf[pdf["__key"].isin(set(missing))]
        pre = ctx.stage.pre_combine
        cols = ctx.value_cols
        if ctx.kind != "pandas" and pre:
            # hot path (pre-combined chains sort by tid alone): ONE
            # global stable sort, then a linear scan — groups stay
            # tid-ordered, no per-key sorts (measured 3x on 45k-chain
            # cascade rounds of a 144k-txn epoch)
            sub = sub.sort_values("_tid", kind="mergesort")
            keys_l = sub["__key"].tolist()
            tids_l = sub["_tid"].tolist()
            vals_l = [sub[c].tolist() for c in cols]
            chains: dict = {k: [] for k in missing}
            if len(cols) == 1:
                # single pre-combine column (the common shape): build
                # the rec dict without per-row zip machinery — ~30% off
                # the chain-build loop at cascade scale
                c0, v0 = cols[0], vals_l[0]
                for i, key in enumerate(keys_l):
                    chains[key].append((int(tids_l[i]), {c0: v0[i]}))
            else:
                for i, key in enumerate(keys_l):
                    chains[key].append(
                        (int(tids_l[i]), {c: v[i] for c, v in zip(cols, vals_l)})
                    )
            st.chains.update(chains)
            return
        rows_by_key: dict = {k: [] for k in missing}
        for key, tid, path, *vals in zip(
            sub["__key"], sub["_tid"], sub["_path"], *[sub[c] for c in cols]
        ):
            rec = dict(zip(cols, vals))
            p = tuple(path) if path is not None else ()
            if ctx.kind == "chain_expr":
                # sort_array orders by the FULL element struct:
                # (tid, path, value cols) with Spark field ordering
                sk = (int(tid), p, *[_sort_key_field(rec[c]) for c in cols])
            else:  # the Arrow fold sorts by (tid, path) only, stably
                sk = (int(tid), p)
            rows_by_key[key].append((sk, int(tid), rec))
        for key, rows in rows_by_key.items():
            rows.sort(key=lambda x: x[0])
            st.chains[key] = [(tid, rec) for _sk, tid, rec in rows]

    # -- refold ---------------------------------------------------------

    def _refold_key(self, st: _StageState, key: str, excluded: set) -> list:
        """Refold one key's chain under the given exclusion set.

        EVERY chain link is re-evaluated — excluded txns evaluate
        against the clean chain but do not apply their write (reference
        C9 dependency replay, tgraph/twopc/OpenOperator.java:287-357: a
        txn whose invariant failed only on a contaminated value must be
        re-executed on committed state, not pinned aborted).  A link
        that now passes lets the txn's global vote flip back to COMMIT
        and leave the excluded set next round."""
        ctx, comp = st.ctx, st.comp
        default = ctx.ns.default
        raw_v0 = st.v0.get(key, default)
        out: list = []
        if ctx.kind == "chain_expr":
            # mirrors the SQL aggregate() fold in _state_chain_expr:
            # acc starts at CAST(coalesce(v0, default) AS vt); candidate
            # cast to vt; invariant sees the cast candidate; committed
            # non-excluded links advance the chain; _ord is the chain
            # POSITION (matching the fold's posexplode)
            acc = comp.cast(
                _nan_none(raw_v0) if _nan_none(raw_v0) is not None else default
            )
            for pos, (tid, rec) in enumerate(st.chains[key]):
                cand = comp.cast(comp.update(acc, rec))
                ok = comp.invariant(cand, rec) if comp.invariant else True
                ok = ok is True
                ex = tid in excluded
                val = cand if ok else acc
                out.append((tid, COMMIT if ok else ABORT, val, pos, ok and not ex))
                if ok and not ex:
                    acc = cand
        else:
            # mirrors _state_chain_pandas.fold: UNCAST chain value, value
            # recorded = candidate even when aborted (writes filter __wr)
            acc = _nan_none(raw_v0) if _nan_none(raw_v0) is not None else default
            for pos, (tid, rec) in enumerate(st.chains[key]):
                cand = comp.update(acc, rec)
                ok = comp.invariant(cand, rec) if comp.invariant else True
                ex = tid in excluded
                out.append((tid, COMMIT if ok else ABORT, cand, pos, bool(ok) and not ex))
                if ok and not ex:
                    acc = cand
        return out

    # -- vectorized refold (position-wise over packed chains) ------------

    def _vec_init(self, st: _StageState):
        """Packed-array fold state for the position-wise vectorized
        refold, or False when the stage must keep the scalar per-key
        fold.  Eligibility (stricter than driver-cascade eligibility —
        failing it costs speed, never correctness):

        - chain_expr with a pre_combine (chains sort by tid alone, so
          ONE global lexsort by (key, tid) packs every chain) and a
          single record column;
        - both update and invariant compiled to numpy twins;
        - a FLOAT value type: float64 numpy ops are bit-identical to
          Python floats, while int64 could silently wrap where the
          scalar fold's Python ints cannot;
        - null-free record values (a NaN in the pulled frame is SQL
          NULL — the scalar fold's _nan_none semantics would be needed).

        The packed layout: chains live as contiguous slices of the
        (key, tid)-sorted arrays; starts/lens index them, acc0 carries
        each key's committed v0.  One refold round then costs
        O(max_chain_len) numpy steps over ALL touched keys instead of
        one Python loop per key (round-9 verdict next-round #3)."""
        ctx, comp = st.ctx, st.comp
        if st.ops_pdf is None or len(st.ops_pdf) == 0:
            # nothing to pack: factorize/starts index math below assumes
            # at least one row (an empty epoch crashed here, round 12) —
            # the scalar path handles the degenerate case for free
            return False
        if (
            ctx.kind != "chain_expr"
            or not ctx.stage.pre_combine
            or len(ctx.value_cols) != 1
            or comp.update_vec is None
            or (comp.invariant is not None and comp.invariant_vec is None)
            or comp.cast is not _to_float
            # a None namespace default cannot live in the float64 acc0
            # array; the scalar fold's None semantics apply — fall back
            or ctx.ns.default is None
        ):
            return False
        col = ctx.value_cols[0]
        vals = st.ops_pdf[col].to_numpy()
        if vals.dtype.kind == "f":
            if bool(_np.isnan(vals).any()):
                return False  # NULL-as-NaN: scalar null semantics needed
            vals = vals.astype(_np.float64, copy=False)
        else:
            # integer record columns are NOT vec-eligible even under
            # 2^53: Spark (and the scalar fold) evaluate record-only
            # integer sub-expressions (e.g. x.delta * x.delta) in exact
            # int64 and round ONCE at the double cast, while the numpy
            # twin would round after every float64 op — e.g.
            # delta=190000003 diverges the committed value for
            # delta*delta + delta.  Falling back costs speed only.
            return False
        key_col = st.ops_pdf["__key"]
        if isinstance(key_col.dtype, pd.CategoricalDtype):
            codes = key_col.cat.codes.to_numpy().astype(_np.int64, copy=False)
            cats = _np.asarray(key_col.cat.categories, dtype=object)
        else:
            codes, uniques = pd.factorize(key_col)
            codes = codes.astype(_np.int64, copy=False)
            cats = _np.asarray(uniques, dtype=object)
        tids = st.ops_pdf["_tid"].to_numpy().astype(_np.int64, copy=False)
        order = _np.lexsort((tids, codes))
        codes_s = codes[order]
        tids_s = tids[order]
        vals_s = vals[order]
        starts = _np.flatnonzero(_np.r_[True, codes_s[1:] != codes_s[:-1]])
        lens = _np.diff(_np.r_[starts, codes_s.size])
        gkeys = cats[codes_s[starts]]
        default = float(ctx.ns.default)
        # vectorized v0 lookup: a missing key OR a NULL committed value
        # both coalesce to the namespace default (the same contract as
        # the scalar fold's _nan_none + default)
        if st.v0:
            acc0 = (
                pd.Series(st.v0).reindex(gkeys).to_numpy(dtype=_np.float64)
            )
            _np.copyto(acc0, default, where=_np.isnan(acc0))
        else:
            acc0 = _np.full(len(starts), default, _np.float64)
        return {
            "tids": tids_s,
            "vals": vals_s,
            "starts": starts,
            "lens": lens,
            "kindex": pd.Index(gkeys),
            "acc0": acc0,
            "col": col,
        }

    def _refold_keys_vec(self, st: _StageState, touched, excl_arr) -> _np.ndarray:
        """Refold ALL touched keys' chains at once: one numpy step per
        chain POSITION (update + invariant + exclusion over every active
        chain simultaneously), semantics identical to _refold_key's
        chain_expr branch.  Results replace the keys' rows in the flat
        override table; returns the refolded links' tids (the affected
        set for the delta vote merge)."""
        P = st.vec
        comp = st.comp
        tkeys = _np.asarray(touched, dtype=object)
        # every touched key HAS ops rows (its eval links came from the
        # same pre-combined rows), so the indexer is total
        grp = P["kindex"].get_indexer(tkeys)
        S = P["starts"][grp]
        L = P["lens"][grp]
        acc = P["acc0"][grp].copy()
        total = int(L.sum())
        o_starts = _np.concatenate(([0], _np.cumsum(L)))[:-1]
        out_tid = _np.empty(total, _np.int64)
        out_vote = _np.empty(total, _np.int32)
        out_val = _np.empty(total, _np.float64)
        out_pos = _np.empty(total, _np.int64)
        out_wr = _np.empty(total, bool)
        tids_s, vals_s, col = P["tids"], P["vals"], P["col"]
        # membership against the exclusion set is tested per step over
        # the ACTIVE slices only (total = the touched chains' links),
        # not precomputed over every link in the epoch — rounds that
        # touch few keys pay for few keys (round-10 review finding)
        has_excl = bool(excl_arr.size)
        upd, inv = comp.update_vec, comp.invariant_vec
        for step in range(int(L.max()) if len(L) else 0):
            sel = _np.flatnonzero(L > step)
            idx = S[sel] + step
            o = o_starts[sel] + step
            a = acc[sel]
            rec = {col: vals_s[idx]}
            # mirrors _refold_key chain_expr: candidate cast to the
            # (float) value type, invariant sees the cast candidate,
            # value recorded = candidate if ok else prior acc, chain
            # advances only for applied (ok and not excluded) links
            cand = _np.asarray(upd(a, rec), dtype=_np.float64)
            if inv is not None:
                ok = _np.asarray(inv(cand, rec), dtype=bool)
            else:
                ok = _np.ones(cand.shape, dtype=bool)
            if has_excl:
                wr = ok & ~_np.isin(tids_s[idx], excl_arr)
            else:
                wr = ok
            out_tid[o] = tids_s[idx]
            out_pos[o] = step
            out_vote[o] = _np.where(ok, COMMIT, ABORT)
            out_val[o] = _np.where(ok, cand, a)
            out_wr[o] = wr
            acc[sel] = _np.where(wr, cand, a)
        new = pd.DataFrame(
            {
                "key": _np.repeat(tkeys, L),
                "_tid": out_tid,
                "vote": out_vote,
                "value": out_val,
                "_ord": out_pos,
                "wr": out_wr,
            },
            copy=False,
        )
        ov = st.ov_flat
        if ov is not None and len(ov):
            keep = ov[~ov["key"].isin(set(tkeys))]
            new = pd.concat([keep, new], ignore_index=True) if len(keep) else new
        st.ov_flat = new
        st.ov_links = new
        for k in tkeys:
            st.overrides[k] = None
        return _np.unique(out_tid)

    # -- vote merge (vectorized) ----------------------------------------

    def _merge_votes(self, all_tids: pd.Series) -> pd.DataFrame:
        parts: list[pd.DataFrame] = []
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                # every op row votes COMMIT (no invariant can fail here;
                # an excluded txn's combine link would also pass, so its
                # global vote is decided entirely by the chain stages)
                t = st.ops_pdf["_tid"]
                parts.append(pd.DataFrame({"_tid": t, "vote": COMMIT}))
                continue
            ep = st.eval_pdf
            if st.overrides:
                base = ep[~ep["key"].isin(st.overrides)][["_tid", "vote"]]
                parts.append(base)
                # ov_links mirrors the overrides' current link set in
                # BOTH storage modes (scalar _update_ov_links / vec
                # ov_flat alias) — one read path for the full merge
                ov = st.ov_links
                if ov is not None and len(ov):
                    parts.append(ov[["_tid", "vote"]])
            else:
                parts.append(ep[["_tid", "vote"]])
        links = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        gb = links.groupby("_tid", sort=False)["vote"]
        merged = pd.DataFrame(
            {"vote": gb.max(), "any_commit": (gb.min() == COMMIT).astype("int32")}
        ).reset_index()
        gv = pd.DataFrame({"_tid": all_tids}).merge(merged, on="_tid", how="left")
        gv["vote"] = gv["vote"].fillna(COMMIT).astype("int32")
        gv["any_commit"] = gv["any_commit"].fillna(0).astype("int32")
        return gv

    def _update_ov_links(self, st: _StageState, touched: set) -> None:
        """Fold this round's refolded keys into the stage's flat
        override-link frame (replace-then-append: a key refolded in an
        earlier round can be re-touched by a later exclusion)."""
        if not touched:
            return
        rows = [
            (key, tid, vote)
            for key in touched
            for tid, vote, _v, _o, _w in st.overrides[key]
        ]
        new = pd.DataFrame(rows, columns=["key", "_tid", "vote"])
        ov = st.ov_links
        if ov is not None and len(ov):
            ov = ov[~ov["key"].isin(touched)]
            st.ov_links = pd.concat([ov, new], ignore_index=True)
        else:
            st.ov_links = new

    def _merge_votes_delta(
        self, gv: pd.DataFrame, tid_index: pd.Index, affected
    ) -> pd.DataFrame:
        """Per-round vote merge over ONLY the affected tids.

        A cascade round changes the links of exactly the keys it
        refolded, so only tids with a link on those keys (the touched
        keys' chain members) plus the tids whose exclusion status
        changed can change their global vote — the full concat+groupby
        over every stage's link frame (measured ~0.16 s/round at the
        144k-txn operating point) re-derived votes that could not have
        moved.  Same MAX-lattice + any-commit semantics as
        `_merge_votes`, updated in place on the gv frame (rows stay in
        all_tids order).  ``affected`` is a set (scalar rounds) or a
        sorted-unique int64 ndarray (vec rounds hand their tids over
        without a 100k-element Python set round-trip)."""
        if isinstance(affected, (set, frozenset)):
            A_arr = _np.fromiter(affected, dtype=_np.int64, count=len(affected))
            A_arr.sort()
        else:
            A_arr = affected
        A = pd.Index(A_arr)
        parts: list[pd.DataFrame] = []
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                t = st.ops_pdf["_tid"]
                kept = t[t.isin(A)]
                parts.append(pd.DataFrame({"_tid": kept, "vote": COMMIT}))
                continue
            ep = st.eval_pdf
            sub = ep.loc[ep["_tid"].isin(A), ["_tid", "vote", "key"]]
            parts.append(sub.loc[~sub["key"].isin(st.overrides), ["_tid", "vote"]])
            ov = st.ov_links
            if ov is not None and len(ov):
                parts.append(ov.loc[ov["_tid"].isin(A), ["_tid", "vote"]])
        links = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        gb = links.groupby("_tid", sort=False)["vote"]
        merged = pd.DataFrame(
            {"vote": gb.max(), "any_commit": (gb.min() == COMMIT).astype("int32")}
        )
        m = merged.reindex(A)
        # explicit numpy fill: Series.fillna on a reindex of an EMPTY
        # merge yields object dtype and a deprecated silent downcast
        miss = m["vote"].isna().to_numpy()
        vote = _np.where(miss, COMMIT, m["vote"].to_numpy()).astype("int32")
        anyc = _np.where(miss, 0, m["any_commit"].to_numpy()).astype("int32")
        pos = tid_index.get_indexer(A)
        gvv = gv["vote"].to_numpy(copy=True)
        gva = gv["any_commit"].to_numpy(copy=True)
        gvv[pos] = vote
        gva[pos] = anyc
        gv["vote"] = gvv
        gv["any_commit"] = gva
        return gv

    # -- the driver close: merge + fixpoint + finals --------------------

    def close(
        self,
        store,
        tids,
        has_ec: bool,
        run_cascade: bool,
        tids_covered: bool = False,
    ) -> CascadeResult:
        """Full driver-side vote resolution for one epoch: initial merge
        from the pulled evaluation links, the abort-cascade fixpoint
        (PL3/PL4), and the writes/finals assembly — all pandas.  The
        fixpoint's control flow is identical to the distributed loop in
        runner._close (same exits, same evaluate-without-apply replay
        of excluded txns).

        ``tids`` is either a pandas Series (the source's driver twin —
        free) or a Spark DataFrame of ``_tid`` — then the fused one-job
        pull covers it together with the evaluation links and refold
        ops when the graph shape allows, and falls back to separate
        pulls otherwise.  With ``tids_covered`` (every txn provably has
        a state link — graph.links_cover_tids) the fused pull skips the
        tid-set union branch entirely and derives the tid set from the
        pulled links: one fewer source scan and ~batch-size fewer rows
        through Arrow."""
        if self.ops_fold:
            tids_pdf = self._pull_ops_fold(
                store, tids if isinstance(tids, pd.Series) else None, tids_covered
            )
            if tids_pdf is None:
                # data-dependent ineligibility (NaN records etc.): the
                # runner re-runs this epoch on the standard path — no
                # fused fallback exists here because the ops-fold epoch
                # never built the evaluation plan
                raise Ineligible("ops-fold: stage data not vec-eligible this epoch")
        elif isinstance(tids, pd.Series):
            tids_pdf = tids
            self._pull_eval(store)
        else:
            tids_pdf = self._pull_fused(store, None if tids_covered else tids)
            if tids_pdf is None:
                self._pull_eval(store)
                tids_pdf = tids.toPandas()["_tid"]
        all_tids = pd.Series(tids_pdf, dtype="int64").reset_index(drop=True)
        gv = self._merge_votes(all_tids)
        tid_index = pd.Index(all_tids)
        # the fixpoint's set algebra runs on SORTED int64 arrays (the
        # per-round Python-set form boxed ~100k ints per round at the
        # loaded operating point); the scalar refold path materializes
        # a real set lazily, only in rounds where a non-vec stage
        # actually refolds
        excluded = _np.empty(0, dtype=_np.int64)
        rounds = 0  # refold rounds actually executed
        guard = 0
        # Fixpoint: E' = {txns with a failing link when chains apply
        # the writes of exactly the non-E txns}.  Influence flows
        # strictly forward in tid order (a link only reads upstream
        # writes), so the iteration converges to the unique
        # serial-replay answer (reference C9/C10 semantics: contaminated
        # invariant failures REPLAY onto the clean chain; only
        # clean-chain failures stay aborted).  Termination: the verdict
        # of the k-th smallest tid is stable from round k, so rounds are
        # bounded by the longest dependency chain in the epoch.
        while run_cascade:
            ab = gv["vote"] == ABORT
            ab_arr = _np.sort(gv.loc[ab, "_tid"].to_numpy())
            if _np.array_equal(ab_arr, excluded):
                break
            guard += 1
            if guard > 100_000:  # pragma: no cover - same bug trap as Spark loop
                raise RuntimeError("driver cascade failed to converge")
            new_ab = _np.setdiff1d(ab_arr, excluded, assume_unique=True)
            replays = _np.setdiff1d(excluded, ab_arr, assume_unique=True)
            if not has_ec and not replays.size:
                # early exit: if no NEWLY aborted txn applied a single
                # link write, excluding it changes no chain — the votes
                # are already the fixpoint.  (Replayed txns always force
                # a refold: their writes must re-enter the chains.)
                new_mask = ab & gv["_tid"].isin(new_ab)
                if not bool((gv.loc[new_mask, "any_commit"] == 1).any()):
                    break
            self._pull_refold(store)
            rounds += 1
            changed = _np.concatenate((new_ab, replays))
            excluded = ab_arr
            excluded_set = None  # built on demand by the scalar path
            # only tids with a link on a refolded key (or with changed
            # exclusion status) can change their global vote this round
            affected_arrs: list = [changed]
            for st in self.states:
                if st.ctx.kind == "epoch_combine":
                    continue  # every combine link votes COMMIT regardless
                # refold ONLY keys where a status-changed txn's link is
                # (or would become) APPLIED — its current vote is
                # COMMIT.  A changed txn whose link on a key is a local
                # ABORT never applied there and still won't, so that
                # key's fold is bit-identical under the new exclusion
                # set and its previous evaluation (original or an
                # earlier round's override) stands.  This is the
                # per-key form of the any_commit contamination test —
                # a key-locality refinement over refolding every key
                # the changed txns touch.
                ep = st.eval_pdf
                cm = ep.loc[
                    ep["_tid"].isin(changed) & (ep["vote"] == COMMIT), "key"
                ]
                if st.overrides:
                    cm = cm[~cm.isin(st.overrides)]
                    ov = st.ov_links
                    if ov is not None and len(ov):
                        ov_cm = ov.loc[
                            ov["_tid"].isin(changed) & (ov["vote"] == COMMIT),
                            "key",
                        ]
                        # concat only non-empty pieces: pandas deprecates
                        # empty-entry dtype inference in concat, and a
                        # future release changing it would silently shift
                        # the key dtype here
                        if len(ov_cm):
                            cm = pd.concat([cm, ov_cm]) if len(cm) else ov_cm
                touched = cm.unique()
                if len(touched) == 0:
                    continue
                if st.vec is None:
                    st.vec = self._vec_init(st)
                if st.vec:
                    affected_arrs.append(
                        self._refold_keys_vec(
                            st, _np.asarray(touched, dtype=object), excluded
                        )
                    )
                    continue
                if excluded_set is None:
                    excluded_set = set(map(int, excluded))
                self._ensure_chains(st, touched)
                tset: set = set()
                aff_sc: set = set()
                for key in touched:
                    st.overrides[key] = self._refold_key(st, key, excluded_set)
                    tset.add(key)
                    for tid, _rec in st.chains[key]:
                        aff_sc.add(tid)
                self._update_ov_links(st, tset)
                affected_arrs.append(
                    _np.fromiter(aff_sc, dtype=_np.int64, count=len(aff_sc))
                )
            aff = _np.unique(_np.concatenate(affected_arrs))
            gv = self._merge_votes_delta(gv, tid_index, aff)

        gv_out = pd.DataFrame(
            {
                "_tid": all_tids,
                "vote": gv["vote"].astype("int32"),
                "any_commit": gv["any_commit"].astype("int32"),
            }
        )
        commit_arr = gv.loc[gv["vote"] == COMMIT, "_tid"].to_numpy()
        writes: dict[str, list[pd.DataFrame]] = {}
        for st in self.states:
            ctx = st.ctx
            if ctx.kind == "epoch_combine":
                pre = ctx.stage.pre_combine
                p = st.ops_pdf
                kept = p[~p["_tid"].isin(excluded)] if excluded.size else p
                gb = kept.groupby("__key", sort=False, observed=True)
                agg = {c: _pd_agg(gb, c, h) for c, h in pre.items()}
                combined = pd.DataFrame(agg).reset_index()
                rows = []
                cols = list(pre)
                for key, *vals in zip(combined["__key"], *[combined[c] for c in cols]):
                    rec = {c: _nan_none(v) for c, v in zip(cols, vals)}
                    raw_v0 = st.v0.get(key, ctx.ns.default)
                    v0 = st.comp.cast(
                        _nan_none(raw_v0)
                        if _nan_none(raw_v0) is not None
                        else ctx.ns.default
                    )
                    rows.append((key, st.comp.cast(st.comp.update(v0, rec)), -1, 0))
                wdf = pd.DataFrame(rows, columns=["key", "value", "_tid", "_ord"])
            else:
                ep = st.eval_pdf
                base = ep[ep["__wr"]]
                if st.overrides:
                    base = base[~base["key"].isin(st.overrides)]
                frames = [base[["key", "value", "_tid", "_ord"]]]
                if st.ov_flat is not None:
                    # vec mode: override values were cast (float64)
                    # during the fold — project the applied links flat
                    ow = st.ov_flat[st.ov_flat["wr"]]
                    if len(ow):
                        frames.append(
                            pd.DataFrame(
                                {
                                    "key": ow["key"],
                                    "value": ow["value"],
                                    "_tid": ow["_tid"],
                                    "_ord": ow["_ord"],
                                },
                                copy=False,
                            ).reset_index(drop=True)
                        )
                else:
                    ov_rows = [
                        (key, st.comp.cast(val), tid, ordv)
                        for key, links in st.overrides.items()
                        for tid, _vote, val, ordv, wr in links
                        if wr
                    ]
                    if ov_rows:
                        frames.append(
                            pd.DataFrame(
                                ov_rows, columns=["key", "value", "_tid", "_ord"]
                            )
                        )
                wdf = (
                    pd.concat(frames, ignore_index=True)
                    if len(frames) > 1
                    else frames[0].reset_index(drop=True)
                )
                wdf = _plain_keys(wdf, "key")
            wdf["_stage"] = ctx.stage_idx
            writes.setdefault(ctx.ns.name, []).append(wdf)

        finals: dict[str, pd.DataFrame] = {}
        for ns_name, parts in writes.items():
            allw = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            wc = allw[(allw["_tid"] < 0) | allw["_tid"].isin(commit_arr)]
            # last writer per key: max (_stage, _ord) — the pandas twin
            # of the close's row_number window
            wc = wc.sort_values(["_stage", "_ord"], kind="mergesort")
            finals[ns_name] = wc.drop_duplicates("key", keep="last")[
                ["key", "value"]
            ].reset_index(drop=True)
        return CascadeResult(gv_pdf=gv_out, writes=writes, finals=finals, rounds=rounds)
