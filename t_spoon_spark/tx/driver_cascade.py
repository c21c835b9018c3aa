"""Driver-side abort-cascade fixpoint for the pandas materialize mode.

Reference semantics this realizes (unchanged from the distributed loop
in runner._close): forward dependency tracking + replay of transactions
that read an aborted write (tgraph/state/PL4DependencyTrackingStrategy.java:23-44,
tgraph/twopc/StrictnessEnforcer.java:27-118), with the global vote as a
MAX lattice over per-key link votes (tgraph/twopc/ReduceVotesFunction.java).
Only WHERE the fixpoint iterates moves: the reference replays through
its record-at-a-time 2PC, the distributed path refolds via Spark jobs
(one control job per round), and this module refolds the same chains
on the driver.  A cluster session NEVER enters here: the runner uses it
only when the session materializes control frames through pandas
(single-JVM local) and every state stage has a Python twin.

- The epoch's one Spark job pulls either the pre-fold ops (the ops
  fold: every chain is then evaluated by the numpy fold) or the JVM
  fold's evaluation links; both are bounded by BATCH size, not state
  size.
- Each chain stage's links then live in ONE numpy table (_Links),
  chain-major and coded by tid position.  A cascade round restarts each
  changed chain at its first link whose txn flipped exclusion status
  while voting COMMIT, seeded from the chain value before it; all
  restarted suffixes advance together, one numpy step per chain
  position (_refold_suffixes).  Stages the numpy twin does not cover
  refold whole chains with the scalar fold.
- Votes merge over tid codes in numpy, in full once, then only for the
  txns a round affected.  Finals are each key's last applied committed
  link; the vote frame and writes re-enter Spark only where a reader
  needs them.

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
the stage INELIGIBLE and the runner keeps the distributed cascade;
eligibility never changes results, only where the fixpoint runs.
"""

from __future__ import annotations

import functools
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


def _vcompare_nan(op: str, a, b):
    """_vcompare under Spark's NaN semantics: NaN equals NaN and sorts
    above every number (numpy says False to both).  A double predicate
    needs it even over NaN-free values: ``inf - inf`` is NaN."""
    an, bn = _np.isnan(a), _np.isnan(b)
    if op in ("=", "=="):
        return (a == b) | (an & bn)
    if op in ("!=", "<>"):
        return (a != b) & ~(an & bn)
    if op == ">":
        return (a > b) | (an & ~bn)
    if op == ">=":
        return (a >= b) | an
    if op == "<":
        return (a < b) | (~an & bn)
    return (a <= b) | bn


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

# predicate mode: value type -> how numpy evaluates it exactly as Spark
# does ('double' with arithmetic; 'float' upcast to double and 'int'
# widened to int64, both without arithmetic)
PREDICATE_KINDS = {
    "double": "double",
    "float": "float",
    "real": "float",
    **{t: "int" for t in ("bigint", "long", "int", "integer", "smallint", "tinyint")},
}


def _decimal_to_double(text: str) -> float:
    """A decimal literal as Spark's cast to double reads it, or
    Ineligible where that cast could round differently from Python's
    ``float``: Spark either divides the unscaled long by 10^scale or
    asks BigDecimal, and both are exact only for small operands.  An
    exactly representable value reads the same either way.  Precision
    past 38 is a Spark parse error."""
    from decimal import Decimal
    from fractions import Fraction

    d = Decimal(text)
    _sign, digits, exp = d.as_tuple()
    if len(digits) > 38:
        raise Ineligible(f"decimal literal {text!r} past precision 38")
    val = float(d)
    unscaled = int("".join(map(str, digits)))
    if (unscaled < 2**53 and -exp <= 22) or Fraction(d) == Fraction(val):
        return val
    raise Ineligible(f"decimal literal {text!r} may round apart from Spark's")


class _Parser:
    """Pratt parser over the token stream; builds closures fn(scope)
    where scope = (acc_value, rec_dict, inv_value).  `ansi` binds the
    session's divide-by-zero behavior (raise vs NULL) at compile.

    ``vec=True`` emits numpy-array closures instead (scope fields are
    ndarrays, one element per chain being refolded); constructs whose
    semantics need NULLs or error channels raise Ineligible at compile
    so the caller falls back to the scalar fold.  ``forbid_acc`` rejects
    ``acc.value`` references — the invariant scope has no accumulator
    (the scalar twin passes None there, which vec arrays cannot).

    ``predicate`` (a value type, with ``vec=True``) compiles a row filter
    over ``value`` arrays that must keep Spark's answer exactly.  Every
    node then carries a kind: 'bool'; 'val', a number typed by the value
    column; or 'const', a number typed by its literals alone.  What
    Spark would type by its literals (a comparison or arithmetic with no
    'val' side: int or decimal math), what it rejects at analysis
    (``value > true``, ``NOT value``) and what numpy cannot follow
    (arithmetic outside a double value, a literal that converts apart)
    is Ineligible, so Spark answers it, or raises."""

    def __init__(
        self,
        tokens: list[tuple[str, str]],
        cols: set[str],
        ansi: bool = True,
        vec: bool = False,
        forbid_acc: bool = False,
        predicate: str | None = None,
    ):
        self.toks = tokens
        self.i = 0
        self.cols = cols
        self.ansi = ansi
        self.vec = vec
        self.forbid_acc = forbid_acc
        self.pred = None
        if predicate is not None:
            if not vec:
                raise ValueError("predicate mode compiles numpy closures: pass vec=True")
            self.pred = PREDICATE_KINDS.get(re.sub(r"\s", "", predicate.lower()))
            if self.pred is None:
                raise Ineligible(f"predicate over a {predicate!r} value")

    # -- predicate-mode kinds (no-ops otherwise) --------------------------

    def _kind(self, fn, kind: str):
        if self.pred is not None:
            fn.kind = kind
        return fn

    def _want(self, what: str, args, kinds, need_val: bool = False) -> None:
        if self.pred is None:
            return
        got = [getattr(a, "kind", None) for a in args]
        if any(g not in kinds for g in got) or (need_val and "val" not in got):
            raise Ineligible(f"{what} over {got} in a predicate")

    def _want_arith(self, what: str, args) -> None:
        if self.pred is not None and self.pred != "double":
            raise Ineligible(f"arithmetic on a {self.pred} value")
        self._want(what, args, _NUM, need_val=True)

    def _negate(self, what: str, inner, fn):
        """Negation keeps a literal a literal; of a value it is exact
        except on integers (Spark raises on -Long.MinValue)."""
        self._want(what, (inner,), _NUM)
        kind = getattr(inner, "kind", None)
        if kind == "val" and self.pred == "int":
            raise Ineligible(f"{what} of an int value")
        return self._kind(fn, kind)

    def _literal(self, text: str, suffix: str):
        """A numeric literal converted the way Spark coerces it against
        the value column's type."""
        suffix = suffix.lower()
        double = suffix == "d" or "e" in text.lower()
        if suffix == "f" or (suffix == "l" and ("." in text or double)):
            raise Ineligible(f"literal {text}{suffix} in a predicate")
        if (double or "." in text) and self.pred == "int":
            raise Ineligible(f"fractional literal {text} against an int value")
        if double:
            val = float(text)
            if not math.isfinite(val):  # Spark: out of double range
                raise Ineligible(f"literal {text} out of range")
            return val
        if "." in text:
            return _decimal_to_double(text)
        n = int(text)
        if self.pred == "int":
            if n >= 2**63:  # decimal in Spark
                raise Ineligible(f"literal {n} past bigint")
            return n
        if self.pred == "float" and n > 2**24:  # cast to float in Spark
            raise Ineligible(f"literal {n} inexact as float")
        return float(n) if n < 2**63 else _decimal_to_double(text)

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
        self._want("predicate", (e,), ("bool",))
        return e

    def _or(self):
        left = self._and()
        while self._peek() == ("kw", "or"):
            self._next()
            right = self._and()
            self._want("OR", (left, right), ("bool",))
            if self.vec:
                left = (lambda l, r: lambda s: _np.logical_or(l(s), r(s)))(left, right)
            else:
                left = (lambda l, r: lambda s: _or(l(s), r(s)))(left, right)
            left = self._kind(left, "bool")
        return left

    def _and(self):
        left = self._not()
        while self._peek() == ("kw", "and"):
            self._next()
            right = self._not()
            self._want("AND", (left, right), ("bool",))
            if self.vec:
                left = (lambda l, r: lambda s: _np.logical_and(l(s), r(s)))(left, right)
            else:
                left = (lambda l, r: lambda s: _and(l(s), r(s)))(left, right)
            left = self._kind(left, "bool")
        return left

    def _not(self):
        if self._peek() == ("kw", "not"):
            self._next()
            inner = self._not()
            self._want("NOT", (inner,), ("bool",))
            if self.vec:
                return self._kind((lambda _i: lambda s: _np.logical_not(_i(s)))(inner), "bool")

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
                return self._vcmp(v, left, right)
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
                self._want_arith(v, (left, right))
                left = (lambda l, r, o: lambda s: _arith(o, l(s), r(s)))(left, right, v)
                left = self._kind(left, "val")
            else:
                return left

    def _mul(self):
        left = self._unary()
        while True:
            k, v = self._peek()
            if k == "op" and v == "*":
                self._next()
                right = self._unary()
                self._want_arith("*", (left, right))
                left = (lambda l, r: lambda s: _arith("*", l(s), r(s)))(left, right)
                left = self._kind(left, "val")
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

            return self._negate("unary minus", inner, neg)
        if k == "op" and v == "+":
            self._next()
            inner = self._unary()
            self._want("unary plus", (inner,), _NUM)
            return inner
        return self._primary()

    def _vcmp(self, op: str, a, b):
        self._want(op, (a, b), _NUM, need_val=True)
        cmp = _vcompare_nan if self.pred == "double" else _vcompare
        return self._kind((lambda a, b, o, c: lambda s: c(o, a(s), b(s)))(a, b, op, cmp), "bool")

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
            self._want_arith(name, args)
            return self._kind((lambda a, b, o: lambda s: _arith(o, a(s), b(s)))(a, b, name), "val")
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
                return self._vcmp(name, a, b)
            return (lambda a, b, o: lambda s: _compare(o, a(s), b(s)))(a, b, name)
        if name == "negative" and len(args) == 1:
            a = args[0]

            def negf(s, _a=a):
                v = _a(s)
                return None if v is None else -v

            return self._negate("negative", a, negf)
        if name == "abs" and len(args) == 1:
            a = args[0]
            self._want("abs", args, ("val",))
            if self.pred == "int":
                raise Ineligible("abs of an int value")  # Spark raises on Long.MinValue

            def absf(s, _a=a):
                v = _a(s)
                return None if v is None else abs(v)

            return self._kind(absf, "val")
        if name in ("greatest", "least") and self.vec:
            self._want(name, args, _NUM, need_val=True)
            if len(args) < 2:
                raise Ineligible(f"{name} needs two arguments")
            step = _np.maximum if name == "greatest" else _np.minimum
            if self.pred is not None and name == "least":
                step = _np.fmin  # Spark's least skips NaN (it sorts above every number)

            # pairwise (not .reduce over a list): the args mix arrays
            # and scalar literals, which numpy cannot stack
            def pick(s, _args=args, _step=step):
                out = _args[0](s)
                for a in _args[1:]:
                    out = _step(out, a(s))
                return out

            return self._kind(pick, "val")
        if name == "greatest":
            return lambda s: _greatest(*[a(s) for a in args])
        if name == "least":
            return lambda s: _least(*[a(s) for a in args])
        if name == "coalesce":
            if self.vec:
                if not args:
                    raise Ineligible("coalesce without arguments")
                kinds = {getattr(a, "kind", None) for a in args}
                if self.pred is not None and kinds != {"bool"} and not kinds <= set(_NUM):
                    raise Ineligible(f"coalesce over {kinds} in a predicate")
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
            self._want("and", args, ("bool",))
            if self.vec:
                return self._kind(lambda s: _np.logical_and(a(s), b(s)), "bool")
            return lambda s: _and(a(s), b(s))
        if name == "or" and len(args) == 2:
            a, b = args
            self._want("or", args, ("bool",))
            if self.vec:
                return self._kind(lambda s: _np.logical_or(a(s), b(s)), "bool")
            return lambda s: _or(a(s), b(s))
        raise Ineligible(f"function {name!r} not whitelisted")

    def _primary(self):
        k, v = self._next()
        if k == "num":
            text = v
            suffix = text[-1] if text[-1] in "DdLlFf" else ""
            if suffix:
                text = text[:-1]
            if self.pred is not None:
                return self._kind((lambda _v: lambda s: _v)(self._literal(text, suffix)), "const")
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
            if v in ("true", "false") and self.pred is not None:
                raise Ineligible("boolean literal in a predicate")  # Spark: value > true fails
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
                    if self.pred is not None:
                        # float32 rounding and int widening stay on Spark
                        self._want("cast", (inner,), ("val",))
                        if tv.lower() != "double" or self.pred == "int":
                            raise Ineligible(f"cast to {tv!r} in a predicate")
                    cast_fn = (lambda i: lambda s: _np.asarray(i(s), dtype=_np.float64))(inner)
                    return self._kind(cast_fn, "val")
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
                    if default is None or not whens:
                        # no ELSE -> a non-matching row is NULL
                        raise Ineligible("CASE without WHEN or ELSE in vec mode")
                    self._want("CASE WHEN", [c for c, _ in whens], ("bool",))
                    branches = [val for _, val in whens] + [default]
                    kinds = {getattr(b, "kind", None) for b in branches}
                    if self.pred is not None and kinds != {"bool"}:
                        self._want("CASE branches", branches, _NUM)
                        kinds = {"val"} if "val" in kinds else {"const"}

                    def vcase(s, _whens=whens, _default=default):
                        out = _default(s)
                        for c, val in reversed(_whens):
                            out = _np.where(c(s), val(s), out)
                        return out

                    return self._kind(vcase, kinds.pop())

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
                return self._kind(lambda s: s[2], "val")
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


_NUM = ("val", "const")


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
    predicate: str | None = None,
) -> Callable:
    """Compile a rendered Spark SQL fragment to fn(acc, rec, value).

    `sql` is either runner._chain_update_sql output (refs ``acc.value``
    and ``x.<col>``) or a raw namespace invariant (refs ``value`` and
    bare record columns).  Raises Ineligible outside the whitelist.
    ``ansi`` binds the divide-by-zero behavior (raise vs NULL) to the
    session's `spark.sql.ansi.enabled` at compile time.  ``vec=True``
    compiles to numpy-array closures for the position-wise refold (a
    stricter whitelist — see _Parser).  ``predicate`` names the value
    type of a row filter over ``value`` (serve.py's twin predicates): the
    closure returns a boolean mask equal to Spark's filter."""
    fn = _Parser(
        _tokenize(sql), set(cols), ansi, vec=vec, forbid_acc=forbid_acc, predicate=predicate
    ).parse()

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
    ops: Any  # Spark DataFrame of the alive ops with __key (persisted on a cluster)
    snapshot: Any  # committed snapshot DataFrame at epoch open (None: the ops fold reads the twin)
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



def _key_codes(col: pd.Series) -> tuple[_np.ndarray, _np.ndarray]:
    """(int64 code per row, object key per code) of a key column.  A
    NULL key is a key of its own, as in the SQL fold's groupBy."""
    if isinstance(col.dtype, pd.CategoricalDtype):
        codes = col.cat.codes.to_numpy().astype(_np.int64)
        keys = _np.asarray(col.cat.categories, dtype=object)
        null = codes < 0
        if null.any():
            codes[null] = len(keys)
            keys = _np.append(keys, _np.asarray([_np.nan], dtype=object))
        return codes, keys
    codes, uniques = pd.factorize(col, use_na_sentinel=False)
    return codes.astype(_np.int64, copy=False), _np.asarray(uniques, dtype=object)


def _tid_codes(tid_index: pd.Index, tids) -> _np.ndarray:
    """Each link's position in the epoch's tids.  Every link belongs to
    one of the epoch's txns; a tid outside them would code as -1 and the
    vote merge would write its vote into the LAST txn's slot, so it
    fails here instead."""
    tids = _np.asarray(tids, dtype=_np.int64)
    codes = tid_index.get_indexer(tids)
    if codes.size and codes.min() < 0:
        bad = int(tids[_np.argmax(codes < 0)])
        raise ValueError(f"link tid {bad} is not one of the epoch's {len(tid_index)} tids")
    return codes.astype(_np.int64, copy=False)


def _layout(key_code: _np.ndarray, n_keys: int) -> tuple[_np.ndarray, _np.ndarray]:
    """(start, lens) per key code of a chain-major (key-sorted) column."""
    lens = _np.bincount(key_code, minlength=n_keys).astype(_np.int64)
    return _np.cumsum(lens) - lens, lens


def _gather_ranges(lo: _np.ndarray, n: _np.ndarray) -> _np.ndarray:
    """Concatenation of ``arange(lo[i], lo[i] + n[i])`` over i."""
    ends = _np.cumsum(n)
    return _np.repeat(lo - (ends - n), n) + _np.arange(int(ends[-1]) if len(n) else 0)


def _fold_votes(vote, anyc, codes, votes) -> None:
    """Merge links into the per-txn vote arrays: the global vote is the
    MAX over a txn's links (tgraph/twopc/ReduceVotesFunction.java),
    ``anyc`` flags a txn holding at least one COMMIT link."""
    _np.maximum.at(vote, codes, votes)
    anyc[codes[votes == COMMIT]] = 1


@dataclass
class _Links:
    """A chain stage's links for one epoch: the cascade's round state.

    Chain-major: key code k's chain is rows ``start[k] : start[k] +
    lens[k]`` in chain-position order, so a refold overwrites its
    chain's rows in place.  ``tid_code`` is a position in the epoch's
    tids (the vote merge's domain); ``by_tid`` lists the rows of each
    tid between ``tid_ptr[c]`` and ``tid_ptr[c + 1]`` (CSR), which the
    per-round delta merge reads."""

    keys: Any  # object ndarray: the key of each key code
    start: Any  # int64 per key code
    lens: Any  # int64 per key code
    key_code: Any  # int64 per link
    tid_code: Any  # int64 per link
    ord: Any  # int64 per link: chain position
    vote: Any  # int32 per link
    # per link: float64 on vec stages; the pulled dtype otherwise, object
    # once a scalar refold wrote Python values into it
    value: Any
    wr: Any  # bool per link: applied (chain-committed, txn not excluded)
    # float64 chain value after each link (what a suffix refold seeds
    # from), or None when the pulled values cannot seed the numpy fold
    acc_after: Any
    by_tid: Any
    tid_ptr: Any

    @classmethod
    def build(cls, keys, key_code, tid_code, n_tids, vote, value, wr, acc_after):
        start, lens = _layout(key_code, len(keys))
        by_tid = _np.argsort(tid_code, kind="stable")
        tid_ptr = _np.zeros(n_tids + 1, _np.int64)
        _np.cumsum(_np.bincount(tid_code, minlength=n_tids), out=tid_ptr[1:])
        ordv = _gather_ranges(_np.zeros_like(lens), lens)
        return cls(
            keys, start, lens, key_code, tid_code, ordv, vote, value, wr, acc_after, by_tid, tid_ptr
        )

    def rows_of(self, codes: _np.ndarray) -> _np.ndarray:
        """The rows of the txns with tid codes ``codes``."""
        lo = self.tid_ptr[codes]
        return self.by_tid[_gather_ranges(lo, self.tid_ptr[codes + 1] - lo)]


@dataclass
class _StageState:
    ctx: StageCtx
    comp: _Compiled
    # raw per-op frame: _tid, __key, (+ _path, value cols) — for chain
    # kinds pre-combined per (tid, key) when the stage pre-combines
    ops_pdf: Any = None
    # the evaluated pull (key, _tid, value, vote, _ord, __wr) until
    # _load_links codes it into ``links``
    pulled: Any = None
    links: _Links | None = None
    # epoch_combine stages: each op's tid code, and which txns have one
    ec_tid_code: Any = None
    ec_has: Any = None
    v0: dict = field(default_factory=dict)
    v0_ready: bool = False
    # lazily-built per-key chains for the scalar refold: key -> [(tid, rec)]
    chains: dict = field(default_factory=dict)
    # packed ops for the numpy refold, row-aligned with ``links``: None =
    # not yet decided, False = the stage refolds with the scalar fold
    vec: Any = None
    # True when the RAW pulled ops carried a NULL __key (the pandas
    # pre-combine groupby drops those rows; the ops-fold path must see
    # the flag and fall back)
    ops_null_keys: bool = False


@dataclass
class CascadeResult:
    gv_pdf: pd.DataFrame  # _tid, vote, any_commit
    finals: dict[str, pd.DataFrame]  # ns -> resolved (key, value)
    rounds: int
    build_writes: Callable[[], dict]

    @functools.cached_property
    def writes(self) -> dict[str, list[pd.DataFrame]]:
        """ns -> per-stage applied links, built on first use."""
        return self.build_writes()


class DriverCascade:
    """One epoch's driver-side cascade; built lazily by the runner.

    Control-frame sizes here are bounded by BATCH size (ops and links
    are one row per key-touch of the epoch), never by state size — the
    same invariant that justifies the pandas materialize mode itself.
    Each chain stage's links live in one numpy table (_Links); rounds
    refold the changed chain suffixes into it in place and merge only
    the affected txns' votes.  The only Python loops are the numpy
    refold's one step per chain position and the scalar fold of
    stages the numpy twin does not cover."""

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
        self._tids = _np.empty(0, dtype=_np.int64)  # the epoch's tids
        # runner-selected hot path (round-12 unloaded-latency floor):
        # the epoch's ONE Spark job is the pre-fold ops projection (no
        # chain shuffle, no multi-KB fold expression for Catalyst to
        # re-analyze per epoch) and every chain's initial evaluation is
        # the numpy fold.  Engaged only when every stage is statically
        # vec-eligible and the previous epoch was small.
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
                st.pulled = _pull_pdf(
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

        ``tids_df`` is None when the links cover the tids, else a
        zero-arg callable returning the Spark ``_tid`` frame (built only
        when the union uses it).  Returns the tid Series, or None when
        the graph shape doesn't fit one union frame (non-chain stages,
        multi-column records, value-type mismatches) — callers then use
        the per-frame pulls."""
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
            u = tids_df().select(
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
            # replacement, never an in-place write)
            stage_rows = (
                pdf if links_only else
                pdf[(pdf["stage"] == i) & (pdf["part"] == 1)].reset_index(drop=True)
            )
            st.pulled = pd.DataFrame(
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
        """Ops-pull for the runner's ops_fold hot path: pull each chain
        stage's PRE-FOLD ops (a trivial projection plan — the per-epoch
        Catalyst cost of the fold expression disappears), take v0 from
        the store's pandas twin and pack the ops for the numpy fold.
        ``_load_links`` then evaluates every chain with
        ``_refold_suffixes`` from position 0 with nothing excluded —
        bit-identical semantics to the SQL fold by the same pinning that
        makes cascade refolds exact (tests/test_refold_vec.py).

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
            # the pandas pre-combine dropped those rows, so a null-key
            # epoch takes the standard path instead — flag recorded on
            # the RAW frame in _pull_stage_ops, before the groupby could
            # hide it
            if st.ops_null_keys or bool(st.ops_pdf["__key"].isna().any()):
                return None
            st.vec = self._vec_init(st)
            if not st.vec:
                return None
            # the numpy fold costs one step per chain POSITION: a
            # pathological single-hot-key epoch (chain ~ epoch size)
            # would turn the step loop into a Python loop over the whole
            # batch — the JVM fold handles that shape in one sequential
            # task at JVM speed, so fall back.  The contended operating
            # points (chains of a few hundred) stay far under the cap.
            if int(st.vec["lens"].max()) > OPS_FOLD_MAX_CHAIN:
                return None
        self._pulled_eval = True
        if tids_series is not None:
            return pd.Series(tids_series, dtype="int64")
        tid_arrs = [
            st.ops_pdf["_tid"].to_numpy().astype(_np.int64, copy=False)
            for st in self.states
        ]
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
            ops = ctx.ops
            if ops.columns != ["_tid", "__key", *pre]:  # not yet the pulled projection
                ops = ops.select("_tid", "__key", *pre)
            pdf = _pull_pdf(ops, key_cols=("__key",))
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
        col = st.pulled["value"]
        if col.dtype.kind != "f":
            return
        has_na = bool(col.isna().any())
        if vt in _INT_VTS:
            if has_na:
                raise Ineligible("NULL chain values with integer value type")
            st.pulled["value"] = col.astype("int64")
        elif has_na:
            if (
                st.ctx.evaluated.filter(F.isnan(F.col("value"))).limit(1).count()
                > 0
            ):
                raise Ineligible("NaN chain values")
            st.pulled["value"] = col.astype(object).where(col.notna(), None)

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

    # -- the link table --------------------------------------------------

    def _load_links(self, st: _StageState, tid_index: pd.Index) -> None:
        """Code one stage's links against the epoch's tids, once per
        epoch: from the evaluated pull, or — ops fold — by folding every
        packed chain from position 0 with nothing excluded."""
        n_tids = len(tid_index)
        if st.ctx.kind == "epoch_combine":
            st.ec_tid_code = _tid_codes(tid_index, st.ops_pdf["_tid"].to_numpy())
            st.ec_has = _np.zeros(n_tids, bool)
            st.ec_has[st.ec_tid_code] = True
            return
        if st.pulled is None:  # ops fold (an empty stage packs nothing)
            none = _np.empty(0, _np.int64)
            P = st.vec or {"keys": _np.empty(0, object), "lens": none, "tids": none}
            n = len(P["tids"])
            st.links = _Links.build(
                P["keys"],
                _np.repeat(_np.arange(len(P["lens"])), P["lens"]),
                _tid_codes(tid_index, P["tids"]),
                n_tids,
                _np.empty(n, _np.int32),
                _np.empty(n, _np.float64),
                _np.empty(n, bool),
                _np.empty(n, _np.float64),
            )
            ks = _np.flatnonzero(P["lens"])
            if ks.size:
                self._refold_suffixes(
                    st, ks, _np.zeros(ks.size, _np.int64), _np.zeros(n_tids, bool)
                )
            return
        pdf, st.pulled = st.pulled, None
        codes, keys = _key_codes(pdf["key"])
        ordv = pdf["_ord"].to_numpy().astype(_np.int64, copy=False)
        o = _np.lexsort((ordv, codes))
        value = pdf["value"].to_numpy()[o]
        lk = _Links.build(
            keys,
            codes[o],
            _tid_codes(tid_index, pdf["_tid"].to_numpy()[o]),
            n_tids,
            pdf["vote"].to_numpy()[o].astype(_np.int32, copy=False),
            value,
            pdf["__wr"].to_numpy()[o].astype(bool, copy=False),
            # an evaluated link never has an excluded txn, so the chain
            # value after it IS its value (the candidate if it passed,
            # the unchanged chain value if not); only exact float64
            # values can seed the numpy fold
            value.copy() if value.dtype == _np.float64 else None,
        )
        # refolds write a chain's links by position: the pulled _ord
        # must be exactly 0..len-1 per key
        if not _np.array_equal(lk.ord, ordv[o]):
            raise Ineligible("evaluated chain positions are not contiguous")
        st.links = lk

    # -- refold -----------------------------------------------------------

    def _vec_init(self, st: _StageState, lk: _Links | None = None):
        """Packed ops for the numpy refold, or False when the stage must
        keep the scalar per-key fold.  Eligibility (stricter than
        driver-cascade eligibility — failing it costs speed, never
        correctness):

        - chain_expr with a pre_combine (chains sort by tid alone, so
          ONE global lexsort by (key, tid) packs every chain) and a
          single record column;
        - both update and invariant compiled to numpy twins;
        - a FLOAT value type: float64 numpy ops are bit-identical to
          Python floats, while int64 could silently wrap where the
          scalar fold's Python ints cannot;
        - null-free record values (a NaN in the pulled frame is SQL
          NULL — the scalar fold's _nan_none semantics would be needed).

        Without ``lk`` (ops fold) the link table is later laid out from
        the packing.  With ``lk`` (evaluated pull) the packed ops must
        line up with its rows — chain lengths and tids — and its values
        must seed the fold (``acc_after``), or the scalar fold runs."""
        ctx, comp = st.ctx, st.comp
        if st.ops_pdf is None or len(st.ops_pdf) == 0:
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
            or (lk is not None and lk.acc_after is None)
        ):
            return False
        col = ctx.value_cols[0]
        vals = st.ops_pdf[col].to_numpy()
        if vals.dtype.kind != "f" or bool(_np.isnan(vals).any()):
            # NaN = SQL NULL: scalar null semantics needed.  Integer
            # record columns are NOT vec-eligible even under 2^53: Spark
            # (and the scalar fold) evaluate record-only integer
            # sub-expressions (e.g. x.delta * x.delta) in exact int64
            # and round ONCE at the double cast, while the numpy twin
            # would round after every float64 op — e.g. delta=190000003
            # diverges the committed value for delta*delta + delta.
            return False
        vals = vals.astype(_np.float64, copy=False)
        codes, keys = _key_codes(st.ops_pdf["__key"])
        if lk is not None:
            remap = pd.Index(lk.keys).get_indexer(keys)
            if remap.size and remap.min() < 0:
                return False
            codes, keys = remap[codes], lk.keys
        tids = st.ops_pdf["_tid"].to_numpy().astype(_np.int64, copy=False)
        order = _np.lexsort((tids, codes))
        _start, lens = _layout(codes[order], len(keys))
        if lk is not None and not (
            _np.array_equal(lens, lk.lens)
            and _np.array_equal(tids[order], self._tids[lk.tid_code])
        ):
            return False
        default = float(ctx.ns.default)
        # vectorized v0 lookup: a missing key OR a NULL committed value
        # both coalesce to the namespace default (the same contract as
        # the scalar fold's _nan_none + default)
        if st.v0:
            acc0 = pd.Series(st.v0).reindex(keys).to_numpy(dtype=_np.float64)
            _np.copyto(acc0, default, where=_np.isnan(acc0))
        else:
            acc0 = _np.full(len(keys), default, _np.float64)
        return {
            "tids": tids[order],
            "vals": vals[order],
            "lens": lens,
            "keys": keys,
            "acc0": acc0,
            "col": col,
        }

    def _refold_round(self, st: _StageState, changed: _np.ndarray, ex: _np.ndarray):
        """One cascade round on one chain stage.  ``changed`` holds the
        tid codes whose exclusion status flipped, ``ex`` is the new
        exclusion mask.  A chain changes only from its first link whose
        txn flipped AND whose current vote is COMMIT — that link's write
        is (or becomes) applied.  A flipped txn's local ABORT never
        applied there and still won't, and the links before it read
        the same chain values, so the prefix stands (influence flows
        strictly forward in tid order).  Returns the refolded links'
        tid codes, or None when no chain changes."""
        lk = st.links
        rows = lk.rows_of(changed)
        rows = _np.sort(rows[lk.vote[rows] == COMMIT])
        if not rows.size:
            return None
        keys_t, first = _np.unique(lk.key_code[rows], return_index=True)
        if st.vec is None:
            st.vec = self._vec_init(st, lk)
        if st.vec:
            return self._refold_suffixes(st, keys_t, rows[first] - lk.start[keys_t], ex)
        return self._refold_keys(st, keys_t, ex)

    def _refold_suffixes(self, st: _StageState, keys_t, restart, ex) -> _np.ndarray:
        """Refold the chains ``keys_t`` from positions ``restart`` on,
        all at once: one numpy step per chain POSITION over every chain
        still active, with _refold_key's chain_expr semantics.

        The suffixes are sorted by remaining length and gathered once
        into position-major buffers, so step s works on the contiguous
        slice ``off[s]:off[s + 1]`` and the active accumulators are
        ``acc[:n_s]``.  Each chain is seeded from the chain value after
        its link before the restart (or its committed v0).  Results
        are scattered back into the table once; returns the refolded
        links' tid codes."""
        lk, P, comp = st.links, st.vec, st.comp
        rem = lk.lens[keys_t] - restart
        o = _np.argsort(-rem, kind="stable")
        keys_t, restart, rem = keys_t[o], restart[o], rem[o]
        base = lk.start[keys_t] + restart
        acc = _np.where(restart > 0, lk.acc_after[base - 1], P["acc0"][keys_t])
        steps = int(rem[0])
        active = len(rem) - _np.cumsum(_np.bincount(rem, minlength=steps + 1))[:steps]
        off = _np.zeros(steps + 1, _np.int64)
        _np.cumsum(active, out=off[1:])
        # position-major gather: chain j's link at step s lands in slot
        # off[s] + j (chains are sorted longest first)
        chain = _np.repeat(_np.arange(len(rem)), rem)
        s = _gather_ranges(_np.zeros_like(rem), rem)
        g = _np.empty(s.size, _np.int64)
        g[off[s] + chain] = base[chain] + s
        tid_g = lk.tid_code[g]
        keep_g = ~ex[tid_g]
        val_g = P["vals"][g]
        col = P["col"]
        upd, inv = comp.update_vec, comp.invariant_vec
        n_out = g.size
        out_vote = _np.empty(n_out, _np.int32)
        out_val = _np.empty(n_out, _np.float64)
        out_wr = _np.empty(n_out, bool)
        out_acc = _np.empty(n_out, _np.float64)
        for step in range(steps):
            lo, hi = int(off[step]), int(off[step + 1])
            a = acc[: hi - lo]
            rec = {col: val_g[lo:hi]}
            # mirrors _refold_key chain_expr: candidate cast to the
            # (float) value type, invariant sees the cast candidate,
            # value recorded = candidate if ok else prior acc, chain
            # advances only for applied (ok and not excluded) links
            cand = _np.asarray(upd(a, rec), dtype=_np.float64)
            if inv is not None:
                ok = _np.asarray(inv(cand, rec), dtype=bool)
            else:
                ok = _np.ones(cand.shape, dtype=bool)
            wr = ok & keep_g[lo:hi]
            out_vote[lo:hi] = _np.where(ok, COMMIT, ABORT)
            out_val[lo:hi] = _np.where(ok, cand, a)
            out_wr[lo:hi] = wr
            nxt = _np.where(wr, cand, a)
            out_acc[lo:hi] = nxt
            acc[: hi - lo] = nxt
        lk.vote[g] = out_vote
        lk.value[g] = out_val
        lk.wr[g] = out_wr
        lk.acc_after[g] = out_acc
        return tid_g

    def _refold_keys(self, st: _StageState, keys_t, ex) -> _np.ndarray:
        """Scalar refold of whole chains (stages the numpy twin does not
        cover), written into the link table by position; returns the
        refolded links' tid codes."""
        lk, cast = st.links, st.comp.cast
        excluded = set(self._tids[ex].tolist())
        self._ensure_chains(st, lk.keys[keys_t])
        if lk.value.dtype != object:
            lk.value = lk.value.astype(object)
        parts = []
        for k in keys_t:
            out = self._refold_key(st, lk.keys[k], excluded)
            sl = slice(int(lk.start[k]), int(lk.start[k] + lk.lens[k]))
            if [t for t, *_ in out] != self._tids[lk.tid_code[sl]].tolist():
                # the pulled ops do not rebuild the evaluated chain (a
                # NULL key the pre-combine dropped, say): leave the
                # driver close rather than drop or misplace links
                raise Ineligible("refold chain does not match the evaluated links")
            for i, (_t, vote, val, _pos, wr) in enumerate(out, sl.start):
                lk.vote[i] = vote
                lk.value[i] = cast(val)
                lk.wr[i] = wr
            parts.append(lk.tid_code[sl])
        return _np.concatenate(parts)

    # -- vote merge -------------------------------------------------------

    def _merge_votes(self) -> tuple[_np.ndarray, _np.ndarray]:
        """(vote, any_commit) per tid code from every stage's links.  A
        txn without links wrote nothing: it commits and cannot
        contaminate."""
        n = len(self._tids)
        vote = _np.full(n, COMMIT, _np.int32)
        anyc = _np.zeros(n, _np.int32)
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                # every combine link votes COMMIT (no invariant can fail
                # here; an excluded txn's combine link would also pass,
                # so its global vote is decided by the chain stages)
                anyc[st.ec_has] = 1
            else:
                _fold_votes(vote, anyc, st.links.tid_code, st.links.vote)
        return vote, anyc

    def _merge_votes_delta(self, vote, anyc, affected: _np.ndarray) -> None:
        """Re-merge, in place, only the ``affected`` tid codes: a round
        changes the links of the chains it refolded, so only their txns
        (and the txns whose exclusion flipped) can change their global
        vote.  Same semantics as _merge_votes."""
        vote[affected] = COMMIT
        anyc[affected] = 0
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                anyc[affected[st.ec_has[affected]]] = 1
            else:
                lk = st.links
                rows = lk.rows_of(affected)
                _fold_votes(vote, anyc, lk.tid_code[rows], lk.vote[rows])

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
        from the loaded links, the abort-cascade fixpoint (PL3/PL4), and
        the finals.  The fixpoint's control flow is identical to the
        distributed loop in runner._close (same exits, same
        evaluate-without-apply replay of excluded txns).

        ``tids`` is either a pandas Series (the source's driver twin —
        free) or a zero-arg callable returning the Spark ``_tid`` frame
        — then the fused one-job pull covers it together with the
        evaluation links and refold ops when the graph shape allows, and
        falls back to separate pulls otherwise.  With ``tids_covered``
        (every txn provably has a state link — graph.links_cover_tids)
        the fused pull skips the tid-set union branch entirely and
        derives the tid set from the pulled links: one fewer source scan
        and ~batch-size fewer rows through Arrow."""
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
                tids_pdf = tids().toPandas()["_tid"]
        self._tids = _np.asarray(tids_pdf, dtype=_np.int64)
        tid_index = pd.Index(self._tids)
        for st in self.states:
            self._load_links(st, tid_index)
        vote, anyc = self._merge_votes()
        ex = _np.zeros(len(self._tids), bool)  # the excluded txns
        rounds = 0  # refold rounds actually executed
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
            ab = vote == ABORT
            changed = _np.flatnonzero(ab != ex)
            if not changed.size:
                break
            if rounds >= 100_000:  # pragma: no cover - same bug trap as Spark loop
                raise RuntimeError("driver cascade failed to converge")
            if not has_ec and not (ex & ~ab).any():
                # early exit: if no NEWLY aborted txn applied a single
                # link write, excluding it changes no chain — the votes
                # are already the fixpoint.  (Replayed txns always force
                # a refold: their writes must re-enter the chains.)
                if not anyc[changed].any():
                    break
            self._pull_refold(store)
            rounds += 1
            ex = ab
            affected = [changed]
            for st in self.states:
                if st.ctx.kind != "epoch_combine":  # combine links always COMMIT
                    aff = self._refold_round(st, changed, ex)
                    if aff is not None:
                        affected.append(aff)
            self._merge_votes_delta(vote, anyc, _np.unique(_np.concatenate(affected)))

        gv_pdf = pd.DataFrame({"_tid": self._tids, "vote": vote, "any_commit": anyc})
        return CascadeResult(
            gv_pdf=gv_pdf,
            finals=self._finals(vote == COMMIT, ex),
            rounds=rounds,
            build_writes=lambda: self._writes(ex),
        )

    def _combined(self, st: _StageState, ex) -> pd.DataFrame:
        """An epoch_combine stage's per-key result over the txns not
        excluded: (key, value, _tid=-1, _ord=0)."""
        ctx, comp = st.ctx, st.comp
        pre = ctx.stage.pre_combine
        p = st.ops_pdf
        kept = p[~ex[st.ec_tid_code]] if ex.any() else p
        gb = kept.groupby("__key", sort=False, observed=True)
        combined = pd.DataFrame({c: _pd_agg(gb, c, h) for c, h in pre.items()}).reset_index()
        rows = []
        cols = list(pre)
        for key, *vals in zip(combined["__key"], *[combined[c] for c in cols]):
            rec = {c: _nan_none(v) for c, v in zip(cols, vals)}
            raw_v0 = st.v0.get(key, ctx.ns.default)
            v0 = comp.cast(
                _nan_none(raw_v0) if _nan_none(raw_v0) is not None else ctx.ns.default
            )
            rows.append((key, comp.cast(comp.update(v0, rec)), -1, 0))
        return pd.DataFrame(rows, columns=["key", "value", "_tid", "_ord"])

    @staticmethod
    def _values(v: _np.ndarray) -> pd.Series:
        # a scalar refold leaves Python values in an object column; give
        # them back the dtype a typed pull would have
        return pd.Series(v).infer_objects() if v.dtype == object else pd.Series(v)

    def _finals(self, committed: _np.ndarray, ex) -> dict[str, pd.DataFrame]:
        """ns -> (key, value) after the epoch: per key, the last applied
        link of a committed txn in the last stage writing it (the pandas
        twin of the distributed close's row_number window over
        (_stage, _ord))."""
        parts: dict[str, list[pd.DataFrame]] = {}
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                part = self._combined(st, ex)[["key", "value"]]
            else:
                lk = st.links
                rows = _np.flatnonzero(lk.wr & committed[lk.tid_code])
                kc = lk.key_code[rows]
                last = rows[_np.r_[kc[1:] != kc[:-1], True]] if rows.size else rows
                part = pd.DataFrame(
                    {"key": lk.keys[lk.key_code[last]], "value": self._values(lk.value[last])}
                )
            parts.setdefault(st.ctx.ns.name, []).append(part)
        return {
            ns: (
                pd.concat(ps, ignore_index=True).drop_duplicates("key", keep="last")
                .reset_index(drop=True)
                if len(ps) > 1 else ps[0]
            )
            for ns, ps in parts.items()
        }

    def _writes(self, ex) -> dict[str, list[pd.DataFrame]]:
        """ns -> per-stage applied links (key, value, _tid, _ord, _stage)."""
        writes: dict[str, list[pd.DataFrame]] = {}
        for st in self.states:
            if st.ctx.kind == "epoch_combine":
                wdf = self._combined(st, ex)
            else:
                lk = st.links
                rows = _np.flatnonzero(lk.wr)
                wdf = pd.DataFrame(
                    {
                        "key": lk.keys[lk.key_code[rows]],
                        "value": self._values(lk.value[rows]),
                        "_tid": self._tids[lk.tid_code[rows]],
                        "_ord": lk.ord[rows],
                    }
                )
            wdf["_stage"] = st.ctx.stage_idx
            writes.setdefault(st.ctx.ns.name, []).append(wdf)
        return writes
