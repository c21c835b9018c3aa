"""Transactional graph (TGraph) declaration — the engine's equivalent of
the reference's TStream surface (tgraph/TStream.java:16-28,
tgraph/AbstractTStream.java:102-200).

A graph is a declarative pipeline of stages applied to each epoch's
batch. Metadata travels as columns (SURVEY.md §1.5):

    _tid   BIGINT      transaction id (assigned at open)
    _ts    BIGINT      logical timestamp (= _tid, as in single-graph
                       reference runs, tgraph/twopc/TransactionsIndex.java:93-106)
    _path  ARRAY<INT>  flatMap lineage (BatchID steps,
                       tgraph/BatchID.java:27-74 — posexplode's pos IS
                       the (offset) step; completeness is free in
                       micro-batch so sizes aren't tracked)
    _alive BOOLEAN     filter tombstone (tgraph/functions/FilterWrapper.java:9-16:
                       non-matching records become null-value tombstones
                       so the close still sees their vote)

Value columns are everything else; map/flatMap replace them, state
reads them.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

META_COLS = ["_tid", "_ts", "_path", "_alive"]


@dataclass
class MapStage:
    fn: Callable[[DataFrame], dict[str, Column]]


@dataclass
class FlatMapStage:
    # fn(df) -> Column evaluating to ARRAY<STRUCT<...>>; each element
    # becomes a child record sharing the parent's tid (reference
    # tgraph/functions/FlatMapWrapper.java:14-31).
    fn: Callable[[DataFrame], Column]


@dataclass
class FilterStage:
    pred: Callable[[DataFrame], Column]


@dataclass
class KeyByStage:
    # explicit repartition hint (reference TStream.keyBy,
    # tgraph/AbstractTStream.java:148-158). Usually unnecessary: the
    # state stage shuffles on its own key anyway.
    key: Callable[[DataFrame], Column]


@dataclass
class TWindowStage:
    # per-transaction window (tgraph/functions/WindowWrapper.java:23-70):
    # collapse all live sibling records of one txn into one record.
    # fn(items_col) -> dict of new value columns, items_col is
    # ARRAY<STRUCT<value cols>> sorted by _path.
    fn: Callable[[Column], dict[str, Column]]


@dataclass
class StateStage:
    namespace: str
    key: Callable[[DataFrame], Column]
    update: Callable[[Column], Column] | None = None
    py_update: Callable[[Any, dict], Any] | None = None
    # optional pre-combiner when one txn can carry several ops for the
    # same key and the update is fold-able: {value_col: "sum"|...}
    pre_combine: dict[str, str] | None = None
    # associative invariant-free fast path: fold the WHOLE epoch's ops
    # per key into one combined application (requires pre_combine).
    # Semantically the PL0/PL1 chain outcome for commutative updates —
    # no conflicts, no replays, map-side partial aggregation; this is
    # the high-throughput mode for counter/sum workloads at scale.
    epoch_combine: bool = False


Stage = MapStage | FlatMapStage | FilterStage | KeyByStage | TWindowStage | StateStage


@dataclass
class TGraph:
    """Fluent builder; immutable stages list, reusable across epochs."""

    stages: list[Stage] = field(default_factory=list)

    def _add(self, s: Stage) -> "TGraph":
        return TGraph(self.stages + [s])

    def map(self, fn: Callable[[DataFrame], dict[str, Column]]) -> "TGraph":
        return self._add(MapStage(fn))

    def flat_map(self, fn: Callable[[DataFrame], Column]) -> "TGraph":
        return self._add(FlatMapStage(fn))

    def filter(self, pred: Callable[[DataFrame], Column]) -> "TGraph":
        return self._add(FilterStage(pred))

    def key_by(self, key: Callable[[DataFrame], Column]) -> "TGraph":
        return self._add(KeyByStage(key))

    def t_window(self, fn: Callable[[Column], dict[str, Column]]) -> "TGraph":
        return self._add(TWindowStage(fn))

    def state(
        self,
        namespace: str,
        key: Callable[[DataFrame], Column],
        update: Callable[[Column], Column] | None = None,
        py_update: Callable[[Any, dict], Any] | None = None,
        pre_combine: dict[str, str] | None = None,
        epoch_combine: bool = False,
    ) -> "TGraph":
        if update is None and py_update is None:
            raise ValueError("state(): update or py_update required")
        if epoch_combine and (update is None or not pre_combine):
            raise ValueError("state(epoch_combine=True) needs an expression update + pre_combine")
        return self._add(
            StateStage(namespace, key, update, py_update, pre_combine, epoch_combine)
        )


def value_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in META_COLS]


def flat_map_total(df: DataFrame, stage: FlatMapStage) -> bool:
    """True iff this flat_map provably emits >= 1 row per input row: its
    expression analyzes to a literal-arity ``CreateArray`` with >= 1
    elements (such an array is never null and never empty, so
    posexplode always yields rows).  Data-dependent arrays (split,
    sequence, a column reference) return False — conservative, since a
    runtime value could be empty.  Used by the close path to drop the
    separate tid-set branch when every transaction provably reaches a
    state stage (links cover tids)."""
    try:
        arr = stage.fn(df)
        analyzed = df.select(arr.alias("__fm"))._jdf.queryExecution().analyzed()
        expr = analyzed.expressions().apply(0)
        child = expr.child() if hasattr(expr, "child") else expr
        if child.getClass().getSimpleName() != "CreateArray":
            return False
        return child.children().size() >= 1
    except Exception:  # pragma: no cover - introspection unavailable
        return False


def links_cover_tids(graph: "TGraph", df: DataFrame) -> bool:
    """True iff every transaction of a batch provably produces at least
    one state link: all stages preserve rows (map/key_by/state; filter
    and t_window can drop a txn's last live record, flat_map only
    qualifies when provably total) and at least one state stage exists.
    The close can then derive the epoch tid set FROM the links instead
    of scanning the source a second time (fused-pull part-0 branch).
    Only stages BEFORE the first state stage matter: once a txn has a
    link, later drops can't remove it from the link set.  The frame is
    evolved stage-by-stage (analysis only, no jobs) so a flat_map after
    a map introspects against the columns it will actually see."""
    try:
        for stage in graph.stages:
            if isinstance(stage, StateStage):
                return True
            if isinstance(stage, MapStage):
                df = apply_map(df, stage)
            elif isinstance(stage, KeyByStage):
                continue
            elif isinstance(stage, FlatMapStage):
                if not flat_map_total(df, stage):
                    return False
                df = apply_flat_map(df, stage)
            else:
                # FilterStage / TWindowStage can drop transactions
                return False
    except Exception:  # pragma: no cover - stay conservative
        return False
    return False


def apply_map(df: DataFrame, stage: MapStage) -> DataFrame:
    cols = stage.fn(df)
    return df.select(*META_COLS, *[c.alias(n) for n, c in cols.items()])


def apply_flat_map(df: DataFrame, stage: FlatMapStage) -> DataFrame:
    arr = stage.fn(df)
    exploded = df.select(*META_COLS, F.posexplode(arr).alias("_pos", "_elem"))
    elem_fields = exploded.schema["_elem"].dataType.fieldNames()
    return exploded.select(
        "_tid",
        "_ts",
        F.concat(F.col("_path"), F.array(F.col("_pos"))).alias("_path"),
        "_alive",
        *[F.col(f"_elem.{f}").alias(f) for f in elem_fields],
    )


def apply_filter(df: DataFrame, stage: FilterStage) -> DataFrame:
    # tombstone, do not drop: the transaction's vote accounting at close
    # must still see the record (reference keeps value=null flowing).
    return df.withColumn("_alive", F.col("_alive") & F.coalesce(stage.pred(df), F.lit(False)))


def apply_key_by(df: DataFrame, stage: KeyByStage) -> DataFrame:
    return df.repartition(stage.key(df))


def apply_t_window(df: DataFrame, stage: TWindowStage) -> DataFrame:
    vals = value_columns(df)
    items = F.array_sort(
        F.collect_list(F.struct(F.col("_path").alias("__p"), *[F.col(c) for c in vals]))
    )
    grouped = df.filter(F.col("_alive")).groupBy("_tid").agg(
        F.min("_ts").alias("_ts"), items.alias("__items")
    )
    # strip the sort key so user fn sees clean value structs
    clean = F.transform(
        F.col("__items"),
        lambda s: F.struct(*[s[c].alias(c) for c in vals]),
    )
    grouped = grouped.withColumn("__items", clean)
    out_cols = stage.fn(F.col("__items"))
    return grouped.select(
        "_tid",
        "_ts",
        F.array().cast("array<int>").alias("_path"),  # BatchID reset (WindowWrapper.java:44)
        F.lit(True).alias("_alive"),
        *[c.alias(n) for n, c in out_cols.items()],
    )


# -- SQL rendering ---------------------------------------------------------
#
# The stage lambdas build Columns, and applying them through the
# apply_* functions costs several eagerly analyzed DataFrame ops per
# stage per epoch.  A runner renders them ONCE per batch schema to SQL
# text (Catalyst's Expression.sql(), the rendering _chain_update_sql
# uses) and rebuilds each epoch's frames from that text in a few
# selectExpr calls.  SQL text re-resolves by name, so a lambda that
# wrote df["x"] against the first epoch's plan is still right on the
# next one; a cached Column would not be.


class CannotRender(Exception):
    """A stage the SQL renderer cannot express; the runner keeps
    running the graph through the apply_* walk."""


# Python/Scala UDFs, higher-order lambdas: their SQL text does not name
# the code that runs (a UDF renders as its Python name, which may be a
# built-in function).  Unseeded random functions would freeze the seed.
_DENY_NODES = ("UDF", "Udf", "UserDefined", "Lambda")
_DENY_FUNCS = re.compile(r"\b(rand|randn|random|randstr|uniform|uuid|shuffle)\s*\(", re.I)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`")


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _unq(tok: str) -> str:
    return tok[1:-1].replace("``", "`") if tok.startswith("`") else tok


def _as(sql: str, name: str) -> str:
    return _q(name) if sql == _q(name) else f"{sql} AS {_q(name)}"


def render_sql(spark, col: Column) -> str:
    """SQL text of a stage Column, or CannotRender."""
    expr = spark._jsparkSession.expression(col._jc)
    todo = [expr]
    while todo:
        e = todo.pop()
        kind = e.getClass().getSimpleName()
        if any(d in kind for d in _DENY_NODES):
            raise CannotRender(f"{kind} in {expr.sql()}")
        it = e.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    sql = expr.sql()
    if _DENY_FUNCS.search(sql):
        raise CannotRender(f"random function in {sql}")
    return sql


class _Proj:
    """The pending projection of a rendering: output column -> SQL over
    the input of the select being built.  Outputs that pass an input
    column through unchanged are rendered as the quoted name."""

    def __init__(self, inputs: list[str], cols: dict[str, str]):
        self.inputs = inputs
        self.cols = cols

    def over(self, sql: str) -> str | None:
        """``sql`` (over the graph's columns at this point) rewritten
        over the select's input, or None when the select must be cut
        first.  Only a bare column reference is substituted; any other
        text passes through unchanged when none of its identifiers can
        name a column whose input differs (case-insensitively, as Spark
        resolves)."""
        if _IDENT.fullmatch(sql) and _unq(sql) in self.cols:
            return self.cols[_unq(sql)]
        dirty = {n.lower() for n, s in self.cols.items() if s != _q(n)}
        dirty |= {n.lower() for n in self.inputs if n not in self.cols}
        if any(_unq(t).lower() in dirty for t in _IDENT.findall(sql)):
            return None
        return sql

    def select(self) -> list[str]:
        return [_as(s, n) for n, s in self.cols.items()]

    def cut(self) -> "_Proj":
        # a constant-true _alive stays constant: the ops then need no filter
        return _Proj(
            list(self.cols), {n: s if s == "true" else _q(n) for n, s in self.cols.items()}
        )


@dataclass
class _StateSql:
    step: int  # how many shared selects precede this stage
    cols: dict[str, str]
    key: str

    @property
    def value_cols(self) -> list[str]:
        return [c for c in self.cols if c not in META_COLS]


@dataclass
class RenderedGraph:
    """A graph rendered to SQL for one batch schema: shared select
    lists applied to the batch in order, and per state stage (in graph
    order) the projection its ops are built from."""

    steps: list[list[str]]
    states: list[_StateSql]
    stream: _StateSql  # key unused


class RenderedEpoch:
    """One epoch's frames from a RenderedGraph; the shared selects are
    built once, on first use."""

    def __init__(self, plan: RenderedGraph, src: DataFrame):
        self.plan = plan
        self._bases = [src]

    def _base(self, step: int) -> DataFrame:
        while len(self._bases) <= step:
            k = len(self._bases) - 1
            self._bases.append(self._bases[k].selectExpr(*self.plan.steps[k]))
        return self._bases[step]

    def ops(self, i: int, only: list[str] | None = None) -> DataFrame:
        """State stage ``i``'s alive ops with ``__key``: every column, or
        ``_tid``, ``__key`` and the value columns in ``only``."""
        s = self.plan.states[i]
        df = self._base(s.step)
        if s.cols["_alive"] != "true":
            df = df.where(s.cols["_alive"])
        key = f"CAST({s.key} AS STRING) AS `__key`"
        if only is None:
            return df.selectExpr(*[_as(v, n) for n, v in s.cols.items()], key)
        return df.selectExpr(
            _as(s.cols["_tid"], "_tid"), key, *[_as(s.cols[c], c) for c in only]
        )

    def stream(self) -> DataFrame:
        s = self.plan.stream
        return self._base(s.step).selectExpr(*[_as(v, n) for n, v in s.cols.items()])


def render_graph(spark, graph: TGraph, walked: list[DataFrame], src_cols: list[str]) -> RenderedGraph:
    """Render ``graph`` to SQL.  ``walked[i]`` is the frame stage ``i``
    sees in the apply_* walk (its lambdas are called on it once more,
    here), ``walked[-1]`` the walk's final frame; ``src_cols`` are the
    batch's columns.  Raises CannotRender for key_by, t_window and
    Columns whose text would not run the same code."""
    steps: list[list[str]] = []
    proj = _Proj(
        list(src_cols),
        {
            **{c: _q(c) for c in src_cols},
            "_ts": "`_tid`",
            "_path": "CAST(array() AS ARRAY<INT>)",
            "_alive": "true",
        },
    )

    def over(*sqls: str) -> list[str]:
        # cut the pending select when some text reads a column it
        # changed; after a cut every column is an input column of the
        # same name and value, so the text runs as rendered
        nonlocal proj
        out = [proj.over(s) for s in sqls]
        if None in out:
            steps.append(proj.select())
            proj = proj.cut()
            out = list(sqls)
        return out

    states: list[_StateSql] = []
    for i, stage in enumerate(graph.stages):
        df = walked[i]
        if isinstance(stage, MapStage):
            new = {n: render_sql(spark, c) for n, c in stage.fn(df).items()}
            sqls = over(*new.values())
            meta = {m: proj.cols[m] for m in META_COLS}
            proj = _Proj(proj.inputs, {**meta, **dict(zip(new, sqls))})
        elif isinstance(stage, FilterStage):
            (pred,) = over(render_sql(spark, stage.pred(df)))
            proj.cols["_alive"] = f"(({proj.cols['_alive']}) AND coalesce({pred}, false))"
        elif isinstance(stage, FlatMapStage):
            (arr,) = over(render_sql(spark, stage.fn(df)))
            steps.append(
                [_as(proj.cols[m], m) for m in META_COLS]
                + [f"posexplode({arr}) AS (`__pos`, `__elem`)"]
            )
            fields = value_columns(walked[i + 1])
            proj = _Proj(
                [*META_COLS, "__pos", "__elem"],
                {
                    "_tid": "`_tid`",
                    "_ts": "`_ts`",
                    "_path": "concat(`_path`, array(`__pos`))",
                    "_alive": "true" if proj.cols["_alive"] == "true" else "`_alive`",
                    **{f: f"`__elem`.{_q(f)}" for f in fields},
                },
            )
        elif isinstance(stage, StateStage):
            (key,) = over(render_sql(spark, stage.key(df)))
            states.append(_StateSql(len(steps), dict(proj.cols), key))
        else:
            raise CannotRender(type(stage).__name__)
    return RenderedGraph(steps, states, _StateSql(len(steps), dict(proj.cols), ""))
