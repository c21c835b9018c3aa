"""Epoch executor: runs a TGraph over one micro-batch = one transaction
epoch, resolves votes, commits atomically, and carries the REPLAY queue
to the next epoch.

This file replaces, wholesale, the reference's 2PC machinery
(tgraph/twopc/OpenOperator.java, CloseFunction.java, ReduceVotesFunction.java,
the TCP notification servers) with three Spark aggregates and an atomic
store commit — the epoch barrier makes the out-of-band protocol
unnecessary (SURVEY.md §3.1 "Spark shape").

Isolation semantics (SURVEY.md §4.3, tgraph/state/PL*Strategy.java):

- PL3/PL4: serial per-key application in tid order WITHIN the epoch —
  each transaction reads the value left by the last committed lower-tid
  transaction on that key (committed-only visibility), checks the
  invariant, and either commits its write or aborts without advancing
  the chain. This realizes exactly the fixpoint the reference reaches
  through optimistic execution + REPLAY of conflicting txns
  (tgraph/twopc/OpenOperator.java:287-357) but in ONE epoch instead of
  one epoch per conflicting transaction on a hot key — under Zipf skew
  the replay-storm cost disappears. PL4's strictness (external order =
  tid order, tgraph/twopc/StrictnessEnforcer.java:27-118) is structural
  here: application order IS tid order, and cross-namespace aborts
  cascade forward (see the fixpoint in _close).
- PL2: read-committed — every transaction reads the epoch-start
  committed value; last committed writer per key wins (lost updates
  permitted, as PL2 allows).
- PL0/PL1: dirty-read chain — transactions fold over the key's
  version chain including uncommitted/later-aborted candidates; the
  committed value is the last chain entry whose transaction committed
  (materialized from a possibly-dirty read — the anomaly PL0/1 permit,
  mirroring lastCommitted over flipped version statuses,
  tgraph/db/Object.java:54-82).
"""

from __future__ import annotations

import functools
import os
import re
import time

# The materialize mode is the one selector between the two epoch
# closes: 'pandas' runs the driver close (tx/driver_cascade.py),
# 'reliable' the distributed close a cluster runs.  None = auto-select
# per session master (local → pandas, cluster → reliable); an explicit
# TSPOON_MATERIALIZE always wins.
_MATERIALIZE = os.environ.get("TSPOON_MATERIALIZE") or None
_MATERIALIZE_MODES = ("pandas", "reliable")
# Driver close flavour: the ops fold (tx/driver_cascade.py ops_fold —
# the epoch's one Spark job is the pre-fold ops projection and every
# chain runs through the vectorized numpy fold) or the evaluated pull
# (the JVM chain fold, pulled in one job).  The txn threshold bounds
# the ops fold by the PREVIOUS epoch's size: paired A/B at sf0.1 shows
# the fold winning across the whole local operating range (100-txn
# floor -53%, 26k-txn pin -66%, 150k-txn pin -46%, ~20k-txn tps epochs
# +17%), and the round-13 boundary probe (sf1, 100k keyspace; table in
# BENCHNOTES and SCALING.md) extends that: 300k/400k/500k/600k/800k-txn
# epochs run 23%/31%/42%/21%/24% faster on the fold with NO crossover,
# so the threshold sits at the largest measured-win size — epochs past
# it take the evaluated pull (same driver-frame memory class either
# way — pandas mode always pulls batch-sized control frames).  Tests
# pin the evaluated pull by setting it to -1.
_OPS_FOLD_MAX_TXNS = 800_000


class _OpsFoldRetry(Exception):
    """Ops-fold epoch hit a data-dependent ineligibility at pull time:
    re-run the same epoch on the standard path (nothing committed)."""


def materialize_mode(spark) -> str:
    """Resolve the materialize mode for this session.

    Explicit TSPOON_MATERIALIZE ('pandas' or 'reliable') wins; otherwise
    key off the master URL: 'pandas' on local[*] (single-JVM, control
    frames trivially fit the driver), 'reliable' on any cluster master —
    a cluster session must never round-trip epoch control frames through
    toPandas() without an explicit opt-in."""
    if _MATERIALIZE is not None:
        if _MATERIALIZE not in _MATERIALIZE_MODES:
            raise ValueError(
                f"TSPOON_MATERIALIZE={_MATERIALIZE!r}: expected one of {_MATERIALIZE_MODES}"
            )
        return _MATERIALIZE
    master = spark.sparkContext.master
    # Match single-JVM masters precisely: 'local', 'local[4]',
    # 'local[*,2]'. 'local-cluster[...]' is multi-JVM and must take
    # the no-driver-round-trip branch like any real cluster.
    return "pandas" if re.match(r"local(\[|$)", master) else "reliable"


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage on a per-epoch DataFrame.

    Modes (TSPOON_MATERIALIZE, default auto — see materialize_mode):
    'pandas' round-trips through Arrow to a LocalRelation —
    right-sized for the control-plane frames of an epoch (votes, replay
    queue, resolved updates), which are bounded by batch size, not
    state size; 'reliable' uses rdd.checkpoint() to the checkpoint dir
    (the cluster default: control frames may exceed driver memory)."""
    spark = df.sparkSession
    if materialize_mode(spark) == "pandas":
        pdf = df.toPandas()
        out = spark.createDataFrame(pdf, schema=df.schema)
        # driver-side twin: control-plane scans (abort counts, the
        # contamination flag, replay counts) read it for free instead
        # of launching a Spark job per check — worth ~0.1-0.2 s/job on
        # the epoch latency floor. Distributed modes skip it and the
        # callers fall back to Spark actions.
        out._tspoon_pdf = pdf
        return out
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        import tempfile

        spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix="tspoon_ckpt_"))
    # (persist-before-checkpoint measured NO gain here — the epoch
    # control frames are small enough that the checkpoint's lineage
    # recompute is noise against per-job dispatch; see
    # tools/bench_cluster_probe.py + BENCHNOTES round-9 row)
    return df.checkpoint(eager=True)

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from t_spoon_spark.tx import graph as G
from t_spoon_spark.tx.namespace import Namespace
from t_spoon_spark.tx.vote import ABORT, COMMIT, REPLAY, vote_name

EPOCH_TID_SHIFT = 40  # tid = (epoch+1) << 40 | row-id; replays keep old (smaller) tids


def _per_key_votes(evaluated: DataFrame) -> DataFrame:
    """Stage-level vote per tid from the per-(key, tid) evaluation:
    global vote = lattice MAX; any_commit = did any single key's link
    commit (per-key granularity — a txn can abort on one key and
    chain-commit another inside the same stage, which is exactly the
    contamination the abort cascade must see)."""
    return evaluated.groupBy("_tid").agg(
        F.max("vote").alias("vote"),
        F.max(F.when(F.col("vote") == COMMIT, 1).otherwise(0)).alias("any_commit"),
    )


def _stage_outputs(evaluated: DataFrame, stage_idx: int) -> tuple[DataFrame, DataFrame]:
    """(link_votes, writes) from a normalized per-(key, tid) evaluation
    frame (key, _tid, value, vote, _ord, __wr): every state impl reduces
    its evaluation through this one helper so the abort cascade can
    rebuild identical outputs from a key-filtered slice of the cached
    frame. link_votes stays UNGROUPED (one row per key-link) — the close
    unions all stages' links and reduces them in a single groupBy,
    saving one shuffle per state stage."""
    votes = evaluated.select("_tid", "vote")
    writes = evaluated.filter(F.col("__wr")).select(
        "key",
        "value",
        "_tid",
        F.col("_ord").cast("long").alias("_ord"),
        F.lit(stage_idx).alias("_stage"),
    )
    return votes, writes


class EpochResult:
    """One epoch's outputs.

    ``results`` is the TransactionResult stream
    (tgraph/TransactionResult.java:8-15): original record + (_tid, _ts,
    vote, updates array<struct<ns,key,value>>).  Its DataFrame is built
    LAZILY on first access — the plan construction (unions + to_json
    over every namespace) costs ~0.3 s of driver time per epoch, pure
    overhead for throughput/latency paths that only read vote_counts()
    off the materialized vote frame.  ``votes`` is lazy the same way
    when the driver close resolved the votes in pandas.

    How the epoch closed: ``close_path`` is ``"ops_fold"`` or
    ``"evaluated_pull"`` (the driver close, tx/driver_cascade.py) or
    ``"distributed"``; ``cascade_rounds`` counts the abort-cascade
    refold rounds; ``close_fallback`` is None, or why the epoch left
    the driver close it would have taken (an ops-fold retry or an
    Ineligible reason).  ``phase_ms`` is the epoch's wall time in ms
    per phase: ``plan`` (batch stamp and the state stages' frames),
    ``close`` (votes and the abort cascade), ``commit`` and ``replay``
    (the replay queue and releasing the epoch's caches)."""

    def __init__(
        self,
        epoch: int,
        results,  # DataFrame or zero-arg thunk returning one
        stream,  # DataFrame or zero-arg thunk returning one
        spu_results: DataFrame | None,
        n_replay: int,
        votes,  # DataFrame or zero-arg thunk returning one
        votes_pdf: pd.DataFrame | None = None,
        close_path: str = "distributed",
        cascade_rounds: int = 0,
        close_fallback: str | None = None,
        phase_ms: dict[str, float] | None = None,
    ):
        self.epoch = epoch
        self._results = results
        self._stream = stream
        self.spu_results = spu_results
        self.n_replay = n_replay
        self._votes = votes
        self._votes_pdf = votes_pdf
        self.close_path = close_path
        self.cascade_rounds = cascade_rounds
        self.close_fallback = close_fallback
        self.phase_ms = phase_ms or {}

    @property
    def results(self) -> DataFrame:
        if callable(self._results):
            self._results = self._results()
        return self._results

    @property
    def stream(self) -> DataFrame:
        """The transformed stream after all stages (the reference exposes
        it via sinks on the closed TStream), built on first access."""
        if callable(self._stream):
            self._stream = self._stream()
        return self._stream

    @property
    def votes(self) -> DataFrame:
        """(_tid, vote:int) frame — lets vote accounting run off the
        small control frame instead of the results plan."""
        if callable(self._votes):
            self._votes = self._votes()
        return self._votes

    def vote_counts(self) -> dict[str, int]:
        pdf = self._votes_pdf
        if pdf is None:
            pdf = getattr(self.votes, "_tspoon_pdf", None)
        if pdf is not None:  # driver twin: zero Spark jobs
            from t_spoon_spark.tx.vote import VOTE_NAMES

            counts = pdf["vote"].value_counts()
            return {VOTE_NAMES[int(v)]: int(n) for v, n in counts.items()}
        rows = (
            self.votes.select(vote_name(F.col("vote")).alias("v")).groupBy("v").count().collect()
        )
        return {r["v"]: r["count"] for r in rows}


class GraphRunner:
    def __init__(self, env, tgraph: G.TGraph):
        self.env = env
        self.graph = tgraph
        self._replay: DataFrame | None = None  # source cols + _tid
        self._epoch_persisted: list[DataFrame] = []
        # driver-cascade compile cache (per runner — the graph is
        # immutable): None = not tried, False = ineligible, list = twins
        self._dc_compiled = None
        self._stage_ctxs: list = []
        # rendered chain-update SQL per stage (py4j round-trips once per
        # runner, not once per epoch)
        self._chain_sql_cache: dict = {}
        # True when every txn provably reaches a state stage (links
        # cover tids): the driver close then derives the epoch tid set
        # from the pulled links instead of a second source scan + union
        # branch. Computed once — the graph is immutable.
        self._tids_covered: bool | None = None
        # ops-fold hot path (round 12): per-epoch engage flag, static
        # graph eligibility (computed once after compile), last driver
        # epoch's txn count (the small-epoch regime detector), and the
        # retry latch that pins one re-run to the standard path after a
        # data-dependent pull-time ineligibility
        self._ops_fold_epoch = False
        self._of_static: bool | None = None
        self._last_txns: int | None = None
        self._of_retry = False
        # why the driver close is off for good (compile or pull-time
        # Ineligible), and why THIS epoch left the close it would have
        # taken (EpochResult.close_fallback)
        self._dc_ineligible: str | None = None
        self._fallback: str | None = None
        # the graph rendered to SQL, per batch schema (None: the schema's
        # first epoch found a stage the renderer cannot express, and the
        # apply_* walk runs every epoch), and why rendering was refused
        self._rendered: dict[str, G.RenderedGraph | None] = {}
        self._render_ineligible: str | None = None

    # ------------------------------------------------------------------

    def run_epoch(
        self,
        batch: DataFrame | None,
        spus: DataFrame | None = None,
        batch_id: int | None = None,
        query_id: str | None = None,
    ) -> EpochResult:
        # one in-flight epoch per environment: concurrent streaming
        # queries (multi-TGraph) call this from separate foreachBatch
        # threads, and the store admits exactly one epoch at a time.
        # last_lock_wait_s records how long THIS epoch queued behind the
        # other graphs' epochs — the contended-latency bench reads it to
        # split trigger-to-commit into lock wait vs epoch work.
        t_lock = time.time()
        with self.env.epoch_lock:
            self.last_lock_wait_s = time.time() - t_lock
            saved_replay = self._replay
            self._fallback = None
            try:
                return self._run_epoch_locked(batch, spus, batch_id, query_id)
            except _OpsFoldRetry as e:
                # ops-fold pull hit a data-dependent ineligibility:
                # nothing committed — restore the consumed replay queue
                # and run the SAME epoch once on the standard path
                self._fallback = f"ops-fold retry: {e}"
                self._replay = saved_replay
                self._of_retry = True
                try:
                    return self._run_epoch_locked(batch, spus, batch_id, query_id)
                finally:
                    self._of_retry = False

    def _run_epoch_locked(
        self,
        batch: DataFrame | None,
        spus: DataFrame | None = None,
        batch_id: int | None = None,
        query_id: str | None = None,
    ) -> EpochResult:
        # Session AQE setting is respected as-is: AQE's per-shuffle
        # re-planning costs ~40% wall on SMALL epochs (a latency-floor
        # deployment should disable it on the session, as the latency
        # bench does) but pays for itself on large ones — measured
        # 2.6x PL4 throughput at sf0.1 with AQE on vs off.
        env = self.env
        store = env.store
        epoch = store.committed_epoch() + 1
        self._epoch_persisted = []
        self._stage_ctxs = []
        self._batch_id = batch_id
        self._query_id = query_id
        self._phase_ms = dict.fromkeys(("plan", "close", "commit", "replay"), 0.0)
        self._t_phase = time.perf_counter()

        src, stamped = self._stamp(batch, epoch)
        if self._replay is not None:
            src = src.unionByName(self._replay) if src is not None else self._replay
            self._replay = None
        if src is None:
            raise ValueError("run_epoch: no batch and no pending replays")
        if stamped:
            # monotonically_increasing_id tids are plan-dependent; freeze
            # them so graph execution and replay extraction agree. Sources
            # that ship their own stable `_tid` (all built-in generators,
            # the gate fixtures, the bench) skip this entirely — the
            # cluster-scale path never round-trips the data plane.
            src = materialize(src)

        self._ops_fold_epoch = not self._of_retry and self._ops_fold_ok(
            src, stamped, spus
        )
        ops_frames, stream = self._stage_frames(src)
        state_jobs = [
            (ops, stage, idx, value_cols)
            for (ops, value_cols), (idx, stage) in zip(ops_frames, self._state_stages())
        ]

        # Abort-cascade passes are possible only if some touched
        # namespace can abort at all; persisting the per-stage op frames
        # is only worth it then (a cascade pass refolds from the cached
        # ops instead of re-executing source + graph).
        any_invariant = any(
            self.env.namespaces[s.namespace].invariant
            or self.env.namespaces[s.namespace].py_invariant
            for _, s, _, _ in state_jobs
        )
        reruns: list = []

        def exec_states(
            excluded: DataFrame | None,
        ) -> tuple[list[DataFrame], dict[str, list[DataFrame]]]:
            votes_parts: list[DataFrame] = []
            writes_parts: dict[str, list[DataFrame]] = {}
            if excluded is None:
                for ops, stage, idx, value_cols in state_jobs:
                    votes, writes, rerun = self._run_state(
                        ops, stage, idx, any_invariant, value_cols
                    )
                    reruns.append(rerun)
                    votes_parts.append(votes)
                    writes_parts.setdefault(stage.namespace, []).append(writes)
            else:
                for rerun, (_, stage, _, _) in zip(reruns, state_jobs):
                    votes, writes = rerun(excluded)
                    votes_parts.append(votes)
                    writes_parts.setdefault(stage.namespace, []).append(writes)
            return votes_parts, writes_parts

        return self._close(epoch, src, stream, exec_states, len(state_jobs), spus)

    def run_to_completion(
        self, batch: DataFrame, spus: DataFrame | None = None, max_epochs: int = 64
    ) -> list[EpochResult]:
        """Run the batch, then drain the replay queue (each drain epoch
        commits at least the oldest pending transaction, so this
        terminates)."""
        out = [self.run_epoch(batch, spus)]
        while out[-1].n_replay > 0:
            if len(out) >= max_epochs:
                raise RuntimeError(f"replay queue not drained after {max_epochs} epochs")
            out.append(self.run_epoch(None))
        return out

    # ------------------------------------------------------------------

    def _stamp(self, batch: DataFrame | None, epoch: int) -> tuple[DataFrame | None, bool]:
        """Returns (stamped batch, needed_plan_dependent_ids)."""
        if batch is None:
            return None, False
        if "_tid" in batch.columns:
            return batch, False
        base = (epoch + 1) << EPOCH_TID_SHIFT
        return batch.withColumn("_tid", F.lit(base) + F.monotonically_increasing_id()), True

    def _lap(self, phase: str) -> None:
        """Charge the wall time since the last lap to ``phase``."""
        now = time.perf_counter()
        self._phase_ms[phase] += (now - self._t_phase) * 1000.0
        self._t_phase = now

    # -- the graph's frames ----------------------------------------------

    def _state_stages(self) -> list[tuple[int, G.StateStage]]:
        return [(i, s) for i, s in enumerate(self.graph.stages) if isinstance(s, G.StateStage)]

    def _walk(self, src: DataFrame) -> list[DataFrame]:
        """The apply_* walk: the frame each stage sees, then the final
        frame."""
        df = src.select(
            "*",
            F.col("_tid").alias("_ts"),
            F.array().cast("array<int>").alias("_path"),
            F.lit(True).alias("_alive"),
        )
        if self._tids_covered is None:
            # needs the per-position frames the stage fns see (analysis
            # only, no job); computed once — the graph is immutable
            self._tids_covered = G.links_cover_tids(self.graph, df)
        seen = []
        for stage in self.graph.stages:
            seen.append(df)
            if isinstance(stage, G.MapStage):
                df = G.apply_map(df, stage)
            elif isinstance(stage, G.FlatMapStage):
                df = G.apply_flat_map(df, stage)
            elif isinstance(stage, G.FilterStage):
                df = G.apply_filter(df, stage)
            elif isinstance(stage, G.KeyByStage):
                df = G.apply_key_by(df, stage)
            elif isinstance(stage, G.TWindowStage):
                df = G.apply_t_window(df, stage)
            elif not isinstance(stage, G.StateStage):  # pragma: no cover
                raise TypeError(f"unknown stage {stage}")
        return seen + [df]

    def _stage_frames(self, src: DataFrame):
        """([(ops, value columns)] per state stage, stream thunk) for this
        epoch.  ``ops`` is the stage's alive records with ``__key``; on
        an ops-fold epoch only ``_tid``, ``__key`` and the pre-combined
        columns the fold reads.

        The graph is rendered to SQL on the first epoch of each batch
        schema and checked against the apply_* walk of that epoch: the
        rendered ops and stream must have the walked schemas.  From then
        on an epoch's frames are a few selectExpr calls over the batch.
        A graph the renderer refuses keeps the walk, and the reason
        stays on the runner (``_render_ineligible``)."""
        key = src.schema.json()
        states = self._state_stages()
        walked = ep = None
        if key not in self._rendered:
            walked = self._walk(src)
            plan = None
            try:
                plan = G.render_graph(self.env.spark, self.graph, walked, src.columns)
                ep = G.RenderedEpoch(plan, src)
                for n, (i, stage) in enumerate(states):
                    if ep.ops(n).schema != self._walk_ops(walked[i], stage).schema:
                        raise G.CannotRender(f"stage {i}: rendered ops schema differs")
                if ep.stream().schema != walked[-1].schema:
                    raise G.CannotRender("rendered stream schema differs")
            except Exception as e:  # CannotRender, or Spark refusing the text
                self._render_ineligible = f"{type(e).__name__}: {str(e).splitlines()[0]}"
                plan = None
            self._rendered[key] = plan
        plan = self._rendered[key]
        if plan is None:
            if walked is None:
                walked = self._walk(src)
            return (
                [(self._walk_ops(walked[i], s), G.value_columns(walked[i])) for i, s in states],
                lambda: walked[-1],
            )
        if ep is None:
            ep = G.RenderedEpoch(plan, src)
        ops = []
        for n, ((_i, stage), rs) in enumerate(zip(states, plan.states)):
            only = list(stage.pre_combine) if self._ops_fold_epoch else None
            ops.append((ep.ops(n, only), rs.value_cols))
        return ops, ep.stream

    @staticmethod
    def _walk_ops(df: DataFrame, stage: G.StateStage) -> DataFrame:
        return df.filter(F.col("_alive")).withColumn("__key", stage.key(df).cast("string"))

    # -- state stage ----------------------------------------------------

    def _run_state(
        self,
        ops: DataFrame,
        stage: G.StateStage,
        stage_idx: int,
        persist_ops: bool,
        value_cols: list[str] | None = None,
    ) -> tuple[DataFrame, DataFrame, "object"]:
        """Returns (votes (_tid, vote), writes (key, value, _tid, _ord,
        _stage), rerun), where rerun(excluded_tids_df) recomputes the
        stage with the given transactions removed (abort cascade) —
        from the persisted op frame when persist_ops, so a cascade pass
        costs one refold, not a source + graph re-execution."""
        env = self.env
        ns = env.namespaces[stage.namespace]
        if value_cols is None:  # handed the frame the stage sees, not its ops
            value_cols = G.value_columns(ops)
            ops = self._walk_ops(ops, stage)
        # the ops fold reads v0 from the store's pandas twin, never the
        # snapshot frame (an ops-fold epoch that cannot finish re-runs
        # on the standard path, which reads it)
        snapshot = (
            None
            if self._ops_fold_epoch and env.store.read_twin(ns.name) is not None
            else env.store.read(ns.name)
        )

        pandas_path = stage.py_update is not None or env.isolation in ("PL0", "PL1")
        if pandas_path:
            impl = self._state_chain_pandas
            kind = "pandas"
        elif stage.epoch_combine:
            impl = self._state_epoch_combine
            kind = "epoch_combine"
        elif env.isolation in ("PL3", "PL4"):
            impl = self._state_chain_expr
            kind = "chain_expr"
        else:
            impl = self._state_expr
            kind = "expr"

        # On the driver-close path each frame has exactly ONE consumer
        # (the pandas pull), so persist() is pure overhead — plan
        # analysis + cache write per epoch. `_dc_compiled is not False`
        # errs toward skipping on the first epoch; if compilation then
        # fails, that one epoch runs the distributed path uncached and
        # the next epoch persists again.
        self._skip_persist = (
            kind != "expr"
            and self._dc_compiled is not False
            and materialize_mode(env.spark) == "pandas"
        )
        if persist_ops and not self._skip_persist:
            ops = ops.persist()
            self._epoch_persisted.append(ops)
        if self._ops_fold_epoch:
            # ops-fold hot path: the chain-fold plan is never BUILT this
            # epoch — per-epoch Catalyst re-analysis of the multi-KB
            # fold expression was the unloaded-latency floor (round 12).
            # The driver close pulls `ops` (a trivial projection) and
            # folds every chain with the vectorized twin; `rerun` below
            # handles evaluated=None by running impl fresh, so the
            # distributed-fallback contract is unchanged.
            votes = writes = evaluated = None
        else:
            votes, writes, evaluated = impl(ops, stage, ns, snapshot, stage_idx)

        # context for the driver-side cascade (tx/driver_cascade.py):
        # the fixpoint refolds from these exact frames when eligible
        from t_spoon_spark.tx.driver_cascade import StageCtx

        if kind in ("epoch_combine",) or (kind == "chain_expr" and stage.pre_combine):
            value_cols = list(stage.pre_combine)
        self._stage_ctxs.append(
            StageCtx(
                kind=kind,
                stage=stage,
                ns=ns,
                stage_idx=stage_idx,
                ops=ops,
                snapshot=snapshot,
                value_cols=value_cols,
                evaluated=evaluated,
            )
        )

        def rerun(excluded: DataFrame) -> tuple[DataFrame, DataFrame]:
            # mark (don't drop) the excluded txns' ops: the refold
            # evaluates them against the clean chain without applying
            # their writes, so a contaminated abort can flip back to
            # COMMIT and leave the excluded set (C9 dependency replay)
            exf = excluded.select("_tid").withColumn("__exf", F.lit(1))
            marked = (
                ops.join(exf, "_tid", "left")
                .withColumn("__ex", F.coalesce(F.col("__exf"), F.lit(0)))
                .drop("__exf")
            )
            if evaluated is None:
                # no per-(key, tid) evaluation to keep (epoch_combine):
                # refold the whole stage
                v, w, _ = impl(marked, stage, ns, snapshot, stage_idx)
                return v, w
            # A cascade pass refolds ONLY the keys where some excluded
            # txn CHAIN-COMMITTED a link in the original evaluation
            # (vote == COMMIT) — an excluded txn's local ABORT never
            # applied its write, so that key's chain folds
            # bit-identically under the exclusion and the original
            # (cached) evaluation stands verbatim, including the
            # excluded txn's own link vote.  Refold cost is therefore
            # proportional to the CONTAMINATED key set, not even the
            # touched key set: at cluster scale an epoch of 10^7 txns
            # with 100 contended keys refolds at most 100 chains.
            affected = (
                evaluated.join(excluded, "_tid", "left_semi")
                .filter(F.col("vote") == COMMIT)
                .select(F.col("key").alias("__key"))
                .distinct()
            )
            marked_aff = marked.join(F.broadcast(affected), "__key", "left_semi")
            nv, nw, _ = impl(marked_aff, stage, ns, snapshot, stage_idx)
            keep_eval = evaluated.join(
                F.broadcast(affected.select(F.col("__key").alias("key"))),
                "key",
                "left_anti",
            )
            ov, ow = _stage_outputs(keep_eval, stage_idx)
            return nv.unionByName(ov), nw.unionByName(ow)

        return votes, writes, rerun

    def _state_expr(
        self,
        ops: DataFrame,
        stage: G.StateStage,
        ns: Namespace,
        snapshot: DataFrame,
        stage_idx: int,
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """JVM-only path (whole-stage codegen end to end): one window
        aggregate for conflict detection + one join against the
        committed snapshot. This is the 100 TB hot path — no Python."""
        if stage.pre_combine:
            keep = [c for c in ops.columns if c in ("_tid", "_ts", "__key")]
            aggs = [F.expr(f"{how}({col})").alias(col) for col, how in stage.pre_combine.items()]
            ops = ops.groupBy(*keep).agg(*aggs)

        # PL2: everyone reads committed, everyone writes
        executing = F.lit(True)

        snap = snapshot.select(F.col("key").alias("__key"), F.col("value").alias("__v0"))
        joined = ops.join(snap, "__key", "left")
        v0 = F.coalesce(F.col("__v0"), F.lit(ns.default).cast(ns.value_type))
        joined = joined.withColumn("__cand", stage.update(v0))
        ok = _invariant_expr(ns)
        vote = F.when(ok, F.lit(COMMIT)).otherwise(F.lit(ABORT))
        evaluated = joined.select(
            F.col("_tid"),
            F.col("__key").alias("key"),
            F.col("__cand").alias("value"),
            vote.alias("vote"),
            F.col("_tid").alias("_ord"),
            executing.alias("__wr"),
        ).persist()  # consumed by votes, writes, and the results build
        self._epoch_persisted.append(evaluated)
        return (*_stage_outputs(evaluated, stage_idx), evaluated)

    def _state_chain_expr(
        self,
        ops: DataFrame,
        stage: G.StateStage,
        ns: Namespace,
        snapshot: DataFrame,
        stage_idx: int,
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """PL3/PL4 serial per-key application in tid order, fully JVM.

        collect_list the key's ops sorted by tid, then one SQL
        ``aggregate()`` higher-order fold walks the chain: each element
        computes its candidate from the last *committed* value, checks
        the invariant, and records (tid, vote, value). One shuffle on
        the key (with map-side combine via pre_combine), no Python, no
        replay epochs — the entire conflict chain of a hot key resolves
        inside one epoch (vs one epoch per conflicting txn in the
        reference's optimistic REPLAY loop,
        tgraph/twopc/OpenOperator.java:287-357, with identical final
        state and votes: both realize serial tid-order execution with
        committed-only visibility).

        Skew note: a key's chain is inherently sequential (each link
        reads the previous committed value), so a hot key serializes in
        one task here exactly as it serializes on one shard in the
        reference; pre_combine keeps the array at one element per
        transaction.
        """
        vt = ns.value_type
        # cascade refolds mark rows of currently-excluded txns with
        # __ex=1: those links are EVALUATED against the clean chain
        # (their vote can flip back to COMMIT — reference C9 dependency
        # replay) but never advance it and never write
        has_ex = "__ex" in ops.columns
        ex_cols = [F.col("__ex")] if has_ex else []
        if stage.pre_combine:
            aggs = [
                F.expr(f"{how}({col})").alias(col) for col, how in stage.pre_combine.items()
            ]
            if has_ex:
                aggs.append(F.max("__ex").alias("__ex"))
            # one shuffle, not two: hash-partitioning on __key satisfies
            # the (tid, key) clustering of the pre-combine AND the key
            # clustering of the chain groupBy, so both aggregates run
            # exchange-free on top of a single repartition.  Trade-off
            # at scale: the key shuffle moves raw ops (no map-side
            # combine first), but op count per txn is bounded by the
            # graph's flat_map fan-out — batch-sized either way.
            ops = ops.repartition(F.col("__key"))
            ops = ops.groupBy("_tid", "__key").agg(*aggs)
            value_cols = list(stage.pre_combine)
            # __ex LAST in the struct: sort_array order is decided by
            # the (tid[, path], values) prefix exactly as before
            elem = F.struct(F.col("_tid"), *[F.col(c) for c in value_cols], *ex_cols)
        else:
            value_cols = [
                c for c in ops.columns if c not in (*G.META_COLS, "__key", "__ex")
            ]
            # _path after _tid: intra-transaction ops apply in lineage order
            elem = F.struct(
                F.col("_tid"), F.col("_path"), *[F.col(c) for c in value_cols], *ex_cols
            )

        sql_key = (id(stage), tuple(value_cols))
        cand = self._chain_sql_cache.get(sql_key)
        if cand is None:
            try:
                cand = _chain_update_sql(self.env.spark, stage, value_cols)
            except Exception as e:  # pragma: no cover - exotic expressions
                raise ValueError(
                    f"state('{ns.name}'): cannot derive a SQL chain from the update "
                    f"expression ({e}); supply py_update for the pandas chain path"
                ) from e
            self._chain_sql_cache[sql_key] = cand
        ok = _chain_invariant_sql(ns, cand, vt, value_cols)

        grouped = ops.groupBy("__key").agg(F.sort_array(F.collect_list(elem)).alias("__ops"))
        snap = snapshot.select(F.col("key").alias("__key"), F.col("value").alias("__v0"))
        joined = grouped.join(snap, "__key", "left").withColumn(
            "__v0f", F.coalesce(F.col("__v0"), F.lit(ns.default).cast(vt))
        )
        # applied = the link passed AND its txn is not excluded; only
        # applied links advance the chain or write, but every link's
        # vote is recorded (excluded txns re-evaluate on the clean chain).
        # The fold's accumulated struct stays as LEAN as the variant
        # allows — array_append copies the accumulator per link, so
        # every extra field is O(chain) copies: 'wr' only exists in the
        # __ex variant (round 0 derives it from the vote), 'rec' only
        # when the fused driver pull can use it.
        applied = f"(({ok}) AND x.__ex = 0)" if has_ex else ok
        # single-pass dual output: with a single-column pre-combine the
        # link struct also carries the pre-combined RECORD value ('rec'),
        # so the driver close's fused pull reads both the evaluation AND
        # the refoldable ops from ONE execution of the epoch slice
        # (previously the ops rode a second union branch that re-ran
        # source + graph + the pre-combine shuffle).
        has_rec = bool(stage.pre_combine) and len(value_cols) == 1 and not has_ex
        rec_dt = ops.schema[value_cols[0]].dataType.simpleString() if has_rec else None
        rec_field = f",\n                'rec', x.{value_cols[0]}" if has_rec else ""
        rec_type = f", rec: {rec_dt}" if has_rec else ""
        wr_field = f",\n                'wr', CASE WHEN {applied} THEN true ELSE false END" if has_ex else ""
        wr_type = ", wr: boolean" if has_ex else ""
        fold = f"""aggregate(
            __ops,
            named_struct(
              'value', CAST(__v0f AS {vt}),
              'votes', CAST(array() AS array<struct<tid: bigint, vote: int, value: {vt}{wr_type}{rec_type}>>)),
            (acc, x) -> named_struct(
              'value', CASE WHEN {applied} THEN CAST({cand} AS {vt}) ELSE acc.value END,
              'votes', array_append(acc.votes, named_struct(
                'tid', x._tid,
                'vote', CASE WHEN {ok} THEN {COMMIT} ELSE {ABORT} END,
                'value', CASE WHEN {ok} THEN CAST({cand} AS {vt}) ELSE acc.value END{wr_field}{rec_field}))))"""
        rec_cols = [F.col("__v.rec").alias("__rec")] if has_rec else []
        # round 0 (no __ex): a link writes iff it chain-committed; the
        # __ex variant carries the applied flag explicitly
        wr_col = (
            F.col("__v.wr") if has_ex else (F.col("__v.vote") == COMMIT)
        )
        # cache the PARSED fold Column, not just its SQL text: the
        # multi-KB expression otherwise round-trips through the JVM
        # parser once per epoch (Columns are immutable and reusable
        # across epoch frames)
        fold_key = (id(stage), tuple(value_cols), has_ex, has_rec)
        fold_col = self._chain_sql_cache.get(fold_key)
        if fold_col is None:
            fold_col = F.expr(fold)
            self._chain_sql_cache[fold_key] = fold_col
        evaluated = (
            joined.select(
                "__key", F.posexplode(fold_col.getField("votes")).alias("__pos", "__v")
            )
            .select(
                F.col("__key").alias("key"),
                F.col("__v.tid").alias("_tid"),
                F.col("__v.value").alias("value"),
                F.col("__v.vote").alias("vote"),
                # _ord = CHAIN POSITION, not tid: a txn with several ops
                # on one key (no pre-combine) yields several links with
                # the SAME tid, and a tid-based ordinal would tie the
                # close's last-writer resolution — the position makes
                # "last chain link wins" exact and deterministic.
                F.col("__pos").cast("long").alias("_ord"),
                # only APPLIED links are writes (chain-committed and
                # not excluded); the close's commit filter (global
                # vote) prunes cross-namespace aborts on top.
                wr_col.alias("__wr"),
                *rec_cols,
            )
        )
        # several epoch actions consume this frame (vote merge, writes,
        # contamination check, results build) — cache it executor-side
        # so the collect_list+fold shuffle runs once, not per action.
        # (Driver-close mode: single consumer, skip the cache.)
        if not getattr(self, "_skip_persist", False):
            evaluated = evaluated.persist()
            self._epoch_persisted.append(evaluated)
        return (*_stage_outputs(evaluated, stage_idx), evaluated)

    def _state_epoch_combine(
        self,
        ops: DataFrame,
        stage: G.StateStage,
        ns: Namespace,
        snapshot: DataFrame,
        stage_idx: int,
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """Associative fold of the whole epoch per key: one groupBy with
        map-side partial aggregation + one join against the snapshot.
        Every transaction votes COMMIT (no invariant, no conflicts) —
        the engine's transactional analogue of the reference's keyed
        continuous reduce (evaluation/SPUBench.java:198-258), but with
        the epoch's atomic commit. The high-throughput path for
        counter/sum state at 100 TB scale."""
        aggs = [F.expr(f"{how}({col})").alias(col) for col, how in stage.pre_combine.items()]
        # cascade refolds mark excluded txns' rows: they contribute
        # nothing to the combine but still vote COMMIT (no invariant can
        # fail here), so their global verdict rests on the chain stages
        contrib = ops.filter(F.col("__ex") == 0) if "__ex" in ops.columns else ops
        combined = contrib.groupBy("__key").agg(*aggs)
        snap = snapshot.select(F.col("key").alias("__key"), F.col("value").alias("__v0"))
        joined = combined.join(snap, "__key", "left")
        v0 = F.coalesce(F.col("__v0"), F.lit(ns.default).cast(ns.value_type))
        # _tid = -1 sentinel: an epoch-combined write belongs to every
        # transaction of the epoch (all COMMIT), so it bypasses the
        # per-transaction commit filter at close.
        writes = joined.select(
            F.col("__key").alias("key"),
            stage.update(v0).alias("value"),
            F.lit(-1).cast("long").alias("_tid"),
            F.lit(0).cast("long").alias("_ord"),
            F.lit(stage_idx).alias("_stage"),
        )
        # link-vote rows (duplicates fine — the close's single groupBy
        # reduces them); every epoch-combined txn commits
        votes = ops.select("_tid", F.lit(COMMIT).alias("vote"))
        # no per-(key, tid) evaluation exists for the associative fold —
        # a cascade pass always refolds in full (has_ec forces it)
        return votes, writes, None

    def _state_chain_pandas(
        self,
        ops: DataFrame,
        stage: G.StateStage,
        ns: Namespace,
        snapshot: DataFrame,
        stage_idx: int,
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """Arrow-batched per-key fold — the general path for arbitrary
        Python state functions (reference StateFunction.apply) and for
        the dirty-read chains of PL0/PL1."""
        env = self.env
        isolation = env.isolation
        update = stage.py_update
        if update is None:
            raise ValueError(
                f"state('{ns.name}'): PL0/PL1 chains need py_update "
                "(expression updates can't fold through dirty reads)"
            )
        invariant = ns.py_invariant
        default = ns.default
        has_ex = "__ex" in ops.columns
        value_cols = [
            c for c in ops.columns if c not in (*G.META_COLS, "__key", "__ex")
        ]

        snap = snapshot.select(F.col("key").alias("__key"), F.col("value").alias("__v0"))
        joined = ops.join(snap, "__key", "left")

        out_schema = (
            f"key string, _tid long, value {ns.value_type}, vote int, _ord int, _exec boolean"
        )

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.copy()
            pdf["__ord"] = pdf["_path"].map(lambda p: tuple(p) if p is not None else ())
            pdf = pdf.sort_values(["_tid", "__ord"], kind="mergesort")
            key = pdf["__key"].iloc[0]
            v0 = pdf["__v0"].iloc[0]
            if v0 is None or (isinstance(v0, float) and pd.isna(v0)):
                v0 = default
            rows = []
            chain_v = v0
            for pos, (_, r) in enumerate(pdf.iterrows()):
                rec = {c: r[c] for c in value_cols}
                tid = int(r["_tid"])
                # cascade refold: excluded txns evaluate on the clean
                # chain (vote can flip back — C9 replay) but never
                # advance it and never write
                ex = bool(r["__ex"]) if has_ex else False
                # PL3/PL4: serial tid-order chain with committed-only
                # visibility; PL0/PL1: dirty chain; PL2: committed-at-open
                base = chain_v if isolation in ("PL0", "PL1", "PL3", "PL4") else v0
                cand = update(base, rec)
                ok = invariant(cand) if invariant else True
                rows.append((key, tid, cand, COMMIT if ok else ABORT, pos, ok and not ex))
                if isolation in ("PL0", "PL1"):
                    chain_v = cand  # dirty: visible to the next op regardless of outcome
                elif isolation in ("PL3", "PL4") and ok and not ex:
                    chain_v = cand  # committed-only chain
            return pd.DataFrame(
                rows, columns=["key", "_tid", "value", "vote", "_ord", "_exec"]
            )

        evaluated = (
            joined.groupBy("__key")
            .applyInPandas(fold, out_schema)
            .withColumnRenamed("_exec", "__wr")
        )
        if not getattr(self, "_skip_persist", False):
            # the Arrow fold is the expensive part; cache it
            evaluated = evaluated.persist()
            self._epoch_persisted.append(evaluated)
        return (*_stage_outputs(evaluated, stage_idx), evaluated)

    # -- driver cascade eligibility --------------------------------------

    def _ops_fold_ok(self, src, stamped: bool, spus) -> bool:
        """Per-epoch engage test for the ops-fold hot path (round-12
        unloaded-latency floor): skip BUILDING the chain-fold plan
        entirely and evaluate every chain driver-side with the
        vectorized fold.  Conservative by construction — every condition
        a pull can't verify later must hold up front; epochs past the
        size threshold (previous driver epoch > _OPS_FOLD_MAX_TXNS
        txns) take the evaluated pull.  First eligible epoch is the
        runner's second: the compile (and the size signal) come from a
        standard epoch."""
        if stamped or spus is not None:
            return False
        if not isinstance(self._dc_compiled, list):
            return False
        if self._last_txns is None or self._last_txns > _OPS_FOLD_MAX_TXNS:
            return False
        if materialize_mode(self.env.spark) != "pandas":
            return False
        if not (
            self._tids_covered or getattr(src, "_tspoon_pdf", None) is not None
        ):
            return False
        return bool(self._of_static)

    def _driver_cascade_or_none(self, spark):
        """A DriverCascade for this epoch, or None when the distributed
        close must run instead (reliable materialize mode, or a stage
        without a compilable python twin)."""
        from t_spoon_spark.tx import driver_cascade as dcm

        if materialize_mode(spark) != "pandas":
            return None
        if not self._stage_ctxs or any(c.kind == "expr" for c in self._stage_ctxs):
            return None
        if self._dc_compiled is False:
            return None
        if self._dc_compiled is None:
            try:
                self._dc_compiled = [
                    dcm.compile_stage(spark, c, self._chain_sql_cache)
                    for c in self._stage_ctxs
                ]
            except dcm.Ineligible as e:
                self._dc_ineligible = str(e)
                self._dc_compiled = False
                return None
            # static ops-fold eligibility, once per runner: the mirror
            # of _vec_init's shape conditions (the data-dependent ones —
            # NaN records — are re-checked at pull time every epoch)
            self._of_static = all(
                c.kind == "chain_expr"
                and bool(c.stage.pre_combine)
                and len(c.value_cols) == 1
                and k.update_vec is not None
                and (k.invariant is None or k.invariant_vec is not None)
                and k.cast is dcm._to_float
                and c.ns.default is not None
                for c, k in zip(self._stage_ctxs, self._dc_compiled)
            )
        return dcm.DriverCascade(
            spark,
            self._stage_ctxs,
            self._dc_compiled,
            ops_fold=self._ops_fold_epoch,
        )

    # -- close ----------------------------------------------------------

    def _merge_votes(self, tids: DataFrame, votes_parts: list[DataFrame]) -> DataFrame:
        """Global vote per transaction: MAX over the lattice across all
        state stages (ReduceVotesFunction + multi-exit second reduce,
        tgraph/TransactionEnvironment.java:338-366, collapsed into one
        groupBy because the epoch barrier already saw every record).

        Also carries ``any_commit`` (did the txn chain-commit at least
        one per-key link on some stage?) so the abort-cascade
        contamination check reads the materialized vote frame instead of
        re-driving the writes plans — one fewer Spark job per cascade
        round."""
        if votes_parts:
            all_votes = votes_parts[0]
            for v in votes_parts[1:]:
                all_votes = all_votes.unionByName(v)
            # one reduce over the flat union of every stage's key-links
            merged = _per_key_votes(all_votes)
        else:
            merged = tids.withColumn("vote", F.lit(COMMIT)).withColumn(
                "any_commit", F.lit(0)
            ).limit(0)
        # In a latency-tuned session (AQE off — small epochs), the
        # static planner would sort-merge the fill join; hint broadcast
        # instead (the frame is collected to the driver right after the
        # join anyway in pandas mode). With AQE on, leave the choice to
        # runtime stats — a 10^7-txn epoch's vote frame should not be
        # force-broadcast.
        spark = tids.sparkSession
        if (
            materialize_mode(spark) == "pandas"
            and spark.conf.get("spark.sql.adaptive.enabled", "true") == "false"
        ):
            merged = F.broadcast(merged)
        # a tid absent from every state stage wrote nothing: it commits
        # and cannot contaminate (any_commit = 0)
        return tids.join(merged, "_tid", "left").fillna(
            COMMIT, subset=["vote"]
        ).fillna(0, subset=["any_commit"])

    def _close(
        self,
        epoch: int,
        src: DataFrame,
        stream: DataFrame,
        exec_states,
        n_state: int,
        spus: DataFrame | None,
    ) -> EpochResult:
        env = self.env
        votes_parts, writes_parts = exec_states(None)
        spark = src.sparkSession
        self._lap("plan")

        # Driver close (pandas materialize mode + compiled python twins,
        # tx/driver_cascade.py): as few as ONE Spark job per epoch — the
        # ops-fold projection or the evaluation pull — then vote merge,
        # abort-cascade fixpoint and finals resolution all on the driver
        # over batch-sized control frames.  Cluster sessions and graphs
        # the compile refuses take the distributed close below.
        dc = self._driver_cascade_or_none(spark) if n_state > 0 else None
        if dc is not None:
            from t_spoon_spark.tx.driver_cascade import Ineligible

            try:
                return self._driver_close(epoch, src, stream, spus, dc)
            except Ineligible as e:
                if self._ops_fold_epoch:
                    # the ops-fold epoch never built the evaluation
                    # plans, so there is no in-place fallback — re-run
                    # the whole epoch on the standard path WITHOUT
                    # disabling the driver cascade (the ineligibility is
                    # data-dependent and per-epoch, not structural)
                    raise _OpsFoldRetry(str(e)) from e
                # belt-and-braces: a pull-time ineligibility (shapes the
                # compile gate cannot see) falls back to the distributed
                # close below — nothing was committed yet, and the
                # exec_states frames are untouched
                self._dc_ineligible = str(e)
                self._dc_compiled = False

        # Distributed close: the cluster's path (materialize 'reliable')
        # and the local fallback for graphs the driver compile refuses.
        tids = src.select("_tid")
        gvotes = materialize(self._merge_votes(tids, votes_parts))

        # Forward abort cascade (the epoch-model analogue of the
        # reference's dependency tracking + StrictnessEnforcer replay,
        # tgraph/state/PL4DependencyTrackingStrategy.java:23-44 +
        # StandardDependencyTrackingStrategy.java:10-17): a transaction
        # can chain-commit on one key yet abort globally — another of
        # its keys, or another namespace, failed its invariant. Later
        # chain links on the committed keys were then computed over a
        # value that never commits. Re-run the state stages with the
        # aborted tids excluded until the abort SET is stable.  Each
        # refold EVALUATES excluded txns too (without applying their
        # writes), so a txn whose invariant failed only on a
        # contaminated chain flips back to COMMIT and re-enters — the
        # reference's C9 dependency REPLAY.  The fixpoint E = {txns
        # failing when chains apply exactly the non-E writes} is the
        # unique serial-replay answer: influence flows strictly forward
        # in tid order, so the k-th smallest tid's verdict is stable
        # from round k and the loop terminates in at most
        # longest-dependency-chain rounds. Cost: one control job when
        # nothing aborts.
        rounds = 0
        if n_state > 0 and env.isolation in ("PL3", "PL4"):
            # epoch_combine folds every txn unconditionally, so its sums
            # must always be re-derived when something aborts — the
            # contamination short-circuit below is only sound without it.
            has_ec = any(
                isinstance(s, G.StateStage) and s.epoch_combine for s in self.graph.stages
            )
            prev_df: DataFrame | None = None
            while True:
                # ONE control job per round (optimization r15: each
                # count()/limit(1).count() was a full job dispatch on
                # the multi-JVM path, and the cascade pays them EVERY
                # round).  gvotes carries every epoch tid exactly once
                # (tids left-joined to the per-tid vote merge; pinned by
                # tests/test_merge_votes_invariant.py), so prev-set
                # membership rides one left join against the previous
                # (materialize-rooted) abort set and all four control
                # reads collapse into a single one-row aggregate:
                # n_aborted, n_new (aborted ∧ ∉prev), has_replays (∈prev
                # ∧ no longer aborted), and the new-contamination flag
                # (new abort that chain-committed a link).
                aborted = gvotes.filter(F.col("vote") == ABORT).select("_tid")
                gv = (
                    gvotes.join(prev_df.withColumn("__prev", F.lit(1)), "_tid", "left")
                    if prev_df is not None
                    else gvotes.withColumn("__prev", F.lit(None).cast("int"))
                )
                is_ab = F.col("vote") == ABORT
                is_new = is_ab & F.col("__prev").isNull()
                ctl = gv.agg(
                    F.sum(is_ab.cast("long")).alias("n_ab"),
                    F.sum(is_new.cast("long")).alias("n_new"),
                    F.max(((~is_ab) & F.col("__prev").isNotNull()).cast("int")).alias(
                        "replays"
                    ),
                    F.max((is_new & (F.col("any_commit") == 1)).cast("int")).alias(
                        "contam"
                    ),
                ).collect()[0]
                n_aborted = int(ctl["n_ab"] or 0)
                n_new = int(ctl["n_new"] or 0)
                has_replays = bool(ctl["replays"])
                if n_new == 0 and not has_replays:
                    break
                if not has_ec and not has_replays and not bool(ctl["contam"]):
                    # early exit: no NEWLY aborted txn applied a single
                    # link write, so excluding it changes no chain — the
                    # votes are already the fixpoint.  (Replays always
                    # force a refold: their writes must re-enter the
                    # chains.)
                    break
                # Fixpoint, not a fixed cap: per the tid-order argument
                # above the round count is bounded by the epoch's
                # longest dependency chain. A silent cap would commit
                # chain values embedding writes of globally-aborted txns
                # (atomicity violation); the guard only trips on a
                # convergence bug.
                rounds += 1
                if rounds > 100_000:  # pragma: no cover - bug trap
                    raise RuntimeError(
                        "abort cascade failed to converge: aborted set still "
                        f"changing after {rounds} rounds ({n_aborted} aborted)"
                    )
                prev_df = aborted
                votes_parts, writes_parts = exec_states(aborted)
                gvotes = materialize(self._merge_votes(tids, votes_parts))

        self._lap("close")
        reasons = [self._fallback]
        if self._dc_compiled is False and materialize_mode(spark) == "pandas":
            reasons.append(self._dc_ineligible)
        return self._finish_close(
            epoch, src, stream, lambda: gvotes, None, lambda: writes_parts, spus,
            None,
            close_path="distributed",
            cascade_rounds=rounds,
            close_fallback="; ".join(r for r in reasons if r) or None,
        )

    def _driver_close(
        self,
        epoch: int,
        src: DataFrame,
        stream: DataFrame,
        spus: DataFrame | None,
        dc,
    ) -> EpochResult:
        """Pandas-mode close via the driver cascade module: pull the
        evaluation links (the epoch's one real Spark job per stage),
        resolve votes/cascade/finals on the driver, re-enter Spark as
        LocalRelations only where something reads them."""
        env = self.env
        store = env.store
        spark = src.sparkSession
        has_ec = any(
            isinstance(s, G.StateStage) and s.epoch_combine for s in self.graph.stages
        )
        src_pdf = getattr(src, "_tspoon_pdf", None)
        out = dc.close(
            store,
            src_pdf["_tid"] if src_pdf is not None else (lambda: src.select("_tid")),
            has_ec,
            run_cascade=env.isolation in ("PL3", "PL4"),
            tids_covered=bool(self._tids_covered),
        )
        # small-epoch regime signal for the next epoch's ops-fold
        # decision (the hot path must never engage on a loaded epoch)
        self._last_txns = len(out.gv_pdf)

        @functools.cache
        def gvotes() -> DataFrame:
            df = spark.createDataFrame(
                out.gv_pdf, schema="_tid long, vote int, any_commit int"
            )
            df._tspoon_pdf = out.gv_pdf
            return df

        def writes_supplier() -> dict[str, list[DataFrame]]:
            return {
                ns_name: [
                    spark.createDataFrame(
                        w,
                        schema=(
                            f"key string, value {env.namespaces[ns_name].value_type},"
                            " _tid long, _ord long, _stage int"
                        ),
                    )
                    for w in parts
                ]
                for ns_name, parts in out.writes.items()
            }

        self._lap("close")
        return self._finish_close(
            epoch, src, stream, gvotes, out.gv_pdf, writes_supplier, spus, out,
            close_path="ops_fold" if dc.ops_fold else "evaluated_pull",
            cascade_rounds=out.rounds,
            close_fallback=self._fallback,
        )

    def _finish_close(
        self,
        epoch: int,
        src: DataFrame,
        stream: DataFrame,
        gvotes,
        gv_pdf: pd.DataFrame | None,
        writes_supplier,
        spus: DataFrame | None,
        driver_res,
        **close_info,
    ) -> EpochResult:
        """Post-cascade close: resolve finals, commit, build results —
        shared by the distributed and driver paths.  ``gvotes`` returns
        the vote frame (``gv_pdf`` is its driver twin, when the driver
        close resolved it).  The vote / updates / results plans are
        built lazily: an epoch that commits via the pandas store twin
        and is only asked for vote counts never pays their
        construction."""
        store = self.env.store
        built: dict[str, object] = {}

        def updates_and_rows() -> tuple[dict[str, DataFrame], list[DataFrame]]:
            # each namespace's final value per key among committed
            # writes, plus the per-txn write-set rows for results
            if "u" in built:
                return built["u"]  # type: ignore[return-value]
            updates: dict[str, DataFrame] = {}
            upd_rows: list[DataFrame] = []
            commit_tids = gvotes().filter(F.col("vote") == COMMIT).select("_tid")
            for ns_name, parts in writes_supplier().items():
                w = parts[0]
                for p in parts[1:]:
                    w = w.unionByName(p)
                wc = w.filter(F.col("_tid") < 0).unionByName(
                    w.filter(F.col("_tid") >= 0).join(commit_tids, "_tid", "left_semi")
                )
                rn = F.row_number().over(
                    W.partitionBy("key").orderBy(F.desc("_stage"), F.desc("_ord"))
                )
                final = (
                    wc.withColumn("__rn", rn).filter(F.col("__rn") == 1).select("key", "value")
                )
                updates[ns_name] = final
                upd_rows.append(
                    wc.select(
                        "_tid",
                        F.lit(ns_name).alias("ns"),
                        "key",
                        F.to_json(F.struct(F.col("value").alias("v"))).alias("value"),
                    )
                )
            built["u"] = (updates, upd_rows)
            return built["u"]  # type: ignore[return-value]

        def build_results() -> DataFrame:
            # TransactionResult stream (tgraph/TransactionResult.java:8-15):
            # committed txns carry their write-set.
            if "r" in built:
                return built["r"]  # type: ignore[return-value]
            _updates, upd_rows = updates_and_rows()
            if upd_rows:
                u = upd_rows[0]
                for p in upd_rows[1:]:
                    u = u.unionByName(p)
                upd_agg = u.groupBy("_tid").agg(
                    F.collect_list(F.struct("ns", "key", "value")).alias("updates")
                )
            else:
                upd_agg = None
            results = src.join(gvotes().select("_tid", "vote"), "_tid").select(
                "*", F.col("_tid").alias("_ts")
            ).withColumn("vote", vote_name(F.col("vote")))
            if upd_agg is not None:
                results = results.join(upd_agg, "_tid", "left")
            else:
                results = results.withColumn(
                    "updates",
                    F.lit(None).cast("array<struct<ns:string,key:string,value:string>>"),
                )
            built["r"] = results
            return results

        spu_results = None
        pandas_commit = (
            spus is None
            and driver_res is not None
            and all(store.can_commit_pandas(n) for n in driver_res.finals)
        )
        wal = None
        if store.durable:
            wal = build_results().select(
                "_tid", "_ts", "vote", F.to_json(F.col("updates")).alias("updates_json")
            )
        if pandas_commit:
            # resolved finals already live driver-side (the driver
            # close) — pandas merge, no Spark job but the durable writes
            store.commit_pandas(
                epoch,
                driver_res.finals,
                wal,
                batch_id=getattr(self, "_batch_id", None),
                query_id=getattr(self, "_query_id", None),
            )
        else:
            updates, _ = updates_and_rows()
            if spus is not None:
                # single-partition updates run after the epoch's txns
                spu_results, updates = self._apply_spus(spus, updates)
            store.commit(
                epoch,
                updates,
                wal,
                batch_id=getattr(self, "_batch_id", None),
                query_id=getattr(self, "_query_id", None),
            )
        self._lap("commit")

        # REPLAY queue: original source rows re-enter the next epoch
        # with their original tid (OpenOperator replay,
        # tgraph/twopc/OpenOperator.java:287-357 — ours waits for the
        # next epoch, which is when the conflicting txn has completed).
        # Chained PL3/PL4 resolves conflicts in-epoch, so REPLAY votes
        # only arise from explicitly replay-voting user stages (none of
        # the built-in paths emit them any more) — check cheaply on the
        # materialized vote frame before touching src.
        if gv_pdf is None:
            gv_pdf = getattr(gvotes(), "_tspoon_pdf", None)
        if gv_pdf is not None:
            n_replay = int((gv_pdf["vote"] == REPLAY).sum())
        else:
            n_replay = gvotes().filter(F.col("vote") == REPLAY).count()
        if n_replay:
            replay_tids = gvotes().filter(F.col("vote") == REPLAY).select("_tid")
            self._replay = materialize(src.join(replay_tids, "_tid"))
        else:
            self._replay = None
        for p in self._epoch_persisted:
            p.unpersist()
        self._epoch_persisted = []
        self._lap("replay")

        return EpochResult(
            epoch=epoch,
            results=build_results,  # lazy: built on first .results access
            stream=stream,
            spu_results=spu_results,
            n_replay=n_replay,
            votes=gvotes,
            votes_pdf=gv_pdf,
            phase_ms=dict(self._phase_ms),
            **close_info,
        )

    # -- SPU ------------------------------------------------------------

    def _apply_spus(
        self, spus: DataFrame, updates: dict[str, DataFrame]
    ) -> tuple[DataFrame, dict[str, DataFrame]]:
        """Single-partition updates (reference §2.5): per-key
        read-modify-write commands executed atomically per key, after
        this epoch's transactional writes (the reference interleaves at
        version-stability points; the epoch barrier is ours —
        tgraph/db/Shard.java:113-154).

        spus schema: (spu_id string, namespace string, key string,
        method string, args array<double>).
        """
        env = self.env
        all_results: list[DataFrame] = []
        new_updates = dict(updates)
        for ns_name in [r["namespace"] for r in spus.select("namespace").distinct().collect()]:
            ns = env.namespaces[ns_name]
            sub = spus.filter(F.col("namespace") == ns_name)
            post = env.store.read(ns_name)
            if ns_name in updates:
                post = env.store._upsert(post, updates[ns_name])
            snap = post.select(F.col("key"), F.col("value").alias("__v0"))
            joined = sub.join(snap, "key", "left")

            commands = dict(ns.commands)
            invariant = ns.py_invariant
            default = ns.default
            out_schema = (
                f"spu_id string, key string, method string, vote int, value {ns.value_type}, _final boolean"
            )

            def make_fold(_cmds, _inv, _def):
                def fold(pdf: pd.DataFrame) -> pd.DataFrame:
                    pdf = pdf.sort_values("spu_id", kind="mergesort")
                    v = pdf["__v0"].iloc[0]
                    if v is None or (isinstance(v, float) and pd.isna(v)):
                        v = _def
                    rows = []
                    last_commit_idx = -1
                    for i, (_, r) in enumerate(pdf.iterrows()):
                        fn = _cmds.get(r["method"])
                        if fn is None:
                            rows.append((r["spu_id"], r["key"], r["method"], ABORT, None, False))
                            continue
                        cand = fn(v, *(list(r["args"]) if r["args"] is not None else []))
                        ok = _inv(cand) if _inv else True
                        rows.append(
                            (r["spu_id"], r["key"], r["method"], COMMIT if ok else ABORT, cand, False)
                        )
                        if ok:
                            v = cand
                            last_commit_idx = i
                    if last_commit_idx >= 0:
                        rows[last_commit_idx] = rows[last_commit_idx][:5] + (True,)
                    return pd.DataFrame(
                        rows, columns=["spu_id", "key", "method", "vote", "value", "_final"]
                    )

                return fold

            fold = make_fold(commands, invariant, default)

            evaluated = materialize(joined.groupBy("key").applyInPandas(fold, out_schema))
            all_results.append(
                evaluated.select(
                    "spu_id", F.lit(ns_name).alias("ns"), "key", "method",
                    vote_name(F.col("vote")).alias("vote"),
                )
            )
            spu_final = evaluated.filter(F.col("_final")).select("key", "value")
            if ns_name in new_updates:
                new_updates[ns_name] = env.store._upsert(new_updates[ns_name], spu_final)
            else:
                new_updates[ns_name] = spu_final

        res = all_results[0]
        for p in all_results[1:]:
            res = res.unionByName(p)
        return res, new_updates


_ACC_TOKEN = "__chain_acc__"

# Spark SQL string literals: single- or double-quoted, backslash escapes,
# doubled '' inside single quotes. Captured so re.split keeps them.
_SQL_LITERAL = re.compile(r"""('(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.)*")""")


def _map_outside_literals(sql: str, fn) -> str:
    """Apply a text rewrite only to the parts of a SQL string that are
    NOT inside string literals — a column named `delta` must not rewrite
    the literal in ``... != 'delta'``."""
    parts = _SQL_LITERAL.split(sql)
    return "".join(p if i % 2 else fn(p) for i, p in enumerate(parts))


def _sub_cols(sql: str, cols: list[str], prefix: str = "x") -> str:
    """Rewrite bare/backticked column references to lambda-element field
    accesses (``delta`` -> ``x.delta``) for use inside a SQL
    ``aggregate()`` lambda. Longest names first so one column name being
    a prefix of another can't corrupt the rewrite; string literals are
    never touched."""

    def repl(seg: str) -> str:
        for c in sorted(cols, key=len, reverse=True):
            seg = re.sub(rf"`{re.escape(c)}`", f"{prefix}.{c}", seg)
            # trailing `.` excluded too: a column named `acc` must not
            # rewrite the accumulator reference `acc.value`.
            seg = re.sub(rf"(?<![\w.`]){re.escape(c)}(?![\w`.])", f"{prefix}.{c}", seg)
        return seg

    return _map_outside_literals(sql, repl)


def _chain_update_sql(spark, stage: G.StateStage, value_cols: list[str]) -> str:
    """Turn the stage's expression update (Column -> Column) into a SQL
    fragment usable inside an aggregate() lambda: the accumulator value
    becomes ``acc.value``, record columns become ``x.<col>``.

    Uses Catalyst's Expression.sql() on the unresolved column tree (the
    same rendering EXPLAIN uses); operators come back in function-call
    form (``\\`+\\`(a, b)``), which the Spark SQL parser accepts."""
    jc = stage.update(F.col(_ACC_TOKEN))._jc
    raw = spark._jsparkSession.expression(jc).sql()
    sql = _map_outside_literals(raw, lambda s: re.sub(rf"`?{_ACC_TOKEN}`?", "acc.value", s))
    return _sub_cols(sql, value_cols)


def _chain_invariant_sql(ns: Namespace, cand: str, vt: str, value_cols: list[str]) -> str:
    """Invariant SQL with `value` bound to the candidate chain value."""
    if not ns.invariant:
        return "true"
    marker = "\x00CAND\x00"
    tmpl = _map_outside_literals(ns.invariant, lambda s: re.sub(r"\bvalue\b", marker, s))
    tmpl = _sub_cols(tmpl, value_cols)
    return tmpl.replace(marker, f"(CAST({cand} AS {vt}))")


def _invariant_expr(ns: Namespace) -> Column:
    """Compile the namespace's SQL invariant against the candidate value.

    The invariant references the logical name `value`
    (StateFunction.invariant is evaluated on the updated value,
    tgraph/db/ObjectHandler.java:29-35); the state op materializes the
    candidate as column `__cand`, so a word-boundary rewrite binds it.
    Record columns stay referenceable by their own names.
    """
    if not ns.invariant:
        return F.lit(True)
    return F.expr(
        _map_outside_literals(ns.invariant, lambda s: re.sub(r"\bvalue\b", "__cand", s))
    )
