"""Versioned snapshot store: the Spark-native replacement for the
reference's per-shard MVCC heaps + WAL + snapshot servers
(tgraph/db/Shard.java, tgraph/durability/*).

Layout (durable mode), a poor-man's transaction log in plain parquet:

    {root}/{ns}/log/epoch={k}/          per-epoch update files (key,value)
    {root}/{ns}/base/epoch={k}/         compacted full snapshot at k
    {root}/wal/epoch={k}/               TransactionResult rows (the WAL,
                                        reference tgraph/durability/WALEntry.java:15-25)
    {root}/_commits/{k:012d}.json       atomic commit marker (tmp+rename)

An epoch becomes visible if and only if its commit marker exists, so a
crash between file writes and the marker leaves a clean prefix — the
same guarantee the reference's WAL-then-notify gives
(tgraph/twopc/CloseFunction.java:180-203). Readers pin
``committed_epoch()`` and get snapshot isolation for free
(tgraph/db/Shard.java:170-184 readCommittedBefore ≘ read at marker).

Both commits keep one order: log files, WAL, marker, compacted base
(every ``checkpoint_every`` epochs), and only then the in-memory
publish.  The publish lands every namespace's snapshot under
``(ns, epoch)`` before the watermark moves, so a reader pinned at an
older epoch never sees a frame of the epoch being committed.

Small snapshots (under ``SMALL_SNAPSHOT_*``, local session) also keep a
driver-side pandas twin per retained epoch: the driver close merges
into it with :meth:`StateStore.commit_pandas` (the durable files are
written from it), the committed frame is the twin's LocalRelation
(built on the first read of that epoch), and key lookups (:meth:`StateStore.read_twin`, used by ``serve.py``) answer
from it with no Spark job — the reference likewise reads a shard's
in-memory versions at the watermark (tgraph/db/Shard.java:186-217).
Large state and cluster sessions stay on :meth:`StateStore.commit`,
whose snapshots never pass through the driver.

In-memory mode skips the filesystem and keeps the same epoch/versioning
contract for tests and rate benchmarks.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from t_spoon_spark.tx.namespace import Namespace


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _nan_as_null(pdf):
    """The driver close's finals in the twin's convention.  The close
    never emits a NaN value (a NaN chain value makes the epoch take the
    distributed close), so a NaN there is a NULL pandas coerced to
    float — it reads as NULL, as the Spark conversion of the frame
    always made it."""
    pdf = pdf[["key", "value"]]
    v = pdf["value"]
    if v.dtype.kind == "f" and v.isna().any():
        pdf = pdf.assign(value=v.astype(object).where(v.notna(), None))
    return pdf


class _LazyFrame:
    """A committed snapshot's LocalRelation, built from its pandas twin
    on the first read: most driver-close epochs never read it (the next
    epoch's ops fold reads the twin).  Concurrent first readers may each
    build one; every reader gets a complete frame, and a built frame is
    published with one attribute store."""

    def __init__(self, build):
        self._build = build
        self._frame: DataFrame | None = None

    def get(self) -> DataFrame:
        frame = self._frame
        if frame is None:
            frame = self._frame = self._build()
        return frame


def _frame(v) -> DataFrame:
    return v.get() if isinstance(v, _LazyFrame) else v


class StateStore:
    # Snapshots estimated under these keep a pandas twin (local session);
    # above (or on a cluster) the distributed parquet path takes over.
    # A LocalRelation snapshot is embedded in every downstream job's
    # task binary, so multi-MB state re-ships with each epoch job — but
    # since the driver-side cascade + pandas commit landed, a local-mode
    # epoch runs 1-3 jobs total, and measurements at the loaded-latency
    # operating point (26k-txn epochs, 100k-key state ≈ 6.5 MB deep)
    # show the twin saving ~2 s/epoch of spill-commit against ~0.2 s of
    # extra task-binary shipping.  16 MB covers that point with margin.
    # Two thresholds because the two estimators measure different
    # units (pandas deep in-memory bytes vs compressed parquet bytes,
    # ~6x apart) — a single cutoff oscillates between the paths on
    # state near the boundary, alternating the commit cost every epoch.
    SMALL_SNAPSHOT_MEM_BYTES = 16 << 20
    SMALL_SNAPSHOT_PARQUET_BYTES = 2560 << 10

    def __init__(
        self,
        spark: SparkSession,
        root: str | None = None,
        durable: bool = False,
        history_epochs: int = 4,
        checkpoint_every: int | None = None,
        max_epochs: int | None = None,
    ):
        """``max_epochs`` is the durable retention horizon (reference
        parity: ``maxNoVersions``, tgraph/state/StateOperator.java:100-101
        and tgraph/db/Object.java:253-278 bound per-key version history
        the same way): only the newest ``max_epochs`` committed epochs
        stay reconstructable; older logs/bases/WAL/markers are dropped
        after each commit, so the on-disk footprint plateaus instead of
        growing linearly (tools/store_growth_probe.py measures both
        curves). ``None`` (default) keeps the unbounded pre-round-12
        behavior. Pruned markers' streaming-batch frontiers are folded
        into ``_commits/_horizon.json`` so crash recovery keeps exact
        idempotence even for a query that last committed before the
        horizon."""
        if max_epochs is not None and max_epochs < 1:
            raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
        if max_epochs is not None and not durable:
            # retention and the horizon read-guard only exist on the
            # durable path; silently ignoring the knob would hand a
            # caller asking for bounded retention an unbounded store
            # (ADVICE r12).
            raise ValueError(
                "max_epochs requires durable=True (the in-memory store "
                "bounds snapshots with history_epochs instead)"
            )
        if checkpoint_every is None:
            # in-memory: cut lineage EVERY epoch — Spark 4.1 local mode
            # shows super-linear re-planning cost on uncut epoch chains
            # (measured: epochs 3-4 of an uncut run jump 5x-50x);
            # durable: the parquet log write per epoch already bounds
            # reconstruction, so compact bases rarely.
            checkpoint_every = 8 if durable else 1
        self.spark = spark
        self.durable = durable
        self.root = root or tempfile.mkdtemp(prefix="tspoon_store_")
        self.history_epochs = history_epochs
        self.checkpoint_every = checkpoint_every
        self.max_epochs = max_epochs
        self.namespaces: dict[str, Namespace] = {}
        # newest published snapshot per namespace; a commit rebinds the
        # whole dict at publish, never mutates a published one.  Values
        # here and in _history are frames or _LazyFrames (read via _frame)
        self._current: dict[str, DataFrame | _LazyFrame] = {}
        # every retained epoch's snapshot, the newest included — reads
        # resolve by (ns, epoch), so a publish in progress cannot tear them
        self._history: dict[tuple[str, int], DataFrame | _LazyFrame] = {}
        self._committed = -1
        # highest streaming batch_id whose epoch committed — the
        # idempotence frontier for micro-batches re-delivered after a
        # crash between store-commit and the Spark checkpoint advance.
        # last_query_id ties the frontier to the streaming query's
        # checkpoint identity: a NEW query (fresh checkpoint) restarts
        # batch ids at 0, and skipping those against an old frontier
        # would silently drop every micro-batch.
        self.last_batch_id: int | None = None
        self.last_query_id: str | None = None
        # per-query frontiers: with MULTIPLE streaming queries (multi-
        # TGraph streaming) interleaving epochs on one store, a single
        # (last_batch_id, last_query_id) slot forgets query A's frontier
        # as soon as query B commits — a redelivered A batch would then
        # double-apply. Keyed by query identity (checkpoint location).
        self.batch_frontiers: dict[str, int] = {}
        # per-namespace snapshot size estimate for the twin/parquet
        # choice: ("mem", deep-pandas-bytes) or ("parquet", on-disk bytes)
        self._spill_bytes: dict[str, tuple[str, int]] = {}
        # driver-side pandas twin of small snapshots — the driver close's
        # commit_pandas merges state here with no Spark job for the
        # merge.  Only populated on the pandas materialize path; absent
        # means the namespace's snapshot is a Spark plan (large state,
        # a cluster session, or a lazy commit() between cuts).
        # _current_pdf mirrors _current; _twins mirrors _history.
        self._current_pdf: dict[str, "object"] = {}
        self._twins: dict[tuple[str, int], "object"] = {}
        self._schemas: dict[str, StructType] = {}
        # in-flight epoch overlay (round-13 freshness spike): while a
        # commit is underway, (epoch, {ns: resolved updates}) — the
        # PL0-visibility read_uncommitted() answers from it, shrinking
        # query staleness by the commit wall (reference parity target:
        # record-level watermark reads, tgraph/query/WatermarkAssigner
        # .java:11-26; ours reaches resolved-but-not-yet-durable, the
        # closest the epoch model gets without continuous triggers).
        # Updates are POST-resolution (aborted txns already excluded),
        # so this never exposes writes that will be rolled back — only
        # writes that are not yet durable.
        self._inflight: tuple[int, dict] | None = None
        if durable:
            os.makedirs(os.path.join(self.root, "_commits"), exist_ok=True)
            self._recover()

    # -- namespace management ------------------------------------------

    def register(self, ns: Namespace) -> None:
        import pandas as pd

        self.namespaces[ns.name] = ns
        frame = self._empty(ns)
        # parsed once here: _twin_frame builds frames with it every epoch
        self._schemas[ns.name] = frame.schema
        if ns.name not in self._current:
            twin = pd.DataFrame(
                {"key": pd.Series(dtype="object"), "value": pd.Series(dtype="object")}
            )
            self._current[ns.name] = frame
            self._current_pdf[ns.name] = twin
            self._history[(ns.name, self._committed)] = frame
            self._twins[(ns.name, self._committed)] = twin

    def _empty(self, ns: Namespace) -> DataFrame:
        return self.spark.createDataFrame([], schema=f"key string, value {ns.value_type}")

    # -- reads ----------------------------------------------------------

    def committed_epoch(self) -> int:
        return self._committed

    def read(self, ns: str, epoch: int | None = None) -> DataFrame:
        """Committed snapshot of a namespace (at `epoch`, default latest)."""
        epoch = self._resolve(ns, epoch)
        frame = self._history.get((ns, epoch))
        if frame is not None:
            return _frame(frame)
        if self.durable and ns in self._current:
            return self._reconstruct(ns, epoch)
        raise KeyError(f"snapshot {ns}@{epoch} not retained (history={self.history_epochs})")

    def read_twin(self, ns: str, epoch: int | None = None):
        """The pandas twin of ``read(ns, epoch)``, or None when that
        snapshot has none (large state, a cluster session, a lazy
        commit() between cuts, or an epoch outside the history window).
        Raises exactly where ``read`` does.  The returned frame is never
        mutated; a NULL value is ``None``, a NaN value is NaN."""
        return self._twins.get((ns, self._resolve(ns, epoch)))

    def _resolve(self, ns: str, epoch: int | None) -> int:
        """The epoch a read pinned at ``epoch`` (default: the committed
        watermark) answers at, after the guards every read shares.

        The retention-horizon guard runs BEFORE the in-memory history
        lookup: with ``max_epochs <= history_epochs`` an epoch can sit in
        the history window yet below the horizon, and its pinned frame's
        lineage roots at base files ``_gc_retention`` already pruned —
        returning it would defer the failure to action time as a
        FileNotFoundException instead of the documented loud refusal
        (ADVICE r12). ``max_epochs`` is the retention contract; below it,
        nothing is readable, history-resident or not."""
        committed = self._committed  # one read: the guards agree with it
        if epoch is None or epoch == committed:
            return committed
        if epoch > committed:
            # above the watermark sits only not-yet-durable state: a
            # mid-commit epoch's log files (marker not landed) or a
            # crash-orphaned write.  In durable mode _reconstruct would
            # happily fold those in, handing a client uncommitted state
            # WITHOUT the explicit freshness='uncommitted' opt-in that
            # is the sole gate on uncommitted visibility (ADVICE r13).
            raise KeyError(
                f"snapshot {ns}@{epoch} is above the committed watermark "
                f"({committed}); uncommitted visibility requires "
                f"freshness='uncommitted', not a future epoch pin"
            )
        if (
            self.durable
            and self.max_epochs is not None
            and epoch < committed - self.max_epochs + 1
        ):
            raise KeyError(
                f"snapshot {ns}@{epoch} outside retention horizon "
                f"(max_epochs={self.max_epochs}, committed={committed})"
            )
        return epoch

    def read_uncommitted(self, ns: str) -> tuple[DataFrame, int]:
        """PL0-visibility read (round-13 freshness spike): the committed
        snapshot overlaid with the in-flight epoch's RESOLVED updates
        when a commit is underway — ``(frame, effective_epoch)``.  This
        is the epoch model's closest analogue to the reference's
        record-level watermark reads (tgraph/query/WatermarkAssigner
        .java:11-26, tgraph/db/Shard.java:170-184): a query arriving
        mid-commit sees epoch k's results one commit-wall earlier than a
        committed-snapshot read.  Never dirty in the classic sense — the
        overlay holds post-abort-resolution finals, so no write that
        will be rolled back is ever visible; what a reader risks is
        seeing state that a crash BEFORE the marker would un-happen
        (exactly PL0's recoverability trade, SURVEY §4.2).  The upsert
        overlay is idempotent (last-writer-wins of identical rows), so
        racing the commit's own ``_current`` swap cannot tear values.
        With no commit in flight this is exactly ``read(ns)``."""
        frames, eff = self.read_uncommitted_all([ns])
        return frames[ns], eff

    def read_uncommitted_all(
        self, namespaces: list[str]
    ) -> tuple[dict[str, DataFrame], int]:
        """PL0-visibility read over SEVERAL namespaces from ONE observation
        of the in-flight slot — a commit starting or finishing between
        per-namespace reads cannot tear a cross-namespace query (e.g. a
        money-conservation SQL join would otherwise see namespace A at
        epoch k-1 and B at k).  Returns ({ns: frame}, effective_epoch)."""
        # Capture-and-verify loop: with a commit IN FLIGHT the overlay
        # upsert is idempotent against the commit's own _current swaps,
        # but with NO commit in flight a commit STARTING mid-capture
        # could flip _current between two namespaces' reads.  Capturing
        # is cheap (lazy plan refs, no jobs), so re-capture until the
        # (inflight, committed) pair is stable across the pass; the
        # captured frames stay valid forever after (old frame objects
        # are immutable), so only capture-time consistency matters.
        out: dict[str, DataFrame] = {}
        eff = self._committed
        for _attempt in range(8):
            inflight = self._inflight  # single read: one state for all ns
            committed = self._committed
            out = {}
            current = self._current
            eff, updates = (committed, {}) if inflight is None else inflight
            for ns in namespaces:
                upd = updates.get(ns)
                frame = _frame(current[ns])
                if upd is None:
                    out[ns] = frame
                    continue
                if not isinstance(upd, DataFrame):  # the driver close's finals
                    upd = self._twin_frame(ns, _nan_as_null(upd))
                out[ns] = self._upsert(frame, upd)
            if self._inflight is inflight and self._committed == committed:
                break  # stable pass: no commit transition during capture
        else:
            # 8 consecutive commit transitions mid-capture would be
            # pathological (captures are lazy-plan cheap, commits take
            # wall time) — but an exhausted loop must not silently
            # return a possibly-torn cross-namespace view, which is the
            # exact hazard this function exists to prevent (ADVICE r13,
            # verdict r13).  Loud refusal, per the repo discipline.
            raise RuntimeError(
                "read_uncommitted_all: capture did not stabilize after 8 "
                "attempts (commit transitions raced every pass); retry the "
                "read — returning the last capture could tear namespaces"
            )
        return out, eff

    # -- commit ---------------------------------------------------------

    def commit(
        self,
        epoch: int,
        updates: dict[str, DataFrame],
        wal: DataFrame | None,
        batch_id: int | None = None,
        query_id: str | None = None,
    ) -> None:
        """Atomically publish one epoch: all namespace updates + WAL.

        updates[ns] must have exactly one row per key (the resolved
        final value of this epoch). `batch_id` ties the epoch to its
        streaming micro-batch; it rides the commit marker so recovery
        knows which batches are already applied.
        """
        if epoch != self._committed + 1:
            raise ValueError(f"epoch {epoch} != committed {self._committed} + 1")
        # publish the resolved updates as the in-flight overlay for the
        # duration of the commit work (durable log/WAL/marker writes are
        # most of the epoch wall on the durable path): PL0-visibility
        # reads answer from it (read_uncommitted), everyone else keeps
        # the committed snapshot until the marker lands.
        self._inflight = (
            epoch,
            {n: df for n, df in updates.items() if df is not None},
        )
        try:
            if self.durable:
                self._write_epoch(
                    epoch,
                    {n: df for n, df in updates.items() if df is not None},
                    wal,
                    sorted(updates),
                    batch_id,
                    query_id,
                )
            frames, twins = dict(self._current), dict(self._current_pdf)
            for name, df in updates.items():
                if df is None:
                    continue
                merged = self._upsert(_frame(frames[name]), df)
                # a lazy merged plan: the twin no longer mirrors it
                twins.pop(name, None)
                if epoch % self.checkpoint_every == 0:
                    merged, twin = self._cut(name, epoch, merged)
                    if twin is not None:
                        twins[name] = twin
                frames[name] = merged
            self._publish(epoch, frames, twins, batch_id, query_id)
            if self.durable:
                self._gc_retention(epoch)
        finally:
            self._inflight = None

    def can_commit_pandas(self, name: str) -> bool:
        """True when the driver-side pandas commit is valid for this
        namespace: its pandas twin mirrors the committed snapshot (small
        state on the local materialize path) and the snapshot is still
        under the size thresholds.  An in-memory store also needs the
        per-epoch cut cadence (checkpoint_every=1): one asked to cut
        only every few epochs keeps commit()'s lazy plans between cuts.
        A durable store's cadence is its compaction cadence, which
        commit_pandas keeps."""
        if not self.durable and self.checkpoint_every != 1:
            return False
        return name in self._current_pdf and self._is_small(name)

    def _is_small(self, name: str) -> bool:
        kind, est = self._spill_bytes.get(name, ("mem", 0))
        limit = (
            self.SMALL_SNAPSHOT_MEM_BYTES
            if kind == "mem"
            else self.SMALL_SNAPSHOT_PARQUET_BYTES
        )
        return est < limit

    def commit_pandas(
        self,
        epoch: int,
        updates_pdfs: dict,
        wal: DataFrame | None = None,
        batch_id: int | None = None,
        query_id: str | None = None,
    ) -> None:
        """Driver-close commit: merge the epoch's resolved updates
        ({namespace: pandas frame}, already driver-side via the driver
        close, tx/driver_cascade.py) into the pandas snapshot twins — no
        Spark job for the merge, and the new committed frame is the
        twin's LocalRelation (lineage cut every epoch), built on the
        first read() of that epoch.  A durable store
        then writes what commit() writes, in the same order: the log
        files from the updates, the WAL (``wal``, the lazy results
        frame), the marker, and every ``checkpoint_every`` epochs the
        compacted base from the twin; only then does the epoch publish.
        Guarded by can_commit_pandas() per namespace; local-mode only by
        construction (the twin exists only on the pandas materialize
        path — a cluster session never takes this branch)."""
        if epoch != self._committed + 1:
            raise ValueError(f"epoch {epoch} != committed {self._committed} + 1")
        # pandas twins ride the in-flight overlay as-is (zero cost: dict
        # of references); read_uncommitted converts on demand with the
        # committed frames' conversion — the pandas-commit window is
        # tiny, but the PL0 semantics stay uniform across commit paths.
        self._inflight = (epoch, dict(updates_pdfs))
        try:
            self._commit_pandas_body(epoch, updates_pdfs, batch_id, query_id, wal)
        finally:
            self._inflight = None

    def _commit_pandas_body(
        self, epoch: int, updates_pdfs: dict, batch_id, query_id, wal
    ) -> None:
        import pandas as pd

        frames, twins = dict(self._current), dict(self._current_pdf)
        updates = {}
        for name, updates_pdf in updates_pdfs.items():
            upd = updates[name] = _nan_as_null(updates_pdf)
            prev = twins[name]
            kept = prev[~prev["key"].isin(upd["key"])]
            # concat only non-empty frames: an empty (object-dtype) side
            # would both trip pandas' empty-entry dtype FutureWarning and
            # skew the merged dtypes
            parts = [f for f in (kept, upd) if len(f)]
            twin = pd.concat(parts, ignore_index=True) if parts else upd
            self._spill_bytes[name] = ("mem", int(twin.memory_usage(deep=True).sum()))
            twins[name] = twin
            frames[name] = _LazyFrame(functools.partial(self._twin_frame, name, twin))
        if self.durable:
            self._write_epoch(
                epoch,
                {n: self._twin_frame(n, upd) for n, upd in updates.items()},
                wal,
                sorted(updates),
                batch_id,
                query_id,
            )
            if epoch % self.checkpoint_every == 0:
                for name in updates:
                    _frame(frames[name]).write.mode("overwrite").parquet(
                        self._base_path(name, epoch)
                    )
        else:
            for name in updates:
                self._gc_bases(name, epoch)
        self._publish(epoch, frames, twins, batch_id, query_id)
        if self.durable:
            self._gc_retention(epoch)

    def _twin_frame(self, name: str, pdf) -> DataFrame:
        """LocalRelation of a twin-convention frame.  The value column is
        built from Arrow with pandas null inference off, so only ``None``
        becomes NULL and a NaN value stays NaN (``createDataFrame(pdf)``
        would turn both into NULL).  A key is a string or NULL, and
        pandas may hold a NULL key as NaN, so the key column keeps
        pandas null inference."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        schema = self._schemas[name]
        tbl = pa.table(
            {
                "key": pa.array(pdf["key"].to_numpy(), type=pa.string(), from_pandas=True),
                "value": pa.array(
                    pdf["value"].to_numpy(),
                    type=to_arrow_type(schema["value"].dataType),
                    from_pandas=False,
                ),
            }
        )
        return self.spark.createDataFrame(tbl, schema=schema)

    def _publish(
        self, epoch: int, frames: dict, twins: dict, batch_id, query_id
    ) -> None:
        """Make ``epoch`` the committed snapshot.  Every namespace's frame
        and twin land under ``(ns, epoch)`` before the watermark moves, so
        a reader that resolved an older pin never sees this epoch's state
        under that pin's label (commit() and commit_pandas() build the
        new snapshot off to the side; nothing is published per
        namespace).  ``frames`` holds every registered namespace, not
        only the updated ones: with several TGraphs interleaving epochs
        on one store, a namespace untouched this epoch must still be
        readable at it (a frame reference, not a copy)."""
        for name, frame in frames.items():
            self._history[(name, epoch)] = frame
            if name in twins:
                self._twins[(name, epoch)] = twins[name]
        self._current, self._current_pdf = frames, twins
        self._committed = epoch
        if batch_id is not None:
            self.last_batch_id = batch_id
            self.last_query_id = query_id
            if query_id is not None:
                self.batch_frontiers[query_id] = batch_id
        self._gc_history()

    def _cut(self, name: str, epoch: int, merged: DataFrame):
        """Lineage cut for one namespace snapshot at a checkpoint epoch:
        ``(frame, twin-or-None)``.

        A durable store first writes the compacted base (that write is
        the durability) and sizes it.  Then, per epoch:
        - small snapshot + local session (pandas materialize mode): one
          Arrow round-trip to a LocalRelation plus its pandas twin — no
          scratch write, no read-back scan, and the next epochs can take
          commit_pandas.  The pandas size estimate feeds the next
          epoch's decision, so growing state self-corrects onto the
          parquet path.
        - otherwise: the parquet read-back of the base; an in-memory
          store spills to its scratch dir first — distributed
          (executors write/read in parallel), no driver round-trip of
          the state.  Small snapshots coalesce (per-file overhead
          dominates a few-MB write; 64 MB/file heuristic).
        """
        from t_spoon_spark.tx.runner import materialize_mode

        if self.durable:
            merged.write.mode("overwrite").parquet(self._base_path(name, epoch))
            self._spill_bytes[name] = ("parquet", _dir_bytes(self._base_path(name, epoch)))
            merged = self.spark.read.parquet(self._base_path(name, epoch))
        if self._is_small(name) and materialize_mode(self.spark) == "pandas":
            if not self.durable:
                # A namespace that spilled to parquet in an earlier epoch
                # and shrank back under the threshold must still drop its
                # stale base dirs — the in-memory frame supersedes them
                # (ADVICE r4).
                self._gc_bases(name, epoch)
            return self._pull_twin(name, merged)
        if self.durable:
            return merged, None
        kind, est = self._spill_bytes.get(name, ("mem", 0))
        est_b = est if kind == "parquet" else est // 6  # ~parquet compression
        n_parts = max(1, est_b // (64 << 20) + 1)
        merged.coalesce(n_parts).write.mode("overwrite").parquet(
            self._base_path(name, epoch)
        )
        self._spill_bytes[name] = (
            "parquet",
            _dir_bytes(self._base_path(name, epoch)),
        )
        merged = self.spark.read.parquet(self._base_path(name, epoch))
        self._gc_bases(name, epoch)
        return merged, None

    def _pull_twin(self, name: str, frame: DataFrame):
        """One Arrow pull of a small snapshot: ``(LocalRelation, twin)``.
        The frame is the Arrow table itself, not a second conversion of
        the twin.  In the twin a NULL value is ``None`` in an object
        column, so it stays apart from a NaN value (``to_pandas`` turns
        both into NaN)."""
        import pandas as pd

        tbl = frame.toArrow()
        twin = tbl.to_pandas()
        col = tbl.column("value")
        if col.null_count:
            twin["value"] = pd.Series(col.to_pylist(), dtype=object)
        self._spill_bytes[name] = ("mem", int(twin.memory_usage(deep=True).sum()))
        return self.spark.createDataFrame(tbl, schema=frame.schema), twin

    @staticmethod
    def _upsert(prev: DataFrame, updates: DataFrame) -> DataFrame:
        """Last-writer-wins merge of the epoch's updates into the snapshot.

        Expressed as anti-join + union (both sides shuffle on `key`
        once; Catalyst turns the anti join into a broadcast when the
        update set is small — the common case of a hot-key workload).
        """
        kept = prev.join(updates.select("key"), "key", "left_anti")
        return kept.unionByName(updates.select("key", "value"))

    # -- durability -----------------------------------------------------

    def _log_path(self, ns: str, epoch: int) -> str:
        return os.path.join(self.root, ns, "log", f"epoch={epoch}")

    def _base_path(self, ns: str, epoch: int) -> str:
        return os.path.join(self.root, ns, "base", f"epoch={epoch}")

    def _write_epoch(
        self, epoch: int, logs: dict, wal, namespaces: list[str], batch_id, query_id
    ) -> None:
        """The durable steps both commits take before any compaction or
        publish, in order: each namespace's log, the WAL, then the
        marker that commits the epoch."""
        for name, df in logs.items():
            df.write.mode("overwrite").parquet(self._log_path(name, epoch))
        if wal is not None:
            wal.write.mode("overwrite").parquet(os.path.join(self.root, "wal", f"epoch={epoch}"))
        self._write_marker(epoch, namespaces, batch_id, query_id)

    def _write_marker(
        self,
        epoch: int,
        namespaces: list[str],
        batch_id: int | None = None,
        query_id: str | None = None,
    ) -> None:
        path = os.path.join(self.root, "_commits", f"{epoch:012d}.json")
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "epoch": epoch,
                    "namespaces": namespaces,
                    "batch_id": batch_id,
                    "query_id": query_id,
                },
                f,
            )
        os.rename(tmp, path)  # atomic publish

    def _marker_epochs(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(d)
            if f.endswith(".json") and not f.startswith("_")
        )

    def _recover(self) -> None:
        """Rebuild current snapshots from the committed prefix on disk.

        Uncommitted epoch files (no marker) are ignored — the replay
        semantics of tgraph/state/StateOperator.java:317-353 collapse to
        'read the committed prefix' because our WAL append and state
        update are the same atomic unit.
        """
        epochs = self._marker_epochs()
        if not epochs:
            return
        self._committed = epochs[-1]
        # rebuild the per-query frontiers from EVERY marker (multiple
        # streaming queries interleave epochs, so the last marker alone
        # only carries one query's frontier); markers pruned by the
        # retention horizon contributed theirs to _horizon.json first
        for qid, bid in self._load_horizon().get("frontiers", {}).items():
            self.batch_frontiers[qid] = max(self.batch_frontiers.get(qid, -1), bid)
        marker: dict = {}
        for k in epochs:
            try:
                with open(os.path.join(self.root, "_commits", f"{k:012d}.json")) as f:
                    marker = json.load(f)
            except (OSError, ValueError):
                # marker presence (the atomic rename) is what commits the
                # epoch; content damage loses only that epoch's frontier
                # metadata. Recover the rest instead of refusing to open.
                import logging

                logging.getLogger(__name__).warning(
                    "recovery: commit marker for epoch %d unreadable; "
                    "its batch frontier is unknown", k,
                )
                marker = {}
                continue
            bid, qid = marker.get("batch_id"), marker.get("query_id")
            if bid is not None and qid is not None:
                self.batch_frontiers[qid] = max(self.batch_frontiers.get(qid, -1), bid)
        self.last_batch_id = marker.get("batch_id")
        self.last_query_id = marker.get("query_id")
        from t_spoon_spark.tx.runner import materialize_mode

        local = materialize_mode(self.spark) == "pandas"
        frames, twins = {}, {}
        for name in list(self.namespaces) or self._disk_namespaces():
            frame = self._reconstruct(name, self._committed)
            self._spill_bytes[name] = (
                "parquet",
                sum(_dir_bytes(p) for p, _ in self._snapshot_files(name, self._committed)),
            )
            if local and self._is_small(name):
                frame, twins[name] = self._pull_twin(name, frame)
            frames[name] = frame
        self._publish(self._committed, frames, twins, None, None)

    def _disk_namespaces(self) -> list[str]:
        return [
            d
            for d in os.listdir(self.root)
            if not d.startswith("_") and d != "wal" and os.path.isdir(os.path.join(self.root, d))
        ]

    def _snapshot_files(self, ns: str, epoch: int) -> list[tuple[str, int]]:
        """(dir, epoch) of what the snapshot at `epoch` is built from:
        the newest base ≤ epoch and the logs after it."""
        base_dir = os.path.join(self.root, ns, "base")
        bases = []
        if os.path.isdir(base_dir):
            bases = sorted(
                int(d.split("=")[1]) for d in os.listdir(base_dir) if d.startswith("epoch=")
            )
        base_epoch = max((b for b in bases if b <= epoch), default=None)
        out = []
        if base_epoch is not None:
            out.append((self._base_path(ns, base_epoch), base_epoch))
        log_dir = os.path.join(self.root, ns, "log")
        if os.path.isdir(log_dir):
            for d in sorted(os.listdir(log_dir)):
                k = int(d.split("=")[1])
                if (base_epoch is None or k > base_epoch) and k <= epoch:
                    out.append((self._log_path(ns, k), k))
        return out

    def _reconstruct(self, ns: str, epoch: int) -> DataFrame:
        """Snapshot at `epoch` = newest base ≤ epoch + logs after it,
        latest write per key wins."""
        parts = [
            self.spark.read.parquet(path).withColumn("__e", F.lit(k))
            for path, k in self._snapshot_files(ns, epoch)
        ]
        if not parts:
            nso = self.namespaces.get(ns)
            return self._empty(nso) if nso else self.spark.createDataFrame([], "key string, value double")
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        w = F.row_number().over(W.partitionBy("key").orderBy(F.desc("__e")))
        return unioned.withColumn("__rn", w).filter(F.col("__rn") == 1).select("key", "value")

    def wal(self, epoch: int | None = None) -> DataFrame:
        """Read the WAL (all epochs or one)."""
        path = os.path.join(self.root, "wal")
        if epoch is not None:
            return self.spark.read.parquet(os.path.join(path, f"epoch={epoch}"))
        return self.spark.read.option("basePath", path).parquet(os.path.join(path, "epoch=*"))

    def _gc_bases(self, ns: str, epoch: int) -> None:
        """Drop non-durable spill bases no retained snapshot can reach.

        A pinned history frame's lineage roots at the last spill AT OR
        BEFORE its epoch — with checkpoint_every > 1 that spill can be
        older than `epoch - history_epochs`, so GC keys off the oldest
        base any retained history epoch references, not the raw cutoff
        (deleting it would make reading that snapshot throw
        FileNotFoundException)."""
        import shutil

        base_dir = os.path.join(self.root, ns, "base")
        if not os.path.isdir(base_dir):
            return
        bases = sorted(
            int(d.split("=")[1]) for d in os.listdir(base_dir) if d.startswith("epoch=")
        )
        oldest_retained = epoch - self.history_epochs
        keep_from = max((b for b in bases if b <= oldest_retained), default=None)
        if keep_from is None:
            return
        for b in bases:
            if b < keep_from:
                shutil.rmtree(os.path.join(base_dir, f"epoch={b}"), ignore_errors=True)

    def _gc_history(self) -> None:
        cutoff = self._committed - self.history_epochs
        for table in (self._history, self._twins):
            for k in [k for k in table if k[1] < cutoff]:
                del table[k]

    # -- durable retention (max_epochs) ----------------------------------

    def _horizon_path(self) -> str:
        return os.path.join(self.root, "_commits", "_horizon.json")

    def _load_horizon(self) -> dict:
        try:
            with open(self._horizon_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"floor": -1, "frontiers": {}}

    def _gc_retention(self, epoch: int) -> None:
        """Bound the durable footprint to the ``max_epochs`` newest epochs.

        Horizon = oldest epoch that must stay exactly reconstructable.
        Per namespace the anchor is the newest base <= horizon: bases
        below it are shadowed (never the newest-base-<=e for any retained
        e) and logs at-or-below it are absorbed by it, so both drop.
        Without an anchor base every log back to 0 is still load-bearing
        and nothing is pruned — retention never trades correctness for
        space (a base lands every ``checkpoint_every`` epochs, so the
        anchor appears within one cadence). WAL partitions and commit
        markers below the horizon drop too, after folding the markers'
        per-query batch frontiers into ``_horizon.json`` (atomic
        tmp+rename like the markers themselves)."""
        import shutil

        if self.max_epochs is None:
            return
        horizon = epoch - self.max_epochs + 1
        if horizon <= 0:
            return
        for ns in self._disk_namespaces():
            base_dir = os.path.join(self.root, ns, "base")
            bases = []
            if os.path.isdir(base_dir):
                bases = sorted(
                    int(d.split("=")[1])
                    for d in os.listdir(base_dir)
                    if d.startswith("epoch=")
                )
            anchor = max((b for b in bases if b <= horizon), default=None)
            if anchor is None:
                continue
            for b in bases:
                if b < anchor:
                    shutil.rmtree(os.path.join(base_dir, f"epoch={b}"), ignore_errors=True)
            log_dir = os.path.join(self.root, ns, "log")
            if os.path.isdir(log_dir):
                for d in os.listdir(log_dir):
                    if d.startswith("epoch=") and int(d.split("=")[1]) <= anchor:
                        shutil.rmtree(os.path.join(log_dir, d), ignore_errors=True)
        wal_dir = os.path.join(self.root, "wal")
        if os.path.isdir(wal_dir):
            for d in os.listdir(wal_dir):
                if d.startswith("epoch=") and int(d.split("=")[1]) < horizon:
                    shutil.rmtree(os.path.join(wal_dir, d), ignore_errors=True)
        old_markers = [k for k in self._marker_epochs() if k < horizon]
        if old_markers:
            summary = self._load_horizon()
            frontiers = dict(summary.get("frontiers", {}))
            folded: list[int] = []
            for k in old_markers:
                path = os.path.join(self.root, "_commits", f"{k:012d}.json")
                try:
                    with open(path) as f:
                        marker = json.load(f)
                except (OSError, ValueError):
                    # an unreadable marker's batch frontier would be
                    # silently lost if we deleted it — a redelivered
                    # batch for that query could then double-apply after
                    # recovery (ADVICE r12). Keep it on disk (retried at
                    # every later commit) and log the skip; markers are
                    # tmp+rename atomic, so this is disk damage, not a
                    # normal state.
                    import logging

                    logging.getLogger(__name__).warning(
                        "retention GC: commit marker %s unreadable; "
                        "keeping it (frontier would be lost)",
                        path,
                    )
                    continue
                bid, qid = marker.get("batch_id"), marker.get("query_id")
                if bid is not None and qid is not None:
                    frontiers[qid] = max(frontiers.get(qid, -1), bid)
                folded.append(k)
            if not folded:
                return
            fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_commits"))
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"floor": max(summary.get("floor", -1), folded[-1]),
                     "frontiers": frontiers},
                    f,
                )
            os.rename(tmp, self._horizon_path())
            for k in folded:
                try:
                    os.remove(os.path.join(self.root, "_commits", f"{k:012d}.json"))
                except OSError:
                    pass
