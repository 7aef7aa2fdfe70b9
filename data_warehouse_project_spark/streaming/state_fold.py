"""Shared incremental-maintainer machinery — ONE implementation of
the idempotent fold + foreachBatch runner template. A maintainer is
its module's (init, merge) pair, passed to ``fold_batch``,
``run_maintainer`` or ``replay``.

The template (identical semantics in every consumer):
- state lives in one parquet table, replaced by writes.overwrite_table
  (atomic staged swap — readers never observe a partial state);
- every state row carries the ``last_batch_id`` sentinel: foreachBatch
  is AT-LEAST-ONCE, and a crash between the state swap and the
  checkpoint offset commit replays the batch — additive statistics
  would double-count, so a replayed id is skipped (one atomic swap
  keeps state and progress marker from ever disagreeing);
- ``init_fn(batch)`` builds state from the first batch ever seen,
  ``merge_fn(prev, batch)`` folds a later batch into prior state;
- a state with several row kinds is one ``tagged_state``: each kind's
  frame tagged in a ``kind`` column, a column a kind lacks NULL. The
  watermark maintainers add one ``watermark_row`` ('w': event-time
  watermark + dropped-late count), seeded by ``first_watermark`` and
  advanced by ``watermark_prologue``.

The registered ``*_incremental`` queries prove the same pairs against
full-recompute oracles without a stream: ``ts_split``,
``key_split`` and ``ingest_batches`` cut history into simulated
arrival batches and ``replay`` folds them in memory. Where the real
maintainer re-reads its state from parquet, the replay can
``localCheckpoint`` it:

- a checkpoint truncates the state's LOGICAL plan, not just its data.
  ``persist`` would cache the rows, but every consumer would still
  embed the state's whole plan, so a merge that reads ``prev``
  several times makes Catalyst re-analyze a multiplied tree per
  action (the late-sessions plan fell from 487 KB to 9.4 KB);
- ``"eager"`` materializes the state in its own job — right when a
  later fold or the serving view reads it more than once, so the
  upstream fold runs once instead of once per consumer;
- ``"lazy"`` only marks the truncation point, so it rides the one
  final job — right for a strictly linear chain where each state is
  read once;
- ``None`` keeps one plan — right when each state is read once and
  the plan stays small.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)
from pyspark.sql.types import DataType

from ..writes import overwrite_table

#: sentinel column carried on every state row (see module docstring)
BATCH_COL = "last_batch_id"

#: allowed event-time lateness (seconds) of the watermark maintainers:
#: events more than this far below the watermark are dropped-and-
#: counted, matching withWatermark semantics
LATENESS_S = 6 * 3600

#: upper edge (seconds below the split midpoint) of the slice
#: ``ts_split`` holds back: its events arrive 3 h to ``held_back_s``
#: below batch 1's maximum
HELD_BACK_EDGE_S = 3 * 3600

#: simulated doc_id-ordered arrival batches of the ingest replays
N_INGEST_BATCHES = 3

InitFn = Callable[[DataFrame], DataFrame]
MergeFn = Callable[[DataFrame, DataFrame], DataFrame]


def fold_batch(batch_df: DataFrame, batch_id: int, state_path: str,
               init_fn: InitFn, merge_fn: MergeFn) -> bool:
    """Idempotently fold one micro-batch into the persisted state;
    False = replayed batch already applied (the at-least-once crash
    window)."""
    spark = batch_df.sparkSession
    if os.path.exists(state_path):
        prev = spark.read.parquet(state_path)
        applied = prev.agg(F.max(BATCH_COL).alias("m")).collect()[0]["m"]
        if applied is not None and batch_id <= applied:
            return False
        new_state = merge_fn(prev.drop(BATCH_COL), batch_df)
    else:
        new_state = init_fn(batch_df)
    overwrite_table(
        spark, new_state.withColumn(BATCH_COL, F.lit(batch_id)), state_path)
    return True


def run_maintainer(events_stream: DataFrame, state_path: str,
                   checkpoint: str, init_fn: InitFn, merge_fn: MergeFn):
    """foreachBatch maintainer loop: restart-safe (checkpoint replays
    unprocessed batches), replay-safe (batch-id sentinel), and the
    swap never exposes a partial state table."""
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fold_batch(batch_df, batch_id, state_path, init_fn, merge_fn)

    q = (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def tagged_state(**kinds: DataFrame) -> DataFrame:
    """One kinded state table: each frame tagged with its keyword as
    ``kind``, the frames unioned by name in keyword order. A column a
    kind lacks is a NULL of the type the other kinds give it."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.select(F.lit(kind).alias("kind"), "*")
         for kind, df in kinds.items()])


def watermark_row(spark: SparkSession, wm, dropped: int,
                  ts_type: DataType) -> DataFrame:
    """The 'w' row's columns for ``tagged_state``: the event-time
    watermark (None until an event is seen) and the dropped-late
    count."""
    return spark.createDataFrame([("w",)], "kind string").select(
        F.lit(wm).cast(ts_type).alias("wm"),
        F.lit(dropped).cast("long").alias("dropped"))


def first_watermark(ev: DataFrame, lateness_s: int):
    """(watermark, horizon) of the first batch ever seen, from one
    max-ts collect. An empty batch has no watermark and splits
    nothing, so any horizon serves it."""
    wm = ev.agg(F.max("ts")).collect()[0][0]
    if wm is None:
        return None, dt.datetime(1970, 1, 2)
    return wm, wm - dt.timedelta(seconds=lateness_s)


def watermark_prologue(prev: DataFrame, ev: DataFrame, lateness_s: int):
    """Shared watermark-fold prologue for the allowed-lateness
    maintainers (late_transitions.py, late_sessions.py,
    interval_join.py) — ONE copy of
    the subtle part: read the 'w' row, merge the batch's max-ts and
    late-count into a single action, advance the watermark, and admit
    events STRICTLY above the previous horizon.

    Strictness is correctness-critical, not style: finalized work ends
    at ts ≤ horizon, so a strictly-greater admitted event can never
    insert below it — the ≥ form would let a tie exactly AT the
    horizon slip under an already-finalized boundary (id-order
    interleave). An event exactly LATENESS late is therefore DROPPED
    and counted, which both modules' docstrings state as the contract.

    Returns (dropped_old, wm_new, horizon_new, admitted, n_late),
    with wm_new None iff no event has ever been seen.

    r12 optimization (guide §1.2: fewer driver-coordinated passes):
    the 'w' scalar read and the batch (max ts, late count) aggregate
    used to be TWO sequential collects — two full Spark jobs per
    fold. They fold into ONE 2-row collect: the late-count flag needs
    the previous horizon per batch row BEFORE aggregation, so the
    1-row 'w' frame is attached to the batch by a broadcast cross
    join (wm_old NULL ⇒ the comparison is NULL ⇒ the sum skips it,
    exactly the old horizon_old-is-None ⇒ flag-0 behaviour; an empty
    batch aggregates to one all-NULL row, so the 'w' branch of the
    union still delivers the scalars).
    """
    w = prev.filter(F.col("kind") == "w").select("wm", "dropped")
    batch_agg = (
        ev.crossJoin(F.broadcast(w.select(F.col("wm").alias("_wm"))))
        .agg(F.max("ts").alias("t"),
             F.sum((F.col("ts") <= F.col("_wm")
                    - F.expr(f"INTERVAL {lateness_s} SECONDS"))
                   .cast("long")).alias("c")))
    collected = (
        w.select(F.lit("w").alias("k"), F.col("wm").alias("t"),
                 F.col("dropped").cast("long").alias("c"))
        .unionByName(batch_agg.select(F.lit("b").alias("k"), "t", "c"))
        .collect())
    # invariant guard (ADVICE r12): state must carry EXACTLY ONE 'w'
    # row. A duplicate would silently multiply every batch event
    # through the crossJoin above (inflating n_late) and leave the
    # dict below keeping an arbitrary copy; fail loudly instead.
    if len(collected) != 2 or sum(1 for r in collected if r["k"] == "w") != 1:
        raise ValueError(
            "watermark state invariant violated: expected exactly one "
            f"'w' row + one batch aggregate, got {len(collected)} rows "
            f"({[r['k'] for r in collected]})")
    rows = {r["k"]: r for r in collected}
    wm_old, dropped = rows["w"]["t"], rows["w"]["c"]
    horizon_old = (None if wm_old is None
                   else wm_old - dt.timedelta(seconds=lateness_s))
    batch_max = rows["b"]["t"]
    n_late = int(rows["b"]["c"] or 0)
    wm_new = (wm_old if batch_max is None
              else batch_max if wm_old is None
              else max(wm_old, batch_max))
    horizon_new = (None if wm_new is None
                   else wm_new - dt.timedelta(seconds=lateness_s))
    admitted = (ev if horizon_old is None
                else ev.filter(F.col("ts") > F.lit(horizon_old)))
    return dropped, wm_new, horizon_new, admitted, n_late


def dropped_late_count(state: DataFrame) -> int:
    """The watermark row's dropped-event metric (monitoring surface)."""
    return state.filter(F.col("kind") == "w").collect()[0]["dropped"]


def ts_split(ev: DataFrame, held_back_s: int | None = None
             ) -> list[DataFrame]:
    """Cut an event feed at its midpoint timestamp into two simulated
    arrival batches: [ts <= mid, ts > mid]. The only action is one
    1-row min/max collect. An empty feed (a source partition can
    legitimately match nothing) pivots at the epoch, so both batches
    are empty and the (init, merge) pairs see None watermarks.

    With ``held_back_s``, the arrival is out of order: batch 1
    withholds the slice (mid - held_back_s, mid - HELD_BACK_EDGE_S]
    and batch 2 delivers it, so those events land 3 h to
    ``held_back_s`` below batch 1's maximum."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = (lo + (hi - lo) / 2) if lo is not None else dt.datetime(1970, 1, 1)
    first, second = F.col("ts") <= F.lit(mid), F.col("ts") > F.lit(mid)
    if held_back_s is not None:
        in_slice = (
            (F.col("ts") > F.lit(mid - dt.timedelta(seconds=held_back_s)))
            & (F.col("ts")
               <= F.lit(mid - dt.timedelta(seconds=HELD_BACK_EDGE_S))))
        first, second = first & ~in_slice, second | in_slice
    return [ev.filter(first), ev.filter(second)]


def key_split(df: DataFrame, key: Column, n: int) -> list[DataFrame]:
    """Cut a frame into n simulated arrival batches by key residue:
    batch i holds the rows with ``key % n == i``. Every batch spans
    the frame's whole time range, so a merge exercises addition into
    existing state rows, not only append."""
    return [df.filter(key % n == i) for i in range(n)]


def ntile_batched(docs: DataFrame) -> DataFrame:
    """(doc_id, text, batch_idx): the corpus tagged with its arrival
    batch, N_INGEST_BATCHES doc_id-ordered NTILE slices (the
    simulation harness only; production order comes from the
    stream)."""
    return docs.select(
        "doc_id", "text",
        F.ntile(N_INGEST_BATCHES).over(Window.orderBy("doc_id"))
        .alias("batch_idx"))


def ingest_batches(batched: DataFrame) -> list[DataFrame]:
    """The arrival batches of an ``ntile_batched`` frame, in order."""
    return [batched.filter(F.col("batch_idx") == i).drop("batch_idx")
            for i in range(1, N_INGEST_BATCHES + 1)]


def replay(batches: list[DataFrame], init_fn: InitFn, merge_fn: MergeFn,
           checkpoint: str | None = None) -> DataFrame:
    """Fold simulated arrival batches in memory through a maintainer's
    (init, merge) pair — the pair ``fold_batch`` persists. Every state
    a later fold reads is checkpointed per ``checkpoint`` (None,
    "eager" or "lazy"; see the module docstring); the final state is
    returned as it is, so the caller decides how its consumers read
    it."""
    if checkpoint not in (None, "eager", "lazy"):
        raise ValueError(f"checkpoint must be None, 'eager' or 'lazy', "
                         f"got {checkpoint!r}")
    state = init_fn(batches[0])
    for batch in batches[1:]:
        if checkpoint is not None:
            state = state.localCheckpoint(eager=checkpoint == "eager")
        state = merge_fn(state, batch)
    return state
