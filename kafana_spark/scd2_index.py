"""Persisted SCD Type-2 dimension index — build once, append batches,
serve versioned history and point-in-time lookups without re-reading
the event stream.

x287 derives the dimension from the full changelog per query; at
100 TB the changelog scan is the whole cost, while the dimension
itself is tiny (changes-only). This index persists the COLLAPSED
change rows, one row set per batch:

- ``<path>/changes`` — (key, state, ts, seq) rows where the state
  differs from its (ts, seq)-ordered predecessor WITHIN the batch.
  Each batch's commit-log entry also records its event-time span
  ``{"min_us", "max_us"}``, used to ENFORCE the merge law's
  precondition at append time (below).

Merge law (the ``operators.events.scd2_changes`` docstring, pinned by
test): collapse is idempotent, and for EVENT-TIME-partitioned batches
(the streaming epoch contract — every event in batch N+1 is later
than every event in batch N)::

    collapse(concat(collapse(b1), collapse(b2))) == collapse(concat(b1, b2))

so the serve-time re-collapse (which also removes across-boundary
no-change rows, e.g. a key that ends batch 1 and starts batch 2 in
the same state) reproduces the full-recompute dimension EXACTLY —
the stored twins x296/x297 hash-match x287/x288's oracles. Folding a
new day of events costs one per-key collapse over the NEW rows only.

The precondition is NOT optional: with overlapping batch spans the
within-batch collapse drops rows that are genuine state changes in
the merged order (b1 = A@1,A@5 collapses away A@5; b2 = B@3 then
serves A,B instead of A,B,A). ``append_scd2_index`` therefore
REFUSES a batch whose min event time is not strictly greater than
every other stored batch's max (logged span check; exact
redeliveries of the same batch id pass — they replace their own
files). Late/out-of-order data requires a base rebuild, exactly
as a watermark violation would in the streaming pipeline.

The table is written and read through ``store.py``'s commit log,
like dedup_index/ann_index/gate_index/event_index: a base build
replaces it, an append commits its rows as one batch, and
redelivering a batch id replaces its own files (idempotent), so a
stream fed through ``streaming.pipeline.batch_sink(ckpt,
append_scd2_index, path)`` is at-least-once safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafana_spark.operators import events as ev_ops
from kafana_spark.store import (
    append_table, batch_meta, read_table, replace_table,
)

CHANGES_DIR = "changes"


def _batch_span(df: DataFrame, time_col: str) -> dict:
    """``{"min_us", "max_us"}`` event-time span of a batch — one tiny
    agg."""
    r = df.agg(F.min(F.unix_micros(F.col(time_col))).alias("mn"),
               F.max(F.unix_micros(F.col(time_col))).alias("mx")) \
        .first()
    return {"min_us": r.mn, "max_us": r.mx}


def _enforce_event_time_partitioning(path: str, batch: str,
                                     span: dict) -> None:
    """The merge law (module docstring) holds ONLY for event-time-
    partitioned batches: the within-batch collapse drops rows that a
    LATER-ARRIVING-but-EARLIER-IN-TIME batch would have split into
    genuine state changes, and the serve-time re-collapse cannot
    recover them. Enforce it at append time from the logged batch
    spans (one per batch — tiny): a new batch must start strictly
    after every other stored batch ends. An exact redelivery (same
    batch id, same span) is always allowed — it replaces its own
    files (ADVICE.md r7 medium)."""
    mn = span["min_us"]
    if mn is None:
        return  # empty batch carries no events to mis-order
    spans = batch_meta(f"{path}/{CHANGES_DIR}")
    if spans.get(batch) == span:
        return  # pure redelivery — idempotent replace
    overlap = {b: s["max_us"] for b, s in spans.items()
               if b != batch and s and s["max_us"] is not None
               and mn <= s["max_us"]}
    if overlap:
        raise ValueError(
            f"scd2 index batch {batch!r} starts at {mn} us but stored "
            f"batch(es) {sorted(overlap)} extend to "
            f"{max(overlap.values())} us — batches must be strictly "
            f"event-time partitioned (the scd2_changes merge-law "
            f"contract); rebuild the base with build_scd2_index instead")


def build_scd2_index(df: DataFrame, path: str, *,
                     key_col: str = "user_id",
                     state_col: str = "event_type",
                     time_col: str = "ts",
                     seq_col: str = "event_id") -> None:
    """Collapse the changelog to change rows and persist them as the
    base: one ``replace_table`` drops every stored batch. The base's
    event-time span is logged like an append's, so later appends must
    start after it."""
    replace_table(ev_ops.scd2_changes(df, key_col, state_col, time_col,
                                      seq_col),
                  f"{path}/{CHANGES_DIR}", meta=_batch_span(df, time_col))


def append_scd2_index(df_new: DataFrame, path: str, batch: str, *,
                      key_col: str = "user_id",
                      state_col: str = "event_type",
                      time_col: str = "ts",
                      seq_col: str = "event_id") -> None:
    """Fold a new EVENT-TIME-later batch into the index: one collapse
    over only the new rows (no base re-read). A redelivered batch id
    replaces its own files. The event-time-partitioning contract is
    ENFORCED from the logged batch spans — an out-of-order or
    overlapping batch raises instead of silently corrupting the
    served history (the merge law does not hold for it)."""
    span = _batch_span(df_new, time_col)
    _enforce_event_time_partitioning(path, batch, span)
    append_table(ev_ops.scd2_changes(df_new, key_col, state_col,
                                     time_col, seq_col),
                 f"{path}/{CHANGES_DIR}", batch, meta=span)


def changes_from_store(spark: SparkSession, path: str, *,
                       key_col: str = "user_id",
                       state_col: str = "event_type",
                       time_col: str = "ts",
                       seq_col: str = "event_id") -> DataFrame:
    """All stored change rows merged across batches: one re-collapse
    (idempotent) removes across-boundary no-change rows, yielding
    exactly the full-stream change frame."""
    raw = read_table(spark, f"{path}/{CHANGES_DIR}")
    return ev_ops.scd2_changes(raw, key_col, state_col, time_col,
                               seq_col)


def scd2_dim_from_store(spark: SparkSession, path: str, *,
                        key_col: str = "user_id",
                        state_col: str = "event_type",
                        time_col: str = "ts",
                        seq_col: str = "event_id") -> DataFrame:
    """x287's dimension served from the store — the operator's own
    version/interval tail over the merged change rows; no event is
    re-read."""
    return ev_ops.scd2_dim_from_changes(
        changes_from_store(spark, path, key_col=key_col,
                           state_col=state_col, time_col=time_col,
                           seq_col=seq_col),
        key_col, state_col, time_col, seq_col)


def scd2_state_at_from_store(spark: SparkSession, probes_df: DataFrame,
                             path: str, probe_type: str = "purchase",
                             *, key_col: str = "user_id",
                             state_col: str = "event_type",
                             time_col: str = "ts",
                             seq_col: str = "event_id") -> DataFrame:
    """x288's PIT lookup served from the store: probe events (the
    query input) join the STORED dimension — the feature-store shape
    where the dimension is maintained once and every training-data
    extraction reads it."""
    dim = scd2_dim_from_store(spark, path, key_col=key_col,
                              state_col=state_col, time_col=time_col,
                              seq_col=seq_col)
    probes = (probes_df.where(F.col(state_col) == probe_type)
              .select(F.col(seq_col).alias("probe_id"),
                      F.col(key_col),
                      F.col(time_col).alias("p_ts")))
    return ev_ops.scd2_state_at_from_dim(dim, probes, key_col)
