"""Append-batch guards for the id-keyed stored-index families
(dedup_index, gate_index, ann_index, event_index).

These families' serve-time merges are exact for ROW-DISJOINT batches
(per-doc/per-vector functions, distributive rollup sums) — unlike
scd2_index, NO ordering is required, and splitting a corpus by id
parity across batches is legitimate (pinned by the families' own
merge tests). The documented-but-previously-unenforced precondition
is plain set-disjointness, and its worst violation in practice is a
RETRY FOOTGUN: re-appending the same rows under a fresh batch id
(a retry that names a new id instead of its original one), which
double-counts every shingle/gate/rollup row while each batch
individually looks healthy.

Two guards, matched to what each family's store can support:

- **Fingerprint tripwire** (all families, one tiny agg per append):
  a ``(n, bit_xor(xxhash64(id)))`` content fingerprint per batch,
  kept as the ``meta`` of the batch's append entry in the commit log
  of the family's id table (``store.append_table``). A NEW batch id
  carrying an already-recorded fingerprint is the
  redelivery-under-a-fresh-id footgun and raises; re-using the SAME
  batch id replaces its own files (idempotent, never raises). bit_xor
  is commutative and overflow-free, so the fingerprint is
  partition-order independent; ids are unique within a batch, so
  nothing self-cancels. Partial overlaps pass (set fingerprints
  cannot see intersection) — that is the exact check's job where the
  store permits one.

- **Exact disjointness** (dedup_index and gate_index only — their
  stores keep one row per id): a semi-join of the new batch's ids
  against the id column of the snapshot files the batch does not
  own; any hit raises. Cost is one column-pruned scan of the stored
  ids per append — bounded and honest at 100 TB (the id column of a
  1e9-doc corpus is ~8 GB, read once per append job). The ann_index
  family does NOT need it: every serve path dedups candidates per
  (qid, vec_id), so duplicated vectors cannot change a ranking;
  event_index stores only aggregate rollups (no ids survive), so the
  fingerprint tripwire is the strongest enforceable guard.

A rebuild (``store.replace_table``) starts the log's replay afresh,
so the fingerprints of the batches it drops are forgotten with them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafana_spark import store


def fresh_batch_meta(df: DataFrame, id_col: str, table: str,
                     batch: str) -> dict:
    """The batch's content fingerprint ``{"n", "fp"}`` (row count,
    bit_xor of xxhash64(id) — one combinable agg), to be kept in its
    append entry. Raises if another batch of ``table`` carries the
    same fingerprint — the same rows are being re-appended under a
    NEW batch id (a retried append that named a fresh id), which
    would double-count every row at serve time. Same-id redelivery
    passes: it replaces its own files."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.expr(f"bit_xor(xxhash64(cast({id_col} as string)))")
               .alias("fp")).first()
    meta = {"n": r.n, "fp": r.fp}
    if not r.n:
        return meta  # empty batch adds no rows to double-count
    dupes = sorted(b for b, m in store.batch_meta(table).items()
                   if b != batch and m == meta)
    if dupes:
        raise ValueError(
            f"batch {batch!r} has the same content fingerprint "
            f"(n={r.n}) as stored batch(es) {dupes} — these look like "
            f"the SAME rows re-appended under a new batch id, which "
            f"double-counts them at serve time; redeliver under the "
            f"original batch id (idempotent) or rebuild the base")
    return meta


def enforce_disjoint_ids(new_df: DataFrame, table: str, batch: str,
                         id_col: str, what: str) -> None:
    """Raise if any id in the new batch already exists in the snapshot
    files of ``table`` that batch ``batch`` does not own (exact
    set-disjointness — the merge-law precondition for the
    one-row-per-id families). One semi-join against the column-pruned
    stored id scan."""
    if not store.table_files(table):
        return  # nothing stored yet
    stored = store.read_table(new_df.sparkSession, table,
                              skip_batch=batch)
    hits = (new_df.select(F.col(id_col)).distinct()
            .join(stored.select(F.col(id_col)).distinct(),
                  id_col, "semi")
            .limit(5).collect())
    if hits:
        ids = [r[0] for r in hits]
        raise ValueError(
            f"{what} append carries id(s) already in the store "
            f"(first few: {ids}) — batches must be id-disjoint or "
            f"the merged serve double-counts their rows; redeliver "
            f"under the original batch id or rebuild the base")
