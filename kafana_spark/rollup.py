"""Pre-aggregated rollups — the continuous-aggregate / hypertable twin.

The reference's posture is "index once, query many" with rollover
bounding index growth (/root/reference/README.md:6,14). At 100 TB the
query-many half needs more than partition pruning: dashboard-style
queries (date histograms, per-topic metrics, distinct-key counts over a
day range) should not rescan the raw changelog at all. A daily rollup
table — ~|group values| × |days| rows — answers them by re-aggregating
PARTIALS:

- count/sum/min/max merge exactly (associative),
- distinct counts merge via Apache DataSketches HLL
  (``hll_sketch_agg`` → binary sketch column; ``hll_union_agg`` merges
  any subset of rows; ``hll_sketch_estimate`` reads the result),

so query cost is proportional to rollup size, not raw size, and the
rollup itself is built incrementally (one new ds row-group per group per
day; ``unionByName`` of daily builds is the maintenance path — sketches
and partial metrics merge across builds exactly like across days).

The streaming sinks persist through ``store.py``'s commit log: the
rollup sink replaces its table once per micro-batch, the count-min
sink appends one batch per epoch; readers see the latest snapshot.

Exactness contract: everything except the ``ndv_*`` columns is
bit-equal to aggregating the raw data (x37 hash-checks that through the
DuckDB oracle); ``ndv_*`` is approximate with HLL's standard error
(lgConfigK=12 ⇒ ~1.6%), pinned by tolerance test.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafana_spark.store import (
    append_table, read_table, replace_table, table_files,
)

#: HLL precision: 2^12 registers ≈ 1.6% relative standard error
HLL_LG_K = 12


def build_rollup(df: DataFrame, by: Sequence[str] = ("topic",),
                 ds_col: str = "ds",
                 value_col: str | None = None,
                 distinct_cols: Sequence[str] = ()) -> DataFrame:
    """One rollup row per (by…, ds): exact partial metrics + HLL
    sketches. One shuffle on the (small-cardinality) group key; every
    aggregate is map-side combinable."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col is not None:
        aggs += [F.sum(value_col).alias(f"sum_{value_col}"),
                 F.min(value_col).alias(f"min_{value_col}"),
                 F.max(value_col).alias(f"max_{value_col}")]
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(c, HLL_LG_K).alias(f"hll_{c}"))
    return df.groupBy(*by, ds_col).agg(*aggs)


def rollup_range(rollup: DataFrame, ds0: str, ds1: str,
                 by: Sequence[str] = ("topic",),
                 value_col: str | None = None,
                 distinct_cols: Sequence[str] = (),
                 ds_col: str = "ds") -> DataFrame:
    """Answer an arbitrary [ds0, ds1] day range from the rollup alone:
    merge the day partials per group. The input is rollup-sized, so this
    runs in milliseconds regardless of raw-data scale."""
    sel = rollup.where((F.col(ds_col) >= F.lit(ds0).cast("date"))
                       & (F.col(ds_col) <= F.lit(ds1).cast("date")))
    aggs = [F.sum("cnt").alias("cnt")]
    if value_col is not None:
        aggs += [F.sum(f"sum_{value_col}").alias(f"sum_{value_col}"),
                 F.min(f"min_{value_col}").alias(f"min_{value_col}"),
                 F.max(f"max_{value_col}").alias(f"max_{value_col}")]
    for c in distinct_cols:
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg(f"hll_{c}"))
            .alias(f"ndv_{c}"))
    return sel.groupBy(*by).agg(*aggs)


def update_rollup(existing: DataFrame | None, batch: DataFrame,
                  by: Sequence[str] = ("topic",), ds_col: str = "ds",
                  value_col: str | None = None,
                  distinct_cols: Sequence[str] = ()) -> DataFrame:
    """Incremental continuous-aggregate maintenance: merge one batch's
    daily partials into an existing rollup so the result equals
    ``build_rollup`` over the full history (partials and HLL sketches
    merge associatively — pinned by test).

    Partition-granular, like store.merge_upsert: rollup rows for
    UNTOUCHED (group, day) keys pass through without re-aggregation —
    only keys present in the batch are re-merged. A late event for an
    old day therefore costs one semi/anti join against the (tiny)
    rollup plus a re-aggregation of the touched rows only.
    """
    delta = build_rollup(batch, by=by, ds_col=ds_col, value_col=value_col,
                         distinct_cols=distinct_cols)
    if existing is None:
        return delta
    keys = [*by, ds_col]
    touched_keys = delta.select(*keys).distinct()
    untouched = existing.join(touched_keys, keys, "left_anti")
    touched = existing.join(touched_keys, keys, "left_semi") \
        .unionByName(delta)
    aggs = [F.sum("cnt").alias("cnt")]
    if value_col is not None:
        aggs += [F.sum(f"sum_{value_col}").alias(f"sum_{value_col}"),
                 F.min(f"min_{value_col}").alias(f"min_{value_col}"),
                 F.max(f"max_{value_col}").alias(f"max_{value_col}")]
    for c in distinct_cols:
        aggs.append(F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}"))
    merged = touched.groupBy(*keys).agg(*aggs)
    return untouched.unionByName(merged)


def topk_from_rollup(rollup: DataFrame, k: int = 10,
                     by: Sequence[str] = ("topic",)) -> DataFrame:
    """Continuous streaming top-k, served from the rollup: merge each
    group's day partials and take the k largest by total count.

    This is the scale-correct "streaming top-k terms" — Structured
    Streaming can only sort in complete output mode (full state
    rebroadcast per trigger), whereas rollup_stream_sink keeps
    mergeable per-day partials fresh per micro-batch and the top-k is
    a rollup-sized read view (TakeOrdered over ~|groups|·|days| rows,
    never the raw stream). Pair with ``rollup_stream_sink``.
    """
    return (rollup.groupBy(*by).agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.col("cnt").desc(), *by).limit(k))


def rollup_stream_sink(path: str, by: Sequence[str] = ("topic",),
                       time_col: str = "ts", ds_col: str = "ds",
                       value_col: str | None = None,
                       distinct_cols: Sequence[str] = ()):
    """foreachBatch sink keeping a parquet rollup continuously up to
    date: each micro-batch re-merges only the (group, day) keys it
    touches. Use with
    ``stream.writeStream.foreachBatch(rollup_stream_sink(...))``.

    Each micro-batch is one ``replace_table`` commit of the merged
    rollup. The snapshot it read stays live until that commit, so the
    read-modify-write never races its own scan, and a failed
    micro-batch leaves the prior rollup intact for its redelivery.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        days = batch_df.withColumn(ds_col, F.to_date(time_col))
        existing = read_table(spark, path) if table_files(path) else None
        replace_table(update_rollup(existing, days, by=by, ds_col=ds_col,
                                    value_col=value_col,
                                    distinct_cols=distinct_cols), path)

    return _sink


# --------------------------------------------------- count-min sketch

#: CMS geometry: 4 hash rows × 1024 buckets. Point-estimate error is
#: bounded by e·N/w with probability 1−e^−d (standard CM guarantee);
#: at the fixture's token volume the top-term estimates are near-exact
#: (pinned by test and the x72 oracle).
CMS_D = 4
CMS_W = 1024


def _cms_bucket(t: F.Column, j: F.Column) -> F.Column:
    from kafana_spark.functions import portable_hash64

    return F.pmod(
        portable_hash64(F.concat_ws("#", t, j.cast("string"))),
        F.lit(CMS_W))


def cms_sketch(df: DataFrame, col: F.Column | str) -> DataFrame:
    """Count-min sketch of a token stream: (j, b, cnt) rows, one per
    occupied bucket of each of the CMS_D hash rows.

    The frequency twin of the HLL rollup sketches above: FIXED size
    (≤ d·w rows regardless of corpus size), map-side combinable, and
    MERGEABLE — sketches of shards/days/micro-batches sum bucket-wise
    into the sketch of the union (``cms_merge``), so streaming
    maintenance is a groupBy away and no raw recount is ever needed.
    """
    from kafana_spark.functions import tokens

    c = F.col(col) if isinstance(col, str) else col
    toks = df.select(F.explode(tokens(c)).alias("t"))
    rows = toks.select(
        "t", F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j"))
    return (rows.select("j", _cms_bucket(F.col("t"), F.col("j")).alias("b"))
            .groupBy("j", "b").agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Bucket-wise sum of CMS sketches = the sketch of the unioned
    streams (exact, by linearity of the counters)."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("j", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, terms: DataFrame,
                 term_col: str = "t") -> DataFrame:
    """Point-frequency estimates: for each term, min over the d hash
    rows of its bucket counter (never under the true count). The terms
    frame is small (a query list) — it explodes d× and joins the
    sketch on (j, b); the sketch itself is ≤ d·w rows, broadcast."""
    rows = (terms.select(
        F.col(term_col).alias("t"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j"))
        .select("t", "j", _cms_bucket(F.col("t"), F.col("j")).alias("b")))
    j = rows.join(F.broadcast(sketch), ["j", "b"], "left")
    return (j.groupBy("t")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("cms_cnt")))


def cms_stream_sink(path: str, col: str = "text"):
    """foreachBatch sink for streaming CMS maintenance: each
    micro-batch's partial sketch is appended as batch ``<epoch_id>``
    (redelivery REPLACES, never double-counts — the same per-epoch
    discipline as every other index sink here), and
    ``cms_from_store`` folds the partials bucket-wise at read time —
    exact by linearity, so the served sketch always equals the
    one-shot sketch of everything ingested."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_table(cms_sketch(batch_df, col), path, str(epoch_id))

    return _sink


def cms_from_store(spark, path: str) -> DataFrame:
    """The current sketch: bucket-wise sum of all stored partials."""
    return (read_table(spark, path)
            .groupBy("j", "b").agg(F.sum("cnt").alias("cnt")))
