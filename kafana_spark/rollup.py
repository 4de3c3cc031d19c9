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

Both streamed tables persist through ``store.py``'s commit log as
appended partials: ``append_rollup`` and ``append_cms_sketch`` commit
one batch's partials under its id (``streaming.pipeline.batch_sink``
gives each micro-batch its own), and ``rollup_from_store`` /
``cms_from_store`` merge the latest snapshot's partials at read time.

Exactness contract: everything except the ``ndv_*`` columns is
bit-equal to aggregating the raw data (x37 hash-checks that through the
DuckDB oracle); ``ndv_*`` is approximate with HLL's standard error
(lgConfigK=12 ⇒ ~1.6%), pinned by tolerance test.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafana_spark.store import append_table, read_table

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
    merged = _merge_partials(sel, by, value_col, distinct_cols)
    ndv = {f"hll_{c}": f"ndv_{c}" for c in distinct_cols}
    return merged.select(*(F.hll_sketch_estimate(c).alias(ndv[c])
                           if c in ndv else c for c in merged.columns))


def _merge_partials(partials: DataFrame, keys: Sequence[str],
                    value_col: str | None,
                    distinct_cols: Sequence[str]) -> DataFrame:
    """One rollup row per ``keys``: counts and sums add, min/max fold,
    HLL sketches union — exact merges of ``build_rollup`` partials."""
    aggs = [F.sum("cnt").alias("cnt")]
    if value_col is not None:
        aggs += [F.sum(f"sum_{value_col}").alias(f"sum_{value_col}"),
                 F.min(f"min_{value_col}").alias(f"min_{value_col}"),
                 F.max(f"max_{value_col}").alias(f"max_{value_col}")]
    for c in distinct_cols:
        aggs.append(F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}"))
    return partials.groupBy(*keys).agg(*aggs)


def topk_from_rollup(rollup: DataFrame, k: int = 10,
                     by: Sequence[str] = ("topic",)) -> DataFrame:
    """Continuous streaming top-k, served from the rollup: merge each
    group's day partials and take the k largest by total count.

    This is the scale-correct "streaming top-k terms" — Structured
    Streaming can only sort in complete output mode (full state
    rebroadcast per trigger), whereas ``append_rollup`` keeps
    mergeable per-day partials fresh per micro-batch and the top-k is
    a rollup-sized read view (TakeOrdered over ~|groups|·|days| rows,
    never the raw stream). Pair with ``rollup_from_store``.
    """
    return (rollup.groupBy(*by).agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.col("cnt").desc(), *by).limit(k))


def append_rollup(df: DataFrame, path: str, batch: str, *,
                  by: Sequence[str] = ("topic",), time_col: str = "ts",
                  ds_col: str = "ds", value_col: str | None = None,
                  distinct_cols: Sequence[str] = ()) -> None:
    """Append ``df``'s daily partials (``build_rollup`` by the UTC day
    of ``time_col``) to the rollup table at ``path`` as batch
    ``batch``. Nothing stored is read or rewritten: a redelivered id
    replaces its own partials, and ``rollup_from_store`` merges every
    batch's. Streams feed it through ``streaming.pipeline.batch_sink``.
    """
    days = df.withColumn(ds_col, F.to_date(time_col))
    append_table(build_rollup(days, by=by, ds_col=ds_col,
                              value_col=value_col,
                              distinct_cols=distinct_cols), path, batch)


def rollup_from_store(spark, path: str, by: Sequence[str] = ("topic",),
                      ds_col: str = "ds", value_col: str | None = None,
                      distinct_cols: Sequence[str] = ()) -> DataFrame:
    """The stored rollup, one row per (by…, ds): the appended partials
    merged by ``_merge_partials`` — equal to ``build_rollup`` over
    every batch's rows."""
    return _merge_partials(read_table(spark, path), [*by, ds_col],
                           value_col, distinct_cols)


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


def append_cms_sketch(df: DataFrame, path: str, batch: str, *,
                      col: str = "text") -> None:
    """Append ``df``'s partial sketch to the CMS table at ``path`` as
    batch ``batch`` (a redelivered id REPLACES its own partial, never
    double-counts); ``cms_from_store`` folds the partials bucket-wise
    at read time — exact by linearity, so the served sketch always
    equals the one-shot sketch of everything appended."""
    append_table(cms_sketch(df, col), path, batch)


def cms_from_store(spark, path: str) -> DataFrame:
    """The current sketch: bucket-wise sum of all stored partials."""
    return (read_table(spark, path)
            .groupBy("j", "b").agg(F.sum("cnt").alias("cnt")))
