"""Discover / search / aggregate API — the Kibana/ES query surface.

Each function compiles a Kibana-style request to a declarative DataFrame
plan (SURVEY.md §2.C, C1-C18), exactly the way Kibana compiles UI
actions to ES query DSL (/root/reference/README.md:15,24,26-42). All
predicates are plain Column expressions so Catalyst pushes them into the
store's scan: into the parquet scan (partition pruning on topic/ds +
min-max skipping) for a store ``read_store`` reads from files, and into
the in-memory scan (batch pruning on column stats) for one it serves
from its cache.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------- discover

def discover(
    df: DataFrame,
    t0=None,
    t1=None,
    filters: Sequence[Column] | None = None,
    n: int = 500,
    time_col: str = "timestamp",
) -> DataFrame:
    """C1: time-range browse, newest first (Kibana discover)."""
    out = df
    if t0 is not None:
        out = out.where(F.col(time_col) >= F.lit(t0))
    if t1 is not None:
        out = out.where(F.col(time_col) < F.lit(t1))
    for flt in filters or ():
        out = out.where(flt)
    return out.orderBy(F.col(time_col).desc()).limit(n)


def search_key(df: DataFrame, key, topics: Sequence[str] | None = None) -> DataFrame:
    """C2/C3: exact key lookup, optionally restricted to topics."""
    out = df.where(F.col("key") == F.lit(key))
    if topics:
        out = out.where(F.col("topic").isin(list(topics)))
    return out


def tokenize_field(col: Column) -> Column:
    """Distinct lowercase word tokens of a field (ES standard-analyzer
    flavored: split on non-alphanumerics, drop empties). The one
    tokenizer of C5 token search: the token index (``index.py``) uses
    it and the scan below splits alike, so they answer a term alike."""
    return F.array_distinct(F.filter(
        F.split(F.lower(col), r"[^a-z0-9]+"),
        lambda t: t != F.lit("")))


def search_text(df: DataFrame, needle: str, field: str = "message.value",
                token: bool = False) -> DataFrame:
    """C5: substring or whole-token search over the stringified value.

    Both are exact scans: substring is ``contains``, a token match tests
    ``tokenize_field``'s tokens. The scan splits the field as
    ``tokenize_field`` does but skips its empty-token filter and
    distinct, which cannot change whether a non-empty alphanumeric
    needle is among the tokens; any other needle matches no token. For
    a selective term over a large store, ``index.search_via_index``
    answers the token search from the inverted token index instead.
    """
    if token:
        term = needle.lower()
        if not re.fullmatch("[a-z0-9]+", term):
            return df.where(F.lit(False))
        return df.where(F.array_contains(
            F.split(F.lower(F.col(field)), "[^a-z0-9]+"), term))
    return df.where(F.col(field).contains(needle))


def search(df: DataFrame, qs: str,
           default_field: str = "message.value") -> DataFrame:
    """Kibana-search-box twin: filter by a Lucene-ish query string
    (`key: "1" and topic: "bar"`), compiled to Column predicates so
    Catalyst pushes it into the scan like any native filter."""
    from kafana_spark.query_string import compile_query_string

    return df.where(compile_query_string(qs, default_field))


def exists(df: DataFrame, field: str) -> DataFrame:
    """C8: _exists_ — field present and non-null (dynamic-mapping world)."""
    return df.where(F.col(field).isNotNull())


def paginate(df: DataFrame, sort_cols: Sequence[Column], page: int,
             size: int) -> DataFrame:
    """C9: from/size pagination as a window over a total sort order.

    Note: deep pagination is as expensive as in ES (global sort); use
    search_after-style keyset pagination (filter on last-seen sort key)
    for anything past the first pages at scale.
    """
    w = Window.orderBy(*sort_cols)
    rn = F.row_number().over(w)
    lo, hi = page * size, (page + 1) * size
    return (df.withColumn("__rn", rn)
            .where((F.col("__rn") > lo) & (F.col("__rn") <= hi))
            .drop("__rn"))


def search_after(df: DataFrame, sort_col: str, last_seen, size: int,
                 descending: bool = False) -> DataFrame:
    """C9 at scale: keyset pagination (ES search_after).

    Instead of a global sort + row_number (deep pages re-sort
    everything), filter past the last-seen sort key and take the next
    page — the filter pushes into the scan, so page N costs the same
    as page 1. Requires a unique sort key (use _id or (ts, _id))."""
    c = F.col(sort_col)
    if descending:
        return df.where(c < F.lit(last_seen)).orderBy(c.desc()).limit(size)
    return df.where(c > F.lit(last_seen)).orderBy(c).limit(size)


# ------------------------------------------------------------ aggregations

def terms(df: DataFrame, field: str, n: int = 10) -> DataFrame:
    """C11: terms aggregation — top-N buckets by doc count."""
    return (df.groupBy(field).agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col(field))
            .limit(n))


def terms_with_other(df: DataFrame, field: str, n: int = 10) -> DataFrame:
    """C11 parity detail: ES terms responses carry
    ``sum_other_doc_count`` — the documents NOT covered by the top-N
    buckets — so dashboards can show "and 1.2M others". Output: the
    top-N (term, cnt, is_other=0) rows plus one ('__other__',
    remainder, 1) row; doc_count_error_upper_bound is identically 0
    here because the computation is exact, not per-shard approximate.

    Scale: one combinable groupBy collapses the corpus to the
    distinct-term frame; the top-N is a TakeOrdered over it and the
    remainder is total-minus-top — both re-aggregate the SMALL grouped
    frame, never the raw data a second time.
    """
    grouped = (df.groupBy(F.col(field).cast("string").alias("term"))
               .agg(F.count(F.lit(1)).alias("cnt")))
    top = (grouped.orderBy(F.col("cnt").desc(), "term").limit(n)
           .withColumn("is_other", F.lit(0)))
    tot = grouped.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__total"))
    other = (top.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("__top"))
             .crossJoin(F.broadcast(tot))
             # an empty corpus has no buckets and no '__other__' row
             # (ES reports sum_other_doc_count=0 with no buckets)
             .where(F.col("__total") > 0)
             .select(F.lit("__other__").alias("term"),
                     (F.col("__total") - F.col("__top")).alias("cnt"),
                     F.lit(1).alias("is_other")))
    return top.unionByName(other).orderBy("is_other",
                                          F.col("cnt").desc(), "term")


def date_histogram(df: DataFrame, interval: str = "1 hour",
                   time_col: str = "timestamp") -> DataFrame:
    """C12: tumbling time buckets (ES date_histogram)."""
    return (df.groupBy(F.window(F.col(time_col), interval).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("bucket.start").alias("bucket_start"), "cnt")
            .orderBy("bucket_start"))


#: ES auto_date_histogram rounding ladder, in seconds (fixed-interval
#: semantics: the calendar units ES rounds to are taken at their fixed
#: lengths — 1s 5s 10s 30s, 1m 5m 10m 30m, 1h 3h 12h, 1d 7d 30d 90d 1y).
AUTO_HIST_LADDER = (1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800,
                    43200, 86400, 604800, 2592000, 7776000, 31536000)


def auto_date_histogram(df: DataFrame, time_col: str = "ts",
                        target_buckets: int = 40) -> DataFrame:
    """The ES ``auto_date_histogram`` agg: pick the smallest ladder
    interval that yields ≤ target_buckets buckets over the data's
    [min, max] span, then histogram with it. The chosen interval rides
    along in the output (ES reports it in the response).

    The interval choice stays IN the plan: the 1-row min/max aggregate
    cross-joins the 16-row ladder, filters to fitting rungs, and keeps
    the smallest — no collect, no second driver round-trip; epoch
    bucketing is floor(epoch/i)·i (UTC session, microseconds floored
    by unix_timestamp on both engines).

    Scale: one corpus aggregate (map-side combinable min/max) + one
    histogram aggregation, both sharing the scan via the broadcast
    1-row chosen-interval join.
    """
    ep = F.unix_timestamp(F.col(time_col))
    bounds = df.agg(F.min(ep).alias("lo"), F.max(ep).alias("hi"))
    ladder = bounds.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in AUTO_HIST_LADDER]))
        .alias("interval_s"))
    chosen = (bounds.join(F.broadcast(ladder))
              .withColumn("nb", F.expr("(hi - lo) div interval_s") + 1)
              .filter(F.col("nb") <= target_buckets)
              .orderBy("interval_s").limit(1)
              .select("interval_s"))
    bucket = (F.floor(ep / F.col("interval_s"))
              * F.col("interval_s")).alias("bucket_epoch")
    return (df.join(F.broadcast(chosen))
            .groupBy(F.col("interval_s"), bucket)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.timestamp_seconds(F.col("bucket_epoch"))
                    .alias("bucket_start"), "interval_s", "cnt")
            .orderBy("bucket_start"))


def metrics(df: DataFrame, field: str, by: Sequence[str] = ()) -> DataFrame:
    """C13: the ES stats agg — count/min/max/avg/sum of a numeric field."""
    c = F.col(field)
    aggs = [
        F.count(c).alias("cnt"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.avg(c).alias("avg_v"),
        F.sum(c).alias("sum_v"),
    ]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


def cardinality(df: DataFrame, field: str, by: Sequence[str] = (),
                exact: bool = False, rsd: float = 0.05) -> DataFrame:
    """C14: distinct count. approx (HLL, like ES cardinality) by default;
    exact twin for oracle checks."""
    c = (F.count_distinct(F.col(field)) if exact
         else F.approx_count_distinct(F.col(field), rsd))
    out_col = c.alias("cardinality")
    return df.groupBy(*by).agg(out_col) if by else df.agg(out_col)


def percentiles(df: DataFrame, field: str, qs: Sequence[float] = (0.5, 0.95, 0.99),
                by: Sequence[str] = (), exact: bool = False) -> DataFrame:
    """C15: percentiles. approx (t-digest-like) by default; exact twin."""
    fn = F.percentile if exact else F.percentile_approx
    aggs = [fn(F.col(field), F.lit(q)).alias(f"p{int(q * 100)}") for q in qs]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


def top_hits(df: DataFrame, by: Sequence[str], order: Sequence[Column],
             k: int = 1) -> DataFrame:
    """C16: top-k documents per bucket (ES top_hits)."""
    w = Window.partitionBy(*by).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn"))


def histogram(df: DataFrame, field: str, width: float) -> DataFrame:
    """C18: fixed-width numeric histogram."""
    bucket = (F.floor(F.col(field) / F.lit(width)) * F.lit(width)).alias("bucket")
    return (df.where(F.col(field).isNotNull())
            .groupBy(bucket).agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("bucket"))


# ------------------------------------------------- pipeline / bucket aggs

def pipeline_aggs(df: DataFrame, time_col: str, value_col: str,
                  unit: str = "day", ma_buckets: int = 3) -> DataFrame:
    """ES pipeline aggregations: ``derivative``, ``cumulative_sum`` and
    ``moving_fn`` (moving average) computed over the buckets of a parent
    date_histogram — the Kibana TSVB / Timelion panel surface
    (ES 6.8 pipeline aggs; the reference delegates all charting to
    Kibana, /root/reference/README.md:15).

    Scale: the raw scan aggregates FIRST (distributed, map-side
    combinable); the window functions then run over the bucket frame —
    one row per time bucket, O(range/interval) rows even at 100 TB —
    so the unpartitioned window is a deliberate post-aggregation step
    over a tiny frame, not a global sort of the data.
    """
    b = (df.groupBy(F.date_trunc(unit, F.col(time_col)).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum(value_col).alias("sum_v")))
    w = Window.orderBy("bucket")
    return b.select(
        "bucket", "cnt", "sum_v",
        (F.col("cnt") - F.lag("cnt").over(w)).alias("deriv_cnt"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cnt"),
        F.avg("sum_v").over(w.rowsBetween(-(ma_buckets - 1), 0))
        .alias("ma_sum"),
    )


def matrix_stats(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """ES ``matrix_stats`` aggregation (the correlation-matrix slice):
    ONE combinable pass computing row count, per-field mean/stddev and
    Pearson correlation for every unordered field pair; output is one
    row per pair (fa < fb) — the tidy form of ES's per-field matrix.

    Covariance is deliberately NOT in the output contract: it equals
    corr·std_a·std_b (derivable), and its raw magnitude scales with
    the fields' units, so no fixed decimal rounding is simultaneously
    tight for a 0.05-scale discount and a 1e9-scale price variance —
    while corr is dimensionless (|rel err| ~1e-12 across engines, 6dp
    rounding safe) and stddev's magnitude matches the field's own.

    Scale: a single full-width scan with map-side partial moments
    (Spark's CentralMomentAgg); no shuffle beyond the 1-row final
    combine, no per-pair rescan.
    """
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for f in fields:
        aggs += [F.avg(f).alias(f"mean_{f}"),
                 F.stddev_samp(f).alias(f"std_{f}")]
    for i, a in enumerate(fields):
        for b in fields[i + 1:]:
            aggs.append(F.corr(a, b).alias(f"corr_{a}_{b}"))
    g = df.agg(*aggs)
    pairs = []
    for i, a in enumerate(fields):
        for b in fields[i + 1:]:
            pairs.append(F.struct(
                F.lit(a).alias("fa"), F.lit(b).alias("fb"),
                F.col("cnt").alias("cnt"),
                F.round(F.col(f"mean_{a}"), 4).alias("mean_a"),
                F.round(F.col(f"mean_{b}"), 4).alias("mean_b"),
                F.round(F.col(f"std_{a}"), 4).alias("std_a"),
                F.round(F.col(f"std_{b}"), 4).alias("std_b"),
                F.round(F.col(f"corr_{a}_{b}"), 6).alias("corr")))
    return (g.select(F.explode(F.array(*pairs)).alias("s"))
            .select("s.*"))


def bucket_pipeline(df: DataFrame, time_col: str, value_col: str,
                    unit: str = "day", lag: int = 7,
                    min_count: int | None = None,
                    size: int | None = None) -> DataFrame:
    """The remaining ES 6.8 pipeline aggs beside ``pipeline_aggs``:
    ``serial_diff`` (lag-n difference — the seasonality detrend Kibana
    TSVB exposes), ``bucket_script`` (arithmetic across sibling
    metrics, here sum/count), ``bucket_selector`` (drop buckets
    failing a predicate — applied AFTER the window functions, matching
    ES's pipeline ordering), and ``bucket_sort`` (order + truncate the
    bucket list by a metric).

    Scale: same stance as pipeline_aggs — the raw scan aggregates
    first (map-side combinable), the windows run over the tiny bucket
    frame, and bucket_sort's order+limit plans as TakeOrdered, never a
    full sort.
    """
    b = (df.groupBy(F.date_trunc(unit, F.col(time_col)).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum(value_col).alias("sum_v")))
    w = Window.orderBy("bucket")
    out = b.select(
        "bucket", "cnt", "sum_v",
        (F.col("sum_v") - F.lag("sum_v", lag).over(w)).alias("serial_diff"),
        (F.col("sum_v") / F.col("cnt")).alias("per_doc"),
    )
    if min_count is not None:
        out = out.where(F.col("cnt") >= min_count)
    if size is not None:
        # integer sort key: exact across engines (a float sum key could
        # flip near-ties by accumulation-order ulps at the LIMIT edge)
        out = out.orderBy(F.col("cnt").desc(), "bucket").limit(size)
    return out


def composite_agg(df: DataFrame, keys: Sequence[str],
                  after: Sequence | None = None, size: int = 10) -> DataFrame:
    """ES composite aggregation: multi-source buckets in natural key
    order with ``after``-key pagination.

    Scale: the after-key becomes a predicate on the RAW rows (bucket
    keys are row values), applied BEFORE the aggregation shuffle — rows
    belonging to already-paged buckets never enter the shuffle, and the
    predicate reaches the parquet scan. Deep bucket pages therefore
    cost the same as page one (the aggregation twin of keyset
    search_after, C9).
    """
    if after is not None:
        pred = None
        eq = None
        for k, v in zip(keys, after):
            gt = F.col(k) > F.lit(v)
            clause = gt if eq is None else eq & gt
            pred = clause if pred is None else pred | clause
            e = F.col(k) == F.lit(v)
            eq = e if eq is None else eq & e
        df = df.where(pred)
    return (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(*keys).limit(size))


def range_agg(df: DataFrame, field: str, bounds: Sequence[float]) -> DataFrame:
    """ES range aggregation: explicit half-open buckets
    ``[*,b0) [b0,b1) … [bn,*)`` with per-bucket count + sum.

    One scan, no join: the bucket label is a chained CASE expression
    (whole-stage-codegen'd), the agg is map-side combinable, and bucket
    cardinality is len(bounds)+1 regardless of data size.
    """
    c = F.col(field)
    label = F.when(c < F.lit(bounds[0]), F.lit(f"*-{bounds[0]:g}"))
    for lo, hi in zip(bounds, bounds[1:]):
        label = label.when(c < F.lit(hi), F.lit(f"{lo:g}-{hi:g}"))
    label = label.otherwise(F.lit(f"{bounds[-1]:g}-*"))
    return (df.where(c.isNotNull())
            .groupBy(label.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum(c), 2).alias("sum_v"))
            .orderBy("bucket"))


def variable_width_histogram(df: DataFrame, field: str,
                             n_buckets: int) -> DataFrame:
    """ES variable_width_histogram — data-driven bucket boundaries.

    ES's implementation is a one-pass streaming approximation whose
    buckets depend on shard document order — not reproducible — so
    this computes the deterministic ideal it approximates: split the
    cent-quantized value domain at the n_buckets-1 LARGEST gaps
    between adjacent distinct values (1-D single-linkage clustering).
    Output per bucket: min/max/centroid key (integer cents, floor-div
    average) and doc_count — the ES bucket shape.

    Scale: the corpus collapses to the distinct-cent frame FIRST (a
    combinable groupBy bounded by the value DOMAIN — ≤100·range rows,
    ~18k on the fixtures at sf0.1 and sub-linear in data size), the
    adjacent-gap window runs over that bounded frame only, the
    boundary set is a TakeOrdered limit(n_buckets-1), and bucket
    assignment is a broadcast theta-join against ≤n_buckets-1 rows.
    No corpus-scale window, no second scan of the raw data.
    """
    vc = F.expr(f"cast(floor({field} * 100 + 0.5) as bigint)")
    per_v = (df.where(F.col(field).isNotNull())
             .groupBy(vc.alias("v_c"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("v_c")  # distinct-cent frame only (bounded)
    gaps = (per_v.select("v_c")
            .withColumn("prev", F.lag("v_c").over(w))
            .where(F.col("prev").isNotNull())
            .select((F.col("v_c") - F.col("prev")).alias("gap"),
                    F.col("v_c").alias("edge")))
    bounds = (gaps.orderBy(F.desc("gap"), "edge")
              .limit(max(0, n_buckets - 1)).select("edge"))
    assigned = (per_v.join(F.broadcast(bounds),
                           F.col("edge") <= F.col("v_c"), "left")
                .groupBy("v_c", "n")
                .agg(F.count("edge").cast("int").alias("bucket")))
    return (assigned.groupBy("bucket")
            .agg(F.min("v_c").alias("min_c"),
                 F.max("v_c").alias("max_c"),
                 F.sum("n").alias("doc_count"),
                 F.expr("sum(v_c * n) div sum(n)").alias("key_c"))
            .orderBy("bucket"))


def filters_agg(df: DataFrame, filters: dict[str, Column]) -> DataFrame:
    """ES filters aggregation: arbitrary, possibly-OVERLAPPING named
    buckets in ONE scan — each bucket is a conditional count, so k
    filters cost one pass, not k scans (overlap is exactly what a
    groupBy-CASE bucketing cannot express).
    """
    return df.agg(*[
        F.count(F.when(p, F.lit(1))).alias(name)
        for name, p in filters.items()])


def global_agg(df: DataFrame, query_filter: Column, field: str) -> DataFrame:
    """ES ``global`` aggregation: metrics over ALL documents next to the
    same metrics in the query-filtered context — the "filtered vs total"
    breakdown Kibana renders above every filtered dashboard.

    One scan, no self-join: the filtered twin of each metric aggregates
    ``CASE WHEN filter``-masked inputs, so both contexts are conditional
    aggregates in a single map-side-combinable pass (the naive form —
    agg the table twice and cross-join — scans twice).
    """
    c = F.col(field)
    masked = F.when(query_filter, c)
    return df.agg(
        F.count(F.when(query_filter, F.lit(1))).alias("cnt"),
        F.round(F.sum(masked), 2).alias("sum_v"),
        F.round(F.avg(masked), 4).alias("avg_v"),
        F.count(F.lit(1)).alias("global_cnt"),
        F.round(F.sum(c), 2).alias("global_sum_v"),
        F.round(F.avg(c), 4).alias("global_avg_v"))


def missing_agg(df: DataFrame, field: str, by: str) -> DataFrame:
    """ES ``missing`` aggregation: the bucket of documents that have NO
    value for a field (null here — parquet's untyped-missing twin),
    broken down by ``by`` so the bucket is usable as a sub-agg parent.

    Scale: a conditional count per group — one combinable pass; never
    a separate IS NULL scan next to the main agg.
    """
    c = F.col(field)
    return (df.groupBy(by)
            .agg(F.count(F.when(c.isNull(), F.lit(1))).alias("missing_cnt"),
                 F.count(c).alias("present_cnt"))
            .orderBy(by))


def sampler_agg(df: DataFrame, order_col: str, tiebreak: str,
                shard_size: int, field: str) -> DataFrame:
    """ES ``sampler`` aggregation: run sub-aggregations over only the
    top-``shard_size`` highest-scoring documents instead of the full
    result set (ES uses it to keep expensive sub-aggs bounded).

    ES's sample is per-shard by _score; the deterministic twin samples
    the global top-N by (order_col DESC, tiebreak ASC) — a total order,
    so the sample set is reproducible and oracle-checkable. Scale: the
    top-N is a TakeOrdered (per-partition heaps + merge of N·P rows),
    never a full sort; the sub-agg then runs on N rows.
    """
    top = (df.orderBy(F.col(order_col).desc(), F.col(tiebreak))
           .limit(shard_size))
    return (top.groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.avg(order_col), 4).alias("avg_score"))
            .orderBy(field))


def diversified_sampler_agg(df: DataFrame, order_col: str, tiebreak: str,
                            shard_size: int, field: str,
                            dedup_field: str,
                            max_per_value: int = 1) -> DataFrame:
    """ES ``diversified_sampler``: the sampler agg with a per-value cap
    on ``dedup_field`` — at most ``max_per_value`` documents per
    distinct value enter the sample, de-biasing sub-aggs from dominant
    values (ES's max_docs_per_value contract).

    Scale: the cap is a per-value window top-k — Spark plans a
    rank-limit (per-partition heaps on the dedup_field shuffle), never
    a global sort; the capped pool then feeds the same TakeOrdered
    top-N as sampler_agg.
    """
    w = Window.partitionBy(dedup_field).orderBy(F.col(order_col).desc(),
                                                F.col(tiebreak))
    capped = (df.withColumn("_r", F.row_number().over(w))
              .where(F.col("_r") <= max_per_value).drop("_r"))
    top = (capped.orderBy(F.col(order_col).desc(), F.col(tiebreak))
           .limit(shard_size))
    return (top.groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.avg(order_col), 4).alias("avg_score"))
            .orderBy(field))


def rare_terms(df: DataFrame, field: str, max_count: int = 2) -> DataFrame:
    """ES rare_terms aggregation: the LONG-TAIL buckets — terms whose
    doc count is at most ``max_count`` (the dual of terms/top-N, which
    can never surface them; ES added it precisely because sorting
    terms ascending by count is abuse-prone).

    Scale: map-side-combinable group-count then filter; the output is
    the tail itself — never a global sort of the full term dictionary.
    """
    return (df.groupBy(field).agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") <= F.lit(max_count))
            .orderBy(field))


def adjacency_matrix(df: DataFrame, filters: dict[str, Column]) -> DataFrame:
    """ES adjacency_matrix aggregation: doc counts for every named
    filter and every pairwise intersection — the co-occurrence matrix
    behind Kibana's graph visualizations.

    One scan: k(k+1)/2 conditional counts instead of one pass per
    cell; the single aggregated row is then unpivoted to ES's bucket
    shape. Empty intersections are omitted, as ES does.
    """
    names = list(filters)
    cols, keys = [], []
    for i, a in enumerate(names):
        for j in range(i, len(names)):
            b = names[j]
            key = a if i == j else f"{a}&{b}"
            pred = filters[a] if i == j else (filters[a] & filters[b])
            keys.append(key)
            cols.append(F.count(F.when(pred, F.lit(1))).alias(key))
    row = df.agg(*cols)
    pairs = ", ".join(f"'{k}', `{k}`" for k in keys)
    return (row.selectExpr(f"stack({len(keys)}, {pairs}) AS (bucket, cnt)")
            .where(F.col("cnt") > 0)
            .orderBy("bucket"))


def date_histogram_gapfill(df: DataFrame, time_col: str,
                           unit: str = "day") -> DataFrame:
    """ES date_histogram with ``min_doc_count: 0`` + extended_bounds:
    emit EMPTY buckets for intervals with no documents. Kibana charts
    need the zero points, and a plain groupBy can never produce them.

    Scale: the raw scan aggregates FIRST; the bucket spine is
    sequence()-generated between the aggregated min/max buckets —
    O(range/interval) rows — and LEFT-joined to the bucket frame. The
    spine join touches bucket rows only (both sides post-aggregation,
    broadcast-sized); raw data is never re-shuffled.
    """
    b = (df.groupBy(F.date_trunc(unit, F.col(time_col)).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("cnt")))
    spine = (b.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
             .select(F.explode(F.sequence(
                 F.col("lo"), F.col("hi"),
                 F.expr(f"interval 1 {unit}"))).alias("bucket")))
    return (spine.join(b, "bucket", "left")
            .select("bucket", F.coalesce("cnt", F.lit(0)).alias("cnt"))
            .orderBy("bucket"))


def percentile_ranks(df: DataFrame, field: str,
                     values: Sequence[float]) -> DataFrame:
    """ES percentile_ranks: the inverse of percentiles — for each given
    value, the percentage of docs with field <= value. Exact,
    single-pass conditional counts (ES itself approximates with
    t-digest; the exact form is the oracle-checkable twin, the same
    stance as C14/C15's exact twins)."""
    c = F.col(field)
    total = F.count(c)
    return df.agg(*[
        F.round(F.lit(100.0)
                * F.count(F.when(c <= F.lit(v), F.lit(1))) / total, 4)
        .alias(f"rank_{str(v).replace('.', '_')}")
        for v in values])


def weighted_avg(df: DataFrame, value_col: str, weight_col: str,
                 by: Sequence[str] = ()) -> DataFrame:
    """ES weighted_avg aggregation: sum(v·w)/sum(w) per bucket — one
    pass, both sums map-side combinable."""
    wa = (F.sum(F.col(value_col) * F.col(weight_col))
          / F.sum(F.col(weight_col)))
    out = F.round(wa, 4).alias("w_avg")
    return df.groupBy(*by).agg(out) if by else df.agg(out)


def extended_stats(df: DataFrame, field: str,
                   by: Sequence[str] = ()) -> DataFrame:
    """ES extended_stats aggregation: stats + population variance /
    std deviation (ES reports population moments), all one combinable
    pass."""
    c = F.col(field)
    aggs = [F.count(c).alias("cnt"),
            F.round(F.min(c), 2).alias("min_v"),
            F.round(F.max(c), 2).alias("max_v"),
            F.round(F.avg(c), 4).alias("avg_v"),
            F.round(F.sum(c), 2).alias("sum_v"),
            F.round(F.var_pop(c), 1).alias("var_v"),
            F.round(F.stddev_pop(c), 4).alias("std_v")]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


# ------------------------------------------------- round-5 agg additions
# The remaining ES aggregation surface (string_stats, boxplot, t_test,
# rate, top_metrics, multi_terms, frequent_item_sets, categorize_text,
# change_point, random_sampler) — each a one/two-pass declarative plan
# with a DuckDB oracle twin in operators/registry.py.

def string_stats(df: DataFrame, field: str) -> DataFrame:
    """ES ``string_stats`` aggregation (with ``show_distribution``'s
    entropy): value count, min/max/avg length, and the Shannon entropy
    of the field's CHARACTER distribution.

    Engine portability: each char's entropy term −p·log2(p) is rounded
    to integer nano-bits BEFORE the final sum (the PQ/x71 fixed-point
    discipline), so the cross-engine sum is an integer sum; log2/division
    run on identical integer counts, agreeing far inside the 1e-9 grain.

    Scale: lengths are one combinable agg pass; the char distribution
    is explode→groupBy(char) (map-side combinable, alphabet-sized
    result) and the total a 1-row broadcast — no sort, no window.
    """
    s = df.where(F.col(field).isNotNull()).select(F.col(field).alias("s"))
    base = s.agg(F.count(F.lit(1)).alias("cnt"),
                 F.min(F.length("s")).alias("min_len"),
                 F.max(F.length("s")).alias("max_len"),
                 F.round(F.avg(F.length("s")), 4).alias("avg_len"))
    cc = (s.select(F.explode(F.split(F.col("s"), "")).alias("ch"))
          .where(F.col("ch") != "")
          .groupBy("ch").agg(F.count(F.lit(1)).alias("n_c")))
    tot = cc.agg(F.sum("n_c").alias("n"))
    p = F.col("n_c") / F.col("n")
    term_u = F.round(-p * F.log2(p) * F.lit(1e9)).cast("long")
    ent = (cc.join(F.broadcast(tot))
           .agg(F.sum(term_u).alias("entropy_nano")))
    return base.join(F.broadcast(ent))


def boxplot(df: DataFrame, field: str, by: str) -> DataFrame:
    """ES ``boxplot`` aggregation: per-bucket min/max/q1/q2/q3 plus the
    Tukey whiskers (extreme values inside the 1.5·IQR fences).

    Quantiles are EXACT (Spark's ``percentile`` / DuckDB's
    ``quantile_cont`` share the (n−1)·q linear-interpolation
    definition); fences are computed from the 4dp-ROUNDED quantiles so
    both engines compare raw values against bit-identical thresholds.

    Scale: pass 1 is a combinable groupBy (percentile is the one
    memory-heavy agg — per-group sorted buffer, the exact-twin stance
    of C15 where t-digest is the streaming path); pass 2 re-scans with
    the tiny fence table broadcast. Group cardinality bounds state —
    and therefore bounds the quantile frame, so it is COLLECTED once
    (r12): the lazy shape evaluated the percentile aggregate three
    times (the fence broadcast subquery plus both sides of the final
    join referenced it), tripling the heaviest pass. Fence arithmetic
    runs on the collected doubles in the identical IEEE order.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    c = F.col(field)
    g = (df.groupBy(by)
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.min(c).alias("min_v"), F.max(c).alias("max_v"),
              F.expr(f"percentile({field}, array(0.25D, 0.5D, 0.75D))")
              .alias("qs")))
    q = g.select(by, "cnt", "min_v", "max_v",
                 F.round(F.col("qs")[0], 4).alias("q1"),
                 F.round(F.col("qs")[1], 4).alias("q2"),
                 F.round(F.col("qs")[2], 4).alias("q3"))
    q_rows = q.collect()
    # fl/fu: q1 − 1.5·(q3 − q1) / q3 + 1.5·(q3 − q1), the same ops in
    # the same order as the former Column expression (IEEE doubles are
    # deterministic); an all-null group keeps null fences, so its
    # whisker rows filter out exactly as before
    fence_schema = StructType([q.schema[by],
                               StructField("fl", DoubleType()),
                               StructField("fu", DoubleType())])
    fences = spark.createDataFrame(
        [(r[by],
          None if r["q1"] is None else r["q1"] - 1.5 * (r["q3"] - r["q1"]),
          None if r["q1"] is None else r["q3"] + 1.5 * (r["q3"] - r["q1"]))
         for r in q_rows], fence_schema)
    wh = (df.join(F.broadcast(fences), by)
          .where((c >= F.col("fl")) & (c <= F.col("fu")))
          .groupBy(by).agg(F.min(c).alias("lo_whisker"),
                           F.max(c).alias("hi_whisker")))
    qlocal = spark.createDataFrame(q_rows, q.schema)
    return qlocal.join(wh, by).orderBy(by)


def t_test(df: DataFrame, field: str, group_col: str,
           ga: str, gb: str) -> DataFrame:
    """ES ``t_test`` aggregation (heteroscedastic / Welch's): the
    two-sample t statistic and Welch–Satterthwaite degrees of freedom
    between groups ``ga`` and ``gb`` of ``group_col``.

    One combinable pass computes (n, mean, var) per group; the t
    arithmetic runs on the 2-row result. 4dp/2dp rounding absorbs the
    ~1e-12 cross-engine accumulation-order noise in mean/var.
    """
    c = F.col(field)
    s = (df.where(F.col(group_col).isin([ga, gb]))
         .groupBy(group_col)
         .agg(F.count(c).alias("n"), F.avg(c).alias("m"),
              F.var_samp(c).alias("v")))
    a = s.where(F.col(group_col) == ga).select(
        F.col("n").alias("na"), F.col("m").alias("ma"),
        F.col("v").alias("va"))
    b = s.where(F.col(group_col) == gb).select(
        F.col("n").alias("nb"), F.col("m").alias("mb"),
        F.col("v").alias("vb"))
    j = a.join(F.broadcast(b))
    sa2 = F.col("va") / F.col("na")
    sb2 = F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(sa2 + sb2)
    dfree = ((sa2 + sb2) * (sa2 + sb2)
             / (sa2 * sa2 / (F.col("na") - 1)
                + sb2 * sb2 / (F.col("nb") - 1)))
    return j.select(
        F.lit(ga).alias("group_a"), F.lit(gb).alias("group_b"),
        F.col("na"), F.col("nb"),
        F.round(F.col("ma"), 4).alias("mean_a"),
        F.round(F.col("mb"), 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(dfree, 2).alias("df"))


def rate_agg(df: DataFrame, time_col: str, value_col: str,
             unit: str = "week") -> DataFrame:
    """ES ``rate`` aggregation inside a date_histogram: the per-DAY
    rate of a sum and of the doc count, normalized by each bucket's
    true calendar length (ES's rate/unit contract — a partial trailing
    bucket still divides by the full calendar interval).

    One combinable pass; bucket length is pure date arithmetic on the
    bucket key.
    """
    if unit not in ("week", "month"):
        raise ValueError(f"rate_agg supports week/month buckets, got {unit!r}")
    b = (df.groupBy(F.date_trunc(unit, F.col(time_col)).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum(value_col).alias("sum_v")))
    nxt = (F.add_months(F.col("bucket"), 1) if unit == "month"
           else F.date_add(F.col("bucket"), 7))
    days = F.datediff(nxt, F.col("bucket"))
    return (b.select(F.col("bucket").cast("date").alias("ds"),
                     "cnt", days.alias("n_days"),
                     F.round(F.col("sum_v"), 2).alias("sum_v"),
                     F.round(F.col("sum_v") / days, 4).alias("sum_per_day"),
                     F.round(F.col("cnt") / days.cast("double"), 4)
                     .alias("docs_per_day"))
            .orderBy("ds"))


def top_metrics(df: DataFrame, by: str, sort_col: str, tiebreak: str,
                metrics: Sequence[str]) -> DataFrame:
    """ES ``top_metrics`` aggregation: per bucket, the metric values
    from the single document with the greatest sort key (latest-event
    metrics per group; the agg twin of C16's top_hits with size=1).

    Scale: a per-group rank-limit window — per-partition top-1 heaps
    on the group shuffle, never a global sort.
    """
    w = Window.partitionBy(by).orderBy(F.col(sort_col).desc(),
                                       F.col(tiebreak))
    return (df.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(by, sort_col, *metrics)
            .orderBy(by))


def multi_terms(df: DataFrame, fields: Sequence[str], sum_col: str,
                size: int = 10) -> DataFrame:
    """ES ``multi_terms`` aggregation: compound-key terms buckets
    ordered by doc count — the cross-field top-N that nested ``terms``
    aggs cannot rank globally.

    Integer sort keys (cnt, then the key fields) make the LIMIT edge
    engine-exact; plans as TakeOrdered over a combinable groupBy.
    """
    return (df.groupBy(*fields)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(sum_col).alias("sum_v"))
            .orderBy(F.col("cnt").desc(), *fields)
            .limit(size))


def frequent_item_sets(df: DataFrame, basket_col: str, item_col: str,
                       min_support: int = 2, size: int = 20) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation, pair tier: co-occurring
    item pairs across baskets with support ≥ ``min_support``, ranked by
    support (the Apriori L2 layer — ES's own agg caps set size the
    same way for tractability).

    Scale: the self-join is per-BASKET (equi-join on basket_col) over
    the DISTINCT item list, so each basket contributes at most
    C(items,2) rows — bounded by item-vocabulary, not basket size; the
    support count is map-side combinable.
    """
    items = df.select(basket_col, item_col).distinct()
    a = items.select(F.col(basket_col).alias("bk"),
                     F.col(item_col).alias("ia"))
    b = items.select(F.col(basket_col).alias("bk"),
                     F.col(item_col).alias("ib"))
    pairs = a.join(b, "bk").where(F.col("ia") < F.col("ib"))
    return (pairs.groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= min_support)
            .orderBy(F.col("support").desc(), "ia", "ib")
            .limit(size))


def categorize_text(df: DataFrame, id_col: str, text_col: str,
                    n_prefix: int = 2, size: int = 10) -> DataFrame:
    """ES ``categorize_text`` aggregation: group messages by a
    token-pattern category and count them. The deterministic twin uses
    the first ``n_prefix`` tokens as the category key (ES's ML
    tokenizer drops numerics/punct then matches leading token runs;
    the fixture corpus is already bare words, so the leading-token key
    IS its pattern), reporting count + the earliest example doc.

    Scale: pure column expressions into a combinable groupBy;
    TakeOrdered for the top-N.
    """
    tok = F.split(F.col(text_col), " ")
    key = F.concat_ws(" ", F.slice(tok, 1, n_prefix))
    return (df.where(F.size(tok) >= n_prefix)
            .groupBy(key.alias("category"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min(id_col).alias("example_id"))
            .orderBy(F.col("cnt").desc(), "category")
            .limit(size))


def _daily_micro_units(df: DataFrame, time_col: str,
                       value_col: str) -> DataFrame:
    """(bucket, v_u): daily sums rounded at 4dp then scaled to integer
    micro-units — the shared engine-portable series prologue of
    change_point and moving_percentile (4dp ≈ 5e-5 grain vs ~1e-9
    cross-engine accumulation noise; its DuckDB twin is the b0/b CTE
    pair in the x108/x116 oracles)."""
    b = (df.groupBy(F.date_trunc("day", F.col(time_col)).alias("bucket"))
         .agg(F.round(F.sum(value_col), 4).alias("sum_v")))
    return b.select(
        "bucket", F.round(F.col("sum_v") * 1e6).cast("long").alias("v_u"))


def change_point(df: DataFrame, time_col: str, value_col: str) -> DataFrame:
    """ES ``change_point`` aggregation: detect the mean-shift point of
    a daily-bucketed series — the split k maximizing
    |mean(left) − mean(right)| (the CUSUM-family statistic ES's
    change_point exposes as ``significant_change``).

    Engine portability: daily sums are rounded to 4dp first (≈5e-5
    grain vs ~1e-9 cross-engine accumulation noise — 4 orders of
    margin, the x85 discipline) and scaled to integers; each split's means/statistic are then IEEE ops
    on identical integers — bit-equal across engines, so the argmax is
    exact, not a rounding gamble.

    Scale: the raw scan reduces map-side-combinably to ONE row per
    day; the split search is a window over that bucket frame (bounded
    by the time range, thousands of rows at worst), the same stance as
    the pipeline aggs. Output is the single detected change point.
    """
    b = _daily_micro_units(df, time_col, value_col)
    w = Window.orderBy("bucket")
    wall = Window.orderBy("bucket").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = b.select(
        "bucket",
        F.row_number().over(w).alias("k"),
        F.sum("v_u").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s_k"),
        F.sum("v_u").over(wall).alias("s_n"),
        F.count(F.lit(1)).over(wall).alias("n"))
    ml = F.col("s_k") / F.col("k")
    mr = (F.col("s_n") - F.col("s_k")) / (F.col("n") - F.col("k"))
    stat = F.abs(ml - mr)
    scored = (cum.where(F.col("k") < F.col("n"))
              .select("bucket", "k", "n", ml.alias("ml"), mr.alias("mr"),
                      stat.alias("stat")))
    wpick = Window.orderBy(F.col("stat").desc(), "bucket")
    return (scored.withColumn("_r", F.row_number().over(wpick))
            .where(F.col("_r") == 1)
            .select(F.col("bucket").cast("date").alias("ds"), "k", "n",
                    F.round(F.col("ml") / 1e6, 4).alias("mean_left"),
                    F.round(F.col("mr") / 1e6, 4).alias("mean_right"),
                    F.round(F.col("stat") / 1e6, 4).alias("diff")))


def random_sampler_agg(df: DataFrame, key_col: str, prob_ppm: int,
                       field: str, value_col: str,
                       seed: int = 0) -> DataFrame:
    """ES ``random_sampler`` aggregation: run sub-aggs over a random
    ``prob_ppm``/1e6 subset and scale counts back up by 1/p (ES's
    probabilistic sampler contract — estimates, not exact counts).

    The sample is the deterministic portable-hash bucket (operators/
    sample.py), so it is reproducible across runs, partitionings AND
    engines; the scale-back is integer arithmetic. One scan, predicate
    pushed to the source.
    """
    from kafana_spark.operators.sample import SAMPLE_DENOM, sample_bucket

    s = df.where(sample_bucket(F.col(key_col), seed) < F.lit(prob_ppm))
    return (s.groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.avg(value_col), 4).alias("avg_v"))
            .select(field, "cnt",
                    F.expr(f"cnt * {SAMPLE_DENOM} div {prob_ppm}")
                    .alias("est_total"), "avg_v")
            .orderBy(field))


def has_child(parent: DataFrame, child: DataFrame, on: str,
              child_pred: Column, min_children: int = 1,
              max_children: int | None = None) -> DataFrame:
    """ES ``has_child`` query (join-field parent side): parents with at
    least ``min_children`` (and at most ``max_children``) children
    matching the child predicate; returns the parent key + match count
    (ES's inner-hit count).

    Scale: the child predicate filters BEFORE the aggregation (pushed
    to the child scan), the per-parent count is map-side combinable,
    and the parent join carries only (key, count) — never child rows.
    The reference's ES 6.8 runs the same shape server-side per shard.
    """
    m = (child.where(child_pred)
         .groupBy(on).agg(F.count(F.lit(1)).alias("n_matched"))
         .where(F.col("n_matched") >= F.lit(min_children)))
    if max_children is not None:
        m = m.where(F.col("n_matched") <= F.lit(max_children))
    return parent.join(m, on)


def has_parent(child: DataFrame, parent: DataFrame, on: str,
               parent_pred: Column) -> DataFrame:
    """ES ``has_parent`` query: children whose parent matches the
    predicate.

    Scale: the parent side reduces to its KEY COLUMN after the pushed
    predicate (distinct keys only), then a semi-join against the child
    table — the child side never shuffles its payload for parents it
    won't keep, and a selective parent predicate leaves a key set
    small enough for AQE to broadcast.
    """
    keys = parent.where(parent_pred).select(on).distinct()
    return child.join(keys, on, "left_semi")


def moving_percentile(df: DataFrame, time_col: str, value_col: str,
                      q: float = 0.5, window: int = 7) -> DataFrame:
    """ES ``moving_percentiles`` pipeline agg: the exact percentile of
    the daily-bucket metric over a trailing ``window`` of buckets (ES
    merges the per-bucket t-digests; the exact twin re-ranks the tiny
    trailing frame — C15's exact-twin stance).

    Daily sums round at 4dp then scale to integer micro-units (the
    x108 discipline), so the window percentile interpolates identical
    integers on both engines.

    Scale: the raw scan reduces map-side-combinably to one row per
    day; the moving window runs over that bounded bucket frame only.
    """
    b = _daily_micro_units(df, time_col, value_col)
    w = (Window.orderBy("bucket")
         .rowsBetween(-(window - 1), Window.currentRow))
    return (b.select(F.col("bucket").cast("date").alias("ds"), "v_u",
                     F.expr(f"percentile(v_u, {q!r})").over(w)
                     .alias("p_u"))
            .orderBy("ds"))


def normalize_agg(df: DataFrame, time_col: str, value_col: str) -> DataFrame:
    """ES ``normalize`` pipeline agg: each daily bucket's metric as
    percent-of-sum and 0–100 rescale across the bucket frame — the
    TSVB normalization block.

    Integer micro-unit series (the shared daily prologue) make the
    ratios divisions of identical integers; 4dp rounding on output.
    One combinable reduce; the window runs over the bucket frame.
    """
    b = _daily_micro_units(df, time_col, value_col)
    wall = Window.orderBy("bucket").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    tot = F.sum("v_u").over(wall)
    mn = F.min("v_u").over(wall)
    mx = F.max("v_u").over(wall)
    return (b.select(
        F.col("bucket").cast("date").alias("ds"), "v_u",
        F.round(F.lit(100.0) * F.col("v_u") / tot, 4)
        .alias("pct_of_sum"),
        F.when(mx != mn,
               F.round(F.lit(100.0) * (F.col("v_u") - mn) / (mx - mn), 4))
        .otherwise(F.lit(0.0)).alias("rescaled"))
        .orderBy("ds"))


def cumulative_cardinality(df: DataFrame, time_col: str,
                           key_col: str) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg: the running count
    of DISTINCT keys ever seen up to each daily bucket (the
    new-vs-returning users curve).

    Scale-correct exact form: each key reduces to its FIRST-seen day
    (map-side-combinable MIN — the corpus shuffles one row per key,
    not per event), first-seen days aggregate to per-day new-key
    counts, and the cumulative sum runs over the bounded bucket frame.
    A naive per-bucket distinct-over-growing-window would rescan the
    corpus per bucket; this is one pass. The incremental twin of C14's
    mergeable HLL rollup, exact because first-seen is idempotent.
    """
    first = (df.select(F.col(key_col),
                       F.date_trunc("day", F.col(time_col)).alias("d"))
             .groupBy(key_col).agg(F.min("d").alias("bucket")))
    per_day = first.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (per_day.select(
        F.col("bucket").cast("date").alias("ds"), "n_new",
        F.sum("n_new").over(w).alias("cum_distinct"))
        .orderBy("ds"))


def graph_explore(df: DataFrame, seed_term: str, text_col: str = "text",
                  id_col: str = "doc_id", min_fg: int = 2,
                  k: int = 10) -> DataFrame:
    """The X-Pack Graph explore API (the Kibana 6.8 Graph app): one
    expansion hop from a seed term — co-occurring terms ranked by
    significance lift (foreground rate vs corpus rate), returned as
    weighted edges (seed, term, fg, lift_bp).

    lift_bp = 10000 · (fg/n_seed) / (bg/n_docs), computed as one
    integer expression (exact across engines).

    Scale: ONE tokenize pass over the corpus produces per-term
    (bg, fg) simultaneously — each exploded row carries an is_seed
    flag, so foreground counts are a conditional sum inside the same
    map-side-combinable term aggregate that yields background document
    frequencies. The vocab-sized stats frame is persisted so its two
    consumers (the candidate rows and the n_seed scalar) read one
    materialization — Catalyst's per-branch rewrites (filter pushdown
    below the agg, column pruning) otherwise defeat exchange reuse
    and re-tokenize the corpus per branch. n_docs is a column-pruned
    count-star (no tokenize). The top-k is a TakeOrdered.
    """
    from pyspark import StorageLevel

    from kafana_spark.functions import tokens

    tok = F.array_distinct(tokens(F.col(text_col)))
    stats = (df.select(F.array_contains(tok, seed_term).alias("is_seed"),
                       F.explode(tok).alias("term"))
             .groupBy("term")
             .agg(F.count(F.lit(1)).alias("bg"),
                  F.sum(F.col("is_seed").cast("long")).alias("fg"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    n_seed = stats.agg(
        F.coalesce(F.max(F.when(F.col("term") == seed_term,
                                F.col("fg"))),
                   F.lit(0).cast("long"))
        .alias("n_seed"))
    totals = (df.agg(F.count(F.lit(1)).alias("n_docs"))
              .crossJoin(F.broadcast(n_seed))
              # absent seed -> n_seed 0 -> empty result (never a NULL
              # lift_bp row, matching the count-based formulation)
              .where(F.col("n_seed") > 0))
    fg = (stats.where((F.col("term") != seed_term)
                      & (F.col("fg") >= min_fg)))
    # double arithmetic avoids int64 overflow at web scale (1e4·fg·N
    # can pass 2^63); both engines evaluate the identical IEEE double
    # expression on identical integers, so the floored result is
    # bit-equal cross-engine (for products beyond 2^53 the double is
    # inexact, so this is parity, not exact integer division)
    lift = F.expr("CAST(floor(10000.0 * fg * n_docs / "
                  "(CAST(n_seed AS DOUBLE) * bg)) AS BIGINT)")
    return (fg.join(F.broadcast(totals))
            .select(F.lit(seed_term).alias("seed"), "term", "fg", "bg",
                    lift.alias("lift_bp"))
            .orderBy(F.col("lift_bp").desc(), "term")
            .limit(k))


def graph_explore_hops(df: DataFrame, seed_term: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       min_fg: int = 2, k1: int = 5,
                       k2: int = 5) -> DataFrame:
    """The X-Pack Graph explore API's defining feature: ITERATIVE
    expansion (two unrolled hops) with per-vertex sample
    diversification — hop 1 takes the top-``k1`` terms by significance
    lift around the seed (exactly ``graph_explore``'s ranking); hop 2
    expands EACH frontier term to its own top-``k2`` co-occurring
    terms, keeping only new vertices (not the seed, not a frontier
    term, not the source itself).

    Output: (hop, src, term, fg, bg, lift_bp, rk) — rk ranks within
    (hop, src); hop-2 lift uses the source's document count (its bg)
    as the foreground total, mirroring the hop-1 formula.

    Scale: hop 1 rides ``graph_explore``'s single-tokenize stats frame
    (persisted vocab aggregate). Hop 2 broadcasts the k1-term frontier
    as ONE array row, intersects it per document map-side (no doc-id
    shuffle), and the only exchange carries (src, term) combinable
    counts; background dfs come from the already-persisted stats
    frame, frontier exclusion is a broadcast anti-join, and the
    per-source rank window partitions by src over the post-aggregate
    candidate frame.
    """
    from pyspark import StorageLevel

    from kafana_spark.functions import tokens

    tok = F.array_distinct(tokens(F.col(text_col)))
    stats = (df.select(F.array_contains(tok, seed_term).alias("is_seed"),
                       F.explode(tok).alias("term"))
             .groupBy("term")
             .agg(F.count(F.lit(1)).alias("bg"),
                  F.sum(F.col("is_seed").cast("long")).alias("fg"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    n_seed = stats.agg(
        F.coalesce(F.max(F.when(F.col("term") == seed_term,
                                F.col("fg"))),
                   F.lit(0).cast("long"))
        .alias("n_seed"))
    nd = df.agg(F.count(F.lit(1)).alias("n_docs"))
    # absent seed -> empty hop 1 -> empty frontier -> empty hop 2
    totals = (nd.crossJoin(F.broadcast(n_seed))
              .where(F.col("n_seed") > 0))
    lift1 = F.expr("CAST(floor(10000.0 * fg * n_docs / "
                   "(CAST(n_seed AS DOUBLE) * bg)) AS BIGINT)")
    h1 = (stats.where((F.col("term") != seed_term)
                      & (F.col("fg") >= min_fg))
          .join(F.broadcast(totals))
          .select(F.lit(seed_term).alias("src"), "term", "fg", "bg",
                  lift1.alias("lift_bp"))
          .orderBy(F.col("lift_bp").desc(), "term").limit(k1))
    w1 = Window.orderBy(F.col("lift_bp").desc(), "term")
    h1r = h1.withColumn("rk", F.row_number().over(w1).cast("int"))
    # hop 2: one broadcast array row carries the frontier; the corpus
    # pass is map-only (intersect + double explode), the (src, term)
    # count is the only exchange
    farr = h1.agg(F.collect_list("term").alias("farr"))
    pairs = (df.select(tok.alias("toks"))
             .crossJoin(F.broadcast(farr))
             .select(F.array_intersect("toks", "farr").alias("srcs"),
                     "toks")
             .where(F.size("srcs") > 0)
             .select(F.explode("srcs").alias("src"), "toks")
             .select("src", F.explode("toks").alias("term")))
    agg2 = (pairs.groupBy("src", "term")
            .agg(F.count(F.lit(1)).alias("fg")))
    lift2 = F.expr("CAST(floor(10000.0 * fg * n_docs / "
                   "(CAST(n_src AS DOUBLE) * bg)) AS BIGINT)")
    cand = (agg2.where((F.col("term") != F.col("src"))
                       & (F.col("term") != seed_term)
                       & (F.col("fg") >= min_fg))
            .join(F.broadcast(h1.select(F.col("term").alias("src"),
                                        F.col("bg").alias("n_src"))),
                  "src")
            .join(F.broadcast(h1.select("term")), "term", "left_anti")
            .join(stats.select("term", "bg"), "term")
            .crossJoin(F.broadcast(nd)))
    w2 = Window.partitionBy("src").orderBy(F.col("lift_bp").desc(),
                                           "term")
    h2 = (cand.select("src", "term", "fg", "bg",
                      lift2.alias("lift_bp"))
          .withColumn("rk", F.row_number().over(w2).cast("int"))
          .where(F.col("rk") <= k2))
    return (h1r.select(F.lit(1).alias("hop"), "src", "term", "fg",
                       "bg", "lift_bp", "rk")
            .unionByName(
                h2.select(F.lit(2).alias("hop"), "src", "term", "fg",
                          "bg", "lift_bp", "rk"))
            .orderBy("hop", "src", "rk"))


def field_caps(df: DataFrame, numeric_fields: Sequence[str],
               time_fields: Sequence[str] = ()) -> DataFrame:
    """The ES ``_field_caps`` / field-stats API (Kibana loads it for
    every index pattern): per field, the declared type plus min/max
    and null count — the bounds Kibana uses for range pickers and
    agg validation.

    Values are unified as doubles: numeric min/max are exact data
    values (identical parquet doubles in both engines); timestamps
    surface as epoch microseconds (< 2^53 — exactly representable).
    One combinable pass over all requested fields; at 100 TB the same
    answer comes from parquet footer min/max without a scan (the
    index_size_report stance) — this is the exact-scan twin.
    """
    aggs = []
    for f in numeric_fields:
        aggs += [F.min(f).cast("double").alias(f"min__{f}"),
                 F.max(f).cast("double").alias(f"max__{f}"),
                 F.count(F.when(F.col(f).isNull(), 1))
                 .alias(f"nul__{f}")]
    for f in time_fields:
        ep = F.unix_micros(F.col(f))
        aggs += [F.min(ep).cast("double").alias(f"min__{f}"),
                 F.max(ep).cast("double").alias(f"max__{f}"),
                 F.count(F.when(F.col(f).isNull(), 1))
                 .alias(f"nul__{f}")]
    g = df.agg(*aggs)
    types = dict(df.dtypes)
    rows = []
    for f in list(numeric_fields) + list(time_fields):
        rows.append(F.struct(
            F.lit(f).alias("field"),
            F.lit(types[f]).alias("dtype"),
            F.col(f"min__{f}").alias("min_v"),
            F.col(f"max__{f}").alias("max_v"),
            F.col(f"nul__{f}").alias("n_nulls")))
    return (g.select(F.explode(F.array(*rows)).alias("s"))
            .select("s.*").orderBy("field"))
