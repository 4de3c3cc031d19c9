"""Property-based spot checks (SURVEY.md §5.3.4).

Random record sets (keys, nulls/tombstones, topics, partitions) →
invariants of the enrichment + store pipeline:

- document count == record count (nothing dropped/duplicated)
- _id unique ⇔ (topic, partition, offset) unique
- tombstone ⇔ message.value == 'TOMBSTONE'
- message.value JSON round-trips the original struct fields
- latest_state == a plain-Python fold of the changelog
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

from kafana_spark.ingest import TOMBSTONE, enrich
from kafana_spark.store import latest_state

RECORD_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("value_struct", StructType([
        StructField("bar", IntegerType()),
        StructField("baz", StringType()),
    ])),
    StructField("topic", StringType()),
    StructField("partition", IntegerType()),
    StructField("offset", LongType()),
    StructField("timestamp", TimestampType()),
])

BASE_TS = dt.datetime(2024, 1, 1)

records_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.text(alphabet="abc123", max_size=3)),  # key
        st.one_of(  # value struct; None = tombstone
            st.none(),
            st.tuples(st.one_of(st.none(), st.integers(-1000, 1000)),
                      st.one_of(st.none(), st.text(alphabet="xyz", max_size=4)))),
        st.sampled_from(["foo", "bar"]),            # topic
        st.integers(0, 2),                          # partition
        st.integers(0, 50),                         # offset
    ),
    min_size=0, max_size=40,
)


def to_rows(raw):
    """Deduplicate (topic, partition, offset) — Kafka offsets are unique
    within a topic-partition by construction — and attach timestamps."""
    seen, rows = set(), []
    for i, (key, value, topic, part, off) in enumerate(raw):
        if (topic, part, off) in seen:
            continue
        seen.add((topic, part, off))
        rows.append((key, value, topic, part, off,
                     BASE_TS + dt.timedelta(seconds=i)))
    return rows


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@given(raw=records_strategy)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_enrichment_invariants(spark, raw):
    rows = to_rows(raw)
    df = spark.createDataFrame(rows, RECORD_SCHEMA)
    docs = enrich(df).collect()

    # count preserved
    assert len(docs) == len(rows)

    # _id unique (inputs were deduped on the changelog identity)
    ids = [r._id for r in docs]
    assert len(set(ids)) == len(ids)

    by_id = {r._id: r for r in docs}
    for key, value, topic, part, off, ts in rows:
        doc = by_id[f"{topic}+{part}+{off}"]
        # envelope preserved
        assert doc.topic == topic and doc.partition == part \
            and doc.offset == off and doc.timestamp == ts
        assert doc.key == (key if key is not None else None)
        if value is None:
            # tombstone ⇔ marker
            assert doc.message.value == TOMBSTONE
            assert doc.message.bar is None and doc.message.baz is None
        else:
            assert doc.message.value != TOMBSTONE or value == (None, None)
            # JSON copy round-trips the struct fields (to_json drops nulls)
            parsed = json.loads(doc.message.value) \
                if doc.message.value != TOMBSTONE else {}
            bar, baz = value
            assert parsed.get("bar") == bar
            assert parsed.get("baz") == baz
            assert doc.message.bar == bar and doc.message.baz == baz


@given(raw=records_strategy)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_latest_state_equals_python_fold(spark, raw):
    rows = to_rows(raw)
    df = spark.createDataFrame(rows, RECORD_SCHEMA)
    state = latest_state(enrich(df)).collect()

    # fold: per (topic, key) keep the record with max (partition, offset);
    # drop if it's a tombstone. Null keys form their own group (SQL window
    # partitioning groups nulls together).
    expect: dict = {}
    for key, value, topic, part, off, ts in rows:
        k = (topic, key)
        cur = expect.get(k)
        if cur is None or (part, off) > (cur[0], cur[1]):
            expect[k] = (part, off, value)
    expect = {k: v for k, v in expect.items() if v[2] is not None}

    got = {(r.topic, r.key): (r.partition, r.offset) for r in state}
    assert got == {k: (v[0], v[1]) for k, v in expect.items()}


token_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=0, max_size=90).map(" ".join),
    min_size=1, max_size=8)


@given(texts=token_texts,
       window=st.integers(min_value=2, max_value=12),
       stride=st.integers(min_value=1, max_value=12))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_windows_invariants(spark, texts, window, stride):
    from hypothesis import assume

    assume(stride <= window)   # stride > window rejected by the op
    """For any corpus and any (window, stride): every chunk has ≤window
    tokens, chunk starts advance by exactly stride, every token of the
    document is covered by at least one chunk, and concatenating each
    chunk's FIRST stride tokens reconstructs the document exactly."""
    from kafana_spark.operators import text as t

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    out = t.chunk_windows(df, window=window, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, txt in enumerate(texts):
        toks = txt.split(" ")       # NB split(' ') of '' is [''], len 1
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert len(chunks) == -(-len(toks) // stride)   # ceil
        recon = []
        for c in chunks:
            ct = c.chunk_text.split(" ")
            assert c.chunk_tokens == len(ct) <= window
            assert ct == toks[c.chunk_id * stride:
                              c.chunk_id * stride + window]
            recon.extend(ct[:stride])
        assert recon == toks        # stride-prefix concat reconstructs


# -------------------------------------------- ExactSubstr span invariants

def _ref_spans(texts: list[str], k: int) -> set[tuple]:
    """Plain-Python reference: duplicated k-grams by total occurrence,
    covered starts, gaps-and-islands merge."""
    from collections import Counter

    grams: list[tuple[int, int, tuple]] = []
    counts: Counter = Counter()
    for did, txt in enumerate(texts):
        toks = txt.split(" ")
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p:p + k])
            grams.append((did, p, g))
            counts[g] += 1
    covered: dict[int, list[int]] = {}
    for did, p, g in grams:
        if counts[g] >= 2:
            covered.setdefault(did, []).append(p)
    out = set()
    for did, ps in covered.items():
        ps = sorted(set(ps))
        runs: list[list[int]] = [[ps[0]]]
        for p in ps[1:]:
            if p - runs[-1][-1] > k:
                runs.append([p])
            else:
                runs[-1].append(p)
        for idx, run in enumerate(runs):
            out.add((did, idx, run[0], run[-1] + k - 1,
                     run[-1] + k - 1 - run[0] + 1))
    return out


@given(texts=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]),
             min_size=0, max_size=30).map(" ".join),
    min_size=1, max_size=6),
    k=st.integers(min_value=2, max_value=4))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_substr_spans_match_reference(spark, texts, k):
    """Spark spans == the plain-Python reference on random corpora
    (the 3-symbol alphabet makes duplicated grams near-certain)."""
    from kafana_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"])
    got = {tuple(r) for r in dedup.exact_substr_spans(df, k=k).collect()}
    assert got == _ref_spans(texts, k)


@given(texts=st.lists(
    st.text(alphabet="ab X", max_size=30),  # spaces → empty tokens,
    min_size=1, max_size=8),                # uppercase → lower() path
    n=st.integers(min_value=2, max_value=4))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gram_functions_match_python_reference(spark, texts, n):
    """shingles/grams (r12 zipped-slice shapes) == plain
    Python references on adversarial strings — consecutive/leading/
    trailing spaces (empty tokens), docs shorter than n, mixed case.
    Guards the semantics the zip rewrite must preserve: split(" ")
    keeps empty tokens, grams keep multiplicity, shingles dedupe
    keeping first occurrence."""
    from kafana_spark.functions import grams, shingles

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = df.select(
        "doc_id", shingles(F.col("text"), n).alias("sh"),
        grams(F.col("text"), n).alias("gr")).collect()
    for r in got:
        t = texts[r.doc_id]
        toks = t.split(" ")
        ref_gr = [" ".join(toks[i:i + n])
                  for i in range(len(toks) - n + 1)]
        ref_sh = list(dict.fromkeys(ref_gr))
        assert r.gr == ref_gr, (t, r.gr, ref_gr)
        assert r.sh == ref_sh, (t, r.sh, ref_sh)


@given(texts=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=1, max_size=40).map(" ".join),
    min_size=1, max_size=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cms_never_undercounts_property(spark, texts):
    """CM estimates dominate exact counts for EVERY token on random
    corpora (the structural sketch guarantee, not a fixture accident)."""
    from collections import Counter

    from kafana_spark.rollup import cms_estimate, cms_sketch

    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"])
    exact = Counter(t for txt in texts for t in txt.split(" "))
    terms = spark.createDataFrame([(t,) for t in exact], ["t"])
    est = {r.t: r.cms_cnt for r in
           cms_estimate(cms_sketch(df, "text"), terms).collect()}
    assert all(est[t] >= c for t, c in exact.items())


@given(events=st.lists(
    st.tuples(st.integers(1, 3),            # key
              st.sampled_from(["a", "b", "c"]),   # state
              st.integers(0, 30)),          # minute
    min_size=0, max_size=25),
    cut=st.integers(0, 30))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_merge_law_property(spark, events, cut):
    """The scd2_changes merge law on RANDOM event streams and a RANDOM
    event-time split: collapse(collapse(early) ∪ collapse(late)) ==
    collapse(full), for any boundary — the structural guarantee the
    persisted SCD2 index's append path rests on (scd2_index.py)."""
    from kafana_spark.operators.events import scd2_changes

    rows = [(i, BASE_TS + dt.timedelta(minutes=m), k, s)
            for i, (k, s, m) in enumerate(events)]
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ])
    d = spark.createDataFrame(rows, schema)
    boundary = BASE_TS + dt.timedelta(minutes=cut)
    early = d.where(F.col("ts") <= F.lit(boundary))
    late = d.where(F.col("ts") > F.lit(boundary))
    merged = scd2_changes(
        scd2_changes(early).unionByName(scd2_changes(late)))
    full = scd2_changes(d)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


@given(users=st.lists(
    st.tuples(st.integers(0, 5),      # rec value domain (small: ties!)
              st.integers(1, 6),      # freq
              st.integers(0, 400)),   # monetary cents
    min_size=1, max_size=20))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rfm_group_quartiles_match_reference(spark, users):
    """The r7 distinct-value-group percentile rule against a plain-
    Python reference on random (rec, freq, mon) user sets heavy with
    ties: pct(v) = 10000*|{u: metric(u) < v}| // (n-1), quartile =
    1 + [pct>=2500] + [pct>=5000] + [pct>=7500]."""
    from kafana_spark.operators.events import rfm_segments

    # one event per (user, metric triple): recency realized by event
    # day (rec = gmax - umax), freq by event count, mon by value
    rows, eid = [], 0
    max_day = max(r for r, _, _ in users)
    for uid, (rec, freq, mon) in enumerate(users):
        day = max_day - rec
        for j in range(freq):
            v = (mon / 100.0) if j == 0 else 0.0
            rows.append((eid, BASE_TS + dt.timedelta(days=day,
                                                     minutes=j),
                         uid, "e", v))
            eid += 1
    d = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"])

    def quart(vals):
        n = len(vals)

        def q(v):
            if n == 1:
                return 1
            cum_lt = sum(1 for x in vals if x < v)
            pct = 10000 * cum_lt // (n - 1)
            return (1 + (pct >= 2500) + (pct >= 5000)
                    + (pct >= 7500))
        return q

    recs = [r for r, _, _ in users]
    freqs = [f for _, f, _ in users]
    mons = [m for _, _, m in users]
    qr, qf, qm = quart(recs), quart(freqs), quart(mons)
    from collections import defaultdict
    want = defaultdict(lambda: [0, 0])
    for (rec, freq, mon) in users:
        kq = (qr(rec), qf(freq), qm(mon))
        want[kq][0] += 1
        want[kq][1] += mon
    got = {(r.r_q, r.f_q, r.m_q): [r.n_users, r.monetary_cents]
           for r in rfm_segments(d).collect()}
    assert got == dict(want)


@given(revs=st.lists(st.integers(0, 10 ** 6), min_size=1,
                     max_size=25))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_abc_two_phase_matches_single_window_reference(spark, revs):
    """The r7 banded two-phase running revenue against the plain
    single-window reference on random revenue multisets (including
    zeros and cross-band ties): identical class totals for any
    distribution."""
    from collections import defaultdict

    from kafana_spark.operators.relational import abc_classification

    li = spark.createDataFrame(
        [(p, 1, 1, 1, 1.0, rev / 100.0, 0.0, 0.0, "N", "O",
          dt.datetime(1996, 1, 1))
         for p, rev in enumerate(revs, start=1)],
        ["l_partkey", "l_orderkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"])
    # reference: exact global (rev desc, partkey) running sum
    per = sorted(((rev, p) for p, rev in enumerate(revs, start=1)),
                 key=lambda t: (-t[0], t[1]))
    tot = sum(r for r, _ in per)
    want = defaultdict(lambda: [0, 0])
    cum = 0
    for rev, _ in per:
        cum += rev
        cls = ("A" if 100 * cum <= 70 * tot
               else "B" if 100 * cum <= 90 * tot else "C")
        want[cls][0] += 1
        want[cls][1] += rev
    got = {r.cls: [r.n_parts, r.revenue_cents]
           for r in abc_classification(li).collect()}
    assert got == {k: v for k, v in want.items()}


@given(vecs=st.lists(
    st.lists(st.floats(-2, 2, allow_nan=False, width=32),
             min_size=64, max_size=64),
    min_size=1, max_size=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_binary_signs_match_python_reference(spark, vecs):
    """Sign-word packing on random 64-dim vectors (zeros, negatives,
    subnormals) against the plain-Python rule: bit i of word b set
    iff v[32b+i] > 0 — the exact integers both engines must agree
    on for the x298 oracle to hash."""
    from kafana_spark.operators.similarity import binary_signs

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.w0, r.w1)
           for r in binary_signs(df, 64).collect()}
    for i, v in enumerate(vecs):
        w0 = sum(1 << j for j in range(32) if v[j] > 0)
        w1 = sum(1 << j for j in range(32) if v[32 + j] > 0)
        assert got[i] == (w0, w1), (i, got[i], (w0, w1))


# ------------------------------------------------------- r11 kernels

_corpus_strategy = st.lists(
    st.lists(st.integers(min_value=-1_000_000, max_value=1_000_000),
             min_size=4, max_size=4),
    min_size=1, max_size=24)


@given(vs=_corpus_strategy,
       n_parts=st.integers(min_value=1, max_value=5))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pca_moments_partition_invariant(spark, vs, n_parts):
    """The r11 map-only moment kernel computes EXACT integer sums, so
    (sj, S, n) must be bit-identical under any repartitioning — the
    property that makes the statistics safe to compute distributed.
    Also cross-checks the kernel against a driver-side numpy brute
    force on the same rows."""
    import numpy as np

    from kafana_spark.operators import similarity

    dim = 4
    df = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in enumerate(vs)],
        "vec_id long, vu array<bigint>")
    base = similarity._pca_moments(df.repartition(1), dim)
    re = similarity._pca_moments(df.repartition(n_parts), dim)
    assert base == re
    X = np.array(vs, dtype=np.int64)
    sj, S, n = base
    assert n == len(vs)
    assert [sj[j] for j in range(dim)] == list(X.sum(axis=0))
    G = X.T @ X
    assert all(S[(j, k)] == int(G[j, k])
               for j in range(dim) for k in range(dim))


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=6, max_size=30),
    min_size=2, max_size=12))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jaccard_verify_shapes_agree_on_random_corpora(spark, texts):
    """Both verify shapes must agree on arbitrary (including
    degenerate: empty shingle sets, all-identical docs) corpora, not
    just the fixture — the pair-first rewrite's structural parity."""
    from kafana_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    sh = dedup.hashed_shingle_set(df)
    pairs = dedup.candidate_pairs(
        dedup.lsh_bands(dedup.minhash_signature(sh)))
    a = sorted(map(tuple, dedup.jaccard_verify(pairs, sh, 0.3)
                   .collect()))
    b = sorted(map(tuple, dedup.jaccard_verify(pairs, sh, 0.3,
                                               pair_first=True)
                   .collect()))
    assert a == b


# ------------------------------------------------------- r12 kernels


@given(vs=_corpus_strategy,
       n_parts=st.integers(min_value=1, max_value=5))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_km_cell_stats_partition_invariant_and_exact(spark, vs, n_parts):
    """The r12 long-form Lloyd cell-stats kernel (_km_cell_stats) is
    exact-integer and partition-invariant, and reproduces a driver
    numpy brute force with the documented tie rule (nearest centroid,
    ties to the LOWEST cid) — the properties that let it replace the
    per-vector _km_assign + dim-wide groupBy bit-for-bit inside the
    Lloyd walk."""
    import numpy as np

    from kafana_spark.operators import similarity

    dim = 4
    df = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in enumerate(vs)],
        "vec_id long, vu array<bigint>")
    # centroids: every 3rd vector (cid = its vec_id), at least one
    cents = [(i, [int(x) for x in v])
             for i, v in enumerate(vs) if i % 3 == 0] or [(0, list(vs[0]))]

    base = similarity._km_collect_cell_stats(df.repartition(1), cents, dim)
    re = similarity._km_collect_cell_stats(
        df.repartition(n_parts), cents, dim)
    assert base == re

    X = np.array(vs, dtype=np.int64)
    cid = np.array([c for c, _ in sorted(cents)], dtype=np.int64)
    CU = np.array([u for _, u in sorted(cents)], dtype=np.int64)
    d2 = (np.einsum("ij,ij->i", X, X)[:, None]
          + np.einsum("ij,ij->i", CU, CU) - 2 * (X @ CU.T))
    j = np.argmin(d2, axis=1)  # first minimum = lowest cid (sorted)
    ref = {}
    for i, ji in enumerate(j):
        cnt, inu, s = ref.setdefault(int(cid[ji]), [0, 0, [0] * dim])
        e = ref[int(cid[ji])]
        e[0] += 1
        e[1] += int(d2[i, ji])
        e[2] = [a + int(b) for a, b in zip(e[2], X[i])]
    assert base == {c: (cnt, inu, s) for c, (cnt, inu, s) in ref.items()}


_vec_strategy = st.lists(
    st.lists(st.floats(min_value=-1.0, max_value=1.0, width=32),
             min_size=4, max_size=4),
    min_size=2, max_size=16)


@given(vs=_vec_strategy, n_parts=st.integers(min_value=1, max_value=4))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lsh_sign_kernels_match_reference(spark, vs, n_parts):
    """The r12 LSH signing kernels (lsh_codes / _lsh_qprobes) are
    partition-invariant and replay a plain-Python reference of the
    contract arithmetic: per-dimension floor((v[j]*h[j])*1e6 + 0.5)
    summed, sign bits packed per table, and multiprobe's weakest-bit
    flip choosing the smallest |margin| with ties to the lowest j."""
    import math

    from kafana_spark.operators import similarity
    from kafana_spark.operators.similarity import _lsh_qprobes, lsh_codes

    dim, n_bits = 4, 2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 1.0) for i, v in enumerate(vs)],
        "vec_id long, v array<double>, nrm double")
    # two tables x two bits of deterministic planes from the data
    planes = [(t, j, [float(x) + 0.1 * t - 0.05 * j for x in vs[0]])
              for t in range(2) for j in range(n_bits)]
    pdf = spark.createDataFrame(planes, "t int, j int, h array<double>")

    def du(v, h):
        return sum(int(math.floor((a * b) * 1_000_000.0 + 0.5))
                   for a, b in zip(v, h))

    ref_codes = {}
    ref_probes = {}
    for i, v in enumerate(vs):
        for t in range(2):
            code, best = 0, None
            for j in range(n_bits):
                d = du(v, planes[t * n_bits + j][2])
                if d >= 0:
                    code += 1 << j
                if best is None or abs(d) < best[0]:
                    best = (abs(d), j)
            ref_codes[(i, t)] = code
            ref_probes[(i, t)] = (code, code ^ (1 << best[1]))

    got = {(r.vec_id, r.t): r.code
           for r in lsh_codes(df.repartition(n_parts), pdf, dim).collect()}
    assert got == ref_codes
    q = df.select(F.col("vec_id").alias("qid"), "v")
    probes = _lsh_qprobes(q.repartition(n_parts), pdf, dim).collect()
    gp = {}
    for r in probes:
        gp.setdefault((r.qid, r.t), []).append(r.code)
    assert {k: tuple(v) for k, v in gp.items()} == ref_probes
