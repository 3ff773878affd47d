"""Metamorphic equivalences on randomized inputs — the reference's own
test style (SURVEY §5: grouping checked against sort+unique,
expression-vs-function agreement, sortperm invariants on random data),
driven by hypothesis over small generated frames."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=40)
vals = st.lists(
    st.one_of(st.floats(-1e6, 1e6, allow_nan=False), st.none()),
    min_size=1,
    max_size=40,
)


@given(k=keys, v=vals)
@SETTINGS
def test_groupby_count_matches_sort_distinct(spark, k, v):
    """groupBy keys == distinct keys; counts sum to nrows (reference
    test/grouping.jl:12-15)."""
    n = min(len(k), len(v))
    pdf = pd.DataFrame({"k": k[:n], "v": v[:n]})
    df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                               "k string, v double")
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {r.k for r in agg} == {r.k for r in df.select("k").distinct().collect()}
    assert sum(r.n for r in agg) == n


@given(v=vals)
@SETTINGS
def test_sortperm_is_permutation_and_sorted(spark, v):
    """sortperm yields a 1..n permutation; gathering by it sorts
    (reference test/sort.jl:12-45). NULLs first, ties broken by idx."""
    from dataframes_jl_spark.ops.sorting import global_row_number, order

    pdf = pd.DataFrame({"v": v, "idx": range(len(v))})
    df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                               "v double, idx bigint")
    ranked = global_row_number(df, [order("v"), order("idx")], col_name="p")
    rows = sorted((r.p, r.v) for r in ranked.collect())
    assert [p for p, _ in rows] == list(range(1, len(v) + 1))
    seq = [x for _, x in rows]
    nn = [x for x in seq if x is not None]
    assert all(x is None for x in seq[: len(seq) - len(nn)])  # nulls first
    assert nn == sorted(nn)


@given(k=keys, v=vals)
@SETTINGS
def test_na_agg_expression_vs_definition(spark, k, v):
    """na_agg(sum) == NULL iff any NULL in group, else plain sum
    (reference NA-propagation, SURVEY §1.4.1)."""
    from dataframes_jl_spark.functions.na import na_agg

    n = min(len(k), len(v))
    pdf = pd.DataFrame({"k": k[:n], "v": v[:n]})
    df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                               "k string, v double")
    got = {
        r.k: r.s
        for r in df.groupBy("k").agg(na_agg(F.sum, "v").alias("s")).collect()
    }
    for key, grp in pdf.groupby("k", dropna=False):
        key = None if pd.isna(key) else key
        if grp["v"].isna().any():
            assert got[key] is None
        elif len(grp):
            assert got[key] is not None
            assert abs(got[key] - grp["v"].sum()) < 1e-6 * max(1.0, abs(grp["v"].sum()))


@given(v=vals)
@SETTINGS
def test_vcat_count_and_union_semantics(spark, v):
    """vcat(a, b) has len(a)+len(b) rows and NA-fills missing columns
    (reference test/data.jl:45-62)."""
    from dataframes_jl_spark.ops.setops import vcat

    pdf = pd.DataFrame({"v": v})
    a = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None), "v double")
    b = a.withColumn("extra", F.lit(1))
    out = vcat(a, b)
    assert out.count() == 2 * len(v)
    assert out.filter(F.col("extra").isNull()).count() == len(v)


def test_asof_join_matches_bruteforce(spark):
    """Metamorphic: union-merge as-of must equal the brute-force
    definition (max right time <= left time per key) on random data."""
    import random

    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops import asof_join

    rng = random.Random(11)
    left = [(rng.randrange(4), float(rng.randrange(100)), i) for i in range(120)]
    right = [(rng.randrange(4), float(rng.randrange(100)), float(i)) for i in range(80)]
    ldf = spark.createDataFrame(left, "k int, t double, lid int")
    rdf = spark.createDataFrame(right, "k int, t double, payload double")

    got = {
        (r["lid"]): (r["t_matched"], r["payload"])
        for r in asof_join(ldf, rdf, on="t", by="k").collect()
    }

    # brute force: per left row, the right row with max t <= left t
    # (ties broken by max payload to make the expectation deterministic
    #  only when unique; so compare matched time, and payload set-wise)
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, t, p in right:
        by_key[k].append((t, p))
    for k, t, lid in left:
        cands = [(rt, rp) for rt, rp in by_key[k] if rt <= t]
        if not cands:
            assert got[lid] == (None, None)
        else:
            best_t = max(rt for rt, _ in cands)
            assert got[lid][0] == best_t
            assert got[lid][1] in {rp for rt, rp in cands if rt == best_t}


def test_colwise_prod_zero_and_negative(spark):
    """AGG_FUNCS['prod'] (exp-sum-log trick): a zero factor must zero the
    group product, odd negative counts must flip the sign — the naive
    formulation drops zeros because log(0) is NULL and SUM skips NULLs."""
    import math

    from dataframes_jl_spark.ops.grouping import colwise

    rows = [
        ("z", 2.0), ("z", 0.0), ("z", 5.0),          # contains a zero -> 0
        ("n", -2.0), ("n", 3.0),                      # one negative -> -6
        ("p", 1.5), ("p", 4.0), ("p", -2.0), ("p", -1.0),  # two negatives -> 12
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: r["v_prod"]
        for r in colwise(df, ["prod"], cols=["v"], group_cols=["k"]).collect()
    }
    assert got["z"] == 0.0
    assert math.isclose(got["n"], -6.0, rel_tol=1e-9)
    assert math.isclose(got["p"], 12.0, rel_tol=1e-9)


def test_bm25_adding_foreign_doc_lowers_no_tf(spark):
    """Metamorphic: appending one document with only unseen terms
    raises N by 1 and leaves every existing doc's (tf, dl) unchanged —
    so Robertson idf rises and each matched doc's score strictly
    increases (idf' = ln(1+(N+1-df+.5)/(df+.5)) > idf), while the match
    set is unchanged."""
    from dataframes_jl_spark.llm.relevance import bm25_scores

    base = spark.createDataFrame(
        [(1, "spark makes joins fast"), (2, "joins shuffle data")],
        ["doc_id", "text"],
    )
    grown = base.union(
        spark.createDataFrame([(3, "zzz yyy xxx")], ["doc_id", "text"])
    )
    s0 = {r["id"]: r["score"] for r in bm25_scores(base, ["joins"]).collect()}
    s1 = {r["id"]: r["score"] for r in bm25_scores(grown, ["joins"]).collect()}
    assert set(s0) == set(s1) == {1, 2}
    assert all(s1[i] > s0[i] for i in s0)


def test_weighted_sample_k_equals_n_returns_everything(spark):
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.sampling import weighted_sample

    df = spark.range(0, 64).select(
        F.col("id").alias("doc_id"), (F.col("id") + 1.0).alias("w")
    )
    out = weighted_sample(df, "w", k=64)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(64))


def test_chunking_no_overlap_partitions_tokens_exactly(spark):
    """stride == chunk_tokens: chunks partition the token stream, so
    re-concatenating chunk texts in order reproduces the tokenized doc."""
    from pyspark.sql import functions as F

    from dataframes_jl_spark.llm.text import chunk_documents

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(1 + 7 * i))) for i in range(5)],
        ["doc_id", "text"],
    )
    chunks = chunk_documents(docs, chunk_tokens=8, stride=8)
    # collect_list order is not guaranteed after a shuffle; sort the
    # (chunk_idx, text) structs explicitly before re-concatenating
    rebuilt = chunks.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
        ).alias("re")
    )
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rebuilt.collect():
        assert r["re"] == orig[r["doc_id"]]


texts = st.lists(
    st.text(alphabet="abc .!\n", min_size=0, max_size=60),
    min_size=1,
    max_size=15,
)


@given(ts=texts)
@SETTINGS
def test_token_budget_monotone_in_budget(spark, ts):
    """A larger token budget keeps a superset of a smaller one, and
    both keep hash-order prefixes (cum_tokens never exceeds budget)."""
    from dataframes_jl_spark.llm import take_token_budget

    rows = [(i, "s", t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    small = {r.doc_id for r in take_token_budget(df, budget=5).collect()}
    big = {r.doc_id for r in take_token_budget(df, budget=50).collect()}
    assert small <= big
    assert all(r.cum_tokens <= 5 for r in take_token_budget(df, budget=5).collect())


@given(ts=texts)
@SETTINGS
def test_c4_clean_idempotent(spark, ts):
    """Cleaning already-cleaned text is a no-op (kept lines still end in
    terminal punctuation, meet the word floor, lack 'javascript')."""
    from dataframes_jl_spark.llm import c4_clean_lines

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts)], "doc_id bigint, text string"
    )
    once = df.select("doc_id", c4_clean_lines("text").alias("text"))
    twice = once.select("doc_id", c4_clean_lines("text").alias("text"))
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b


def test_semdedup_threshold_monotone(spark):
    """Raising the cosine threshold can only shrink the pair set."""
    import random

    from dataframes_jl_spark.llm import semdedup_pairs

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    cents = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
    lo = {(r.id_a, r.id_b) for r in semdedup_pairs(emb, cents, threshold=0.1).collect()}
    hi = {(r.id_a, r.id_b) for r in semdedup_pairs(emb, cents, threshold=0.6).collect()}
    assert hi <= lo


def test_scd2_intervals_partition_timeline(spark):
    """Per key, SCD2 intervals tile the timeline: first valid_from is
    the key's first event, each valid_to equals the next valid_from,
    and exactly one open (NULL valid_to) interval exists."""
    import random

    from dataframes_jl_spark.ops import scd2_from_log

    rng = random.Random(5)
    rows = [
        (k, t, rng.choice("xyz"))
        for k in range(6)
        for t in range(rng.randint(1, 20))
    ]
    df = spark.createDataFrame(rows, "k bigint, ts bigint, attr string")
    by_key = {}
    for r in scd2_from_log(df, ["k"], ["attr"], "ts").collect():
        by_key.setdefault(r.k, []).append((r.valid_from, r.valid_to))
    for k, ivs in by_key.items():
        ivs.sort(key=lambda t: t[0])
        assert ivs[0][0] == 0  # first event ts per key
        assert sum(1 for _, vt in ivs if vt is None) == 1
        for (f1, t1), (f2, _) in zip(ivs, ivs[1:]):
            assert t1 == f2


def test_sketches_merge_distributively(spark):
    """The property that makes sketches shard-safe: building over a
    union equals merging per-shard sketches (bit_or for Bloom bitmaps,
    cell-wise sum for Count-Min counters)."""
    import random

    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.bloom import bloom_build, cm_build

    rng = random.Random(53)
    a = spark.createDataFrame([(rng.randrange(10**9),) for _ in range(400)], "key bigint")
    b = spark.createDataFrame([(rng.randrange(10**9),) for _ in range(400)], "key bigint")
    u = a.unionAll(b)
    # bloom: union bitmap == OR of shard bitmaps
    whole = {r.seg: r.bits for r in bloom_build(u, "key").collect()}
    pa = {r.seg: r.bits for r in bloom_build(a, "key").collect()}
    pb = {r.seg: r.bits for r in bloom_build(b, "key").collect()}
    merged = {s: pa.get(s, 0) | pb.get(s, 0) for s in set(pa) | set(pb)}
    assert whole == merged
    # count-min: union counters == cell-wise sum of shard counters
    wc = {(r.row, r.col): r.cnt for r in cm_build(u, "key").collect()}
    ca = {(r.row, r.col): r.cnt for r in cm_build(a, "key").collect()}
    cb = {(r.row, r.col): r.cnt for r in cm_build(b, "key").collect()}
    mc = {k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)}
    assert wc == mc
    # hll: union sketch == max-per-register merge of shard sketches
    from dataframes_jl_spark.ops.bloom import hll_build, hll_merge

    wh = {r.reg: r.rho for r in hll_build(u, "key").collect()}
    mh = {
        r.reg: r.rho
        for r in hll_merge(hll_build(a, "key"), hll_build(b, "key")).collect()
    }
    assert wh == mh


def test_hll_estimate_accuracy_and_empty(spark):
    """HLL estimate within 4 sigma (1.04/sqrt(m)) of truth across
    regimes incl. the linear-counting small range; empty input -> 0."""
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.bloom import hll_build, hll_estimate

    p, m = 8, 256
    sigma = 1.04 / (m**0.5)
    for n in (50, 5_000, 60_000):
        df = spark.range(1, n + 1).select(F.col("id").alias("key"))
        row = hll_estimate(hll_build(df, "key", p), p).collect()[0]
        err = abs(row.estimate / n - 1)
        assert err < 4 * sigma, f"n={n}: est {row.estimate}, err {err:.3f}"
    empty = spark.createDataFrame([], "key bigint")
    row = hll_estimate(hll_build(empty, "key", p), p).collect()[0]
    assert row.estimate == 0.0 and row.v_zero == m and row.method == "linear"
    # NULL keys are skipped like COUNT DISTINCT
    nulls = spark.createDataFrame([(None,), (7,)], "key bigint")
    assert hll_build(nulls, "key", p).count() == 1


def test_hll_grouped_equals_per_group_sketches(spark):
    """A grouped build must produce, per group, EXACTLY the sketch a
    separate filtered build would — the single-aggregate grouped path
    is a pure re-partitioning of the same work."""
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.bloom import hll_build

    df = spark.range(1, 30_001).select(
        F.col("id").alias("key"), (F.col("id") % 3).cast("int").alias("g")
    )
    grouped = {
        (r.g, r.reg): r.rho
        for r in hll_build(df, "key", p=6, by=("g",)).collect()
    }
    for g in (0, 1, 2):
        solo = {
            r.reg: r.rho
            for r in hll_build(df.filter(F.col("g") == g), "key", p=6).collect()
        }
        assert solo == {reg: rho for (gg, reg), rho in grouped.items() if gg == g}


def test_kmv_exact_regime_union_closure_and_overlap(spark):
    """KMV invariants: below k the estimate is the exact distinct
    count; the union of two sketches re-sketched equals the sketch of
    the union (closure); a fully-contained union gives the exact
    Jaccard; and at scale the estimate lands within 4 sigma."""
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.bloom import (
        kmv_build,
        kmv_estimate,
        kmv_overlap,
        kmv_union,
    )

    k = 256
    # exact regime: 100 distinct keys < k
    small = spark.range(1, 101).select(F.col("id").alias("key"))
    row = kmv_estimate(kmv_build(small, "key", k), k).collect()[0]
    assert row.method == "exact" and row.estimate == 100.0

    # closure: union of sketches == sketch of union
    a = spark.range(1, 50_001).select(F.col("id").alias("key"))
    b = spark.range(25_000, 90_001).select(F.col("id").alias("key"))
    merged = sorted(r.h for r in kmv_union(
        kmv_build(a, "key", k), kmv_build(b, "key", k), k).collect())
    direct = sorted(r.h for r in kmv_build(a.unionAll(b), "key", k).collect())
    assert merged == direct

    # sub-k union: jaccard is EXACT set jaccard (sketch saw everything)
    xa = spark.range(1, 101).select(F.col("id").alias("key"))
    xb = spark.range(51, 151).select(F.col("id").alias("key"))
    ov = kmv_overlap(kmv_build(xa, "key", k), kmv_build(xb, "key", k), k).collect()[0]
    assert abs(ov.jaccard - 50 / 150) < 1e-12
    assert abs(ov.inter_est - 50.0) < 1e-9

    # estimator regime accuracy: 4 sigma of 1/sqrt(k-1)
    est = kmv_estimate(kmv_build(a, "key", k), k).collect()[0]
    assert est.method == "kmv"
    assert abs(est.estimate / 50_000 - 1) < 4 / (k - 1) ** 0.5


def test_hll_estimate_p_mismatch_raises(spark):
    """Estimating a higher-precision sketch under a lower p must fail
    LOUDLY (round-5 advice): register ids don't line up, and without
    the guard n_regs > m silently mis-scales the estimate."""
    import pytest
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.bloom import hll_build, hll_estimate

    df = spark.range(1, 20_001).select(F.col("id").alias("key"))
    sk10 = hll_build(df, "key", p=10)
    with pytest.raises(Exception, match="registers > m"):
        hll_estimate(sk10, p=8).collect()
    # matched p still estimates fine
    row = hll_estimate(sk10, p=10).collect()[0]
    assert abs(row.estimate / 20_000 - 1) < 4 * (1.04 / (1024**0.5))


ivals = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 25)),
    min_size=1,
    max_size=30,
)


@given(iv=ivals)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_intervals_matches_reference_sweep(spark, iv):
    """Whole-table distributed merge == the sequential textbook sweep
    computed in plain Python on the same (start, start+len) intervals."""
    from dataframes_jl_spark.ops.intervals import merge_intervals

    rows = [(i, s, s + ln) for i, (s, ln) in enumerate(iv)]
    df = spark.createDataFrame(rows, "id long, s long, e long").repartition(5)
    got = sorted(
        (r.s, r.e, r.n)
        for r in merge_intervals(df, "s", "e", tiebreak=("id",)).collect()
    )
    # reference sweep: sort by (s, e, id), open a new span when s > max
    # end seen so far
    exp = []
    for _, s, e in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        if exp and s <= exp[-1][1]:
            exp[-1] = (exp[-1][0], max(exp[-1][1], e), exp[-1][2] + 1)
        else:
            exp.append((s, e, 1))
    assert got == sorted(exp)


hh_keys = st.lists(
    st.one_of(st.integers(0, 8), st.integers(0, 2000), st.none()),
    min_size=0,
    max_size=120,
)


@given(k=hh_keys, hk=st.integers(1, 12))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_heavy_hitters_matches_exact_counter(spark, k, hk):
    """heavy_hitters (Misra-Gries prefilter + exact verify) == the
    definitional Counter answer {x : count(x)*k > n} on random keys,
    independent of partitioning (the MG superset guarantee is what is
    really under test — the verify pass cannot add keys back)."""
    from collections import Counter

    from dataframes_jl_spark.ops.frequency import heavy_hitters

    df = spark.createDataFrame([(x,) for x in k], "k long").repartition(4)
    got = sorted((r.k, r.cnt) for r in heavy_hitters(df, "k", hk).collect())
    c = Counter(x for x in k if x is not None)
    n = sum(c.values())
    exp = sorted((key, cnt) for key, cnt in c.items() if cnt * hk > n)
    assert got == exp


def test_mad_outliers_matches_numpy(spark):
    """Per-group modified z-scores agree with a numpy reference (exact
    medians, 0.6745*|x-med|/MAD > 3.5), incl. a zero-MAD group (no
    ANSI divide raise, zero flags) and NULL values (NULL score)."""
    import numpy as np

    from dataframes_jl_spark.functions.stats import mad_outliers

    rng = np.random.default_rng(11)
    rows = (
        [("g1", float(v)) for v in rng.normal(0, 1, 301)]
        + [("g1", 25.0), ("g1", -30.0)]
        + [("g2", 7.0)] * 9          # zero-MAD group
        + [("g2", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "v", "g").collect()
    v = np.array([r[1] for r in rows if r[0] == "g1"])
    med = np.median(v)
    mad = np.median(np.abs(v - med))
    exp_flags = int((0.6745 * np.abs(v - med) / mad > 3.5).sum())
    got_flags = sum(1 for r in out if r.g == "g1" and r.is_outlier)
    assert got_flags == exp_flags
    g2 = [r for r in out if r.g == "g2"]
    assert all(not r.is_outlier for r in g2)
    assert all(r.robust_z is None for r in g2)  # mad==0 -> try_divide NULL
    assert [r.mad for r in g2 if r.v is not None][0] == 0.0


texts = st.lists(
    st.one_of(st.text(alphabet="ab x", max_size=30), st.none()),
    min_size=1,
    max_size=15,
)


@given(t=texts, n=st.integers(1, 4), mc=st.integers(1, 3))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ngram_counts_matches_python_reference(spark, t, n, mc):
    """ngram_counts == a plain Python sliding-window count over the
    same whitespace tokenization, for arbitrary n and min_count."""
    from collections import Counter

    from dataframes_jl_spark.llm.text import ngram_counts

    df = spark.createDataFrame([(x,) for x in t], "text string").repartition(3)
    got = sorted((r.ngram, r.cnt) for r in ngram_counts(df, "text", n, mc).collect())
    c = Counter()
    for x in t:
        if x is None or not x.strip():
            continue
        toks = x.strip().split()
        for i in range(len(toks) - n + 1):
            c[" ".join(toks[i : i + n])] += 1
    exp = sorted((g, cnt) for g, cnt in c.items() if cnt >= mc)
    assert got == exp


qvals = st.lists(
    st.one_of(
        st.floats(-1e6, 1e6, allow_nan=False),
        st.sampled_from([7.0]),  # force pileups
    ),
    min_size=1,
    max_size=80,
)


@given(v=qvals, q=st.floats(0, 1))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_quantiles_matches_numpy(spark, v, q):
    """Iterative-histogram exact quantiles == numpy linear quantiles,
    with tiny buckets/limits so multi-round narrowing, the collect
    leaf, and the repeated-value (value,count) fallback all exercise."""
    import numpy as np

    from dataframes_jl_spark.ops.selection import exact_quantiles

    df = spark.createDataFrame([(float(x),) for x in v], "x double").repartition(3)
    got = exact_quantiles(df, "x", [q, 0.5], n_buckets=4,
                          collect_limit=3, max_rounds=6)
    exp = np.quantile(np.array(v), [q, 0.5], method="linear")
    assert got[0] == pytest.approx(float(exp[0]), rel=1e-12, abs=1e-12)
    assert got[1] == pytest.approx(float(exp[1]), rel=1e-12, abs=1e-12)


wq_rows = st.lists(
    st.tuples(
        st.one_of(st.floats(-1e6, 1e6, allow_nan=False), st.sampled_from([7.0])),
        st.integers(1, 9),
    ),
    min_size=1,
    max_size=60,
)


@given(rows=wq_rows, q=st.floats(0, 1))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_quantiles_matches_expansion(spark, rows, q):
    """Weighted selector == brute force over the weight-expanded
    multiset (value repeated w times, rank ceil(q*W)); tiny buckets
    force multi-round narrowing and the pileup fallback."""
    import math

    from dataframes_jl_spark.ops.selection import weighted_quantiles

    df = spark.createDataFrame(
        [(float(v), int(w)) for v, w in rows], "x double, w long"
    ).repartition(3)
    got = weighted_quantiles(df, "x", "w", [q, 0.5], n_buckets=4,
                             collect_limit=3, max_rounds=6)
    expanded = sorted(v for v, w in rows for _ in range(w))
    W = len(expanded)

    def ref(qq):
        return expanded[max(1, math.ceil(qq * W)) - 1]

    assert got[0] == ref(q) and got[1] == ref(0.5)


def test_weighted_quantiles_rejects_bad_weights(spark):
    from dataframes_jl_spark.ops.selection import weighted_quantiles

    for w in (0, -3):
        df = spark.createDataFrame([(1.0, w)], "x double, w long")
        with pytest.raises(ValueError, match="positive integers"):
            weighted_quantiles(df, "x", "w", [0.5])
    df = spark.createDataFrame([(1.0, 1.5)], "x double, w double")
    with pytest.raises(ValueError, match="positive integers"):
        weighted_quantiles(df, "x", "w", [0.5])
    df = spark.createDataFrame([(1.0, None)], "x double, w bigint")
    with pytest.raises(ValueError, match="positive integers"):
        weighted_quantiles(df, "x", "w", [0.5])


rs_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(0, 3600 * 48),          # offset seconds over 2 days
        st.floats(-100, 100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rs_rows)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_resample_matches_pandas(spark, rows):
    """resample(locf/linear/zero) == pandas resample('1h') with
    sum + ffill / time-interpolate / fillna(0) on random irregular
    per-key series (duplicate timestamps collapse into one bucket)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.resample import resample

    t0 = dt.datetime(2024, 3, 1)
    data = [(k, t0 + dt.timedelta(seconds=s), float(v)) for k, s, v in rows]
    df = spark.createDataFrame(data, "k string, ts timestamp, v double").repartition(3)

    pdf = pd.DataFrame(data, columns=["k", "ts", "v"])
    for fill in ("locf", "linear", "zero"):
        got = {
            (r.k, r.bucket): r.v
            for r in resample(df, "ts", 3600, {"v": F.sum("v")},
                              by="k", fill=fill).collect()
        }
        exp = {}
        for k, grp in pdf.groupby("k"):
            s = grp.set_index("ts")["v"].resample("1h").sum(min_count=1)
            if fill == "locf":
                s = s.ffill()
            elif fill == "zero":
                s = s.fillna(0.0)
            else:
                s = s.interpolate(method="time", limit_direction="forward")
            for ts, v in s.items():
                exp[(k, ts.to_pydatetime())] = None if pd.isna(v) else float(v)
        assert set(got) == set(exp), fill
        for key in exp:
            g, x = got[key], exp[key]
            if x is None:
                assert g is None, (fill, key)
            else:
                assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (fill, key)


def test_quantiles_with_infinities_stay_bounded(spark):
    """±inf inputs resolve arithmetically from the head job: the
    histogram refinement only sees the finite sub-range (an infinite
    min/max would degenerate every bucket width), equal-rank
    infinities return the infinity, and a cross-infinity interpolation
    is NaN (the IEEE lerp)."""
    import math

    from dataframes_jl_spark.ops.selection import (
        exact_quantiles,
        weighted_quantiles,
    )

    inf = float("inf")
    vals = [-inf, *(float(i) for i in range(20)), inf, inf]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(3)
    # tiny limits force real narrowing over the finite 0..19 range
    q0, q25, q50, q1 = exact_quantiles(
        df, "x", [0.0, 0.25, 0.5, 1.0], n_buckets=4, collect_limit=3,
        max_rounds=6,
    )
    assert q0 == -inf and q1 == inf
    # n=23: h = 22*0.25 = 5.5 -> ranks 6,7 -> finite 4.0/5.0 -> 4.5;
    # h = 11 -> rank 12 -> finite rank 11 -> 10.0
    assert q25 == 4.5 and q50 == 10.0

    # lerp across -inf/finite is NaN; equal-rank -inf returns -inf
    got = exact_quantiles(
        spark.createDataFrame([(-inf,), (0.0,), (1.0,)], "x double"),
        "x", [0.0, 0.25, 0.5, 1.0],
    )
    assert got[0] == -inf and math.isnan(got[1])
    assert got[2] == 0.0 and got[3] == 1.0

    wdf = spark.createDataFrame(
        [(-inf, 2), (5.0, 3), (inf, 1)], "x double, w long"
    )
    w = weighted_quantiles(wdf, "x", "w", [0.3, 0.5, 5 / 6, 0.9])
    assert w == [-inf, 5.0, 5.0, inf]


def test_heavy_hitters_bigint_keys_survive_sentinel(spark):
    """Round-6 advice (medium): the NULL sentinel row coerced int64
    summary keys to float64, silently rounding keys above 2^53 before
    Arrow converted back — corrupted candidates then missed the exact
    semi-join. Keys must round-trip bit-exactly."""
    from dataframes_jl_spark.ops.frequency import (
        heavy_hitters,
        mg_partition_summaries,
    )

    big = 2**62 + 1  # not representable in float64 (rounds to 2^62)
    rows = [(big,)] * 10 + [(2**62 + 3,)] * 2 + [(None,)] * 3
    df = spark.createDataFrame(rows, "k long").repartition(3)
    summ = {r.k for r in mg_partition_summaries(df, "k", 3).collect()}
    assert big in summ  # exact key survived the sentinel append
    got = {(r.k, r.cnt) for r in heavy_hitters(df, "k", 3).collect()}
    assert got == {(big, 10)}  # 10 * 3 > n=12, exactly keyed


def test_heavy_hitters_distributed_path_matches_and_skips_driver(
    spark, monkeypatch
):
    """Above collect_limit the candidate set must never round-trip the
    driver (round-6 verdict #3): plan construction with collect /
    createDataFrame booby-trapped, then both paths agree exactly."""
    from collections import Counter

    from pyspark.sql import DataFrame as SDF

    from dataframes_jl_spark.ops.frequency import heavy_hitters

    keys = [i % 7 for i in range(200)] + [3] * 150 + [None] * 5
    df = spark.createDataFrame([(x,) for x in keys], "k long").repartition(4)
    via_driver = sorted(
        (r.k, r.cnt, round(r.share, 12))
        for r in heavy_hitters(df, "k", 4).collect()
    )

    def boom(*_a, **_k):  # pragma: no cover - should never fire
        raise AssertionError("driver round-trip in distributed path")

    monkeypatch.setattr(SDF, "collect", boom)
    monkeypatch.setattr(spark, "createDataFrame", boom)
    lazy = heavy_hitters(df, "k", 4, collect_limit=0)
    monkeypatch.undo()
    distributed = sorted(
        (r.k, r.cnt, round(r.share, 12)) for r in lazy.collect()
    )
    assert distributed == via_driver
    c = Counter(x for x in keys if x is not None)
    n = sum(c.values())
    assert distributed == sorted(
        (key, cnt, round(cnt / n, 12)) for key, cnt in c.items() if cnt * 4 > n
    )


def test_mad_outliers_keeps_null_group_keys(spark):
    """Round-6 advice: plain equi-joins silently dropped rows whose
    group key is NULL; the stats joins are now null-safe, so NULL keys
    form their own scored group and no input row disappears."""
    from dataframes_jl_spark.functions.stats import mad_outliers

    rows = [
        (None, 1.0), (None, 1.2), (None, 1.4), (None, 100.0), (None, None),
        ("a", 2.0), ("a", 2.5),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "v", "g").collect()
    assert len(out) == len(rows)  # nothing dropped
    nullg = [r for r in out if r.g is None]
    assert len(nullg) == 5
    assert all(abs(r.med - 1.3) < 1e-9 for r in nullg)  # joined back null-safely
    nullv = [r for r in nullg if r.v is None]
    assert nullv[0].robust_z is None and nullv[0].is_outlier is False


def test_hll_guard_survives_estimate_only_projection(spark):
    """Round-6 advice: the p-mismatch assert rode only the `method`
    column, so selecting just `estimate` let column pruning delete the
    guard. It must fire for any projection that reads the estimate."""
    from dataframes_jl_spark.ops.bloom import hll_build, hll_estimate

    df = spark.range(1, 20_001).select(F.col("id").alias("key"))
    sk10 = hll_build(df, "key", p=10)
    with pytest.raises(Exception, match="registers > m"):
        hll_estimate(sk10, p=8).select("estimate").collect()


def test_kmv_overlap_releases_its_caches(spark):
    """Round-6 advice: kmv_overlap persisted both sketches and never
    unpersisted — repeated calls accumulated cache blocks. The result
    is now materialized eagerly and the caches dropped on return.

    Asserts a cache-entry DELTA, not global emptiness: the suite shares one
    session, and earlier tests legitimately leave caller-owned persisted
    blocks (with_running's boundary draw, global_row_number, merge_intervals).
    kmv_overlap must simply add NO net new entries."""
    from dataframes_jl_spark.ops.bloom import kmv_build, kmv_overlap

    jvm = spark._jvm
    cm = spark._jsparkSession.sharedState().cacheManager()

    def _n_cached():
        # CacheManager keeps an IndexedSeq of CachedData; size() is the
        # stable cross-version probe (isEmpty() is too coarse for a delta).
        return cm.cachedData().size()

    before = _n_cached()
    a = kmv_build(spark.range(0, 3000).select(F.col("id").alias("k")), "k", 64)
    b = kmv_build(spark.range(1500, 4500).select(F.col("id").alias("k")), "k", 64)
    row = kmv_overlap(a, b, 64).collect()[0]
    assert row.n_union_hashes == 64 and 0.0 < row.jaccard < 1.0
    after = _n_cached()
    assert after <= before, (
        f"kmv_overlap left {after - before} net new persisted blocks behind"
    )


@pytest.mark.parametrize("query", ["q_kaplan_meier", "q_hodges_lehmann"])
def test_builder_job_queries_are_partition_invariant(spark, query):
    """The two relational queries that run Spark jobs while building
    (with_running's eager carry collects, the persisted per-value
    tables) return the same rows under 1, 3 and 7 shuffle partitions,
    with AQE allowed to re-coalesce cached plans and without. This is
    the invariant the session's
    canChangeCachedPlanOutputPartitioning=true rests on."""
    import hashlib

    from conftest import SF_DIR_ORACLE

    from dataframes_jl_spark.queries import QUERIES

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    before = {k: spark.conf.get(k) for k in keys}
    hashes = {}
    try:
        for parts in (1, 3, 7):
            for recoalesce in ("true", "false"):
                spark.conf.set(keys[0], str(parts))
                spark.conf.set(keys[1], recoalesce)
                spark.catalog.clearCache()
                out = QUERIES[query](spark, SF_DIR_ORACLE).collect()
                digest = hashlib.sha256(repr(sorted(map(tuple, out))).encode())
                hashes[(parts, recoalesce)] = digest.hexdigest()
    finally:
        spark.catalog.clearCache()
        for k, v in before.items():
            spark.conf.set(k, v)
    assert len(set(hashes.values())) == 1, hashes
