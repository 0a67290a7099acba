"""Heavy-hitter sketch family (operators/sketch.py): exact baseline,
Misra-Gries guarantees (superset of exact, count bracketing, error
floor), exactness below k, empty-input robustness."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datamunging_spark.operators.sketch import (
    heavy_hitters,
    heavy_hitters_exact,
)


def _skewed(spark, n_heavy=5, heavy_count=400, n_tail=8000):
    """5 planted heavy keys (400 rows each) over a big distinct tail
    (1 row each): distinct keys >> any reasonable k."""
    heavy = [(f"heavy_{i}",) for i in range(n_heavy) for _ in range(heavy_count)]
    tail = [(f"tail_{j}",) for j in range(n_tail)]
    return spark.createDataFrame(heavy + tail, "value string").repartition(8)


def test_heavy_hitters_exact_basic(spark):
    df = _skewed(spark)
    n = 5 * 400 + 8000
    out = {r.value: r for r in heavy_hitters_exact(df, "value", 0.01).collect()}
    assert set(out) == {f"heavy_{i}" for i in range(5)}
    assert all(out[v]["count"] == 400 for v in out)
    assert all(abs(out[v]["share"] - 400 / n) < 1e-12 for v in out)


def test_heavy_hitters_sketch_supersets_exact_and_brackets_counts(spark):
    df = _skewed(spark)
    n = 5 * 400 + 8000
    min_share = 0.01  # threshold 100 rows; heavies are 400
    exact = {r.value for r in heavy_hitters_exact(df, "value", min_share).collect()}
    sk = heavy_hitters(df, "value", k=64, min_share=min_share)
    rows = {r.value: r for r in sk.collect()}
    # no false negatives: every exact heavy hitter survives the sketch
    assert exact <= set(rows)
    truth = {
        r.value: r.cnt
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for v, r in rows.items():
        assert r.count_lo <= truth[v] <= r.count_hi, v
        assert r.n_total == n
        # d_i <= n_i/(k+1) summed over 8 partitions
        assert r.max_err <= n / (64 + 1) * 8


def test_heavy_hitters_exact_below_k(spark):
    """Fewer distinct keys than k: zero decrements, counts exact."""
    df = spark.createDataFrame(
        [(f"v{i % 7}",) for i in range(700)], "value string"
    ).repartition(4)
    out = {r.value: r for r in heavy_hitters(df, "value", k=50).collect()}
    assert set(out) == {f"v{i}" for i in range(7)}
    for r in out.values():
        assert r.max_err == 0
        assert r.count_lo == r.count_hi == 100
        assert r.n_total == 700


def test_heavy_hitters_nulls_and_types(spark):
    """NULLs excluded from counting; non-string col stringified."""
    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (None,)], "value int"
    )
    out = {r.value: r.count_lo for r in heavy_hitters(df, "value", k=10).collect()}
    assert out == {"1": 2, "2": 1}
    ex = {r.value: r["count"] for r in heavy_hitters_exact(df, "value", 0.0).collect()}
    assert ex == {1: 2, 2: 1}


def test_heavy_hitters_empty_input(spark):
    df = spark.createDataFrame([], "value string")
    assert heavy_hitters(df, "value", k=10).count() == 0
    assert heavy_hitters_exact(df, "value", 0.01).count() == 0


def test_heavy_hitters_k_validation(spark):
    df = spark.createDataFrame([("a",)], "value string")
    with pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, "value", k=0)


def test_merge_hh_summaries_bounds_survive_the_fold(spark):
    """Mergeable-summaries property: folding two halves' summaries gives
    a report whose guarantees hold for the COMBINED data — superset of
    exact heavies, count bracketing — and the merged state is re-bounded
    to <= k data rows."""
    from datamunging_spark.operators.sketch import (
        hh_report,
        hh_summary,
        merge_hh_summaries,
    )

    df = _skewed(spark)
    n = 5 * 400 + 8000
    h1 = df.filter(F.crc32(F.col("value")) % 2 == 0)
    h2 = df.filter(F.crc32(F.col("value")) % 2 == 1)
    k = 64
    merged = merge_hh_summaries(
        hh_summary(h1, "value", k), hh_summary(h2, "value", k), k
    )
    assert merged.filter(F.col("meta").isNull()).count() <= k
    rep = {r.value: r for r in hh_report(merged, min_share=0.01).collect()}
    exact = {
        r.value for r in heavy_hitters_exact(df, "value", 0.01).collect()
    }
    assert exact <= set(rep)
    truth = {
        r.value: r.cnt
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for v, r in rep.items():
        assert r.count_lo <= truth[v] <= r.count_hi, v
        assert r.n_total == n


def test_merge_hh_summaries_none_seed_rebounds(spark):
    """b=None re-bounds a single summary to <= k data rows; the report
    still brackets the true counts."""
    from datamunging_spark.operators.sketch import (
        hh_report,
        hh_summary,
        merge_hh_summaries,
    )

    df = _skewed(spark)
    k = 32
    s = hh_summary(df, "value", k)  # union of 8 partition summaries > k
    rb = merge_hh_summaries(s, None, k)
    assert rb.filter(F.col("meta").isNull()).count() <= k
    truth = {
        r.value: r.cnt
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for r in hh_report(rb).collect():
        assert r.count_lo <= truth[r.value] <= r.count_hi


def test_merge_rebound_survives_all_ties(spark):
    """Boundary: every counter ties at the cutoff — the rebound may drop
    ALL data rows (each loses exactly its full count, charged to the
    error budget), and the guarantees must stay vacuously true: nothing
    whose true count exceeds the reported max_err may be missing."""
    from datamunging_spark.operators.sketch import (
        hh_report,
        hh_summary,
        merge_hh_summaries,
    )

    df = spark.createDataFrame(
        [(f"v{i}",) for i in range(100)], "value string"
    ).repartition(2)
    rb = merge_hh_summaries(hh_summary(df, "value", 10), None, 10)
    assert rb.filter(F.col("meta").isNull()).count() <= 10
    rep = hh_report(rb).collect()
    max_err = (
        rep[0].max_err
        if rep
        else rb.filter(F.col("meta") == "dec").first().cnt
    )
    for r in rep:  # brackets for whatever survived
        assert r.count_lo <= 1 <= r.count_hi
        assert r.n_total == 100
    # every true count is 1; none may be missing unless 1 <= max_err
    if max_err < 1:
        assert len(rep) == 100


def test_streaming_heavy_hitters_folds_and_replays(spark, tmp_path):
    """foreachBatch sketch maintenance: two micro-batch folds bracket
    the full-stream truth; a drain with a lost checkpoint no-ops on the
    already-applied batch (version tags); retention vacuums."""
    from datamunging_spark.operators.sketch import hh_report
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_heavy_hitters

    src = tmp_path / "hh_src"
    src.mkdir()
    b1 = [(f"heavy_{i % 3}",) for i in range(300)] + [
        (f"t1_{j}",) for j in range(500)
    ]
    b2 = [(f"heavy_{i % 3}",) for i in range(300)] + [
        (f"t2_{j}",) for j in range(500)
    ]
    spark.createDataFrame(b1, "value string").coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(b2, "value string").coalesce(1).write.parquet(
        str(src / "f2")
    )
    table = str(tmp_path / "hh_table")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return streaming_heavy_hitters(
            stream, "value", table, k=16, checkpoint_path=str(tmp_path / ckpt)
        )

    assert drain("hh_ckpt") == 2  # two micro-batches -> v1, v2
    rep = {
        r.value: r
        for r in hh_report(read_table_version(spark, table)).collect()
    }
    # true stream-so-far counts: heavy_i = 200 each, n = 1600
    for i in range(3):
        r = rep[f"heavy_{i}"]
        assert r.count_lo <= 200 <= r.count_hi
        assert r.n_total == 1600
    # lost checkpoint: both batches replay, tags no-op them (no double
    # counting -- n_total would be 3200 if a fold re-applied)
    assert drain("hh_ckpt2") == 2
    rep2 = {
        r.value: r
        for r in hh_report(read_table_version(spark, table)).collect()
    }
    assert rep2[f"heavy_0"].n_total == 1600


def test_heavy_hitters_summary_is_bounded(spark):
    """The shuffle-side summary is <= partitions x (k+2) rows regardless
    of the distinct-key count — the whole point of the sketch."""
    df = _skewed(spark)  # 8005 distinct keys over 8 partitions
    k = 16
    sk = heavy_hitters(df, "value", k=k)
    # every surviving counter row came from some partition's <=k counters
    assert sk.count() <= 8 * k

def test_top_k_exact_via_sketch_certified_equals_exact(spark):
    """The certified path provably equals the unbounded exact top-V:
    same values, same counts, same deterministic tie order."""
    from datamunging_spark.operators.sketch import top_k_exact_via_sketch

    df = _skewed(spark)
    got = top_k_exact_via_sketch(df, "value", top_n=5, k=64).collect()
    assert all(r.certified_exact for r in got)
    truth = (
        df.groupBy("value")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(5)
        .collect()
    )
    assert [(r.value, r["count"]) for r in got] == [
        (r.value, r["count"]) for r in truth
    ]


def test_top_k_exact_via_sketch_uncertified_when_k_too_small(spark):
    """k far below the tail weight: the certificate must fail closed
    (counts of whatever survived are still exact)."""
    from datamunging_spark.operators.sketch import top_k_exact_via_sketch

    df = _skewed(spark, n_heavy=2, heavy_count=30, n_tail=8000)
    got = top_k_exact_via_sketch(df, "value", top_n=5, k=4).collect()
    assert got and not any(r.certified_exact for r in got)
    truth = {
        r.value: r.cnt
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for r in got:  # exact recount even without the certificate
        assert truth[r.value] == r["count"]


def test_top_k_exact_via_sketch_zero_err_short_result(spark):
    """Fewer distinct keys than top_n with max_err == 0: the candidate
    set is the complete key space, so the short result certifies."""
    from datamunging_spark.operators.sketch import top_k_exact_via_sketch

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "value string"
    )
    got = top_k_exact_via_sketch(df, "value", top_n=10, k=50).collect()
    assert [(r.value, r["count"]) for r in got] == [("a", 5), ("b", 3), ("c", 1)]
    assert all(r.certified_exact and r.max_err == 0 for r in got)


def test_build_vocab_sketch_path_matches_exact(spark):
    """build_vocab(sketch_k=...) certifies and reproduces the default
    exact vocabulary — same words, counts, ranks, tie order."""
    from datamunging_spark.operators.text import build_vocab

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick red fox runs past the sleeping dog"),
            (3, "a slow green turtle watches the quick fox go by"),
            (4, "dogs and foxes and turtles all watch the quick fox"),
        ],
        ["doc_id", "text"],
    ).repartition(3)
    exact = build_vocab(docs, vocab_size=8).collect()
    sk = build_vocab(docs, vocab_size=8, sketch_k=64).collect()
    assert all(r.certified_exact for r in sk)
    assert [(r.word, r.cnt, r.rank) for r in sk] == [
        (r.word, r.cnt, r.rank) for r in exact
    ]


def test_distinct_sketch_estimates_within_hll_error(spark):
    """Per-key HLL estimates land within the lgk=12 error band (~1.6%
    at 1 sigma; assert 5% for slack) of exact distinct counts."""
    from datamunging_spark.operators.sketch import (
        distinct_estimate,
        distinct_sketch,
    )

    rows = [("dom_a", f"u{i}") for i in range(5000)] + [
        ("dom_b", f"u{i % 300}") for i in range(2000)
    ] + [("dom_c", None)] * 10
    df = spark.createDataFrame(rows, "k string, v string").repartition(8)
    est = {
        r.k: r.distinct_est
        for r in distinct_estimate(
            distinct_sketch(df, ["k"], "v"), ["k"]
        ).collect()
    }
    assert abs(est["dom_a"] - 5000) / 5000 < 0.05
    assert abs(est["dom_b"] - 300) / 300 < 0.05
    assert est["dom_c"] == 0  # NULL values ignored, key group kept


def test_merge_distinct_sketches_equals_one_shot(spark):
    """DataSketches merge guarantee: union(sketch(A), sketch(B)) gives
    the SAME estimate as sketch(A ∪ B) — so incremental folds lose
    nothing vs a full recompute. Keys on one side only pass through;
    NULL key groups merge with themselves."""
    from datamunging_spark.operators.sketch import (
        distinct_estimate,
        distinct_sketch,
        merge_distinct_sketches,
    )

    rows = [(k, f"u{i % m}") for k, m, n in
            [("a", 400, 1000), ("b", 50, 200), (None, 70, 100)]
            for i in range(n)]
    a_rows, b_rows = rows[::2], rows[1::2]
    b_rows += [("only_b", f"x{i}") for i in range(150)]
    full = spark.createDataFrame(
        a_rows + b_rows, "k string, v string"
    )
    a = distinct_sketch(spark.createDataFrame(a_rows, "k string, v string"), ["k"], "v")
    b = distinct_sketch(spark.createDataFrame(b_rows, "k string, v string"), ["k"], "v")
    merged = merge_distinct_sketches(a, b, ["k"])
    got = {
        r.k: r.distinct_est
        for r in distinct_estimate(merged, ["k"]).collect()
    }
    want = {
        r.k: r.distinct_est
        for r in distinct_estimate(
            distinct_sketch(full, ["k"], "v"), ["k"]
        ).collect()
    }
    assert got == want  # estimate-identical, not merely close
    assert merge_distinct_sketches(a, None, ["k"]) is a  # first-batch seed


@pytest.mark.slow
def test_streaming_distinct_counts_folds_and_replays(spark, tmp_path):
    """foreachBatch HLL maintenance: two micro-batch folds estimate the
    whole-stream distincts; a lost-checkpoint replay RE-FOLDS (the
    idempotent-union semantics — estimates unchanged); and new files
    landing before the re-drain ARE folded even when the fresh query
    packs them into a low batch id — the data-loss window a
    skip-applied tag check would open."""
    from datamunging_spark.operators.sketch import distinct_estimate
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_distinct_counts

    src = tmp_path / "dc_src"
    src.mkdir()
    b1 = [("dom", f"u{i}") for i in range(400)]
    b2 = [("dom", f"u{i}") for i in range(200, 600)]  # 200 overlap
    spark.createDataFrame(b1, "k string, v string").coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(b2, "k string, v string").coalesce(1).write.parquet(
        str(src / "f2")
    )
    table = str(tmp_path / "dc_table")

    def drain(ckpt, max_files=1):
        stream = (
            spark.readStream.schema("k string, v string")
            .option("maxFilesPerTrigger", max_files)
            .parquet(str(src) + "/*")
        )
        return streaming_distinct_counts(
            stream, ["k"], "v", table,
            checkpoint_path=str(tmp_path / ckpt),
        )

    assert drain("dc_ckpt") == 2
    state = read_table_version(spark, table)
    assert state.count() == 1  # one sketch row per key
    est = distinct_estimate(state, ["k"]).first().distinct_est
    assert abs(est - 600) / 600 < 0.05  # true whole-stream distinct = 600
    # checkpoint lost AND a new file lands; the fresh query packs ALL
    # files into batch 0 (max_files=10) — with a tag-based skip, batch 0
    # "already applied" would silently drop f3's 200 new visitors; the
    # idempotent re-fold counts them and re-union keeps old ones stable
    b3 = [("dom", f"u{i}") for i in range(600, 800)]
    spark.createDataFrame(b3, "k string, v string").coalesce(1).write.parquet(
        str(src / "f3")
    )
    assert drain("dc_ckpt2", max_files=10) == 3  # one re-folded version
    est2 = distinct_estimate(
        read_table_version(spark, table), ["k"]
    ).first().distinct_est
    assert abs(est2 - 800) / 800 < 0.05  # new visitors NOT lost


def test_hot_keys_sketch_superset_and_equal_at_large_k(spark):
    """hot_keys_sketch at k >= distinct keys is error-free, so its hot
    set EQUALS the exact row-count valve's; at tiny k the decrement
    slack can only ADD keys (over-drop), never miss one hotter than
    threshold + n/(k+1) — the conservative direction the valves need."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.sketch import hot_keys_sketch

    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 600, F.lit("hot"))
        .when(F.col("id") < 700, F.lit("warm"))
        .otherwise(F.concat(F.lit("cold"), F.col("id")))
        .alias("k")
    )
    exact = {
        r["k"]
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 50)
        .collect()
    }
    assert exact == {"hot", "warm"}
    big_k = {r["k"] for r in hot_keys_sketch(df, "k", 50, k=4096).collect()}
    assert big_k == exact
    # tiny k: n/(k+1) slack inflates count_hi -> superset, and the
    # truly hot key (600 > 50 + 1000/9) is always present
    small = {r["k"] for r in hot_keys_sketch(df, "k", 50, k=8).collect()}
    assert small >= {"hot"}
    assert exact <= small or "warm" in small  # never misses above floor


def test_ngram_sketch_valve_matches_exact(spark):
    """ngram_jaccard_pairs(valve='sketch') at error-free k yields the
    same pairs as the exact valve (grams are distinct per doc, so rows
    == df and the two detectors agree exactly)."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import ngram_jaccard_pairs

    docs = [(i, "the common boilerplate gram run appears everywhere here")
            for i in range(12)]
    docs += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta iota kappa")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    kw = dict(n=3, threshold=0.2, max_gram_df=4)
    key = ["id_a", "id_b"]
    exact = ngram_jaccard_pairs(df, df, valve="exact", **kw)
    sk = ngram_jaccard_pairs(df, df, valve="sketch", valve_k=1 << 16, **kw)
    ex = sorted(map(tuple, exact.select(key).collect()))
    sv = sorted(map(tuple, sk.select(key).collect()))
    assert ex == sv
    assert (100, 101) in {(a, b) for a, b in sv} | {
        (b, a) for a, b in sv
    }  # the df=2 genuine pair survives the valve in both modes


# ---------------------------------------------------------------------------
# Quantile summaries (Spark's built-in KLL sketch)
# ---------------------------------------------------------------------------


def _kll_err(n, k):
    """DataSketches' single-query KLL rank error at 99% confidence, in
    ranks: 0 while the sketch is exact (n <= k), else ceil(eps(k)*n)."""
    return 0 if n <= k else math.ceil(2.296 / k**0.9723 * n)


def _assert_quantile_row(values, r, k):
    """Check one report row against numpy exact ranks of ``values`` (the
    non-NULL, non-NaN inputs): n and the rank target are exact, the
    budget is eps(k)*n (never wider), and the answer sits in the
    tie-aware bracket count(x < v) - err < rank_target <= count(x <= v)
    + err — the exact nearest-rank check when err is 0."""
    sv = np.sort(np.asarray(values, dtype="float64"))
    n = len(sv)
    assert r.n_total == n
    assert r.rank_target == max(1, math.ceil(round(r.q * n, 8)))
    assert r.max_rank_err == _kll_err(n, k)
    lt = int(np.searchsorted(sv, r.value, "left"))
    le = int(np.searchsorted(sv, r.value, "right"))
    err = r.max_rank_err
    assert lt - err < r.rank_target <= le + err, (r.q, r.value, lt, le, err)


def test_quantile_sketch_exact_below_k(spark):
    """n <= k: nothing is ever compacted, even across partial sketches
    merged from several partitions, so the budget is zero and every
    probe returns the exact nearest-rank quantile (ties included)."""
    from datamunging_spark.operators.sketch import quantiles_sketch

    vals = [float(x) for x in [7, 1, 9, 3, 3, 5, 2, 8, 4, 6]]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(3)
    qs = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
    out = {r.q: r for r in quantiles_sketch(df, "x", qs, k=64).collect()}
    assert sorted(out) == qs
    s = sorted(vals)
    for q in qs:
        r = out[q]
        assert r.max_rank_err == 0
        target = max(1, math.ceil(q * 10))
        assert r.rank_target == target
        assert r.value == s[target - 1], q
    # the boundary: exactly k values over 4 partitions is still exact
    k = 64
    edge = [float((i * 37) % k) for i in range(k)]
    df = spark.createDataFrame([(v,) for v in edge], "x double").repartition(4)
    for r in quantiles_sketch(df, "x", [0.07, 0.5, 0.93], k=k).collect():
        assert r.max_rank_err == 0
        _assert_quantile_row(edge, r, k)


def test_quantile_summary_mass_is_conserved(spark):
    """The summary is one (sketch, k) row whose total weight n is the
    exact non-NULL count — partial sketches merged across partitions
    never lose or double mass."""
    from datamunging_spark.operators.sketch import quantile_summary

    df = spark.range(0, 5000).select(
        (F.col("id") % 997).cast("double").alias("x")
    ).repartition(8)
    s = quantile_summary(df, "x", k=32)
    assert [f.name for f in s.schema.fields] == ["sketch", "k"]
    rows = s.select(
        F.kll_sketch_get_n_double("sketch").alias("n"), "k"
    ).collect()
    assert [(r.n, r.k) for r in rows] == [(5000, 32)]


def test_quantile_sketch_rank_bracket_holds(spark):
    """Adversarially lumpy data (two dense tie clusters and a sparse
    tail) far above k: every answer sits in the tie-aware bracket of
    the exact ranks within eps(k)*n."""
    from datamunging_spark.operators.sketch import quantiles_sketch

    vals = (
        [float(i % 50) for i in range(4000)]
        + [1000.0 + (i % 25) for i in range(4000)]
        + [1e6 + i for i in range(500)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    k = 64
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    rows = quantiles_sketch(df, "x", qs, k=k).collect()
    assert sorted(r.q for r in rows) == qs
    for r in rows:
        assert r.max_rank_err > 0
        _assert_quantile_row(vals, r, k)


def test_merge_quantile_summaries_budget_covers_union(spark):
    """sketch(A) merged with sketch(B): n adds (n = nA + nB), the
    merged report answers for A UNION B, and the merged state carries
    the smaller k (its bound is the smaller k's)."""
    from datamunging_spark.operators.sketch import (
        merge_quantile_summaries,
        quantile_report,
        quantile_summary,
    )

    a_vals = [float(i % 100) for i in range(3000)]
    b_vals = [500.0 + (i % 100) for i in range(2000)]
    a = spark.createDataFrame([(v,) for v in a_vals], "x double").repartition(4)
    b = spark.createDataFrame([(v,) for v in b_vals], "x double").repartition(4)
    merged = merge_quantile_summaries(
        quantile_summary(a, "x", k=32), quantile_summary(b, "x", k=64)
    )
    assert merged.select("k").collect()[0].k == 32
    union = a_vals + b_vals
    rows = quantile_report(merged, [0.1, 0.5, 0.6, 0.9]).collect()
    for r in rows:
        _assert_quantile_row(union, r, 32)
    # b=None is the first-batch seed: the summary itself
    seed = quantile_summary(a, "x", k=32)
    assert merge_quantile_summaries(seed, None) is seed


def test_quantile_sketch_nulls_empty_and_validation(spark):
    from datamunging_spark.operators.sketch import (
        grouped_quantile_summary,
        quantile_report,
        quantile_summary,
        quantiles_sketch,
    )

    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (float("nan"),), (None,), (2.0,)],
        "x double",
    )
    out = {r.q: r for r in quantiles_sketch(df, "x", [0.5, 1.0], k=16).collect()}
    assert out[0.5].n_total == 3  # NULL and NaN excluded from n
    assert out[0.5].value == 2.0
    assert out[1.0].value == 3.0

    # empty and all-NULL inputs report every q with a NULL value
    empty = spark.createDataFrame([], "x double")
    nulls = spark.createDataFrame([(None,), (float("nan"),)], "x double")
    for frame in (empty, nulls):
        rows = quantiles_sketch(frame, "x", [0.0, 0.5, 1.0], k=16).collect()
        assert sorted(r.q for r in rows) == [0.0, 0.5, 1.0]
        for r in rows:
            assert r.value is None
            assert r.n_total == 0
            assert r.max_rank_err == 0

    # bad k or q raises ValueError before any Spark job runs
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    s = quantile_summary(df, "x", k=16)
    bad_calls = [
        lambda: quantile_summary(df, "x", k=1),
        lambda: quantile_summary(df, "x", k=7),
        lambda: quantile_summary(df, "x", k=65536),
        lambda: quantiles_sketch(df, "x", [0.5], k=7),
        lambda: grouped_quantile_summary(
            df.withColumn("g", F.lit("a")), ["g"], "x", k=65536
        ),
        lambda: quantile_report(s, [1.5]),
        lambda: quantile_report(s, [-0.1]),
        lambda: quantile_report(s, []),
    ]
    for call in bad_calls:
        with pytest.raises(ValueError):
            call()
    assert set(tracker.getJobIdsForGroup(None)) == before
    # both ends of KLL's k range are accepted
    for k in (8, 65535):
        r = quantiles_sketch(df, "x", [0.5], k=k).collect()[0]
        assert (r.value, r.n_total, r.max_rank_err) == (2.0, 3, 0)


@pytest.mark.slow
def test_streaming_quantiles_folds_and_replays(spark, tmp_path):
    """foreachBatch quantile maintenance: two micro-batch folds answer
    for the full stream within the bracket; a lost checkpoint replay
    no-ops (batch tags — the fold double-counts if re-applied)."""
    from datamunging_spark.operators.sketch import quantile_report
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_quantiles

    src = tmp_path / "q_src"
    src.mkdir()
    b1 = [(float(i),) for i in range(1000)]
    b2 = [(float(1000 + i),) for i in range(1000)]
    spark.createDataFrame(b1, "x double").coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(b2, "x double").coalesce(1).write.parquet(
        str(src / "f2")
    )
    table = str(tmp_path / "q_table")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return streaming_quantiles(
            stream, "x", table, k=64, checkpoint_path=str(tmp_path / ckpt)
        )

    assert drain("q_ckpt") == 2
    union = [v for v, in b1] + [v for v, in b2]
    rows = quantile_report(
        read_table_version(spark, table), [0.25, 0.5, 0.75]
    ).collect()
    assert len(rows) == 3
    for r in rows:
        _assert_quantile_row(union, r, 64)
    # lost checkpoint: replays no-op (n_total would double otherwise)
    assert drain("q_ckpt2") == 2
    rows2 = quantile_report(read_table_version(spark, table), [0.5]).collect()
    assert rows2[0].n_total == 2000
    with pytest.raises(ValueError):
        streaming_quantiles(None, "x", table, k=4)


def test_grouped_quantile_sketch_exact_below_k(spark):
    """Two key groups with disjoint distributions, n <= k each: zero
    budget and exact per-key nearest-rank quantiles."""
    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
    )

    rows = [("a", float(v)) for v in range(100)] + [
        ("b", 1000.0 + v) for v in range(50)
    ]
    df = spark.createDataFrame(rows, "src string, x double").repartition(3)
    s = grouped_quantile_summary(df, ["src"], "x", k=256)
    out = {
        (r.src, r.q): r
        for r in grouped_quantile_report(s, ["src"], [0.5, 1.0]).collect()
    }
    assert out[("a", 0.5)].value == 49.0
    assert out[("a", 1.0)].value == 99.0
    assert out[("b", 0.5)].value == 1024.0
    assert out[("b", 1.0)].value == 1049.0
    for r in out.values():
        assert r.max_rank_err == 0
        assert r.n_total == (100 if r.src == "a" else 50)


def test_grouped_quantile_bracket_and_mass_per_key(spark):
    """Per-key guarantees on multi-partition data far above k: n is the
    exact per-key count, one summary row per key, and every answer sits
    in that key's tie-aware bracket within eps(k)*n_key."""
    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
    )

    rows = [("a", float(i % 500)) for i in range(6000)] + [
        ("b", float(2000 + i % 100)) for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "src string, x double").repartition(8)
    s = grouped_quantile_summary(df, ["src"], "x", k=32)
    assert [f.name for f in s.schema.fields] == ["src", "sketch", "k"]
    n_key = {
        r.src: r.n
        for r in s.select(
            "src", F.kll_sketch_get_n_double("sketch").alias("n")
        ).collect()
    }
    assert n_key == {"a": 6000, "b": 3000}
    truth = {"a": [float(i % 500) for i in range(6000)],
             "b": [float(2000 + i % 100) for i in range(3000)]}
    rep = grouped_quantile_report(s, ["src"], [0.25, 0.5, 0.9]).collect()
    assert len(rep) == 6
    for r in rep:
        _assert_quantile_row(truth[r.src], r, 32)


def test_merge_grouped_quantile_summaries_outer_on_keys(spark):
    """A key on one side passes through; a shared key's sketches merge
    and the merged answer covers the union."""
    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
        merge_grouped_quantile_summaries,
    )

    a = spark.createDataFrame(
        [("shared", float(i % 100)) for i in range(2000)]
        + [("only_a", float(i)) for i in range(300)],
        "src string, x double",
    ).repartition(4)
    b = spark.createDataFrame(
        [("shared", 500.0 + i % 100) for i in range(1000)],
        "src string, x double",
    ).repartition(4)
    m = merge_grouped_quantile_summaries(
        grouped_quantile_summary(a, ["src"], "x", k=32),
        grouped_quantile_summary(b, ["src"], "x", k=32),
        ["src"],
    )
    rep = {
        (r.src, r.q): r
        for r in grouped_quantile_report(m, ["src"], [0.5]).collect()
    }
    assert set(rep) == {("only_a", 0.5), ("shared", 0.5)}
    _assert_quantile_row([float(i) for i in range(300)], rep[("only_a", 0.5)], 32)
    union = [float(i % 100) for i in range(2000)] + [
        500.0 + i % 100 for i in range(1000)
    ]
    _assert_quantile_row(union, rep[("shared", 0.5)], 32)


def test_grouped_quantile_null_key_group_and_validation(spark):
    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
    )

    df = spark.createDataFrame(
        [("a", 1.0), (None, 10.0), (None, 20.0), ("a", 3.0),
         ("c", None), ("c", float("nan"))],
        "src string, x double",
    )
    s = grouped_quantile_summary(df, ["src"], "x", k=16)
    out = {
        (r.src, r.q): r
        for r in grouped_quantile_report(s, ["src"], [1.0]).collect()
    }
    assert out[(None, 1.0)].value == 20.0  # NULL key is a real group
    assert out[(None, 1.0)].n_total == 2
    assert out[("a", 1.0)].value == 3.0
    # a group with no countable value still reports, with a NULL value
    c = out[("c", 1.0)]
    assert (c.value, c.n_total, c.max_rank_err) == (None, 0, 0)
    with pytest.raises(ValueError):
        grouped_quantile_summary(df, [], "x")
    with pytest.raises(ValueError):
        grouped_quantile_report(s, ["src"], [])


@pytest.mark.slow
def test_streaming_grouped_quantiles_folds(spark, tmp_path):
    """keys= switches the streaming fold to the per-key profile; two
    folds answer for the per-key stream within the bracket and replays
    no-op."""
    from datamunging_spark.operators.sketch import grouped_quantile_report
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_quantiles

    src = tmp_path / "gq_src"
    src.mkdir()
    b1 = [("a", float(i)) for i in range(400)] + [
        ("b", 1000.0 + i) for i in range(200)
    ]
    b2 = [("a", 400.0 + i) for i in range(400)]
    for n, rows in (("f1", b1), ("f2", b2)):
        spark.createDataFrame(rows, "src string, x double").coalesce(
            1
        ).write.parquet(str(src / n))
    table = str(tmp_path / "gq_table")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("src string, x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return streaming_quantiles(
            stream, "x", table, k=64, keys=["src"],
            checkpoint_path=str(tmp_path / ckpt),
        )

    assert drain("gq_ckpt") == 2
    rep = {
        (r.src, r.q): r
        for r in grouped_quantile_report(
            read_table_version(spark, table), ["src"], [0.5]
        ).collect()
    }
    truth_a = [float(i) for i in range(400)] + [400.0 + i for i in range(400)]
    _assert_quantile_row(truth_a, rep[("a", 0.5)], 64)  # both batches
    _assert_quantile_row([1000.0 + i for i in range(200)], rep[("b", 0.5)], 64)
    # lost checkpoint: replays no-op (n would double otherwise)
    assert drain("gq_ckpt2") == 2
    rep2 = grouped_quantile_report(
        read_table_version(spark, table), ["src"], [0.5]
    ).collect()
    assert {r.src: r.n_total for r in rep2} == {"a": 800, "b": 200}


def test_grouped_quantile_reserved_key_names_fail_fast(spark):
    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
        merge_grouped_quantile_summaries,
    )

    df = spark.createDataFrame(
        [(1.0, "a")], "value double, src string"
    )
    with pytest.raises(ValueError, match="reserved"):
        grouped_quantile_summary(df, ["value"], "value")
    s = grouped_quantile_summary(
        df.withColumnRenamed("value", "x"), ["src"], "x", k=16
    )
    with pytest.raises(ValueError, match="reserved"):
        grouped_quantile_summary(s, ["sketch"], "k")
    with pytest.raises(ValueError, match="non-empty"):
        merge_grouped_quantile_summaries(s, None, [])
    with pytest.raises(ValueError, match="non-empty"):
        grouped_quantile_report(s, [], [0.5])
    with pytest.raises(ValueError, match="reserved"):
        grouped_quantile_report(s, ["q"], [0.5])


def test_grouped_heavy_hitters_exact_below_k_per_key(spark):
    """Per-key MG: few distinct values per key and k large — zero
    budget per key, exact per-key counts, NULL key is a real group."""
    from datamunging_spark.operators.sketch import grouped_heavy_hitters

    rows = (
        [("en", "the")] * 30 + [("en", "of")] * 10
        + [("fr", "le")] * 20 + [(None, "na")] * 5
    )
    df = spark.createDataFrame(rows, "lang string, word string").repartition(4)
    out = {
        (r.lang, r.value): r
        for r in grouped_heavy_hitters(df, ["lang"], "word", k=16).collect()
    }
    assert out[("en", "the")].count_lo == out[("en", "the")].count_hi == 30
    assert out[("en", "the")].n_total == 40
    assert out[("fr", "le")].count_lo == 20
    assert out[("fr", "le")].n_total == 20
    assert out[(None, "na")].count_lo == 5  # NULL key group survives
    assert all(r.max_err == 0 for r in out.values())


def test_grouped_heavy_hitters_brackets_and_per_key_floor(spark):
    """Planted per-key heavies over per-key distinct tails: every key's
    heavy survives (no false negatives above ITS key's floor), brackets
    hold against per-key truth, and the per-key re-bound caps data rows
    at k per key."""
    from datamunging_spark.operators.sketch import (
        grouped_heavy_hitters,
        grouped_hh_summary,
        merge_grouped_hh_summaries,
    )

    rows = []
    for lang, tail in (("en", 900), ("fr", 400)):
        rows += [(lang, f"{lang}_heavy")] * 100
        rows += [(lang, f"{lang}_t{j}") for j in range(tail)]
    df = spark.createDataFrame(rows, "lang string, word string").repartition(8)
    out = grouped_heavy_hitters(df, ["lang"], "word", k=32).collect()
    truth = {}
    for lang, tail in (("en", 900), ("fr", 400)):
        truth[(lang, f"{lang}_heavy")] = 100
        for j in range(tail):
            truth[(lang, f"{lang}_t{j}")] = 1
    found = {(r.lang, r.value) for r in out}
    assert ("en", "en_heavy") in found and ("fr", "fr_heavy") in found
    for r in out:
        assert r.count_lo <= truth[(r.lang, r.value)] <= r.count_hi
        assert r.n_total == (1000 if r.lang == "en" else 500)
    s = merge_grouped_hh_summaries(
        grouped_hh_summary(df, ["lang"], "word", k=32), None, ["lang"], k=32
    )
    per_key = (
        s.filter(F.col("meta").isNull())
        .groupBy("lang")
        .count()
        .collect()
    )
    assert all(r["count"] <= 32 for r in per_key)


def test_merge_grouped_hh_outer_on_keys_and_combined_bracket(spark):
    """A key on one side passes through; shared keys' counters and
    budgets fold and the combined-stream bracket holds per key."""
    from datamunging_spark.operators.sketch import (
        grouped_hh_report,
        grouped_hh_summary,
        merge_grouped_hh_summaries,
    )

    a = spark.createDataFrame(
        [("en", "x")] * 50 + [("en", f"a{j}") for j in range(200)]
        + [("de", "nur")] * 7,
        "lang string, word string",
    ).repartition(4)
    b = spark.createDataFrame(
        [("en", "x")] * 30 + [("en", f"b{j}") for j in range(100)],
        "lang string, word string",
    ).repartition(4)
    m = merge_grouped_hh_summaries(
        grouped_hh_summary(a, ["lang"], "word", k=16),
        grouped_hh_summary(b, ["lang"], "word", k=16),
        ["lang"],
        k=16,
    )
    rep = {
        (r.lang, r.value): r
        for r in grouped_hh_report(m, ["lang"]).collect()
    }
    de = rep[("de", "nur")]
    assert de.count_lo <= 7 <= de.count_hi and de.n_total == 7
    en = rep[("en", "x")]
    assert en.count_lo <= 80 <= en.count_hi  # combined-stream truth
    assert en.n_total == 380


@pytest.mark.slow
def test_streaming_grouped_heavy_hitters_folds(spark, tmp_path):
    """keys= switches the streaming HH fold to the per-key profile;
    two folds bracket per-key stream truth and replays no-op."""
    from datamunging_spark.operators.sketch import grouped_hh_report
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_heavy_hitters

    src = tmp_path / "ghh_src"
    src.mkdir()
    b1 = [("en", "the")] * 40 + [("en", f"t1_{j}") for j in range(50)] + [
        ("fr", "le")
    ] * 20
    b2 = [("en", "the")] * 40 + [("fr", "le")] * 20
    for n, rows in (("f1", b1), ("f2", b2)):
        spark.createDataFrame(rows, "lang string, word string").coalesce(
            1
        ).write.parquet(str(src / n))
    table = str(tmp_path / "ghh_table")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("lang string, word string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return streaming_heavy_hitters(
            stream, "word", table, k=16, keys=["lang"],
            checkpoint_path=str(tmp_path / ckpt),
        )

    assert drain("ghh_ckpt") == 2
    rep = {
        (r.lang, r.value): r
        for r in grouped_hh_report(
            read_table_version(spark, table), ["lang"]
        ).collect()
    }
    en = rep[("en", "the")]
    assert en.count_lo <= 80 <= en.count_hi
    assert en.n_total == 130
    fr = rep[("fr", "le")]
    assert fr.count_lo <= 40 <= fr.count_hi
    assert fr.n_total == 40
    # lost checkpoint: replays no-op (per-key n would double otherwise)
    assert drain("ghh_ckpt2") == 2
    rep2 = grouped_hh_report(
        read_table_version(spark, table), ["lang"]
    ).collect()
    assert {r.lang: r.n_total for r in rep2}["en"] == 130


def test_grouped_passes_consolidate_na_key_across_batches():
    """pandas groupby(dropna=False) hands back a FRESH nan object as the
    NA group label on every call; without normalization the keyed Arrow
    passes would grow one separate state per BATCH for the NULL key
    (O(batches x k) memory — the bound the sketch exists to prevent).
    Drive the pass function directly with multiple fake batches and
    require exactly ONE consolidated state per key."""
    import pandas as pd

    from datamunging_spark.operators.sketch import (
        _META_N,
        _mg_partition,
    )

    b1 = pd.DataFrame({"src": [None, None, "a"], "value": ["x", "y", "z"]})
    b2 = pd.DataFrame({"src": [None, "a"], "value": ["x", "z"]})
    out = pd.concat(
        list(_mg_partition(["src"], 8)(iter([b1, b2]))),
        ignore_index=True,
    )
    n_rows = out[out["meta"] == _META_N]
    # one 'n' meta row per key — TWO would mean the NULL key split
    assert len(n_rows) == 2
    null_n = n_rows[n_rows["src"].isna()]["cnt"].tolist()
    assert null_n == [3]  # both batches' NULL-key rows in one state


def test_grouped_faces_reject_float_double_keys(spark):
    """A float/double grouping key can carry NaN, which the heavy-hitter
    build's pandas pass (_norm_key) would fold into the NULL group —
    diverging from Spark groupBy (NaN is its own group). That build
    fails fast; the cast to a discrete type is the caller's explicit
    choice. The quantile faces and the heavy-hitter merge and report
    group with Spark alone, so they take such keys and keep a NaN key
    and a NULL key as separate groups with exact counts."""
    from datamunging_spark.operators.sketch import (
        grouped_hh_report,
        grouped_hh_summary,
        grouped_quantile_report,
        grouped_quantile_summary,
        merge_grouped_hh_summaries,
        merge_grouped_quantile_summaries,
    )

    df = spark.createDataFrame(
        [(1.5, "x", 1.0), (float("nan"), "y", 2.0), (None, "y", 3.0)],
        "fkey double, skey string, v double",
    )
    for face in (
        lambda: grouped_hh_summary(df, ["fkey"], "skey", k=4),
        # mixed key list: the float member alone must trip it
        lambda: grouped_hh_summary(df, ["skey", "fkey"], "v", k=4),
    ):
        with pytest.raises(ValueError, match="float/double grouping"):
            face()

    def label(x):
        return "NULL" if x is None else ("NaN" if math.isnan(x) else x)

    def exact_n(frame, col):
        return {
            label(r[0]): r[1]
            for r in frame.groupBy("fkey").agg(F.count(col)).collect()
        }

    def reported_n(rows, key):
        return {label(r[key]): r.n_total for r in rows}

    # quantile build, double and float keys
    for frame in (df, df.withColumn("fkey", F.col("fkey").cast("float"))):
        rep = grouped_quantile_report(
            grouped_quantile_summary(frame, ["fkey"], "v", k=8),
            ["fkey"], [0.5],
        ).collect()
        assert len(rep) == 3
        assert reported_n(rep, "fkey") == exact_n(frame, "v")
    both = df.unionByName(df)
    # merges of summaries whose key column is a double
    qsum = grouped_quantile_summary(
        df.withColumn("k2", F.col("fkey").cast("string")), ["k2"], "v", k=8
    )
    bad = qsum.withColumn("k2", F.col("k2").cast("double"))
    rep = grouped_quantile_report(
        merge_grouped_quantile_summaries(bad, bad, ["k2"]), ["k2"], [0.5]
    ).collect()
    assert len(rep) == 3
    assert reported_n(rep, "k2") == exact_n(both, "v")
    hsum = grouped_hh_summary(
        df.withColumn("k2", F.col("fkey").cast("string")), ["k2"], "skey",
        k=4,
    )
    hbad = hsum.withColumn("k2", F.col("k2").cast("double"))
    rep = grouped_hh_report(
        merge_grouped_hh_summaries(hbad, hbad, ["k2"], k=4), ["k2"]
    ).collect()
    assert len(rep) == 3
    assert reported_n(rep, "k2") == exact_n(both, "skey")
    # the discrete-key path (the documented recourse) still works and
    # keeps NaN distinct from NULL: cast-to-string labels NaN "NaN"
    cast = df.withColumn("kc", F.col("fkey").cast("string"))
    rep = grouped_quantile_summary(cast, ["kc"], "v", k=8)
    labels = {r["kc"] for r in rep.select("kc").distinct().collect()}
    assert "NaN" in labels and None in labels  # distinct groups survive


def test_grouped_sketch_bench_entry_nullsafe_recounts(spark, tmp_path):
    """r11 review catch: the x8_grouped_sketch bench entry's exact
    recounts must join NULL-SAFE on the grouping key — NULL lang/source
    are real groups in the grouped faces, and a plain equi-join would
    false-fail their bracket_ok. Direct-drive on an sf0.001 copy with
    planted NULL keys."""
    import os

    import __spark_entry__ as entry

    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{src}/documents.parquet")
    nulled = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang")),
    ).withColumn(
        "source",
        F.when(F.col("doc_id") % 5 == 0, None).otherwise(F.col("source")),
    )
    d = str(tmp_path / "sf_null")
    os.makedirs(d)
    nulled.write.parquet(os.path.join(d, "documents.parquet"))
    for t in ("region nation customer supplier part orders lineitem "
              "events embeddings").split():
        os.symlink(f"{src}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = entry.q_x8_grouped_sketch(spark, d).collect()
    nullkeys = [r for r in rows if r["key"] is None]
    bad = [
        r for r in rows
        if r["bracket_ok"] is not True or r["within_budget"] is not True
    ]
    assert nullkeys, "planted NULL keys must surface as groups"
    assert not bad, bad[:5]


def test_x8_heavy_hitters_bench_entry_invariants(spark):
    """The x8_heavy_hitters bench entry's in-query Misra-Gries checks
    hold at sf0.001: at least one word survives, every survivor's exact
    recount sits in its count bracket, and the error total is within
    the n/(k+1) floor."""
    import __spark_entry__ as entry
    from conftest import SF

    rows = entry.q_x8_heavy_hitters(spark, SF).collect()
    assert rows
    bad = [
        r for r in rows
        if r["bracket_ok"] is not True or r["within_err_floor"] is not True
    ]
    assert not bad, bad[:5]


#: Spark jobs of one sketch call plus its collect on the budget frame: a
#: heavy-hitter face is the build stage, the summary aggregate and the
#: report window (one job each under AQE); quantiles are one aggregate
#: stage and its result.
SKETCH_JOB_BUDGET = {
    "heavy_hitters": 3, "grouped_heavy_hitters": 3, "quantiles_sketch": 2,
}


def test_sketch_job_budget(spark):
    """A job-count regression on the sketch faces fails here: each face
    is called once on a fixed 6,000-row frame (4 partitions, a NULL key
    group, 5 heavy values over a 700-value tail) and its jobs, call
    plus result collect, must stay within ``SKETCH_JOB_BUDGET``."""
    from test_retrieval import _jobs_of

    from datamunging_spark.operators.sketch import (
        grouped_heavy_hitters,
        quantiles_sketch,
    )

    i = F.col("id")
    df = spark.range(0, 6000, 1, 4).select(
        F.when(i % 5 == 0, F.lit(None))
        .otherwise((i % 3).cast("string"))
        .alias("lang"),
        F.when(i % 4 == 0, F.concat(F.lit("h"), (i % 5).cast("string")))
        .otherwise(F.concat(F.lit("t"), (i % 700).cast("string")))
        .alias("value"),
        (i % 97).cast("double").alias("x"),
    )
    calls = {
        "heavy_hitters": lambda: heavy_hitters(df, "value", k=64),
        "grouped_heavy_hitters": lambda: grouped_heavy_hitters(
            df, ["lang"], "value", k=64
        ),
        "quantiles_sketch": lambda: quantiles_sketch(df, "x", [0.5, 0.9]),
    }
    jobs = {
        face: _jobs_of(
            spark, lambda: call().collect(), f"sketch-budget-{face}"
        )
        for face, call in calls.items()
    }
    over = {
        face: (n, SKETCH_JOB_BUDGET[face])
        for face, n in jobs.items()
        if n > SKETCH_JOB_BUDGET[face]
    }
    assert not over, f"jobs over budget (got, budget): {over}"
