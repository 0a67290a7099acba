"""Frequent-items (heavy-hitter) sketches — the bounded-shuffle answer
to "which values dominate this 100 TB column?".

The exact answer (`heavy_hitters_exact`) is a plain hash aggregate:
correct, and the right tool whenever the distinct-key count fits a
shuffle. At pretraining-corpus scale it often doesn't — a URL-host /
n-gram / token column can carry billions of distinct keys, where the
full groupBy shuffles (and spills) the entire key space just to read
off the few thousand heavy keys at the top.

`heavy_hitters` bounds that: one mapInPandas pass runs a batched
Misra-Gries summary per partition (at most ``k`` counters live at any
moment), so the shuffle carries ≤ partitions × (k + 2) counter rows —
independent of the distinct-key count. Guarantees (classic MG, and the
merge rule of Agarwal et al., "Mergeable Summaries", PODS 2012):

- per partition i, each decrement event subtracts ``t`` from ALL
  counters while ≥ k+1 counters are ≥ t, so the subtracted total d_i
  satisfies (k+1)·d_i ≤ n_i → d_i ≤ n_i/(k+1);
- the merged estimate C(x) = Σ_i c_i(x) brackets the true count:
  C(x) ≤ f(x) ≤ C(x) + Σ_i d_i, with Σ_i d_i ≤ n/(k+1);
- therefore any value with f(x) > n/(k+1) SURVIVES (no false
  negatives above the error floor) — pick k ≈ partitions × (a few ×)
  1/min_share for comfortable margins.

The per-partition pass is Arrow-vectorized (pandas ``value_counts`` per
batch merged into the bounded counter table; the decrement is one
``np.partition`` quantile + vector subtract), never per-row Python.
Ties at the (k+1)-th counter can keep slightly fewer than k counters
after a decrement — harmless, the bound only improves.

One implementation serves every face: the private helpers
``_mg_partition`` (build pass), ``_hh_summary``, ``_hh_merge`` and
``_hh_report`` are keyed by ``keys`` (empty means ungrouped), the shape
of the quantile leg's ``_kll_*`` helpers, and the ``hh_*`` and
``grouped_hh_*`` functions are thin wrappers over them. Every face is
lazy — a one-shot ``heavy_hitters`` or ``grouped_heavy_hitters`` plus
collect is three Spark jobs (build, summary aggregate, report window)
— so a caller that reads one summary twice persists it itself.

No reference-repo counterpart: the reference's frequency analyses are
exact GROUP BY counts (README.md's census/word-count examples), which
`heavy_hitters_exact` covers; the sketch is the engine's scale path.
"""

# NB: no `from __future__ import annotations` — mapInPandas resolves
# real type objects at decoration time elsewhere in this package; keep
# the module convention uniform.

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_META_DEC = "dec"  # meta row: cnt = this partition's subtracted total d_i
_META_N = "n"  # meta row: cnt = this partition's non-null row count n_i


def heavy_hitters_exact(
    df: DataFrame, col: str, min_share: float = 0.001
) -> DataFrame:
    """Exact heavy hitters: values of ``col`` whose frequency is ≥
    ``min_share`` of the non-null rows. One hash aggregate (map-side
    partial) + a broadcast of the single total row; shuffles the full
    distinct-key space — use :func:`heavy_hitters` when that space is
    the problem. NULLs are excluded (a NULL "value" is a data-quality
    fact, not a frequent item — `invalid_value_report` covers those).
    """
    vals = df.select(F.col(col).alias("value")).filter(
        F.col("value").isNotNull()
    )
    counts = vals.groupBy("value").agg(F.count(F.lit(1)).alias("count"))
    total = vals.agg(F.count(F.lit(1)).alias("_n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("count") >= F.col("_n") * F.lit(float(min_share)))
        .select(
            "value",
            "count",
            (F.col("count") / F.col("_n")).alias("share"),
        )
    )


def _norm_key(kt):
    """Normalize a pandas groupby(dropna=False) group label: always a
    tuple, with NA components replaced by None. CRITICAL for the keyed
    build's memory bound — pandas returns a FRESH float nan object as
    the NA label on every groupby call, and nan != nan with
    identity-based hashing, so a dict keyed on the raw label would grow
    one separate ≤k state per Arrow BATCH for the NULL key group
    (O(batches × k), data-proportional) instead of one per key. This
    WOULD conflate a float key's NaN with NULL (Spark's own groupBy
    keeps them distinct), which is why :func:`_hh_summary` rejects
    float/double key columns; the keys that reach here cannot carry
    NaN."""
    import pandas as pd

    if not isinstance(kt, tuple):
        kt = (kt,)
    return tuple(None if pd.isna(v) else v for v in kt)


def _mg_partition(keys: list[str], k: int):
    """Batched Misra-Gries over an iterator of Arrow batches: one
    counter table per key group present in the partition (with no
    ``keys`` the whole partition is one group), at most ``k`` counters
    held per group between batches. Each group emits its counters plus
    a 'dec' and an 'n' meta row. (A chunked-consolidation variant —
    buffering value_counts and concat+groupby-ing every ~8k rows — was
    measured at the 64M-row probe point and was no faster than this
    per-batch ``Series.add``, so the simpler form stays.)"""

    def run(batches):
        import numpy as np
        import pandas as pd

        # key tuple -> [counters, dec, n]; the ungrouped pass reports
        # its meta rows even for an empty partition
        states = {} if keys else {(): [pd.Series(dtype="int64"), 0, 0]}
        for pdf in batches:
            groups = (
                pdf.groupby(keys, dropna=False, sort=False)
                if keys
                else [((), pdf)]
            )
            for kt, grp in groups:
                vals = grp["value"].dropna()
                if not len(vals):
                    continue
                if keys:
                    kt = _norm_key(kt)
                st = states.get(kt)
                if st is None:
                    st = states[kt] = [pd.Series(dtype="int64"), 0, 0]
                st[2] += len(vals)
                vc = vals.value_counts()  # vectorized per-batch counts
                st[0] = st[0].add(vc, fill_value=0).astype("int64")
                if len(st[0]) > k:
                    # (k+1)-th largest: while >k counters are >= t,
                    # subtract t from everything — one decrement event
                    # of weight t (each removes >= (k+1)·t mass, so the
                    # summed dec stays <= n/(k+1)); always >= 1, since
                    # every live counter is >= 1
                    arr = st[0].to_numpy()
                    t = int(np.partition(arr, -(k + 1))[-(k + 1)])
                    st[1] += t
                    st[0] = st[0][st[0] > t] - t
        frames = []
        for kt, (counters, dec, n) in states.items():
            out = pd.DataFrame(
                {
                    "value": list(counters.index.astype(object))
                    + [None, None],
                    "cnt": np.append(counters.to_numpy(dtype="int64"),
                                     [dec, n]),
                    "meta": [None] * len(counters) + [_META_DEC, _META_N],
                }
            )
            for name, kv in zip(keys, kt):
                out[name] = [kv] * len(out)
            frames.append(out[keys + ["value", "cnt", "meta"]])
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return run


def _hh_summary(df: DataFrame, keys: list[str], col: str, k: int):
    """The one Misra-Gries build: a mapInPandas pass (≤ ``k`` counters
    per key group per partition), then the summary aggregate. Lazy."""
    if k < 1:
        raise ValueError("k must be >= 1")
    floaty = [
        c for c in keys
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType))
    ]
    if floaty:
        raise ValueError(
            f"float/double grouping key(s) {floaty} are not supported by "
            "the heavy-hitter build (pandas folds NaN into NULL, "
            "diverging from Spark groupBy); cast to string/decimal/int "
            "first"
        )
    vals = df.select(*keys, F.col(col).cast("string").alias("value"))
    schema = StructType(
        [vals.schema[c] for c in keys]
        + [
            StructField("value", StringType()),
            StructField("cnt", LongType()),
            StructField("meta", StringType()),
        ]
    )
    return (
        vals.mapInPandas(_mg_partition(keys, int(k)), schema=schema)
        .groupBy(*keys, "meta", "value")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _hh_merge(a: DataFrame, b: DataFrame | None, keys: list[str], k: int):
    """The Agarwal et al. cut per key group: sum counters pointwise,
    take t = the key's (k+1)-th largest counter (0 with ≤ k counters),
    keep the counters above t minus t, and charge t to the key's 'dec'
    row. One rank window reads the summed rows once: each key's meta
    rows rank first (m of them, at most 'dec' and 'n'), then its
    counters by count, so the (k+1)-th counter has rank m+k+1 ≤ k+3.
    The rank filter comes first so Spark bounds the sort per key (a
    partial ``WindowGroupLimit`` below the exchange; a top-k
    ``TakeOrderedAndProject`` with no keys); counters ranked below it
    are ≤ t and drop anyway. Everything is summary-sized."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = a if b is None else a.unionByName(b)
    data = F.col("meta").isNull()
    rk = F.col("_rk")
    wkey = Window.partitionBy(*keys)
    return (
        u.groupBy(*keys, "meta", "value")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn(
            "_rk",
            F.row_number().over(
                wkey.orderBy(F.asc_nulls_last("meta"), F.desc("cnt"))
            ),
        )
        .filter(rk <= k + 3)
        .withColumn("_m", F.count("meta").over(wkey))
        .withColumn(
            "_t",
            F.coalesce(
                F.max(F.when(rk == F.col("_m") + (k + 1), F.col("cnt"))).over(
                    wkey
                ),
                F.lit(0),
            ),
        )
        .filter(~data | (F.col("cnt") > F.col("_t")))
        .select(
            *keys,
            "meta",
            "value",
            (
                F.col("cnt")
                + F.when(data, -F.col("_t"))
                .when(F.col("meta") == _META_DEC, F.col("_t"))
                .otherwise(0)
            ).alias("cnt"),
        )
    )


def _hh_report(
    summary: DataFrame, keys: list[str], min_share: float | None
):
    """One pass: a window per key group carries the group's 'dec' and
    'n' totals onto its data rows."""
    w = Window.partitionBy(*keys)

    def total(tag):
        return F.coalesce(
            F.sum(F.when(F.col("meta") == tag, F.col("cnt"))).over(w),
            F.lit(0),
        )

    out = (
        summary.select(
            *keys,
            "meta",
            "value",
            F.col("cnt").alias("count_lo"),
            total(_META_DEC).alias("max_err"),
            total(_META_N).alias("n_total"),
        )
        .filter(F.col("meta").isNull() & F.col("value").isNotNull())
        .select(
            *keys,
            "value",
            "count_lo",
            (F.col("count_lo") + F.col("max_err")).alias("count_hi"),
            "n_total",
            "max_err",
        )
    )
    if min_share is not None:
        out = out.filter(
            F.col("count_hi") >= F.col("n_total") * F.lit(float(min_share))
        )
    return out


def hh_summary(df: DataFrame, col: str, k: int = 4096) -> DataFrame:
    """Build a Misra-Gries SUMMARY of ``col``: the mergeable/persistable
    sketch state — rows ``(meta, value, cnt)`` where data rows carry
    ``meta=NULL`` counters and the two meta rows carry the summed
    decrement total (``meta='dec'``) and non-null row count
    (``meta='n'``). One Arrow pass (≤ ``k`` counters per partition),
    then a hash aggregate over ≤ partitions × (k+2) counter rows. Lazy:
    a caller that reads one summary more than once persists it itself.
    ``col`` is stringified (one key space regardless of input type).
    Data rows can exceed ``k`` here (union of per-partition summaries)
    — the bounds hold regardless; :func:`merge_hh_summaries` re-bounds
    to ``k`` for the stored-state loop.
    """
    return _hh_summary(df, [], col, k)


def merge_hh_summaries(
    a: DataFrame, b: DataFrame | None, k: int = 4096
) -> DataFrame:
    """Merge two summaries into one with ≤ ``k`` data rows — the
    Agarwal et al. (PODS 2012) merge rule: sum counters pointwise, then
    subtract the (k+1)-th largest counter from all and drop ≤ 0,
    charging the subtraction to the decrement total so the count
    bracket / error floor stay true of the COMBINED stream. Lazy and
    summary-sized: the cut is a rank filter (the meta rows and the top
    k+1 counters) and a window over what it keeps; nothing reaches the
    driver. Associative and commutative, so batches
    can fold in any order — this is the stored-state step of the
    incremental/streaming loop. ``b=None`` re-bounds ``a`` alone (the
    first-batch seed). Parameter drift between the two summaries'
    build-k is SAFE here, unlike the minhash snapshots: the error total
    is carried explicitly in the 'dec' meta row, so the reported
    bracket stays true whatever k each side used — k only tunes how
    tight future bounds are.
    """
    return _hh_merge(a, b, [], k)


def hh_report(summary: DataFrame, min_share: float | None = None) -> DataFrame:
    """Render a summary into the heavy-hitter report
    ``(value, count_lo, count_hi, n_total, max_err)`` with
    ``count_lo ≤ true count ≤ count_hi`` and ``max_err`` = the summed
    decrement total (≤ n/(k+1) per the module bounds); ``min_share``
    keeps only values whose count COULD reach ``min_share × n``
    (supersets the exact answer by the no-false-negative guarantee)."""
    return _hh_report(summary, [], min_share)


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 4096,
    min_share: float | None = None,
) -> DataFrame:
    """One-shot Misra-Gries heavy hitters: :func:`hh_summary` rendered
    by :func:`hh_report` (module docstring has the guarantees; split
    faces exist for the incremental/streaming fold)."""
    return hh_report(hh_summary(df, col, k), min_share)


def top_k_exact_via_sketch(
    df: DataFrame, col: str, top_n: int, k: int = 4096
) -> DataFrame:
    """EXACT top-``top_n`` most frequent values at bounded shuffle — the
    composition a 100 TB vocabulary/top-domain build needs: the plain
    ``groupBy(col).count().orderBy(...)`` is exact but shuffles a
    partial-aggregate row for EVERY distinct key, which at billions of
    keys is the bottleneck (and the aggregation-OOM risk SCALE.md
    measured). Instead:

    1. :func:`hh_summary` proposes candidates (one Arrow pass, summary
       ≤ partitions × (k+2) rows) — a guaranteed SUPERSET of every
       value with true count > the summary's error total ``max_err``;
    2. candidates are re-counted EXACTLY in one more pass (hash agg
       restricted to candidate keys via a broadcast semi-join — output
       bounded by the candidate count, not the key space);
    3. ``certified_exact``: the V-th exact count is compared against
       ``max_err``. When strictly greater, NO non-candidate can reach
       the top-V (its true count ≤ max_err < the cutoff), so the
       result PROVABLY equals the unbounded exact top-V — an exactness
       certificate computed in-query, no oracle needed. When false
       (k too small for the tail weight), the rows are still the exact
       counts of a best-effort candidate set; raise k and rerun.

    Ties break deterministically (count desc, value asc — the
    ``build_vocab`` convention). Two data passes total, both with
    bounded exchanges; the summary is read once, through its report,
    whose rows carry ``max_err``. Certificate strictness makes boundary
    ties with ``max_err`` fail closed.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    # every candidate carries the error total, so the summary is read
    # once (an empty candidate set returns no rows whatever max_err is)
    cand = hh_report(hh_summary(df, col, k)).select("value", "max_err")
    vals = df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    exact = (
        vals.join(F.broadcast(cand), "value")
        .groupBy("value", "max_err")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    top = exact.orderBy(F.desc("count"), F.asc("value")).limit(int(top_n))
    vth = top.agg(
        F.min("count").alias("_vth"), F.count(F.lit(1)).alias("_ntop")
    )
    # fail-closed certificate: with fewer than top_n candidate rows the
    # true top-V could include non-candidates in the unfilled slots —
    # UNLESS max_err == 0, where no counter was ever decremented and the
    # candidate set is provably the COMPLETE key space.
    return (
        top.crossJoin(F.broadcast(vth))
        .select(
            "value",
            "count",
            (
                (F.col("max_err") == 0)
                | (
                    (F.col("_ntop") == top_n)
                    & (F.col("_vth") > F.col("max_err"))
                )
            ).alias("certified_exact"),
            "max_err",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable per-key distinct counts (DataSketches HLL via Spark built-ins)
# ---------------------------------------------------------------------------

def distinct_sketch(
    df: DataFrame, keys: list[str], col: str, lgk: int = 12
) -> DataFrame:
    """Per-key HLL distinct-count SKETCH state: one binary DataSketches
    HLL per key group over ``col`` (Spark's built-in ``hll_sketch_agg``
    — JVM-side, whole-stage codegen'd, ~2^lgk bytes per key at ~1.6%
    relative error for lgk=12). The mergeable sibling of the one-shot
    ``approx_count_distinct``: state persists as a plain binary column,
    so "distinct users per domain over the whole crawl" maintains
    incrementally via :func:`merge_distinct_sketches` instead of
    re-scanning history — the same snapshot discipline as the dedup /
    heavy-hitter state. Render with :func:`distinct_estimate`. NULLs in
    ``col`` are ignored (Spark aggregate semantics); NULL key groups
    are real groups.

    Scale shape: one hash aggregate; shuffle carries one partial sketch
    per key per partition (map-side combine merges row values into the
    sketch BEFORE the exchange), so exchange volume is keys × 2^lgk
    bytes, independent of row count or per-key cardinality.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(int(lgk))).alias("hll")
    )


def merge_distinct_sketches(
    a: DataFrame, b: DataFrame | None, keys: list[str]
) -> DataFrame:
    """Merge two per-key sketch states (outer on keys — a key present on
    one side passes through; present on both unions exactly, per the
    DataSketches merge guarantee: union(sketch(A), sketch(B)) ==
    sketch(A ∪ B), pinned by test). ``b=None`` is the first-batch seed.
    Everything is state-sized: the union aggregates keys × 2 sketch
    rows, never raw data. NULL-safe on keys (a NULL key group keeps
    merging with itself, the incremental_rollup lesson)."""
    if b is None:
        return a
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
    )


def distinct_estimate(summary: DataFrame, keys: list[str]) -> DataFrame:
    """Render per-key sketch state into ``(keys..., distinct_est)``."""
    return summary.select(
        *keys, F.hll_sketch_estimate(F.col("hll")).alias("distinct_est")
    )


def hot_keys_sketch(
    df: DataFrame, col: str, threshold: int, k: int = 65536
) -> DataFrame:
    """Hot keys at bounded shuffle — the detector behind the
    ``valve="sketch"`` mode of ``max_gram_df``/``max_fp_df``: one
    Misra-Gries Arrow pass (≤ ``k`` counters per partition) + a
    summary-sized aggregate, RE-BOUNDED to ≤ ``k`` data rows by the
    Agarwal cut of ``merge_hh_summaries`` (a top-(k+1) rank filter; the
    one-shot faces skip it, but here the raw union of per-partition
    summaries can reach partitions × k rows, and on a heavy-tailed
    corpus the global error term would flag nearly all of them),
    instead of the exact valve's one-shuffled-row-per-DISTINCT-key
    groupBy. Returns a lazy single-column frame (named ``col``, cast
    back to its original type) of keys whose MG count UPPER bound
    exceeds ``threshold`` — genuinely ≤ k rows, always
    broadcast-anti-join-able. The re-bound adds its subtraction to the
    error total, so ``count_hi`` stays a true upper bound of the
    combined stream.

    Contract (conservative in the valve's documented direction):

    - **no hot key escapes above the floor** — every key with true row
      count > ``threshold + n/(k+1)`` is present in the summary (MG
      no-false-negative) with ``count_hi ≥ true count > threshold``,
      so it is flagged; keys the summary missed have true count
      ≤ n/(k+1) by the same bound, i.e. the residual fan-out per
      surviving key is capped at ``max(threshold, n/(k+1))``. Size
      ``k ≈ n/threshold`` when the exact cap must hold; any smaller k
      trades cap tightness for counter memory, explicitly.
    - **over-drop, never under-protect** — ``count_hi`` overstates by
      ≤ the decrement total, and row counts overstate DOCUMENT
      frequency when one document repeats a key, so some keys an exact
      df-valve would keep are dropped. That is the valve's existing
      trade (drops lose detection recall, never correctness), priced
      per-corpus in SCALE.md.
    """
    rep = hh_report(merge_hh_summaries(hh_summary(df, col, k), None, k))
    return rep.filter(F.col("count_hi") > int(threshold)).select(
        F.col("value").cast(df.schema[col].dataType).alias(col)
    )


# ---------------------------------------------------------------------------
# Mergeable quantile summaries (DataSketches KLL via Spark built-ins)
# ---------------------------------------------------------------------------
#
# The third leg of the sketch family: frequency (Misra-Gries, above),
# distinct (HLL, above), and rank/quantiles — "what is the p99 document
# length per crawl batch, maintained incrementally?" without sorting or
# shuffling the data column. The exact face already exists
# (`relational.grouped_percentiles`, R15): correct whenever a full sort
# of the group fits the cluster; this is the engine's scale/streaming
# path for when it doesn't.
#
# Design: Spark's built-in KLL aggregate (Karnin, Lang & Liberty,
# "Optimal Quantile Approximation in Streams", FOCS 2016; the
# DataSketches KllDoublesSketch). A summary is one row per key group,
# ``(keys..., sketch, k)``: ``sketch`` is the compact binary KLL state
# and ``k`` the smallest k that went into it. Build is one hash
# aggregate (map-side partial sketches, so the exchange carries one
# sketch per key per partition, never the data column); merge is
# ``kll_merge_agg_double`` plus ``min(k)``; a report reads quantiles
# off the stored state with no job beyond the one that produces it.
#
# Guarantees (DataSketches' documented single-query bound):
#
# - NULL and NaN are not counted; ``n_total`` is the exact count of the
#   rest, and merges add it exactly.
# - while ``n_total ≤ k`` nothing was ever compacted and every answer is
#   the exact nearest-rank quantile (``max_rank_err`` 0);
# - above k, with 99% confidence per query, the returned value's true
#   rank is within ``ε(k)·n`` of the target, ε(k) = 2.296 / k^0.9723
#   (1.33% at k=200, 0.07% at k=4096). The bound is PROBABILISTIC and
#   the answers are randomized — reruns can differ. Merging sketches of
#   different k keeps the smaller k, and so does the bound.

_KLL_K_MIN, _KLL_K_MAX = 8, 65535


def _check_kll_k(k: int) -> None:
    """Fail fast, before any job, on a k outside KLL's range (Spark
    would only reject it at analysis)."""
    if not (_KLL_K_MIN <= int(k) <= _KLL_K_MAX):
        raise ValueError(
            f"k must be in [{_KLL_K_MIN}, {_KLL_K_MAX}] (KLL's range), "
            f"got {k}"
        )


def _kll_summary(df: DataFrame, keys: list[str], col: str, k: int):
    _check_kll_k(k)
    return df.groupBy(*keys).agg(
        F.kll_sketch_agg_double(F.col(col).cast("double"), int(k)).alias(
            "sketch"
        ),
        F.lit(int(k)).alias("k"),
    )


def _kll_merge(a: DataFrame, b: DataFrame | None, keys: list[str]):
    if b is None:
        return a
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.kll_merge_agg_double("sketch").alias("sketch"),
            F.min("k").alias("k"),
        )
    )


def _kll_report(summary: DataFrame, keys: list[str], qs: list[float]):
    """One row per (key group, q): ``(keys..., q, value, rank_target,
    n_total, max_rank_err)``. ``qs`` rides the plan as one literal array
    (``kll_sketch_get_quantile_double`` accepts literal ranks only) and
    is exploded with its position, so an empty sketch — no non-null
    value, where the built-in would raise — still reports every q, with
    a NULL ``value``. ``rank_target`` is the nearest rank
    ``max(1, ceil(q·n))``, with q·n rounded to 8 decimals first as the
    sketch itself does (0.07·100 is 7.000000000000001 in doubles)."""
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= float(q) <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")
    ranks = F.lit([float(q) for q in qs])
    n = F.col("n_total")
    return (
        summary.select(
            *keys,
            "k",
            "sketch",
            F.kll_sketch_get_n_double("sketch").alias("n_total"),
        )
        .select(
            *keys,
            "k",
            "n_total",
            F.when(
                n > 0, F.kll_sketch_get_quantile_double("sketch", ranks)
            ).alias("_v"),
            F.posexplode(ranks).alias("_i", "q"),
        )
        .select(
            *keys,
            "q",
            F.get("_v", "_i").alias("value"),
            F.greatest(
                F.lit(1).cast("long"), F.ceil(F.round(F.col("q") * n, 8))
            ).alias("rank_target"),
            n,
            F.when(n <= F.col("k"), F.lit(0).cast("long"))
            .otherwise(F.ceil(F.lit(2.296) / F.pow("k", 0.9723) * n))
            .alias("max_rank_err"),
        )
    )


def quantile_summary(df: DataFrame, col: str, k: int = 4096) -> DataFrame:
    """Build a mergeable QUANTILE summary of numeric ``col``: one row
    ``(sketch, k)`` — a KLL sketch of the non-null, non-NaN values
    (module header has the bounds). One lazy hash aggregate; the
    exchange carries one partial sketch per partition. ``k`` must be in
    [8, 65535]."""
    return _kll_summary(df, [], col, k)


def merge_quantile_summaries(a: DataFrame, b: DataFrame | None) -> DataFrame:
    """Merge two quantile summaries: ``n`` adds exactly and the result
    answers for the union, at the smaller of the two k. ``b=None``
    returns ``a`` (the first-batch seed). Everything is summary-sized —
    the stored-state step of the incremental/streaming fold, like
    :func:`merge_hh_summaries`."""
    return _kll_merge(a, b, [])


def quantile_report(summary: DataFrame, qs: list[float]) -> DataFrame:
    """Render a quantile summary at probe points ``qs`` (each in
    [0, 1]): one row per q, ``(q, value, rank_target, n_total,
    max_rank_err)``. ``value`` is the sketch's answer for nearest rank
    ``rank_target``; with 99% confidence (exactly when
    ``max_rank_err`` is 0) it satisfies
    ``count(x < value) − max_rank_err < rank_target ≤ count(x ≤ value)
    + max_rank_err``. An empty summary (n=0) returns every q with a
    NULL value, ``n_total`` 0 and ``max_rank_err`` 0."""
    return _kll_report(summary, [], qs)


def quantiles_sketch(
    df: DataFrame, col: str, qs: list[float], k: int = 4096
) -> DataFrame:
    """One-shot sketched quantiles: :func:`quantile_summary` rendered by
    :func:`quantile_report` (split faces exist for the incremental /
    streaming fold; `relational.grouped_percentiles` is the exact
    face)."""
    return quantile_report(quantile_summary(df, col, k), qs)


# --- grouped quantile profiles -------------------------------------------
#
# The keyed sibling ("doc-length p50/p99 PER SOURCE, maintained
# incrementally"): the same KLL aggregate grouped by key, so every
# guarantee holds per key group. The exchange carries one partial
# sketch per key per partition, never data. NULL keys are real groups
# and a float key's NaN is its own group (plain groupBy semantics, no
# join anywhere).


def grouped_quantile_summary(
    df: DataFrame, keys: list[str], col: str, k: int = 4096
) -> DataFrame:
    """Per-key quantile summary: :func:`quantile_summary`'s contract per
    key group — rows ``(keys..., sketch, k)``. The exact face is
    `relational.grouped_percentiles`."""
    _check_q_keys(keys)
    return _kll_summary(df, keys, col, k)


def merge_grouped_quantile_summaries(
    a: DataFrame, b: DataFrame | None, keys: list[str]
) -> DataFrame:
    """Merge two per-key summaries, outer on keys: a key on one side
    passes through; on both, the sketches merge. ``b=None`` returns
    ``a``."""
    _check_q_keys(keys)
    return _kll_merge(a, b, keys)


def grouped_quantile_report(
    summary: DataFrame, keys: list[str], qs: list[float]
) -> DataFrame:
    """Render a per-key summary at probe points ``qs``: one row per
    (key group, q) — ``(keys..., q, value, rank_target, n_total,
    max_rank_err)`` with :func:`quantile_report`'s bracket per key."""
    _check_q_keys(keys)
    return _kll_report(summary, keys, qs)


# --- shared helpers of the grouped faces ----------------------------------


_RESERVED_Q_COLS = frozenset(
    {
        # summary columns (heavy-hitter and quantile families)
        "value", "cnt", "meta", "sketch", "k",
        # report output columns (quantile + heavy-hitter surfaces)
        "q", "rank_target", "n_total", "max_rank_err",
        "count_lo", "count_hi", "max_err",
        # internal temp columns of the merge/report plans
        "_rk", "_m", "_t", "_v", "_i",
    }
)


def _check_q_keys(keys) -> None:
    """Shared fail-fast validation for the grouped faces: keys must be
    non-empty (the ungrouped functions are the keyless face) and must
    not collide with the summary/report's own column names (a key
    literally named 'value' would alias the data column)."""
    if not keys:
        raise ValueError(
            "keys must be non-empty (the ungrouped functions are the "
            "keyless face)"
        )
    bad = sorted(set(keys) & _RESERVED_Q_COLS)
    if bad:
        raise ValueError(
            f"key column(s) {bad} collide with reserved summary/report "
            f"columns {sorted(_RESERVED_Q_COLS)} — rename before grouping"
        )


# --- grouped heavy hitters -------------------------------------------------
#
# Per-key frequent items ("top domains PER LANGUAGE at bounded shuffle")
# — the keyed face of the MG leg, the same private helpers as the
# ungrouped face with ``keys`` set. Exact face:
# `relational.top_k_per_group`. Same cardinality trade as the other
# grouped faces: the build holds ≤ k counters per key PRESENT IN ITS
# PARTITION. Merge and report are windows partitioned by the keys, so
# NULL keys are real groups with no null-safe join anywhere.


def grouped_hh_summary(
    df: DataFrame, keys: list[str], col: str, k: int = 4096
) -> DataFrame:
    """Per-key Misra-Gries summary of ``col``: hh_summary's contract
    (count bracket, per-key n/(k+1) error floor, mergeable state,
    budgets in per-key 'dec'/'n' meta rows) holding PER KEY GROUP —
    rows ``(keys..., meta, value, cnt)``. NULL keys are real groups;
    NULL values excluded from each key's n; float/double KEY columns
    are rejected up front (the pandas pass would fold NaN into NULL —
    see :func:`_norm_key`). Lazy. Data rows per key can exceed ``k``
    here (union of per-partition summaries) —
    :func:`merge_grouped_hh_summaries` re-bounds per key.
    """
    _check_q_keys(keys)
    return _hh_summary(df, keys, col, k)


def merge_grouped_hh_summaries(
    a: DataFrame, b: DataFrame | None, keys: list[str], k: int = 4096
) -> DataFrame:
    """Merge per-key summaries and re-bound EVERY key to ≤ ``k`` data
    rows with the Agarwal rule applied per key: each key's (k+1)-th
    counter t_key is subtracted from its counters (≤ 0 pruned) and
    charged to its 'dec' budget. Lazy and summary-sized; ``b=None``
    re-bounds ``a`` alone (first-batch seed).
    """
    _check_q_keys(keys)
    return _hh_merge(a, b, keys, k)


def grouped_hh_report(
    summary: DataFrame, keys: list[str], min_share: float | None = None
) -> DataFrame:
    """Render a per-key summary into ``(keys..., value, count_lo,
    count_hi, n_total, max_err)`` with per-key brackets; ``min_share``
    keeps values that COULD reach that share of THEIR key's rows."""
    _check_q_keys(keys)
    return _hh_report(summary, keys, min_share)


def grouped_heavy_hitters(
    df: DataFrame,
    keys: list[str],
    col: str,
    k: int = 4096,
    min_share: float | None = None,
) -> DataFrame:
    """One-shot per-key heavy hitters: :func:`grouped_hh_summary`
    rendered by :func:`grouped_hh_report`, with no re-bound — a key can
    report more than ``k`` rows, as with :func:`heavy_hitters`, and its
    ``max_err`` is the build's decrement total (split faces exist for
    the incremental/streaming fold; `relational.top_k_per_group` is the
    exact face)."""
    return grouped_hh_report(
        grouped_hh_summary(df, keys, col, k), keys, min_share
    )
