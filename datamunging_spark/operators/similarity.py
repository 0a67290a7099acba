"""Similarity search over embedding columns (X2).

v1 baseline: brute-force cosine top-k — exact, deterministic, oracle-
checkable. Scale path: LSH bucketing (random hyperplane signs) so candidate
generation is an equi-join on bucket keys instead of a cross join; IVF-style
coarse quantization is the further growth path (SURVEY.md §7 step 6).

Everything is expression-only (zip_with/aggregate fold for the dot product)
— no Python UDF in the hot path. For very wide vectors a pandas_udf matmul
per partition can beat the fold; benchmarked, the expression path wins at
dim≤256 by staying in codegen.
"""

# NB: no `from __future__ import annotations` — pandas_udf resolves real
# type hints; stringized annotations break its signature inference.

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datamunging_spark.functions import cosine_similarity, dot_product


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    arrow_cosine: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) × corpus → per-row cosine → window top-k
    partitioned by query id. The query side is the small side by contract
    (a batch of probes), so the "cross join" is a broadcast nested loop over
    ONE pass of the corpus — at 100 TB the corpus is scanned once, never
    shuffled; only (n_queries × k) rows survive to the window.

    ``arrow_cosine=False`` (default) keeps the expression-form cosine:
    interpreted per row, but bitwise-reproducible on any engine — the
    oracle-parity configuration. ``arrow_cosine=True`` swaps in the
    Arrow-batched numpy cosine (the ANN rescoring kernel) for large probe
    batches where the interpreted HOF arithmetic dominates; results are
    identical up to float summation order.

    ``group_col``: the grouped face — both sides carry the group, each
    query ranks ONLY its group's corpus slice (the broadcast nested
    loop becomes a broadcast hash join on the NULL-safe group key, so
    grouping makes the exact tier CHEAPER, not costlier), ids need be
    unique only within their group (self-exclusion keys (group, id)),
    the group rides the output. Query ids stay the output key.

    Generalizes MLlib ``findSynonyms`` (R39, reference README.md:388-392)
    to any array<float> column.
    """
    gb = [group_col] if group_col else []
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        *gb,
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        *gb,
    )
    cos = (
        _cosine_udf()(F.col("_qv"), F.col("_cv"))
        if arrow_cosine
        else cosine_similarity(F.col("_qv"), F.col("_cv"))
    )
    if group_col:
        from datamunging_spark.operators.retrieval import _gkey

        q = q.withColumn("_gk", _gkey(group_col))
        c = c.withColumn("_gk", _gkey(group_col)).drop(group_col)
        scored = F.broadcast(q).join(c, "_gk")
    else:
        scored = F.broadcast(q).crossJoin(c)
    scored = scored.filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", *gb, "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", *gb, "neighbor_id", "rank", "cosine")
    )


def _hyperplane(dim: int, seed: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via splitmix-style
    integer mixing — reproducible across sessions without numpy RNG state."""
    vals = []
    x = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    for _ in range(dim):
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & (2**64 - 1)
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & (2**64 - 1)
        x = x ^ (x >> 31)
        vals.append((x / 2**63) - 1.0)
    return vals


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id: n_planes sign bits packed into
    an int. Cosine-similar vectors collide with high probability; bucket key
    is uniform-ish so the downstream equi-join cannot skew badly."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, seed, p)])
        sign_bit = F.when(dot_product(F.col(vec_col), plane) >= 0, 1).otherwise(0)
        bucket = F.shiftleft(bucket, 1).bitwiseOR(sign_bit.cast("long"))
    return df.withColumn(out, bucket)


def _bucket_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow-batched pandas_udf computing ALL per-table bucket ids in one
    numpy matmul: X(n,dim) @ P(dim, n_tables*n_planes) → sign bits → packed
    bucket id per table. One pass over the vectors instead of n_tables ×
    n_planes interpreted expression folds (~20× at 64-dim, 16 tables)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [
            _hyperplane(dim, seed + 1000 * t, p)
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    )  # (n_tables*n_planes, dim)
    weights = np.array([1 << (n_planes - 1 - b) for b in range(n_planes)])

    @pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy())  # (n, dim)
        signs = (x @ planes.T >= 0).astype(np.int64)  # (n, T*p)
        ids = signs.reshape(len(x), n_tables, n_planes) @ weights  # (n, T)
        return pd.Series(list(ids))

    return buckets


def _pygkey(v) -> str:
    """Driver-side twin of retrieval's ``_gkey`` NULL-safe group
    encoding ("\\x00" tags NULL; values get an "=" prefix after a
    string cast), so a dict of per-group centers keyed here matches the
    ``_gkey`` column computed in-plan. Parity holds for the group-col
    types a tenant/language key actually is (string, int) — Python
    ``str()`` and Spark's string cast agree there; every grouped entry
    point that bridges a driver-side dict to the in-plan key enforces
    that allowlist via :func:`_check_group_type` (boolean renders
    "True" vs Spark's "true", doubles go scientific at different
    thresholds, timestamps format differently — any of which would
    silently orphan a group)."""
    return "\x00" if v is None else "=" + str(v)


#: PQ query batches are collected to the driver to build the ADC LUT
#: (len(batch) × m × k doubles) — bound the collect so a corpus-scale
#: query table fails fast with instructions instead of an OOM (the
#: bm25_topk guard discipline applied to the vector side; r15 verdict
#: "What's wrong #4"). 10k queries ≈ 40 MB of LUT at m=8, k=64.
_MAX_QUERY_BATCH = 10_000


def _check_group_type(df: DataFrame, group_col: str, op: str) -> None:
    """Fail fast when a grouped vector face would key driver-side state
    (``_pygkey``) by a group type whose Python ``str()`` is not
    guaranteed to byte-match Spark's in-plan string cast (``_gkey``).
    Allowlist: string + integral — the tenant/language keys grouped
    corpora actually use. Everything else (boolean, float/double,
    decimal, date/timestamp) silently drops or misroutes groups
    (q_by_gk miss → zero rows, or an executor KeyError), so reject it
    with instructions instead."""
    from pyspark.sql import types as T

    dt = df.schema[group_col].dataType
    if not isinstance(
        dt,
        (T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise ValueError(
            f"{op}: group_col={group_col!r} has Spark type "
            f"{dt.simpleString()}; grouped vector faces key per-group "
            "driver state by the group's string form, which only "
            "byte-matches Spark's string cast for string/integral "
            "group columns (boolean renders 'True' vs 'true', "
            "double/decimal/timestamp renderings diverge) — cast the "
            "group column to string or int upstream"
        )


class IvfIndex:
    """A built IVF index: the cell-assigned corpus (``assigned``:
    (neighbor_id, _cv, _cell) DataFrame — the inverted lists) plus the
    KMeans centroids (numpy, driver-side — n_clusters × dim floats, the
    IVF analog of a broadcast dimension). Build once with
    :func:`ivf_build`, search many query batches with :func:`ivf_search`
    — the production shape: re-fitting KMeans per query batch (what a
    fused call does) wastes the dominant cost. Persist ``assigned`` (or
    write it to parquet partitioned by ``_cell``) to reuse across jobs;
    store ``centers`` beside it (an ``.npy``, or relationally via
    :func:`ivf_centers_table`). ``mean_fit_dist`` is the mean squared
    vector-to-own-centroid distance of the KMeans FIT sample — the
    baseline :func:`advance_ivf_index`'s centroid-drift valve compares
    every future ingest batch against (None on indexes built before the
    valve existed; rebuild to arm it).

    GROUPED face (``group_col`` set — per-language/per-tenant vector
    corpora, the production norm the lexical grouped indexes serve):
    ``assigned`` additionally carries the group column (ids unique
    WITHIN their group, the grouped-index contract); ``centers`` and
    ``mean_fit_dist`` become dicts keyed by the RAW group value (None
    for the NULL group — a real group, like everywhere in the repo),
    each group with its own independently-fitted centroids and drift
    baseline; ``group_type`` records the column's Spark type for the
    relational round-trip. ``n_clusters`` is the REQUESTED k — a group
    smaller than k gets ``min(k, group_rows)`` centroids. Both faces run
    one code path keyed by group; the ungrouped index is its one group
    None, unwrapped to the plain ndarray / float attributes."""

    def __init__(
        self,
        assigned: DataFrame,
        centers,
        n_clusters: int,
        mean_fit_dist: float | None = None,
        group_col: str | None = None,
        group_type=None,
    ):
        self.assigned = assigned
        self.centers = centers
        self.n_clusters = n_clusters
        self.mean_fit_dist = mean_fit_dist
        self.group_col = group_col
        self.group_type = group_type


def _by_group(value, group_col: str | None) -> dict:
    """An :class:`IvfIndex` per-group attribute (``centers`` or
    ``mean_fit_dist``) as a dict keyed by RAW group value: the
    ungrouped index is the one group None."""
    return {None: value} if group_col is None else dict(value or {})


def _gk(gval, group_col: str | None):
    """The driver-side key of a raw group value: its ``_pygkey`` (the
    in-plan ``_gkey`` string) on a grouped index, None for the one
    group of an ungrouped index."""
    return None if group_col is None else _pygkey(gval)


def _by_gk(value, group_col: str | None) -> dict:
    """:func:`_by_group` re-keyed by :func:`_gk` — how driver-side
    state is matched against in-plan group keys."""
    return {
        _gk(g, group_col): v for g, v in _by_group(value, group_col).items()
    }


def _ivf_index(
    assigned, centers: dict, n_clusters, mean_fit: dict, group_col, group_type
) -> IvfIndex:
    """An :class:`IvfIndex` from per-group dicts keyed by raw group
    value; the ungrouped index unwraps its one group None into the
    plain ndarray / float attributes."""
    if group_col is None:
        return IvfIndex(assigned, centers[None], n_clusters, mean_fit[None])
    return IvfIndex(
        assigned, centers, n_clusters, mean_fit,
        group_col=group_col, group_type=group_type,
    )


def _frozen_assign(centers, vec_col: str, group_col: str | None = None):
    """The frozen-centroid Arrow kernel: [cell, squared distance] of
    each row's vector against the FROZEN centroids of its group, as a
    2-double array column (one pass yields both the assignment and the
    drift signal). Build, advance, the streaming fold, incremental
    semantic dedup and cluster-balanced selection all assign through
    it, so their cells and drift distances cannot disagree.
    ``centers`` follows the :class:`IvfIndex` convention — an ndarray
    when ``group_col`` is None, else a dict keyed by raw group value,
    re-keyed here to the ``_gkey`` strings the in-plan column carries.
    An ungrouped call ships no group column through Arrow. Groups ×
    n_clusters × dim floats ride the closure (the broadcast-dimension
    analog; groups are bounded by :func:`ivf_build`'s ``max_groups``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    from datamunging_spark.operators.retrieval import _gkey

    prepped = {}
    for gk, c in _by_gk(centers, group_col).items():
        c = np.asarray(c, dtype=np.float64)
        prepped[gk] = (c, (c * c).sum(axis=1))

    def nearest(x, gk):
        c, cnorm = prepped[gk]
        # ||x-c||² = ||x||² - 2x·cᵀ + ||c||² via ONE matmul — the naive
        # (rows × clusters × dim) broadcast temporary is ~61 GB per
        # 10k-row batch at 1000 clusters × 768 dims
        xnorm = (x * x).sum(axis=1)
        d = xnorm[:, None] - 2.0 * (x @ c.T) + cnorm[None, :]
        cell = d.argmin(axis=1)
        dist = np.maximum(d[np.arange(len(cell)), cell], 0.0)
        # identity round-off is RELATIVE (~1e-16 × the cancelled norms,
        # accumulating with dim), so snap near-zero distances to exact 0
        # at a relative threshold: a duplicate-of-seed batch must measure
        # 0.0 exactly like the fit baseline did, whatever the embedding
        # magnitude — an absolute epsilon cannot cover O(1e9) norms
        scale = xnorm + cnorm[cell]
        return cell, np.where(dist < 1e-12 * scale, 0.0, dist)

    @pandas_udf(ArrayType(DoubleType()))
    def assign(vecs: pd.Series, *gks: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        out = np.empty((len(x), 2))
        if not gks:
            out[:, 0], out[:, 1] = nearest(x, None)
            return pd.Series(list(out))
        # factorize, NOT numpy string equality: the NULL group's
        # "\x00" gkey sentinel breaks numpy's elementwise == on object
        # arrays (C-string truncation); pandas' hashing handles it
        codes, uniques = pd.factorize(gks[0])
        for ci, gk in enumerate(uniques):
            m = codes == ci
            out[m, 0], out[m, 1] = nearest(x[m], gk)
        return pd.Series(list(out))

    if group_col is None:
        return assign(F.col(vec_col))
    return assign(F.col(vec_col), _gkey(group_col))


def _lloyd_refine(x, x_sq, centers, iters: int, early_stop: bool):
    """Shared Lloyd refinement body for :func:`_kmeans_fit_np` and
    :func:`pq_fit` (one home for the assignment / empty-cluster-respawn
    logic): up to ``iters`` steps of matmul-identity assignment
    (‖x‖²−2x·cᵀ+‖c‖², O(n·k) memory), centroid mean updates, and empty
    clusters respawned to successive farthest points in descending
    order (a shared single farthest point would duplicate centroids).
    ``early_stop`` breaks on a stable assignment BEFORE the update
    (the _kmeans_fit_np contract); pq_fit runs all ``iters``
    unconditionally. Mutates and returns ``centers``; the arithmetic
    order is byte-identical to the pre-refactor inlined loops."""
    import numpy as np

    n = len(x)
    k_eff = len(centers)
    assign = None
    for _ in range(iters):
        d = (
            x_sq[:, None]
            - 2.0 * (x @ centers.T)
            + (centers**2).sum(axis=1)[None, :]
        )
        new_assign = d.argmin(axis=1)
        if early_stop and assign is not None and (new_assign == assign).all():
            break
        assign = new_assign
        empties = [c for c in range(k_eff) if not (assign == c).any()]
        if empties:
            far = np.argsort(-d.min(axis=1))
        for c in range(k_eff):
            pts = x[assign == c]
            if len(pts):
                centers[c] = pts.mean(axis=0)
        for rank_i, c in enumerate(empties):
            centers[c] = x[far[rank_i % n]]
    return centers


def _kmeans_fit_np(x, k: int, seed: int, iters: int = 20):
    """Driver-side seeded Lloyd's KMeans over an (n, dim) float array —
    the :func:`pq_fit` fit discipline applied to the coarse quantizer:
    seeded k-means++ init (D²-weighted seeding, Arthur & Vassilvitskii
    '07 — the same init family as MLlib's k-means||, so fit quality
    stays comparable to the distributed fit this replaces), up to
    ``iters`` refinement steps with early stop on a stable assignment,
    empty clusters respawned to successive farthest points, distances
    via the ‖x‖²−2x·cᵀ+‖c‖² matmul identity (O(n·k) memory — the same
    bound pq_fit documents). Returns
    ``(centers (k_eff, dim), mean squared distance of the fit rows to
    their assigned center)`` — the second value is the
    ``trainingCost / n`` analog the drift valve consumes.

    r16 (guide §1.2): this replaces the distributed MLlib KMeans fit.
    The fit input is ALREADY capped at ``max_fit_rows`` (a bounded,
    representative sample — never the corpus), so distributing the
    Lloyd iterations bought nothing and cost ~30 driver-scheduled jobs
    per build (k-means|| init passes + one job per iteration +
    model-summary actions, measured 52 jobs / 73 stages on
    x1_semantic_dedup, ~4 s of pure scheduling floor at sf0.1);
    in-process numpy on the collected sample is the same asymptotic
    story at 100 TB — O(max_fit_rows · k · dim) on one node — minus
    every per-iteration scheduling round-trip."""
    import numpy as np

    n = len(x)
    k_eff = min(k, n)
    rng = np.random.RandomState(seed)
    x_sq = (x**2).sum(axis=1)
    # k-means++ seeding: first center uniform, each next drawn with
    # probability proportional to squared distance from the chosen set
    centers = np.empty((k_eff, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    closest = np.maximum(
        x_sq - 2.0 * (x @ centers[0]) + (centers[0] ** 2).sum(), 0.0
    )
    for j in range(1, k_eff):
        total = closest.sum()
        pick = (
            rng.choice(n, p=closest / total) if total > 0 else rng.randint(n)
        )
        centers[j] = x[pick]
        closest = np.minimum(
            closest,
            np.maximum(
                x_sq - 2.0 * (x @ centers[j]) + (centers[j] ** 2).sum(), 0.0
            ),
        )
    centers = _lloyd_refine(x, x_sq, centers, iters, early_stop=True)
    d = (
        x_sq[:, None]
        - 2.0 * (x @ centers.T)
        + (centers**2).sum(axis=1)[None, :]
    )
    mean_fit = float(np.maximum(d.min(axis=1), 0.0).mean())
    return centers, mean_fit


def ivf_build(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    max_fit_rows: int = 100_000,
    group_col: str | None = None,
    max_groups: int = 256,
) -> IvfIndex:
    """Build the IVF index: sampled KMeans fit + one full assignment pass.

    The KMeans fit runs on a seeded sample capped at ``max_fit_rows``
    (standard IVF practice: centroids need a representative sample, not the
    corpus — at 100 TB an iterative full-corpus fit would dominate
    everything) and, since the sample is bounded, executes DRIVER-side
    (:func:`_kmeans_fit_np` — the :func:`pq_fit` discipline; the
    distributed MLlib fit paid ~30 scheduled jobs per build to iterate
    over a sample that fits in one process). Cell ASSIGNMENT is still a
    single full pass, so every corpus vector lands in an inverted list —
    through the frozen-centroid Arrow kernel :func:`advance_ivf_index`
    uses (:func:`_frozen_assign`), so build-time and advance-time
    assignment can never disagree. The pre-sample count() is a parquet
    metadata-weight pass, not a full scan.

    .. note:: **r16 baseline shift.** The driver-side fit is a
       different (equally seeded) local optimum than the MLlib
       k-means|| fit it replaced, so ``mean_fit_dist`` baselines and
       centroids differ from indexes built before r16. Pipelines using
       :func:`advance_ivf_index` / ``streaming_ivf_ingest`` with a
       ``max_drift`` setting tuned near the drift boundary against a
       pre-r16 snapshot should rebuild the snapshot (or re-validate
       ``max_drift``) after upgrading — a batch that previously passed
       the valve by a hair against the old baseline can flip.

    ``group_col``: the GROUPED face — one independent index per group
    value (per-language/per-tenant corpora; NULL is a real group). The
    ungrouped index is the one-group case of the same body: per-group
    row counts, per-group sample collects (overlapped, guide §2.6),
    one driver-side fit per group, one assignment pass. Each group's
    fit is therefore EXACTLY the ungrouped fit of its slice (same
    sampling fraction discipline, same seed — the pin tests compare
    them verbatim), which is why groups are bounded by ``max_groups``
    (fit cost is O(groups); the per-tenant norm is tens). A group with
    fewer rows than ``n_clusters`` gets ``min`` centroids. An empty
    corpus raises on both faces.
    """
    import numpy as np

    from datamunging_spark.parallel import co_materialize

    gb = [] if group_col is None else [group_col]
    if gb:
        _check_group_type(corpus, group_col, "ivf_build")
    corp_v = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"), *gb
    )
    # The ungrouped fit reads the vectors ONCE (the sample collect), so
    # it pins nothing (guide §5); the grouped fit caches across its
    # per-group sample collects (G+1 passes), released before the lazy
    # assignment plan is returned.
    if gb:
        corp_v.persist()
    try:
        # per-group row counts; ungrouped, the one global count
        counts = sorted(
            (
                (r[group_col] if gb else None, r["_n"])
                for r in corp_v.groupBy(*gb)
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
                if r["_n"]
            ),
            key=lambda t: _pygkey(t[0]),
        )
        if not counts:
            raise ValueError("ivf_build: empty corpus — nothing to fit")
        if len(counts) > max_groups:
            raise ValueError(
                f"ivf_build: {len(counts)} distinct {group_col!r} "
                f"groups exceed max_groups={max_groups} — the grouped "
                "build fits one KMeans per group (driver loop, "
                "O(groups) cost); raise max_groups if the cardinality "
                "is intentional, or this is not a grouping column"
            )

        def _sample_rows(gval, n_g):
            fit_df = corp_v
            if gb:
                fit_df = fit_df.filter(
                    F.col(group_col).isNull()
                    if gval is None
                    else F.col(group_col) == F.lit(gval)
                )
            fit_df = fit_df.select("_cv")
            if n_g > max_fit_rows:
                fit_df = fit_df.sample(
                    withReplacement=False,
                    fraction=min(1.0, max_fit_rows / n_g),
                    seed=seed,
                )
            return fit_df.collect()  # bounded by ~max_fit_rows per group

        # the per-group sample collects are independent jobs: overlap
        # them so build latency stays ~flat in group count; the fits
        # run in sorted-group order below
        samples = co_materialize(
            *[(lambda g=g, n=n: _sample_rows(g, n)) for g, n in counts],
            max_workers=8,
        )
        centers: dict = {}
        mean_fit: dict = {}
        for (gval, _), rows in zip(counts, samples):
            if not rows:
                # fraction-sampling can in principle return zero rows
                # for a group with n_g >> max_fit_rows
                raise ValueError(
                    f"ivf_build: empty fit sample for group {gval!r}"
                )
            x = np.stack([np.asarray(r["_cv"]) for r in rows]).astype(
                np.float64
            )
            centers[gval], mean_fit[gval] = _kmeans_fit_np(
                x, n_clusters, seed
            )
        index = _ivf_index(
            None, centers, n_clusters, mean_fit, group_col,
            corpus.schema[group_col].dataType if gb else None,
        )
        ad = _frozen_assign(index.centers, "_cv", group_col)
        index.assigned = corp_v.select(
            "neighbor_id",
            "_cv",
            F.element_at(ad, 1).cast("int").alias("_cell"),
            *gb,
        )
    finally:
        if gb:
            corp_v.unpersist()
    return index


def _filter_id_set(
    filter_ids: DataFrame, group_col: str | None, op: str
):
    """Normalize a ``filter_ids`` predicate table for the filtered-ANN
    semi-join: returns (slim id table, join keys). A one-column table
    filters on the id alone; a grouped face additionally accepts a
    two-column table carrying the group column (matched by NAME) so
    ids that are only unique within their group filter correctly —
    the join is then on (``_gk``, id), NULL-safe."""
    cols = filter_ids.columns
    if group_col is not None and group_col in cols:
        from datamunging_spark.operators.retrieval import _gkey

        rest = [c for c in cols if c != group_col]
        if len(rest) != 1:
            raise ValueError(
                f"{op}: filter_ids with the group column must have "
                f"exactly one id column beside it, got {cols}"
            )
        flt = (
            filter_ids.select(
                _gkey(group_col).alias("_gk"),
                F.col(rest[0]).alias("neighbor_id"),
            ).distinct()
        )
        return flt, ["_gk", "neighbor_id"]
    if len(cols) != 1:
        raise ValueError(
            f"{op}: filter_ids must be a one-column id table (or "
            f"(group, id) for a grouped face), got {cols}"
        )
    return (
        filter_ids.select(
            F.col(cols[0]).alias("neighbor_id")
        ).distinct(),
        ["neighbor_id"],
    )


def _probe_cells(index: IvfIndex, groups: list, vecs: list, n_probe, op):
    """Driver-side probe of a collected query batch: for each query
    vector ``vecs[i]`` (raw group ``groups[i]``, None throughout on an
    ungrouped index) the ``n_probe`` nearest cells of ITS group's
    centroids, nearest first — one numpy distance matrix per group.
    A query group the index never built raises."""
    import numpy as np

    centers = _by_gk(index.centers, index.group_col)
    rows_by_gk: dict = {}
    for i, g in enumerate(groups):
        rows_by_gk.setdefault(_gk(g, index.group_col), []).append(i)
    unknown = sorted(
        str(groups[rows[0]])
        for gk, rows in rows_by_gk.items()
        if gk not in centers
    )
    if unknown:
        raise ValueError(
            f"{op}: query group(s) {unknown} have no centroids in this "
            "index — the group was never built; rebuild ivf_build over "
            "a corpus containing it"
        )
    out = [None] * len(vecs)
    for gk, rows in rows_by_gk.items():
        c = np.asarray(centers[gk], dtype=np.float64)
        x = np.stack([np.asarray(vecs[i]) for i in rows]).astype(np.float64)
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        near = np.argsort(d, axis=1)[:, : min(int(n_probe), len(c))]
        for i, cells in zip(rows, near):
            out[i] = cells
    return out


def ivf_search(
    queries: DataFrame,
    index: IvfIndex,
    k: int = 10,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a built :class:`IvfIndex`: each probe vector visits only its
    ``n_probe`` nearest cells; recall/cost is tuned by n_probe (n_probe =
    n_clusters degrades gracefully to exact).

    Plan: the query batch (small by contract) is collected to the driver
    ONCE, and each query's probe cells are computed there with numpy
    against ``index.centers``, which already live on the driver. The
    query side then rides the plan as literals: a ``_cell IN (...)``
    filter on the one scan of ``assigned`` and a literal map cell →
    [(query id, query vector)] that fans each candidate out to the
    queries probing its cell. Candidates are rescored with the
    Arrow-batched cosine and ranked by a per-query window. No join and
    no exchange touches the index side; a single-query request is three
    Spark jobs: the query collect, the window's shuffle stage and the
    result.

    GROUPED index: queries must carry the index's ``group_col``; each
    query probes ITS group's centroids only and the literal map is keyed
    by (group, cell) — per-group search in one plan, group rides the
    output. Query ids are the output key (one group per query row, the
    grouped-retrieval contract).

    ``filter_ids``: predicate-constrained ANN (``WHERE lang='en'``
    top-k) with an explicit recall contract — the id-set is SEMI-JOINED
    into the probed-cell candidates BEFORE the local top-k (the
    pre-filter strategy), so k fills from the filtered sub-corpus and
    recall is the ordinary n_probe cell recall over that sub-corpus.
    Pass a one-column DataFrame of corpus ids (any column name); for a
    grouped index whose ids collide across groups, include the group
    column too (matched by name) and the semi-join is on (group, id).
    The alternative — post-filtering an UNfiltered top-k — silently
    under-fills k whenever fewer than k of the global top-k survive
    the predicate (no recall contract at all for selective predicates;
    the planted test pins the difference). Keep the id-set
    broadcast-sized or pre-partitioned; a corpus-scale filter belongs
    upstream of the index build."""
    from datamunging_spark.operators.retrieval import (
        _gkey,
        _query_key,
        _query_map,
    )

    gcol = index.group_col
    gb = [gcol] if gcol else []
    if gcol:
        if gcol not in queries.columns:
            raise ValueError(
                f"ivf_search: grouped index (group_col={gcol!r}) but "
                "the query batch has no such column — queries must "
                "carry their group"
            )
        _check_group_type(queries, gcol, "ivf_search")
    qtype = queries.schema[query_id].dataType
    vtype = queries.schema[vec_col].dataType
    q_rows = queries.select(
        F.col(query_id).alias("_q"),
        F.col(vec_col).alias("_v"),
        *[F.col(g).alias("_g") for g in gb],
    ).collect()
    groups = [r["_g"] if gcol else None for r in q_rows]
    cells = _probe_cells(
        index, groups, [r["_v"] for r in q_rows], n_probe, "ivf_search"
    )
    # (group key, cell) → the queries probing it, vectors as literals
    probes: dict = {}
    for r, g, near in zip(q_rows, groups, cells):
        q = F.struct(
            F.lit(r["_q"]).cast(qtype).alias("query_id"),
            F.array(*[F.lit(float(v)) for v in r["_v"]])
            .cast(vtype)
            .alias("qv"),
        )
        for cell in near:
            probes.setdefault((_gk(g, gcol), int(cell)), []).append(q)
    qmap = _query_map(
        {key: F.array(*qs) for key, qs in probes.items()},
        gcol,
        f"array<struct<query_id:{qtype.simpleString()},"
        f"qv:{vtype.simpleString()}>>",
        key="_cell",
        key_ddl=index.assigned.schema["_cell"].dataType.simpleString(),
    )
    cand = index.assigned
    if gcol:
        cand = cand.withColumn("_gk", _gkey(gcol))
    cand = cand.filter(
        F.col("_cell").isin(sorted({cell for _, cell in probes}))
    )
    if filter_ids is not None:
        flt, fjk = _filter_id_set(filter_ids, gcol, "ivf_search")
        cand = cand.join(flt, fjk, "semi")
    # the group rides the output in the query batch's type
    gout = (
        [F.col(gcol).cast(queries.schema[gcol].dataType).alias(gcol)]
        if gcol
        else []
    )
    scored = (
        cand.select(
            *gb,
            "neighbor_id",
            "_cv",
            F.explode(
                F.element_at(qmap, _query_key(gcol, "_cell"))
            ).alias("_q"),
        )
        .filter(F.col("_q.query_id") != F.col("neighbor_id"))
        .select(
            F.col("_q.query_id").alias("query_id"),
            *gout,
            "neighbor_id",
            _cosine_udf()(F.col("_q.qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", *gb, "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_fit_rows: int = 100_000,
    group_col: str | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization — the
    other standard ANN scale path beside hyperplane LSH. One-shot
    composition of :func:`ivf_build` + :func:`ivf_search` (both faces'
    ``group_col`` / ``filter_ids`` ride through); pipelines with
    recurring query batches should build once and search many times."""
    index = ivf_build(
        corpus, corpus_id, vec_col, n_clusters, seed, max_fit_rows,
        group_col=group_col,
    )
    return ivf_search(
        queries, index, k, query_id, vec_col, n_probe,
        filter_ids=filter_ids,
    )


#: what the drift and dimension checks tell a vector-index caller to do
_IVF_REFIT = (
    "rebuild ivf_build over the accumulated corpus (and refit pq_fit if "
    "PQ rides the index)"
)


def _assign_frozen(
    index: IvfIndex,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    max_drift,
    refit_hint: str = _IVF_REFIT,
    pin: bool = True,
) -> DataFrame:
    """The batch's (neighbor_id, _cv, _cell, _dist[, group]) rows under
    the index's FROZEN centroids — the one home of the dimension probe,
    the unknown-group check, the :func:`_frozen_assign` pass and the
    centroid-drift valve for every frozen-cell consumer
    (:func:`advance_ivf_index`, ``streaming_ivf_ingest`` and
    ``dedup.incremental_semantic_dedup``). NULL-vector rows contribute
    nothing (they are deletes under ``replace_ids``).

    The valve runs PER GROUP — the ungrouped index is the one group
    None: a group whose batch mean squared assignment distance exceeds
    ``max_drift`` × its fit-time baseline (``mean_fit_dist``) raises
    naming the group and ``refit_hint``, so one drifted tenant cannot
    write its shifted distribution while calm tenants are unaffected.
    A batch group the index has never seen raises — this face cannot
    mint centroids; bootstrap new groups with :func:`ivf_build` (or the
    streaming loop, which fits them on first appearance). ``pin``
    localCheckpoints the assignment for callers that read it more than
    once; the drift aggregate forces that whenever the valve is
    armed."""
    gcol = index.group_col
    gb = [gcol] if gcol else []
    if gcol and gcol not in batch.columns:
        raise ValueError(
            f"advance_ivf_index: grouped index (group_col={gcol!r}) "
            "but the batch has no such column"
        )
    src = batch.filter(F.col(vec_col).isNotNull())
    dims = F.size(F.col(vec_col)).alias("_d")
    # one bounded collect: the first row's dimension, or on a grouped
    # index the distinct (group, dimension) pairs of the batch
    seen = [
        (r[gcol] if gcol else None, r["_d"])
        for r in (
            src.select(*gb, dims).distinct()
            if gcol
            else src.select(dims).limit(1)
        ).collect()
    ]
    centers = _by_gk(index.centers, gcol)
    unknown = sorted(
        {str(g) for g, _ in seen if _gk(g, gcol) not in centers}
    )
    if unknown:
        raise ValueError(
            f"advance_ivf_index: batch group(s) {unknown} have no "
            "frozen centroids in this index — the advance face cannot "
            "mint centroids; bootstrap the new group with ivf_build "
            "over its corpus (streaming_ivf_ingest fits new groups on "
            "first appearance)"
        )
    for g, d in seen:
        dim = centers[_gk(g, gcol)].shape[1]
        if d != dim:
            raise ValueError(
                f"embedding dimension drift: batch {vec_col} has {d} "
                f"dims, the frozen centroids have {dim} — {refit_hint}"
            )
    base = _by_gk(index.mean_fit_dist, gcol)
    if max_drift is not None:
        missing = sorted(
            {str(g) for g, _ in seen if base.get(_gk(g, gcol)) is None}
        )
        if missing:
            raise ValueError(
                "no mean_fit_dist drift baseline for "
                + (f"group(s) {missing}" if gcol else "the index")
                + " (built before the drift valve existed) — "
                f"{refit_hint}, or pass max_drift=None to accept "
                "unguarded recall decay"
            )
    ad = _frozen_assign(index.centers, vec_col, gcol)
    assigned = src.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        ad.alias("_ad"),
        *gb,
    ).select(
        "neighbor_id",
        "_cv",
        F.element_at("_ad", 1).cast("int").alias("_cell"),
        F.element_at("_ad", 2).alias("_dist"),
        *gb,
    )
    if pin or max_drift is not None:
        assigned = assigned.localCheckpoint()
    if max_drift is None:
        return assigned
    drifted = []
    for r in assigned.groupBy(*gb).agg(F.avg("_dist").alias("_m")).collect():
        g = r[gcol] if gcol else None
        m, b = r["_m"], base[_gk(g, gcol)]
        # a degenerate zero fit baseline (every seed vector at a
        # centroid) must still refuse a genuinely distant batch — the
        # tiny absolute epsilon only absorbs float round-off
        if m is not None and m > max_drift * b + 1e-9:
            drifted.append(
                (f"group {g!r}: " if gcol else "")
                + f"batch mean squared assignment distance {m:.4g} vs "
                f"baseline {b:.4g}"
            )
    if drifted:
        raise ValueError(
            f"centroid drift above {max_drift}x the frozen baseline — "
            f"{'; '.join(sorted(drifted))}. The frozen cells no longer "
            f"describe the embedding distribution; {refit_hint} (or "
            "raise/disable max_drift to accept the recall loss)"
        )
    return assigned


def advance_ivf_index(
    index: IvfIndex,
    batch: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    replace_ids: bool = False,
    max_drift: float | None = 2.0,
    codebook: "PqCodebook | None" = None,
    encoded_cells: DataFrame | None = None,
    codes_col: str = "pq_codes",
):
    """Roll an IVF(-PQ) index forward by one ingest batch — the vector
    leg of the batch-vs-history family (``advance_index`` for the
    lexical index, ``advance_snapshot`` for dedup): assign ONLY the
    batch's vectors to the FROZEN centroids in one Arrow pass (the
    ``||x||² − 2x·cᵀ + ||c||²`` matmul identity, no per-batch KMeans
    fit — the dominant cost of a rebuild) and union the new inverted-
    list rows onto the history table, which is never rescanned and
    never shuffles. Returns the advanced :class:`IvfIndex` — or, when
    ``codebook`` + ``encoded_cells`` are passed, a ``(IvfIndex,
    encoded_cells)`` pair with the batch PQ-encoded by the same FROZEN
    codebook and appended, so a persisted IVF-PQ layout
    (:func:`pq_encode_cells`) rolls forward in the same single
    assignment pass.

    Append-only by contract: batch ids must be new. With
    ``replace_ids=True`` the batch may carry UPDATED vectors — history
    rows (and codes) of any batch id are dropped first via a broadcast
    anti-join on the id (the ``advance_index`` contract), and a batch
    row whose ``vec_col`` is NULL is a DELETE: its old rows go, it
    contributes none.

    **Centroid-drift valve** (the ``incremental_semantic_dedup``
    contract): frozen cells silently lose recall if the embedding
    distribution shifts — new vectors crowd a few cells and straddle
    boundaries, so ``n_probe`` recall decays with no error anywhere.
    Each call compares the batch's mean squared distance-to-assigned-
    centroid against the index's fit-time baseline
    (``mean_fit_dist``); a ratio above ``max_drift`` raises with a
    rebuild instruction instead of silently degrading. ``None``
    disables; an index built before the baseline existed must be
    rebuilt (or pass ``None``) — the valve refuses to guess.

    Freshness trade, documented like ``advance_index``'s: centroids
    (and codebooks) drift only by what the valve tolerates; a periodic
    reclustering (rebuild with :func:`ivf_build` over the accumulated
    corpus) resets it — FAISS's own add-vs-retrain split.

    Lineage note: each call returns ``history.unionByName(new_rows)``
    — an ad-hoc driver LOOP of advances grows the plan lineage
    unboundedly (eventually planner-time-bound, like any iterative
    DataFrame fold). Loop callers should persist the advanced
    ``assigned`` periodically (parquet partitioned by ``_cell``), or
    use :func:`~datamunging_spark.streaming.streaming_ivf_ingest`,
    which persists every fold by construction.

    GROUPED index: the batch carries the group column; each row is
    assigned under ITS group's frozen centroids, the drift valve runs
    PER GROUP (a drifted tenant raises naming the group), replace/
    delete anti-joins key on (group, id) — grouped ids are only unique
    within their group — and a batch group the index has never seen
    raises (bootstrap new groups with :func:`ivf_build`, or let the
    streaming loop fit them on first appearance). The PQ leg rides
    unchanged: codebooks quantize vectors group-independently, so one
    GLOBAL codebook serves every group and ``encoded_cells`` carries
    the group column alongside the codes."""
    from datamunging_spark.operators.retrieval import _gkey

    if (codebook is None) != (encoded_cells is None):
        raise ValueError(
            "advance_ivf_index: pass codebook AND encoded_cells "
            "together (the IVF-PQ roll-forward) or neither"
        )
    gcol = index.group_col
    gb = [gcol] if gcol else []
    row_cols = ["neighbor_id", "_cv", "_cell", *gb]
    code_cols = ["neighbor_id", "_cell", codes_col, *gb]
    if gcol and gcol in batch.columns:
        _check_group_type(batch, gcol, "advance_ivf_index")
    # pin only when something re-reads the assignment: the PQ encode
    # leg (the armed valve pins anyway) — a plain append consumes it
    # once and stays lazy, the advance-family contract
    assigned = _assign_frozen(
        index, batch, corpus_id, vec_col, max_drift,
        pin=codebook is not None,
    )
    # grouped ids are only unique within their group: the replace
    # anti-join keys on (group, id) or one tenant's update would delete
    # another's rows
    gk = [_gkey(gcol).alias("_gk")] if gcol else []
    key = (["_gk"] if gcol else []) + ["neighbor_id"]

    def _anti_replaced(hist: DataFrame, keep_cols: list) -> DataFrame:
        ids = F.broadcast(
            batch.select(*gk, F.col(corpus_id).alias("neighbor_id"))
            .distinct()
        )
        return (
            hist.select(*keep_cols, *gk)
            .join(ids, key, "left_anti")
            .select(*keep_cols)
        )

    new_rows = assigned.select(*row_cols)
    history = index.assigned
    if replace_ids:
        history = _anti_replaced(history, row_cols)
    out = IvfIndex(
        history.unionByName(new_rows),
        index.centers,
        index.n_clusters,
        index.mean_fit_dist,
        group_col=gcol,
        group_type=index.group_type,
    )
    if codebook is None:
        return out
    encode = _pq_encode_udf(codebook)
    new_codes = assigned.select(
        "neighbor_id", "_cell", encode(F.col("_cv")).alias(codes_col),
        *gb,
    )
    hist_codes = encoded_cells
    if replace_ids:
        hist_codes = _anti_replaced(hist_codes, code_cols)
    return out, hist_codes.unionByName(new_codes)


def ivf_centers_table(index: IvfIndex) -> DataFrame:
    """The index's driver-side state as a RELATIONAL table — (cell,
    center array<double>, mean_fit_dist), with the group column FIRST
    when the index is grouped — so the whole IVF index persists as
    parquet beside ``assigned`` (no ``.npy`` side-channel; the
    streaming fold's restart story). n_clusters × dim doubles per
    group: a broadcast-dimension-sized table. Rebuild with
    :func:`ivf_index_from_tables`."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    from datamunging_spark.sources.io import local_table

    gcol = index.group_col
    centers = _by_group(index.centers, gcol)
    mean_fit = _by_group(index.mean_fit_dist, gcol)
    return local_table(
        index.assigned.sparkSession,
        [
            (*([gval] if gcol else []), i, [float(x) for x in row],
             mean_fit.get(gval))
            for gval in sorted(centers, key=_pygkey)
            for i, row in enumerate(centers[gval])
        ],
        StructType(
            ([StructField(gcol, index.group_type)] if gcol else [])
            + [
                StructField("cell", IntegerType()),
                StructField("center", ArrayType(DoubleType())),
                StructField("mean_fit_dist", DoubleType()),
            ]
        ),
    )


def ivf_index_from_tables(
    assigned: DataFrame | None, centers_table: DataFrame
) -> IvfIndex:
    """Inverse of :func:`ivf_centers_table`: reassemble an
    :class:`IvfIndex` from the persisted ``assigned`` parquet and the
    centers table (one bounded collect of n_clusters rows).
    ``assigned=None`` gives a centers-only shell — enough for
    :func:`_assign_frozen` (the streaming fold's crash-recovery path,
    where the centers committed but the first inverted-list write did
    not); searching it is a caller error. A centers table carrying a
    column beyond (cell, center, mean_fit_dist) is a GROUPED index's
    — that column is the group column and the rebuilt index is
    grouped. NB (documented contract change of the round-trip): on a
    grouped table the rebuilt index's ``n_clusters`` is the MAX
    observed per-group centroid-list size, not the originally
    REQUESTED k (the request is not persisted; a group smaller than k
    was fitted with fewer centroids). Grouped search clamps n_probe
    per group, so this only matters to callers that read
    ``n_clusters`` back as the requested k — re-pass the request
    explicitly on a rebuild instead."""
    import numpy as np

    extra = [
        c
        for c in centers_table.columns
        if c not in ("cell", "center", "mean_fit_dist")
    ]
    if len(extra) > 1:
        raise ValueError(
            f"ivf_index_from_tables: unrecognized columns {extra} — "
            "a grouped centers table has exactly one group column "
            "beside (cell, center, mean_fit_dist)"
        )
    gcol = extra[0] if extra else None
    if gcol:
        _check_group_type(centers_table, gcol, "ivf_index_from_tables")
    rows = centers_table.select(
        *extra, "cell", "center", "mean_fit_dist"
    ).collect()
    if not rows:
        raise ValueError("ivf_index_from_tables: empty centers table")
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(_gk(r[gcol] if gcol else None, gcol), []).append(r)
    centers: dict = {}
    mean_fit: dict = {}
    for grows in by_g.values():
        grows.sort(key=lambda r: r["cell"])
        gval = grows[0][gcol] if gcol else None
        centers[gval] = np.stack([np.asarray(r["center"]) for r in grows])
        mean_fit[gval] = grows[0]["mean_fit_dist"]
    return _ivf_index(
        assigned,
        centers,
        max(len(c) for c in centers.values()),
        mean_fit,
        gcol,
        centers_table.schema[gcol].dataType if gcol else None,
    )


def _cosine_udf():
    """Arrow-batched rowwise cosine over two array columns (numpy). Used in
    the ANN rescoring path; the oracle-exact brute-force path keeps the
    expression form for bitwise cross-engine parity."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=float)
        x = np.stack(a.to_numpy()).astype(np.float64)
        y = np.stack(b.to_numpy()).astype(np.float64)
        num = (x * y).sum(axis=1)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
        return pd.Series(np.where(den > 0, num / den, 0.0))

    return cos


class LshIndex:
    """A built hyperplane-LSH index: the bucketed corpus (``bucketed``:
    (neighbor_id, _cv, _t, _bk) — one row per vector per table) plus the
    hyperplane parameters, which the query side MUST share for bucket ids
    to be comparable (they are derived deterministically from
    (dim, n_planes, n_tables, seed), so persisting the parameters is
    enough — no matrix artifact needed). Build once with
    :func:`lsh_build`, search many batches with :func:`lsh_search`;
    persist ``bucketed`` (or write partitioned by ``_t, _bk``) to stop
    paying the corpus bucketing matmul per query batch. ``group_col``:
    the grouped face — hyperplanes are data-independent, so grouping is
    purely a join-key matter: ``bucketed`` keeps the group column and
    search collides on (group, table, bucket); ids need be unique only
    within their group."""

    def __init__(
        self,
        bucketed: DataFrame,
        dim: int,
        n_planes: int,
        n_tables: int,
        seed: int,
        group_col: str | None = None,
    ):
        self.bucketed = bucketed
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.seed = seed
        self.group_col = group_col


def lsh_build(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    group_col: str | None = None,
) -> LshIndex:
    """Bucket the corpus into all ``n_tables`` hash tables: one
    Arrow-batched numpy matmul + one posexplode over the corpus scan.
    ``group_col`` rides the bucketed rows (see :class:`LshIndex`)."""
    gb = [group_col] if group_col else []
    udf = _bucket_udf(dim, n_planes, n_tables, seed)
    bucketed = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        *gb,
        F.posexplode(udf(F.col(vec_col))).alias("_t", "_bk"),
    )
    return LshIndex(
        bucketed, dim, n_planes, n_tables, seed, group_col=group_col
    )


def lsh_search(
    queries: DataFrame,
    index: LshIndex,
    k: int = 10,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a built :class:`LshIndex`: bucket the (small) query batch
    with the index's hyperplanes, equi-join on (table, bucket), rescore
    candidates by exact cosine, keep top-k. GROUPED index: queries
    carry the group, collisions join on (group, table, bucket), the
    group rides the output. ``filter_ids``: the :func:`ivf_search`
    pre-filter contract — the id-set (or (group, id) table) semi-joins
    the bucket-collision candidates BEFORE rescoring, so k fills from
    the filtered sub-corpus at the index's ordinary collision recall."""
    grouped = index.group_col is not None
    gb = [index.group_col] if grouped else []
    if grouped and index.group_col not in queries.columns:
        raise ValueError(
            f"lsh_search: grouped index (group_col="
            f"{index.group_col!r}) but the query batch has no such "
            "column — queries must carry their group"
        )
    udf = _bucket_udf(index.dim, index.n_planes, index.n_tables, index.seed)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        *gb,
        F.posexplode(udf(F.col(vec_col))).alias("_t", "_bk"),
    )
    cand = index.bucketed
    jk = ["_t", "_bk"]
    if grouped:
        from datamunging_spark.operators.retrieval import _gkey

        q = q.withColumn("_gk", _gkey(index.group_col))
        cand = cand.withColumn("_gk", _gkey(index.group_col)).drop(
            index.group_col
        )
        jk = ["_gk", "_t", "_bk"]
    scored = (
        F.broadcast(q)
        .join(cand, on=jk)
        .drop("_t", "_bk")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if filter_ids is not None:
        flt, fjk = _filter_id_set(
            filter_ids, index.group_col, "lsh_search"
        )
        scored = scored.join(flt, fjk, "semi")
    scored = scored.filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        *gb,
        "neighbor_id",
        _cosine_udf()(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", *gb, "neighbor_id", "rank", "cosine")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucketing with OR-amplification —
    ``n_tables`` independent hash tables, candidates = union of per-table
    bucket collisions. Recall < 1 by construction (property-tested, not
    oracle-hashed).

    Scale shape: bucket ids for ALL tables come from one Arrow-batched
    numpy matmul per side (vector math is the one place pandas_udf beats
    expressions), then ONE posexplode + ONE equi-join on (table, bucket)
    replaces n_tables separate joins. Candidate volume ≈ n_tables × bucket
    occupancy, never O(|Q|×|C|); the corpus is scanned once. One-shot
    composition of :func:`lsh_build` + :func:`lsh_search`; recurring query
    batches should build once and persist the bucketed index.
    """
    udf = _bucket_udf(dim, n_planes, n_tables, seed)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.posexplode(udf(F.col(vec_col))).alias("_t", "_bk"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.posexplode(udf(F.col(vec_col))).alias("_t", "_bk"),
    )
    scored = (
        F.broadcast(q)
        .join(c, on=["_t", "_bk"])
        .drop("_t", "_bk")
        .dropDuplicates(["query_id", "neighbor_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_udf()(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 quantization of a float vector column: per-row scale =
    max(|x|)/127, stored beside ``array<tinyint>`` codes. 4× smaller at rest
    and on the wire than float32 — at 100 TB of embeddings the scan-time
    win dominates any ANN rescoring cost, which is why int8 is the standard
    storage format for large vector corpora (FAISS SQ8 et al.).

    Expression-only (one ``transform`` pass per row — a HOF is fine here
    because the array is touched once, see SCALE.md interpreted-expression
    discipline). Cosine is scale-invariant, so LSH bucketing and cosine
    top-k on dequantized vectors lose only the ~0.4% code rounding error —
    near-ties may swap, property-tested top-k recall ≥ 0.85 on the driver
    testdata (in line with published SQ8 behavior).
    """
    v = F.col(vec_col)
    # NaN-safe scale: array_max sorts NaN above every number, so one NaN
    # coordinate would otherwise poison the whole vector (NaN scale → every
    # code NULL). Drop non-finite coords from the max; they alone quantize
    # to NULL codes, finite coords survive.
    finite_abs = F.filter(
        F.transform(v, lambda x: F.abs(x)), lambda a: ~F.isnan(a)
    )
    scale = F.greatest(
        F.coalesce(F.array_max(finite_abs), F.lit(0.0)) / F.lit(127.0),
        F.lit(1e-30),
    )
    return df.withColumn(scale_col, scale).withColumn(
        out_col,
        F.transform(
            v,
            # explicit NULL for non-finite coords (an ANSI-off NaN cast
            # would silently produce 0, indistinguishable from a real 0)
            lambda x: F.when(
                ~F.isnan(x), F.round(x / F.col(scale_col)).cast("tinyint")
            ),
        ),
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: float vectors ≈ codes ×
    scale (max abs error = scale/2 per coordinate)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda c: (c.cast("double") * F.col(scale_col))
        ),
    )


def centroid_scores(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    index: IvfIndex | None = None,
) -> DataFrame:
    """Per-document prototypicality: cosine of each embedding to its KMeans
    cluster centroid — the D4 pruning signal (Tirumala et al. 2023,
    "D4: Improving LLM Pretraining via Document De-Duplication and
    Diversification", arXiv:2308.12284: drop the most-prototypical docs
    near each centroid — templated boilerplate — and the extreme
    outliers — noise — keeping the diverse middle).

    Output: (id, cluster_id, centroid_cosine). Compose with
    ``text.lm_quality_bands(..., score_col="centroid_cosine",
    group_cols=["cluster_id"])`` to cut head/middle/tail per cluster —
    the band util is score-agnostic.

    Plan: reuses the IVF clustering (pass ``index`` to share one build
    across ANN search, SemDeDup, and this scoring — the D4 paper's own
    pipeline shape) + ONE Arrow pandas_udf pass with the centroid matrix
    in closure (n_clusters × dim floats — the broadcast-dim analog).
    When ``index`` is passed it may cover a superset; the assignment is
    semi-join-restricted to ``corpus``'s ids.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    if index is None:
        index = ivf_build(
            corpus,
            corpus_id=corpus_id,
            vec_col=vec_col,
            n_clusters=n_clusters,
            seed=seed,
        )
        assigned = index.assigned
    else:
        assigned = index.assigned.join(
            corpus.select(F.col(corpus_id).alias("neighbor_id")),
            on="neighbor_id",
            how="semi",
        )
    centers = index.centers

    @pandas_udf(DoubleType())
    def centroid_cos(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=float)
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        c = centers[cells.to_numpy()]
        num = (x * c).sum(axis=1)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(c, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, 0.0)
        return pd.Series(out)

    return assigned.select(
        F.col("neighbor_id").alias(corpus_id),
        F.col("_cell").alias("cluster_id"),
        centroid_cos(F.col("_cv"), F.col("_cell")).alias("centroid_cosine"),
    )


class PqCodebook:
    """Product-quantization codebooks: ``m`` sub-codebooks of ``k``
    centroids over ``sub_dim = dim/m`` dimensions each (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search"). Fit once
    with :func:`pq_fit`; a vector encodes to ``m`` uint8-range codes —
    ``m`` bytes instead of ``4·dim`` — the memory tier that makes
    billion-vector ANN fit a cluster. Driver-side numpy array of shape
    (m, k, sub_dim); store as ``.npy`` beside the encoded table."""

    def __init__(self, codebooks, m: int, sub_dim: int):
        self.codebooks = codebooks
        self.m = m
        self.sub_dim = sub_dim


def pq_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 256,
    seed: int = 42,
    max_fit_rows: int = 100_000,
    iters: int = 10,
) -> PqCodebook:
    """Fit PQ codebooks on a seeded driver-side sample (standard PQ
    practice — codebooks need a representative sample, not the corpus;
    the same ``sample(fraction, seed)`` discipline as :func:`ivf_build`
    — a bare ``limit()`` would take a partition PREFIX, which after
    curation stages is typically one source's slice of the space). One
    numpy Lloyd's run per subspace: deterministic seeded init, ``iters``
    refinement steps, empty clusters respawned to successive farthest
    points. Distances use the ‖x‖²−2x·cᵀ+‖c‖² matmul identity — O(n·k)
    memory; the naive (n, k, sub) broadcast temporary is multi-GB at the
    documented defaults.
    """
    import numpy as np

    proj = corpus.select(vec_col)
    n_corpus = proj.count()
    fit_df = proj
    if n_corpus > max_fit_rows:
        fit_df = proj.sample(
            withReplacement=False,
            fraction=min(1.0, max_fit_rows / n_corpus),
            seed=seed,
        )
    sample = fit_df.collect()
    if not sample:
        raise ValueError("pq_fit: empty corpus — nothing to fit")
    x = np.stack([np.asarray(r[vec_col]) for r in sample]).astype(np.float64)
    n, dim = x.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    k_eff = min(k, n)
    rng = np.random.RandomState(seed)
    books = np.empty((m, k_eff, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        centers = xs[rng.choice(n, size=k_eff, replace=False)].copy()
        xs_sq = (xs**2).sum(axis=1)
        books[j] = _lloyd_refine(xs, xs_sq, centers, iters, early_stop=False)
    return PqCodebook(books, m, sub)


def _pq_encode_udf(codebook: PqCodebook):
    """Shared Arrow encode kernel: vectors → m nearest-sub-centroid codes
    (matmul distance form, O(batch·k) memory per subspace)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    books = codebook.codebooks
    m, sub = codebook.m, codebook.sub_dim

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            cj = books[j]
            d = -2.0 * (xs @ cj.T) + (cj**2).sum(axis=1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_codebook_table(codebook: "PqCodebook", spark) -> DataFrame:
    """The PQ codebooks as a RELATIONAL table — (subspace, code,
    center array<double>) — so an IVF-PQ deployment persists entirely
    as parquet (the :func:`ivf_centers_table` convention; the
    streaming fold's restart story). m × k rows of sub_dim doubles: a
    broadcast-dimension-sized table. Rebuild with
    :func:`pq_codebook_from_table`."""
    from datamunging_spark.sources.io import local_table

    books = codebook.codebooks
    return local_table(
        spark,
        [
            (int(j), int(c), [float(x) for x in books[j][c]])
            for j in range(codebook.m)
            for c in range(books.shape[1])
        ],
        "subspace int, code int, center array<double>",
    )


def pq_codebook_from_table(centers_table: DataFrame) -> "PqCodebook":
    """Inverse of :func:`pq_codebook_table`: reassemble a
    :class:`PqCodebook` from the persisted table (one bounded collect
    of m × k rows)."""
    import numpy as np

    rows = sorted(
        centers_table.select("subspace", "code", "center").collect(),
        key=lambda r: (r["subspace"], r["code"]),
    )
    if not rows:
        raise ValueError("pq_codebook_from_table: empty table")
    m = rows[-1]["subspace"] + 1
    k = rows[-1]["code"] + 1
    if len(rows) != m * k:
        raise ValueError(
            f"pq_codebook_from_table: expected {m * k} rows "
            f"(m={m} × k={k}), got {len(rows)} — not a full codebook"
        )
    sub = len(rows[0]["center"])
    books = np.empty((m, k, sub))
    for r in rows:
        books[r["subspace"]][r["code"]] = np.asarray(r["center"])
    return PqCodebook(books, m, sub)


def pq_encode(
    corpus: DataFrame,
    codebook: PqCodebook,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "pq_codes",
    group_col: str | None = None,
) -> DataFrame:
    """Encode each vector to its ``m`` nearest-sub-centroid codes — one
    Arrow pass with the codebooks in closure (shared kernel
    :func:`_pq_encode_udf`); output is (id, codes) where codes is
    ``array<int>`` in [0, k). The encoded table is the persistable
    artifact (~m bytes/vector + id): at 100 TB of raw vectors the codes
    are hundreds of GB — broadcastable per executor, scan-only, never
    shuffled by this op. ``group_col`` rides the group column through
    for :func:`pq_topk`'s grouped face (PQ quantizes vectors
    group-independently — one GLOBAL codebook, the group is a join
    key, not a model input)."""
    encode = _pq_encode_udf(codebook)
    gb = [group_col] if group_col else []
    return corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        encode(F.col(vec_col)).alias(out),
        *gb,
    )


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: PqCodebook,
    k: int = 10,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    refine_k: int | None = None,
    vectors: DataFrame | None = None,
    vectors_id: str = "vec_id",
    group_col: str | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: full-precision queries against the
    PQ-encoded corpus. Per query batch, a (m × k) inner-product lookup
    table against the codebooks is built once in numpy; each candidate's
    approximate dot product is then ``m`` LUT adds — independent of dim.
    One ``mapInPandas`` scan of the codes table emits per-batch local
    top-k only, then a window takes the global top-k — the codes table
    is scanned once and never shuffled (only ~batches·queries·k rows
    reach the exchange). Compose with IVF by pre-filtering ``encoded``
    to probe cells (IVF-PQ, the standard billion-scale layout).

    Scores approximate the DOT PRODUCT — L2-normalize vectors upstream
    if cosine ranking is wanted (recall floor property-tested).

    ``refine_k`` arms the exact RE-RANK leg (FAISS's ``RefineFlat``
    shape): the ADC pass keeps top-``refine_k`` candidates per query
    (``refine_k ≥ k``; a few × k recovers most of the quantization
    recall loss — measured in SCALE.md), then ONE hits-sized broadcast
    join fetches their FULL vectors from ``vectors`` ((id, vec) —
    ``vectors_id``/``vec_col`` name the columns) and the final top-k
    ranks on the EXACT dot product. Cost: one |queries|·refine_k-row
    broadcast join against the vector table — the quantized scan still
    never touches full vectors. With ``refine_k`` ≥ corpus size the
    result IS brute force (pinned by test).

    ``group_col``: the grouped face — queries and ``encoded`` (and
    ``vectors``, when refining) all carry the group column
    (:func:`pq_encode` ``group_col=`` rides it through), each query
    scores ONLY its group's codes (the per-batch kernel partitions by
    the NULL-safe group key — ``pd.factorize``, one pass), ids need be
    unique only within their group, the group rides the output. One
    GLOBAL codebook serves every group (PQ quantizes vectors
    group-independently; the group is a join key, not a model input) —
    :func:`ivf_pq_topk`'s grouped contract on the flat-scan tier.
    Query ids stay the output key (duplicates fail fast); a query
    whose group has no encoded rows simply returns no rows.

    ``filter_ids``: predicate-constrained search — a one-column id
    table (or (group, id) on the grouped face, NULL-safe) semi-joins
    the codes table BEFORE the scan, so k fills from the filtered
    sub-corpus and ADC scores are untouched (the LUT depends only on
    the query) — the :func:`ivf_search` pre-filter contract."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    if (refine_k is None) != (vectors is None):
        raise ValueError(
            "pq_topk: pass refine_k AND vectors together (the exact "
            "re-rank leg) or neither"
        )
    if refine_k is not None and refine_k < k:
        raise ValueError(
            f"pq_topk: refine_k={refine_k} must be >= k={k} — the "
            "re-rank selects the final k from the ADC top-refine_k"
        )
    gb = [group_col] if group_col else []
    if group_col:
        for side, df_side in (
            ("queries", queries),
            ("encoded", encoded),
        ) + ((("vectors", vectors),) if vectors is not None else ()):
            if group_col not in df_side.columns:
                raise ValueError(
                    f"pq_topk: group_col={group_col!r} but the "
                    f"{side} table has no such column — every side "
                    "of the grouped face carries its group "
                    "(pq_encode(group_col=) keeps it on the codes)"
                )
            _check_group_type(df_side, group_col, "pq_topk")
    books = codebook.codebooks
    m = codebook.m
    q_rows = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            *([F.col(group_col).alias("_g")] if group_col else []),
        )
        .limit(_MAX_QUERY_BATCH + 1)
        .collect()
    )
    if not q_rows:
        raise ValueError("empty query batch")
    if len(q_rows) > _MAX_QUERY_BATCH:
        raise ValueError(
            f"pq_topk: query batch exceeds {_MAX_QUERY_BATCH} rows — "
            "the batch is collected to the driver to build the ADC "
            "lookup table (the documented small-batch contract); split "
            "the batch, or join-score a corpus-scale query table "
            "upstream"
        )
    q_ids = np.array([r["query_id"] for r in q_rows])
    if len(set(q_ids.tolist())) != len(q_ids):
        raise ValueError(
            "pq_topk: duplicate query ids in the batch — query_id is "
            "the output key (one row per query, even on grouped "
            "corpora); re-key the batch"
        )
    qx = np.stack([np.asarray(r["_qv"]) for r in q_rows]).astype(np.float64)
    sub = codebook.sub_dim
    # LUT[q, j, c] = <q_subvec_j, centroid_jc>
    lut = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m, sub), books)

    # id fields keep the INPUT id types (string doc ids work like the
    # rest of the module — brute_force/ivf/lsh all preserve them)
    schema = StructType(
        [
            StructField(
                "query_id", queries.schema[query_id].dataType
            ),
            StructField(
                "neighbor_id", encoded.schema["neighbor_id"].dataType
            ),
            StructField("score", DoubleType()),
        ]
    )

    k_adc = k if refine_k is None else int(refine_k)

    if group_col:
        q_by_gk: dict = {}
        for i, r in enumerate(q_rows):
            q_by_gk.setdefault(_pygkey(r["_g"]), []).append(i)
        q_by_gk = {g: np.asarray(ix) for g, ix in q_by_gk.items()}

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf[codes_col].to_numpy()).astype(np.int64)
            nb = pdf["neighbor_id"].to_numpy()
            # scores[q, n] = sum_j LUT[q, j, codes[n, j]]
            scores = lut[:, np.arange(m)[None, :], codes].sum(axis=2)
            # k+1: a query may meet itself in this batch and the self row
            # is filtered AFTER the local cut — without the slack it
            # would silently displace a real neighbor
            top = min(k_adc + 1, scores.shape[1])
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            rows = {
                "query_id": np.repeat(q_ids, top),
                "neighbor_id": nb[idx].ravel(),
                "score": np.take_along_axis(scores, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    def scan_grouped(batches):
        # same LUT reduction, partitioned by the in-plan _gk column
        # (pd.factorize group masks — one pass, NULL-byte safe); each
        # group's queries score only that group's code rows
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            gk_codes, gk_uniq = pd.factorize(pdf["_gk"])
            outs = []
            for gi, gk in enumerate(gk_uniq):
                qix = q_by_gk.get(gk)
                if qix is None:
                    continue
                mask = gk_codes == gi
                codes = np.stack(
                    pdf.loc[mask, codes_col].to_numpy()
                ).astype(np.int64)
                nb = pdf.loc[mask, "neighbor_id"].to_numpy()
                scores = lut[qix][
                    :, np.arange(m)[None, :], codes
                ].sum(axis=2)
                top = min(k_adc + 1, scores.shape[1])
                idx = np.argpartition(
                    -scores, top - 1, axis=1
                )[:, :top]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(q_ids[qix], top),
                            "neighbor_id": nb[idx].ravel(),
                            "score": np.take_along_axis(
                                scores, idx, axis=1
                            ).ravel(),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    enc = encoded
    if group_col:
        from datamunging_spark.operators.retrieval import _gkey

        enc = enc.withColumn("_gk", _gkey(group_col))
    if filter_ids is not None:
        flt, fjk = _filter_id_set(filter_ids, group_col, "pq_topk")
        enc = enc.join(flt, fjk, "semi")
    local = enc.select(
        "neighbor_id", codes_col, *(["_gk"] if group_col else [])
    ).mapInPandas(scan_grouped if group_col else scan, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    adc = (
        local.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_adc)
    )
    # one group per query row (the grouped-retrieval contract): the
    # group rides back onto the output via the broadcast query batch
    qgroups = (
        F.broadcast(
            queries.select(
                F.col(query_id).alias("query_id"), *gb
            ).distinct()
        )
        if group_col
        else None
    )
    if refine_k is None:
        out = adc.select(
            "query_id", "neighbor_id", "rank",
            F.round("score", 6).alias("score"),
        )
        if group_col:
            out = out.join(qgroups, "query_id").select(
                "query_id", *gb, "neighbor_id", "rank", "score"
            )
        return out
    cands = adc.select("query_id", "neighbor_id")
    vecs = vectors.select(
        F.col(vectors_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        *gb,
    )
    if group_col:
        from datamunging_spark.operators.retrieval import _gkey

        cands = (
            cands.join(qgroups, "query_id")
            .withColumn("_gk", _gkey(group_col))
            .select("query_id", "_gk", "neighbor_id")
        )
        vecs = vecs.withColumn("_gk", _gkey(group_col)).select(
            "_gk", "neighbor_id", "_cv"
        )
    return _exact_rerank(
        cands,
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("_qv"),
        ),
        vecs,
        k,
        gb=gb,
        qgroups=qgroups,
    )


def _exact_rerank(
    cands: DataFrame,
    q_slim: DataFrame,
    vecs: DataFrame,
    k: int,
    gb: list[str] | None = None,
    qgroups: DataFrame | None = None,
) -> DataFrame:
    """The refine leg shared by :func:`pq_topk` / :func:`ivf_pq_topk`:
    exact dot-product re-rank of a hits-sized (query_id, neighbor_id)
    candidate table — broadcast the candidates against the full-vector
    table (ONE hits-sized join; the corpus-scale scan stays on the
    quantized side), attach the query vectors (broadcast), score with
    the expression-form dot product (codegen, engine-reproducible) and
    keep the top-k. Grouped face (``gb`` non-empty): ``cands`` and
    ``vecs`` both carry the NULL-safe ``_gk`` key so colliding
    neighbor ids fetch THEIR group's vector; ``qgroups`` re-attaches
    the group value(s) to the output."""
    keys = ["_gk", "neighbor_id"] if gb else ["neighbor_id"]
    exact = (
        vecs.join(F.broadcast(cands), keys)
        .join(F.broadcast(q_slim), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    out = (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if gb:
        out = out.join(qgroups, "query_id")
    return out.select(
        "query_id", *(gb or []), "neighbor_id", "rank",
        F.round("score", 6).alias("score"),
    )


def pq_encode_cells(
    index: IvfIndex, codebook: PqCodebook, out: str = "pq_codes"
) -> DataFrame:
    """Encode an IVF index's assigned corpus, KEEPING the cell id:
    (neighbor_id, _cell, codes) — the persistable IVF-PQ index table
    (write partitioned by ``_cell``). This is the standard billion-scale
    ANN layout (Jégou et al. 2011 §IV): coarse cells bound the candidate
    set, PQ codes bound the memory per candidate. A grouped index's
    group column rides along (one GLOBAL codebook serves every group —
    PQ quantizes vectors group-independently)."""
    encode = _pq_encode_udf(codebook)
    gb = [index.group_col] if index.group_col else []
    return index.assigned.select(
        "neighbor_id", "_cell", encode(F.col("_cv")).alias(out), *gb
    )


def ivf_pq_topk(
    queries: DataFrame,
    index: IvfIndex,
    codebook: PqCodebook,
    encoded_cells: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    codes_col: str = "pq_codes",
    refine_k: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ADC search: each query visits its ``n_probe`` nearest cells
    (computed driver-side from the same query batch the ADC lookup table
    needs anyway) and scores ONLY those cells' PQ codes — candidate
    volume is corpus·n_probe/n_clusters rows of m-byte codes, never the
    corpus. The broadcast cell join is exchange-free; the batch-local
    top-k inside the scoring scan (same reduction as :func:`pq_topk`)
    cuts what reaches the one real shuffle — the final per-query window
    — to ~batches·queries·k rows. Scores approximate dot products
    (normalize upstream for cosine).

    ``refine_k`` arms the exact RE-RANK leg (``pq_topk``'s contract):
    the ADC pass keeps top-``refine_k`` per query, then one hits-sized
    broadcast join against ``index.assigned``'s full vectors re-ranks
    on the EXACT dot product and keeps k — most of the quantization
    recall loss back for one small join (the FAISS RefineFlat shape;
    recall-vs-refine_k measured in SCALE.md).

    GROUPED index (one GLOBAL codebook — PQ quantizes vectors
    group-independently): queries carry the group column, each query
    probes ITS group's centroids, candidates join on (group, cell)
    from a grouped ``encoded_cells`` (:func:`pq_encode_cells` keeps
    the group), the refine join keys (group, id), and the group rides
    the output — :func:`ivf_search`'s grouped contract on the
    quantized tier. ``filter_ids``: the :func:`ivf_search` pre-filter
    contract — the id-set (or (group, id) table on grouped indexes)
    semi-joins the probed-cell candidates BEFORE scoring."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    if refine_k is not None and refine_k < k:
        raise ValueError(
            f"ivf_pq_topk: refine_k={refine_k} must be >= k={k}"
        )
    gcol = index.group_col
    gb = [gcol] if gcol else []
    books = codebook.codebooks
    m = codebook.m
    sub = codebook.sub_dim
    if gcol:
        if gcol not in queries.columns:
            raise ValueError(
                f"ivf_pq_topk: grouped index (group_col={gcol!r}) but "
                "the query batch has no such column — queries must "
                "carry their group"
            )
        if gcol not in encoded_cells.columns:
            raise ValueError(
                "ivf_pq_topk: grouped index but encoded_cells has no "
                f"{gcol!r} column — encode with pq_encode_cells on the "
                "grouped index"
            )
        _check_group_type(queries, gcol, "ivf_pq_topk")
        _check_group_type(encoded_cells, gcol, "ivf_pq_topk")
    q_rows = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            *[F.col(g).alias("_g") for g in gb],
        )
        .limit(_MAX_QUERY_BATCH + 1)
        .collect()
    )
    if not q_rows:
        raise ValueError("empty query batch")
    if len(q_rows) > _MAX_QUERY_BATCH:
        raise ValueError(
            f"ivf_pq_topk: query batch exceeds {_MAX_QUERY_BATCH} rows "
            "— the batch is collected to the driver to build the ADC "
            "lookup table (the documented small-batch contract); split "
            "the batch, or join-score a corpus-scale query table "
            "upstream"
        )
    q_ids = [r["query_id"] for r in q_rows]
    if len(set(q_ids)) != len(q_ids):
        raise ValueError(
            "ivf_pq_topk: duplicate query ids in the batch — query_id "
            "is the output key (one row per query, even on grouped "
            "corpora: a 'a'/q1 vs 'b'/q1 collision would share one ADC "
            "lookup row and one ranking window); re-key the batch"
        )
    qx = np.stack([np.asarray(r["_qv"]) for r in q_rows]).astype(np.float64)
    lut = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m, sub), books)
    qpos = {qid: i for i, qid in enumerate(q_ids)}

    from datamunging_spark.sources.io import local_table

    spark = queries.sparkSession
    qid_type = queries.schema[query_id].dataType
    groups = [r["_g"] if gcol else None for r in q_rows]
    probed = _probe_cells(
        index, groups, [r["_qv"] for r in q_rows], n_probe, "ivf_pq_topk"
    )
    q_cells = local_table(
        spark,
        [
            (qid, *([_gk(g, gcol)] if gcol else []), int(c))
            for qid, g, cells in zip(q_ids, groups, probed)
            for c in cells
        ],
        StructType(
            [StructField("query_id", qid_type)]
            + ([StructField("_gk", StringType())] if gcol else [])
            + [StructField("_cell", encoded_cells.schema["_cell"].dataType)]
        ),
    )

    schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField(
                "neighbor_id", encoded_cells.schema["neighbor_id"].dataType
            ),
            StructField("score", DoubleType()),
        ]
    )

    k_adc = k if refine_k is None else int(refine_k)

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            qi = np.array([qpos[q] for q in pdf["query_id"]])
            cd = np.stack(pdf[codes_col].to_numpy()).astype(np.int64)
            s = lut[qi[:, None], np.arange(m)[None, :], cd].sum(axis=1)
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "score": s,
                }
            )
            # batch-local top-(k+1) per query (+1: the self row survives
            # to the post-scan filter)
            yield (
                out.sort_values("score", ascending=False)
                .groupby("query_id", sort=False)
                .head(k_adc + 1)
            )

    if gcol:
        from datamunging_spark.operators.retrieval import _gkey

        cand_enc = encoded_cells.withColumn("_gk", _gkey(gcol))
        joined = F.broadcast(q_cells).join(cand_enc, ["_gk", "_cell"])
    else:
        joined = F.broadcast(q_cells).join(encoded_cells, "_cell")
    if filter_ids is not None:
        flt, fjk = _filter_id_set(filter_ids, gcol, "ivf_pq_topk")
        joined = joined.join(flt, fjk, "semi")
    local = joined.select(
        "query_id", "neighbor_id", codes_col
    ).mapInPandas(scan, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    adc = (
        local.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_adc)
    )
    # one group per query row (the grouped-retrieval contract): the
    # group rides back onto the output via the broadcast query batch
    qgroups = (
        F.broadcast(
            queries.select(
                F.col(query_id).alias("query_id"), *gb
            ).distinct()
        )
        if gcol
        else None
    )
    if refine_k is None:
        out = adc.select(
            "query_id", "neighbor_id", "rank",
            F.round("score", 6).alias("score"),
        )
        if gcol:
            out = out.join(qgroups, "query_id").select(
                "query_id", *gb, "neighbor_id", "rank", "score"
            )
        return out
    cands = adc.select("query_id", "neighbor_id")
    vecs = index.assigned.select("neighbor_id", "_cv")
    if gcol:
        from datamunging_spark.operators.retrieval import _gkey

        cands = (
            cands.join(qgroups, "query_id")
            .withColumn("_gk", _gkey(gcol))
            .select("query_id", "_gk", "neighbor_id")
        )
        vecs = index.assigned.withColumn("_gk", _gkey(gcol)).select(
            "_gk", "neighbor_id", "_cv"
        )
    return _exact_rerank(
        cands,
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("_qv"),
        ),
        vecs,
        k,
        gb=gb or None,
        qgroups=qgroups,
    )


def ivf_cell_stats(index: IvfIndex, per_cell: bool = False) -> DataFrame:
    """Inverted-list balance report — the index-health leg of the
    vector family (how you decide to rebuild, re-fit k, or salt):
    per group (grouped face) one summary row with

    - ``n_cells`` / ``n_vectors`` / ``n_empty`` — list count, corpus
      size, cells with NO vectors (empty cells waste probes: n_probe
      buys fewer candidates than it paid for),
    - ``min_cell`` / ``max_cell`` / ``mean_cell`` — list-size spread,
    - ``imbalance`` — FAISS's imbalance factor: n_cells · Σnᵢ² /
      (Σnᵢ)², 1.0 = perfectly balanced; a value of f means unlucky
      queries probe lists ~f× the balanced size (skew: the 100 TB
      search-latency killer, since one hot cell serializes its scan).

    ``per_cell=True`` returns the raw (cell, n_vectors) table instead
    — empty cells included with 0 (derived from the centers, so the
    report covers cells the corpus never hit). Scale shape: ONE
    summary-sized aggregate keyed by (group, cell) over the slim
    ``assigned`` projection — the vector payload column never moves —
    then a broadcast-dim-sized join against the centers table."""
    gcol = index.group_col
    gb = [gcol] if gcol else []
    gk = ["_gk"] if gcol else []
    from datamunging_spark.operators.retrieval import _gkey

    cells = ivf_centers_table(index).select(*gb, "cell")
    a = index.assigned.select(
        *gb, F.col("_cell").alias("cell")
    )
    if gcol:
        cells = cells.withColumn("_gk", _gkey(gcol))
        a = a.select(_gkey(gcol).alias("_gk"), "cell")
    counts = a.groupBy(*gk, "cell").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    per = cells.join(counts, gk + ["cell"], "left").select(
        *gb,
        "cell",
        F.coalesce(F.col("n_vectors"), F.lit(0)).alias("n_vectors"),
    )
    if per_cell:
        return per
    n = F.col("n_vectors")
    return per.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(n).alias("n_vectors"),
        F.sum(F.when(n == 0, 1).otherwise(0)).alias("n_empty"),
        F.min(n).alias("min_cell"),
        F.max(n).alias("max_cell"),
        F.avg(n).alias("mean_cell"),
        (
            F.count(F.lit(1))
            * F.sum(n * n)
            / (F.sum(n) * F.sum(n))
        ).alias("imbalance"),
    )


def ann_recall_report(
    approx: DataFrame,
    exact: DataFrame,
    k: int | None = None,
    query_id_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query recall of an approximate top-k against exact ground
    truth — the evaluation leg of the vector family (how you tune
    n_probe / n_tables / refine_k / codebook_m; the
    :func:`~datamunging_spark.operators.retrieval.retrieval_metrics`
    twin): feed any ANN output (:func:`ivf_search` / :func:`lsh_search`
    / :func:`pq_topk` / :func:`ivf_pq_topk`) as ``approx`` and a
    :func:`brute_force_topk` run as ``exact``; get (query_id, n_exact,
    n_hit, recall) where ``recall`` = |approx ∩ exact| / |exact| —
    the standard ANN recall@k with the exact top-k as ground truth
    (denominator = the ACTUAL exact hit count, so corpora smaller
    than k don't deflate the score).

    ``k``: optional cutoff applied to ``rank_col`` on BOTH sides
    (measure recall@1 from a top-10 run); ``None`` scores the tables
    as given. Queries present in ``exact`` but retrieving nothing
    approximate score 0; queries only in ``approx`` are dropped —
    without ground truth they are unmeasurable (the
    :func:`retrieval_metrics` qrels convention). Grouped searches
    need no group handling here: their contract already demands
    globally-unique query ids. Both inputs are evaluation-sized
    (k·|queries|); one broadcast-able join + one aggregate."""
    if k is not None:
        approx = approx.filter(F.col(rank_col) <= int(k))
        exact = exact.filter(F.col(rank_col) <= int(k))
    e = exact.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("_nid"),
    )
    a = (
        approx.select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("_nid"),
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        e.join(a, ["query_id", "_nid"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )
