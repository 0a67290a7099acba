"""Data selection via importance resampling (DSIR) — choosing the raw
documents whose hashed n-gram feature distribution looks like a target
corpus (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS — reimplemented from the paper; the
standard pretraining-pipeline step between raw curation and training-
set assembly: "give me the 10M web docs most like Wikipedia+books").

The DSIR pipeline is four relational faces that compose like the
LM-quality family (text.py): featurize → fit (twice) → score →
resample — every face per-language-capable via ``group_col``. The
module also carries the cluster-side selection move,
:func:`cluster_balanced_sample` (D4-family diversity sampling over
embedding cells).

Scale shapes (the 100 TB story):

- **Features are md5-HEX-PREFIX buckets** (``substring(md5(gram), 1,
  hash_chars)``): portable across engines byte-for-byte (the repo's
  md5 discipline — no engine hash, no hex→int conversion), so scores
  are oracle-reproducible. ``16^hash_chars`` buckets (default 4 →
  65,536, the paper's 10k rounded up to a power of 16).
- **The fitted distributions are COMPLETE bucket tables** (every one
  of the 16^hash_chars buckets, absent ones smoothed) built by a left
  join of a generated ``spark.range``-backed bucket spine onto the
  observed counts — bounded rows by construction, the natural
  broadcast side of the scoring join; no "default row" special case
  can drift between engines.
- **Scoring is the lm_quality_score plan**: explode grams → broadcast
  join the bucket-ratio table → ONE map-side-combinable hash aggregate
  back to doc grain, log-ratios summed as ``decimal(28,7)`` so the
  reduction order can't change the score.
- **Resampling is Gumbel top-k** (Kool et al. 2019: adding Gumbel
  noise to log-weights and taking the top k IS sampling without
  replacement from the softmax): the noise is a pure expression over
  a salted md5 row key — deterministic on any engine and any
  partitioning — and the top-k runs as TakeOrdered per-partition
  heaps (plan-asserted), never a global sort exchange.

Like the LM family, the composite (:func:`dsir_select`) scans the raw
corpus twice (once fitting the raw feature distribution, once scoring)
instead of materializing the corpus-sized gram table — the same
trade text.py's fit+score pair makes, and the right one at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cluster_balanced_sample",
    "hashed_ngram_features",
    "dsir_fit",
    "dsir_logratios",
    "dsir_scores",
    "importance_resample",
    "dsir_select",
]


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_chars: int = 4,
    bigrams: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """(id, bucket) — one row per word-gram OCCURRENCE, bucket =
    ``substring(md5(gram), 1, hash_chars)`` (a hex string; see module
    docstring for why hex-prefix, not hex→int). Grams are the
    whitespace unigrams of the corpus-wide ``normalize_text`` form
    plus (default) their adjacent bigrams — the paper's feature set.
    Pure map: the token array is BOUND as a column before the gram
    expressions reference it (lambda-bearing expressions are excluded
    from Spark's subexpression elimination, so the inline form would
    re-normalize and re-split every row once per reference — the
    measured text.py trap); bigrams zip the bound array with its shift
    (both slices have length size-1, so Spark's NULL-padding zip_with
    semantics never trigger). No shuffle. The bucket column carries
    ``dsir_hash_chars`` metadata so downstream faces can fail fast on
    a width mismatch instead of silently joining nothing."""
    from datamunging_spark.functions import normalize_text

    if not 1 <= int(hash_chars) <= 8:
        raise ValueError(f"hash_chars must be in [1, 8], got {hash_chars}")
    gb = [group_col] if group_col else []
    base = df.select(
        F.col(id_col),
        *gb,
        F.filter(
            F.split(normalize_text(text_col), " ", -1), lambda w: w != ""
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    grams = toks
    if bigrams:
        n = F.size(toks)
        bi = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(toks, bi)
    return base.select(
        F.col(id_col), *gb, F.explode(grams).alias("_gram")
    ).select(
        id_col,
        *gb,
        F.substring(F.md5(F.col("_gram")), 1, int(hash_chars)).alias(
            "bucket",
            metadata={
                "dsir_hash_chars": int(hash_chars),
                "dsir_group_col": group_col or "",
            },
        ),
    )


def _bucket_spine(spark, hash_chars: int, group_col: str | None) -> DataFrame:
    """All 16^hash_chars hex-prefix buckets as one generated column —
    lowercase hex, zero-padded to hash_chars (md5 output is lowercase,
    so the spine matches the feature buckets exactly)."""
    n = 16 ** int(hash_chars)
    return spark.range(n).select(
        F.lpad(F.lower(F.hex("id")), int(hash_chars), "0").alias(
            "bucket",
            metadata={
                "dsir_hash_chars": int(hash_chars),
                "dsir_group_col": group_col or "",
            },
        )
    )


def _bucket_meta(df: DataFrame) -> tuple[int | None, str | None]:
    """(hash_chars, group_col) recorded in a bucket column's metadata
    ((None, None) when the table was built outside this module)."""
    try:
        m = df.schema["bucket"].metadata
    except KeyError:
        return None, None
    v = m.get("dsir_hash_chars")
    g = m.get("dsir_group_col")
    return (int(v) if v is not None else None), g


def _check_meta(
    df: DataFrame, hash_chars: int, group_col: str | None, who: str
) -> None:
    """Fail fast on bucket-table provenance mismatches — a width
    mismatch would silently join NOTHING; a group mismatch (grouped
    table consumed ungrouped, or vice versa) would silently join every
    feature against EVERY group's rows, multiplying n_features and
    summing cross-group ratios."""
    w, g = _bucket_meta(df)
    if w is not None and w != int(hash_chars):
        raise ValueError(
            f"{who}: bucket width mismatch — table built with "
            f"hash_chars={w}, caller expects {hash_chars}; a mismatched "
            "join would silently match nothing"
        )
    if g is not None and g != (group_col or ""):
        raise ValueError(
            f"{who}: group mismatch — table built with "
            f"group_col={g or None!r}, caller passes {group_col!r}; an "
            "ungrouped consumer of a grouped table would silently sum "
            "every group's rows"
        )


def _grouped_cond(left: DataFrame, right: DataFrame, gb: list):
    """The NULL-safe (group..., bucket) join condition shared by the
    ratio/score joins: right side pre-renamed to _rg_{g}/_rbk so no
    ambiguous names survive the join."""
    cond = left["bucket"] == right["_rbk"]
    for g in gb:
        cond = cond & left[g].eqNullSafe(right[f"_rg_{g}"])
    return cond


def _renamed_right(df: DataFrame, gb: list, value_cols: list) -> DataFrame:
    """Right side of a grouped bucket join with its key columns renamed
    to the _rg_{g}/_rbk scheme _grouped_cond expects."""
    return df.select(
        *[F.col(g).alias(f"_rg_{g}") for g in gb],
        F.col("bucket").alias("_rbk"),
        *value_cols,
    )


def dsir_fit(
    features: DataFrame,
    hash_chars: int = 4,
    alpha: float = 1.0,
    group_col: str | None = None,
) -> DataFrame:
    """Smoothed feature distribution over the COMPLETE bucket space:
    (bucket, cnt, logprob) for every one of the 16^hash_chars buckets,
    ``logprob = ln((cnt + alpha) / (total + alpha·B))`` (Laplace).
    Absent buckets appear with cnt=0 and the floor mass — no implicit
    "default" a consumer could compute differently. One map-side-
    combinable count aggregate (bounded output) + the generated spine
    left-joined on; logprob rounded to 7 decimals for the decimal-sum
    discipline downstream.

    ``group_col`` fits ONE DISTRIBUTION PER GROUP (the per-language
    structure — text.py's unigram_lm_fit precedent): the spine is
    generated per OBSERVED group (distinct groups × 16^hash_chars
    rows — group_col must be low-cardinality like a language id),
    probabilities are conditioned on the group via a NULL-safe window
    total (a NULL group — unidentified language — is a real group,
    never dropped by a join)."""
    if not float(alpha) > 0:
        # alpha=0 would turn absent buckets into log(0) = NULL in Spark
        # SQL (not -inf), and NULLs vanish silently inside the decimal
        # score sums downstream — fail here instead
        raise ValueError(f"alpha must be > 0, got {alpha}")
    _check_meta(features, hash_chars, group_col, "dsir_fit")
    spark = features.sparkSession
    b = 16 ** int(hash_chars)
    gb = [group_col] if group_col else []
    cnts = features.groupBy(*gb, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    spine = _bucket_spine(spark, hash_chars, group_col)
    if gb:
        from pyspark.sql import Window

        # groups come from the BOUNDED cnts aggregate, not from
        # features directly — every feature row reaches cnts, so the
        # group sets are identical, and the cnts exchange is reused
        # instead of re-running the corpus-sized explode a second time
        # just to enumerate groups (r11 review catch)
        # The spine branch derives from cnts (groups come from the
        # bounded aggregate — no second corpus scan, r11 review catch),
        # so the spine-cnts join is a SELF-join: dataset-level aliases
        # + qualified references are required or the analyzer rejects
        # the column references as ambiguous.
        groups = cnts.select(
            *[F.col(g).alias(f"_sg_{g}") for g in gb]
        ).distinct()
        sp = groups.crossJoin(spine).alias("_sp")
        cn = cnts.alias("_cn")
        # NULL-safe join condition: the NULL group's spine rows must
        # match its count rows (an equi-join would orphan them)
        cond = F.col("_sp.bucket") == F.col("_cn.bucket")
        for g in gb:
            cond = cond & F.col(f"_sp._sg_{g}").eqNullSafe(
                F.col(f"_cn.{g}")
            )
        joined = sp.join(cn, cond, "left").select(
            *[F.col(f"_sp._sg_{g}").alias(g) for g in gb],
            F.col("_sp.bucket").alias(
                "bucket",
                metadata={
                    "dsir_hash_chars": int(hash_chars),
                    "dsir_group_col": group_col or "",
                },
            ),
            F.col("_cn.cnt").alias("cnt"),
        )
        totaled = joined.withColumn(
            "_total", F.sum("cnt").over(Window.partitionBy(*gb))
        )
    else:
        total = cnts.agg(F.sum("cnt").alias("_total"))
        totaled = spine.join(cnts, "bucket", "left").crossJoin(
            F.broadcast(total)
        )
    return totaled.select(
        *gb,
        "bucket",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        F.round(
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(float(alpha)))
                / (
                    F.coalesce(F.col("_total"), F.lit(0))
                    + F.lit(float(alpha) * b)
                )
            ),
            7,
        ).alias("logprob"),
    )


def dsir_logratios(
    fit_target: DataFrame,
    fit_raw: DataFrame,
    group_col: str | None = None,
) -> DataFrame:
    """(bucket, logratio = target logprob − raw logprob): the per-
    feature importance weight table. Both fits are complete over the
    same bucket space, so this is a bounded inner equi-join with no
    missing-bucket case.

    With ``group_col`` the join is per-group (NULL-safe): the table
    covers the INTERSECTION of the two fits' groups — a raw group with
    no target data has no defined ratio, so its docs get no scores
    downstream (deliberate: no target for a language means nothing to
    select toward there; count dropped groups yourself if that needs
    surfacing)."""
    wt, _ = _bucket_meta(fit_target)
    wr, _ = _bucket_meta(fit_raw)
    if wt is not None and wr is not None and wt != wr:
        raise ValueError(
            f"dsir_logratios: fits built at different hash_chars "
            f"({wt} vs {wr})"
        )
    _check_meta(fit_target, wt or 4, group_col, "dsir_logratios(target)")
    _check_meta(fit_raw, wr or 4, group_col, "dsir_logratios(raw)")
    gb = [group_col] if group_col else []
    t = fit_target.select(
        *gb, "bucket", F.col("logprob").alias("_lt")
    )
    r = _renamed_right(fit_raw, gb, [F.col("logprob").alias("_lr")])
    return t.join(r, _grouped_cond(t, r, gb)).select(
        *gb,
        t["bucket"],
        F.round(F.col("_lt") - F.col("_lr"), 7).alias("logratio"),
    )


def dsir_scores(
    df: DataFrame,
    logratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_chars: int = 4,
    bigrams: bool = True,
    broadcast_ratios: bool = True,
    group_col: str | None = None,
    normalize: bool = False,
) -> DataFrame:
    """Per-document log importance weight: ``dsir_logw = Σ_features
    logratio(bucket)`` over the doc's feature occurrences (the paper's
    w(x) with the hashed-ngram bag). Output (id, n_features,
    dsir_logw) for docs with ≥1 feature — featureless docs (empty
    after normalization) carry no evidence and are dropped, same
    contract as lm_quality_score. ``normalize=True`` divides by
    ``n_features`` (mean per-feature log-ratio) — the length-controlled
    form: the raw sum is length-sensitive (every feature unseen in the
    target adds negative mass), so ranking mixed-length docs by the raw
    sum favors short docs regardless of theme; the paper's resampling
    uses the raw sum on length-comparable chunks, so the default stays
    raw. With ``group_col`` a doc scores
    against ITS OWN group's ratio rows (NULL-safely — an
    unidentified-language slice is a real group), the group column
    rides the output for per-group resampling, and docs whose group
    has no ratio rows (absent from the target) are dropped — see
    :func:`dsir_logratios`. Plan: explode → broadcast inner join
    (every bucket exists in the table) → one hash aggregate; ratios
    summed as decimal(28,7) so the score is reduction-order-free."""
    _check_meta(logratios, hash_chars, group_col, "dsir_scores")
    gb = [group_col] if group_col else []
    feats = hashed_ngram_features(
        df, text_col=text_col, id_col=id_col,
        hash_chars=hash_chars, bigrams=bigrams, group_col=group_col,
    )
    ratios = _renamed_right(
        logratios, gb, [F.col("logratio").cast("decimal(28,7)").alias("_lr")]
    )
    if broadcast_ratios and hash_chars >= 6:
        # 16^6 = 16.7M rows (~0.5+ GB broadcast) even ungrouped — the
        # bucket width alone breaks the broadcast regardless of group
        # count, so auto-fall back to a shuffle join (r11 ADVICE)
        import warnings

        warnings.warn(
            f"dsir_scores: ratio table has 16^{hash_chars} buckets — "
            "too wide to broadcast; falling back to a shuffle join "
            "(pass broadcast_ratios=False to silence)",
            stacklevel=2,
        )
        broadcast_ratios = False
    if broadcast_ratios:
        # with group_col the table is groups × 16^hash_chars rows —
        # pass broadcast_ratios=False past ~100 groups at hash_chars=4
        ratios = F.broadcast(ratios)
    # NULL-safe: the NULL group scores against ITS OWN ratio rows
    return (
        feats.join(ratios, _grouped_cond(feats, ratios, gb))
        .groupBy(id_col, *[feats[g] for g in gb])
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("_lr").alias("_sum"),
        )
        .select(
            id_col,
            *gb,
            "n_features",
            (
                F.col("_sum").cast("double") / F.col("n_features")
                if normalize
                else F.col("_sum").cast("double")
            ).alias("dsir_logw"),
        )
    )


def importance_resample(
    scored: DataFrame,
    k: int,
    id_cols: list[str] | None = None,
    logw_col: str = "dsir_logw",
    salt: str = "0",
    group_col: str | None = None,
) -> DataFrame:
    """Gumbel top-k sampling WITHOUT replacement from the softmax of
    ``logw_col`` (Kool et al. 2019): key = logw + Gumbel(0,1), take
    the k largest keys. The Gumbel noise is a pure expression over the
    repo's salted md5 row key — u = (int(first 8 hex chars of md5) + 1) / (2^32 + 2), 32 bits ∈
    (0,1) open on both ends, g = −ln(−ln(u)) — so the SAME (rows,
    salt, k) select the SAME sample on any engine or partitioning;
    ``salt`` re-deals. k is the operator's scale contract: the top-k
    runs as per-partition TakeOrdered heaps (no global sort exchange,
    plan-asserted in tests) and k rows land on the driver-side stage,
    so keep k selection-sized (millions), not corpus-sized.

    With ``group_col``, k applies PER GROUP (per-language selection)
    as a two-stage NULL-safe window rank: stage 1 keeps ≤ k rows per
    (group, input partition) — its exchange key includes the partition
    id, so a dominant language (80%-English web crawls) spreads over
    all tasks instead of hash-routing one language's entire corpus
    into a single sort; stage 2 ranks the survivors (≤ k × partitions
    per group) on the group key alone. Never a global sort, never a
    skewed one.

    Returns the selected rows of ``scored`` with the ``_gumbel_key``
    column retained (descending order of it = the sample's canonical
    order)."""
    from datamunging_spark.functions import salted_row_key

    if not id_cols:
        raise ValueError("id_cols must name the unique row identity")
    u = (
        (
            F.conv(
                F.substring(salted_row_key(id_cols, salt), 1, 8), 16, 10
            ).cast("double")
            + F.lit(1.0)
        )
        / F.lit(float(2**32) + 2.0)
    )
    key = F.col(logw_col) + (-F.log(-F.log(u)))
    keyed = scored.withColumn("_gumbel_key", key)
    tiebreak = [F.col(c) for c in id_cols]  # determinism under ties
    if group_col:
        from pyspark.sql import Window
        # stage 1: local pre-reduction — ≤ k rows per (group, input
        # partition); including the partition id in the window key
        # keeps a dominant group's rows spread across tasks
        w1 = Window.partitionBy(
            group_col, F.col("_ipid")
        ).orderBy(F.col("_gumbel_key").desc(), *tiebreak)
        pre = (
            keyed.withColumn("_ipid", F.spark_partition_id())
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= int(k))
            .drop("_rn", "_ipid")
        )
        # stage 2: final per-group rank over ≤ k × partitions rows
        w2 = Window.partitionBy(group_col).orderBy(
            F.col("_gumbel_key").desc(), *tiebreak
        )
        return (
            pre.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= int(k))
            .drop("_rn")
        )
    # same determinism contract as the grouped path: key ties (identical
    # logw + identical md5 8-hex prefix) resolve on row identity, never
    # on partition layout (r11 ADVICE)
    return keyed.orderBy(F.col("_gumbel_key").desc(), *tiebreak).limit(int(k))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_chars: int = 4,
    bigrams: bool = True,
    alpha: float = 1.0,
    salt: str = "0",
    group_col: str | None = None,
) -> DataFrame:
    """The composite: fit target and raw feature distributions, score
    every raw doc's log importance ratio, Gumbel-top-k resample.
    Returns (id, n_features, dsir_logw, _gumbel_key) for the k
    selected docs. With ``group_col``: per-group fits/ratios/scores
    (NULL-safe; raw groups absent from the target are dropped — see
    :func:`dsir_logratios`), the group column in the output, and k
    PER GROUP. Scans the raw corpus twice (fit + score) rather
    than materializing the corpus-sized gram table — the text.py
    fit/score trade. The two fitted tables and the ratio table are
    bucket-bounded (16^hash_chars rows) end to end."""
    kw = dict(
        text_col=text_col, id_col=id_col,
        hash_chars=hash_chars, bigrams=bigrams, group_col=group_col,
    )
    fit_t = dsir_fit(
        hashed_ngram_features(target, **kw), hash_chars, alpha, group_col
    )
    fit_r = dsir_fit(
        hashed_ngram_features(raw, **kw), hash_chars, alpha, group_col
    )
    ratios = dsir_logratios(fit_t, fit_r, group_col)
    scored = dsir_scores(raw, ratios, **kw)
    return importance_resample(
        scored, k, id_cols=[id_col], salt=salt, group_col=group_col
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    per_cluster_cap: int = 100,
    salt: str = "0",
    seed: int = 42,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Diversity-balanced selection over EMBEDDING clusters — the
    cluster-based curation move (Tirumala et al. 2023, "D4: Improving
    LLM Pretraining via Document De-Duplication and Diversification"
    family: after near-dedup, sample ACROSS semantic clusters instead
    of letting the corpus's dominant topic fill the budget).

    Plan shape: KMeans centroids come from
    :func:`~datamunging_spark.operators.similarity.ivf_build`'s SAMPLED
    fit (its full assignment table is lazy and never consumed here);
    cluster attachment is ONE Arrow pass with the centroid matrix in
    the UDF closure (``similarity._frozen_assign``, the kernel the IVF
    index assigns with — no join, nothing corpus-sized shuffles); the cap is
    :func:`~datamunging_spark.operators.sampling.cap_per_group`'s one
    window exchange on the bounded cell id (salted-md5 deterministic
    picks; ``id_col`` must uniquely identify rows for the cap's
    determinism contract — cap_per_group's docstring). The upstream
    lineage executes twice (fit-cache fill + the output pass) —
    ``localCheckpoint`` upstream first if it is an expensive curation
    chain, the usual fit/score trade.

    NULL ``vec_col`` rows carry no cluster evidence and are EXCLUDED
    from both fit and output (the NULL-text contract family). Empty
    input returns empty with the ``cluster_col`` schema instead of
    crashing KMeans. Returns ``df``'s surviving rows (≤ cap per
    cluster) plus ``cluster_col``; re-deal with ``salt``, re-cluster
    with ``seed``. Pair with :func:`dsir_select` for the standard
    recipe: importance-select toward the target FIRST, then balance
    what remains across clusters."""
    from datamunging_spark.operators.sampling import cap_per_group
    from datamunging_spark.operators.similarity import (
        _frozen_assign,
        ivf_build,
    )

    if cluster_col in df.columns:
        raise ValueError(
            f"cluster_col {cluster_col!r} already exists in df — pass a "
            "different name"
        )
    vecs_ok = df.filter(F.col(vec_col).isNotNull())
    if vecs_ok.isEmpty():
        return vecs_ok.withColumn(
            cluster_col, F.lit(None).cast("int")
        )
    idx = ivf_build(
        vecs_ok,
        corpus_id=id_col,
        vec_col=vec_col,
        n_clusters=n_clusters,
        seed=seed,
    )
    clustered = (
        vecs_ok.withColumn("_cb", _frozen_assign(idx.centers, vec_col))
        .withColumn(cluster_col, F.col("_cb").getItem(0).cast("int"))
        .drop("_cb")
    )
    return cap_per_group(
        clustered,
        [cluster_col],
        per_cluster_cap,
        id_cols=[id_col],
        salt=salt,
    )
