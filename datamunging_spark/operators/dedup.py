"""Deduplication suite (X1) — exact and near-dup, designed for 100 TB corpora.

Exact: normalize → hash → one groupBy shuffle on the 64/256-bit key (uniform,
skew-free by construction). Near-dup: MinHash+LSH banding so candidate pairs
come from equi-joins on band keys — never an O(n²) cross join. SimHash and
n-gram Jaccard round out the standard LLM-data toolkit.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datamunging_spark.functions import normalize_text

# Temp hash-column name used by the exact-dedup family. Namespaced so it can
# never silently clobber (then drop) a caller column the way a bare "_h"
# could; the guard below turns the residual collision into a loud error.
_HASH_TMP = "__dm_content_h"


def _hash_tmp_guard(df: DataFrame) -> None:
    if _HASH_TMP in df.columns:
        raise ValueError(
            f"input DataFrame already has a {_HASH_TMP!r} column; rename it "
            "before calling the dedup operators (reserved temp name)"
        )


def _probe_sample(df: DataFrame) -> DataFrame:
    """First + last row of EVERY partition of ``df`` (slim projection).

    Order-independent sample for the bloom staleness probes: a
    ``limit(N)`` deterministically reads the OLDEST files of an
    append-only snapshot (``advance_snapshot`` unions old-first), so it
    is blind to exactly the lag-by-one-fold staleness the probe exists
    to catch. A fold appended to the snapshot lands in its own files
    (own partitions) or at partition tails after compaction; sampling
    the head AND tail of every partition covers both with certainty,
    for one tiny shuffle of two rows per input partition. The column
    scan it costs is asymptotically free — the incremental anti-join /
    band join scans the same snapshot in full anyway.
    """
    cols = df.columns
    s = df.select(
        F.spark_partition_id().alias("_pid"), F.struct(*cols).alias("_s")
    )
    agg = s.groupBy("_pid").agg(
        F.first("_s").alias("_f"), F.last("_s").alias("_l")
    )
    return (
        agg.select(F.col("_f").alias("_s"))
        .unionByName(agg.select(F.col("_l").alias("_s")))
        .select("_s.*")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per normalized-text group.

    Implemented as min-over-group + semi-join-free filter: groupBy(hash) →
    min(id), then inner join back on (hash, id). The hash key is uniform so
    the shuffle cannot skew; the join's build side is one row per distinct
    doc, broadcast/AQE-eligible.

    NULL text hashes as the empty string (coalesce) so NULL-text rows
    survive dedup (one kept per group) instead of silently vanishing
    through the NULL-key join — NULL and '' text are treated as the same
    content group, matching paragraph_dedup.
    """
    _hash_tmp_guard(df)
    hashed = df.withColumn(
        _HASH_TMP, F.md5(F.coalesce(normalize_text(text_col), F.lit("")))
    )
    keep = hashed.groupBy(_HASH_TMP).agg(F.min(id_col).alias(id_col))
    return hashed.join(keep, on=[_HASH_TMP, id_col], how="inner").drop(
        _HASH_TMP
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Crawl-side dedup on canonical URL identity (keep min id per
    :func:`~datamunging_spark.functions.normalize_url` group) — the dedup
    a web pipeline runs BEFORE content dedup, since URL identity needs no
    fetch and no text. Same shape as :func:`exact_dedup`: uniform md5 key,
    one skew-free groupBy shuffle, broadcast/AQE-eligible join back."""
    from datamunging_spark.functions import normalize_url

    _hash_tmp_guard(df)
    norm = normalize_url(url_col)
    # NULL/empty URL is MISSING identity, not SHARED identity — unlike
    # exact_dedup's NULL text (which really is identical content), two
    # docs without URLs are not the same page. Key such rows by their own
    # id so they pass through undeduped instead of collapsing to one
    # survivor per batch.
    hashed = df.withColumn(
        _HASH_TMP,
        F.when(
            norm.isNull() | (norm == ""),
            F.concat(F.lit("__nourl__"), F.col(id_col).cast("string")),
        ).otherwise(F.md5(norm)),
    )
    keep = hashed.groupBy(_HASH_TMP).agg(F.min(id_col).alias(id_col))
    return hashed.join(keep, on=[_HASH_TMP, id_col], how="inner").drop(
        _HASH_TMP
    )


def dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Report duplicate groups: content hash → (n_dups, keep_id).

    NULL text coalesces to '' before hashing, same contract as exact_dedup.
    """
    hashed = df.select(
        F.md5(F.coalesce(normalize_text(text_col), F.lit(""))).alias(
            "content_hash"
        ),
        F.col(id_col),
    )
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def content_snapshot(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Slim dedup snapshot of a corpus: one (content_hash) row per distinct
    normalized content. This is the artifact a continuous-ingest pipeline
    persists between runs (parquet of 32-char hashes — a few GB per billion
    distinct docs) so the next crawl batch can be deduped WITHOUT rejoining
    the full historical corpus. Same hash contract as :func:`exact_dedup`
    (NULL text hashes as ''), so snapshot + incremental results compose
    with the intra-corpus operators.
    """
    return (
        df.select(
            F.md5(F.coalesce(normalize_text(text_col), F.lit(""))).alias(
                "content_hash"
            )
        )
        .distinct()
    )


def corpus_overlap_report(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fuzzy: bool = False,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """How much of corpus ``b`` is already in corpus ``a`` — the
    planning question asked before merging datasets, budgeting a
    crawl, or estimating contamination between collections. One-row
    report: ``docs_a/docs_b`` (row counts), ``distinct_a/distinct_b``
    (distinct normalized contents, :func:`content_snapshot`'s
    contract), ``exact_shared`` (distinct contents of b present in a)
    and ``pct_b_in_a`` (= exact_shared / distinct_b). With
    ``fuzzy=True``, adds ``fuzzy_candidates_b`` — distinct b docs
    sharing at least one MinHash LSH band with ANY a doc — and
    ``pct_b_near_a``. The fuzzy count is a PLANNING ESTIMATE that
    leans high but is not a guaranteed bound: band collisions
    overcount unrelated docs, while (i) genuinely similar pairs can
    miss every band (≈1.2% at J=0.7 with the 64/16 defaults) and
    (ii) docs with no extractable shingles (NULL/whitespace text)
    produce no signature and are absent from it entirely — so
    ``fuzzy_candidates_b`` can even sit below ``exact_shared`` on a
    corpus with NULL-text exact duplicates; read the two columns
    independently, not as nested sets.

    Scale shape: nothing but slim tables move — 32-char content
    hashes for the exact side (one semi-join of two hash snapshots),
    (band, key) signature rows for the fuzzy side (the
    batch-vs-history band join of :func:`incremental_minhash_dedup`,
    never a self-join); the report itself is 1-row aggregates
    broadcast together. No text is ever exchanged.
    """
    sa = content_snapshot(a, text_col)
    sb = content_snapshot(b, text_col)
    shared = sb.join(sa, "content_hash", "left_semi").agg(
        F.count(F.lit(1)).alias("exact_shared")
    )
    stats = (
        a.agg(F.count(F.lit(1)).alias("docs_a"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).alias("docs_b"))))
        .crossJoin(F.broadcast(sa.agg(F.count(F.lit(1)).alias("distinct_a"))))
        .crossJoin(F.broadcast(sb.agg(F.count(F.lit(1)).alias("distinct_b"))))
        .crossJoin(F.broadcast(shared))
    )
    out_cols = [
        "docs_a",
        "docs_b",
        "distinct_a",
        "distinct_b",
        "exact_shared",
        F.round(
            F.col("exact_shared")
            / F.greatest(F.col("distinct_b"), F.lit(1)),
            6,
        ).alias("pct_b_in_a"),
    ]
    if not fuzzy:
        return stats.select(*out_cols)
    ba = _band_rows(
        minhash_signatures_df(a, text_col, id_col, num_hashes),
        id_col, num_hashes, bands,
    ).select(F.col("_b").alias("_ab"), F.col("_k").alias("_ak"))
    bb = _band_rows(
        minhash_signatures_df(b, text_col, id_col, num_hashes),
        id_col, num_hashes, bands,
    )
    near = (
        bb.join(
            ba,
            (bb["_b"] == ba["_ab"]) & (bb["_k"] == ba["_ak"]),
            "left_semi",
        )
        .agg(F.count_distinct(F.col(id_col)).alias("fuzzy_candidates_b"))
    )
    return stats.crossJoin(F.broadcast(near)).select(
        *out_cols,
        "fuzzy_candidates_b",
        F.round(
            F.col("fuzzy_candidates_b")
            / F.greatest(F.col("docs_b"), F.lit(1)),
            6,
        ).alias("pct_b_near_a"),
    )


def incremental_dedup(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
    within_batch: bool = True,
    seen_distinct: bool = False,
    bloom=None,
    bloom_verify: bool = True,
) -> DataFrame:
    """Dedup a NEW ingest batch against a prior :func:`content_snapshot`,
    then (by default) within the batch itself — the standard continuous-
    crawl shape: the historical corpus is represented only by its slim
    hash snapshot, never rescanned.

    Plan: hash the batch once (pure map), left-anti equi-join on the
    uniform md5 key against the snapshot (AQE/broadcast-eligible whenever
    the batch's distinct-hash side is small; hash join otherwise — both
    sides are slim single-column exchanges, the batch's payload columns
    rejoin only after the filter), then one intra-batch
    :func:`exact_dedup`. At 100 TB-of-history scale the snapshot is
    ~1000× smaller than the corpus, which is the entire point.

    Near-dup incrementality is :func:`incremental_minhash_dedup` (same
    pattern one level up, with a signature snapshot); exact-only here
    keeps this operator oracle-deterministic.

    ``bloom`` (a :class:`~datamunging_spark.operators.bloom.BloomFilter`
    built over the snapshot's ``hash_col``, maintainable per batch via
    ``bloom_or``) prefilters the batch: rows the filter rejects are
    DEFINITELY new and bypass the anti-join entirely, so the join's
    batch-side exchange shrinks to ≈ true dupes + fpp of the new mass.
    The flagged batch is materialized once (localCheckpoint — the batch
    is the loop's bounded working set) so the Arrow probe runs ONE pass
    even though the definite/maybe split plus the downstream
    within-batch dedup consume it from several plan branches. Results
    identical by the no-false-negative guarantee.

    PRECONDITION on ``bloom``: the filter must COVER every hash in
    ``seen`` — a stale filter (snapshot advanced without the matching
    ``bloom_or`` fold) silently classifies uncovered duplicates as
    "definitely new" and they bypass the anti-join, violating the
    exact-dedup guarantee. ``bloom_verify`` (truthy enables, default on,
    0 disables) guards the precondition: the first AND last snapshot
    hash of every partition is probed through the filter in one tiny
    job (:func:`_probe_sample` — order-independent, so an appended
    uncovered fold cannot hide behind a head-of-table ``limit``) and
    ANY miss raises — a miss is proof of staleness (a covering Bloom
    filter has no false negatives). Sampling can't prove full coverage,
    but the common failure mode (filter lags the snapshot by a whole
    batch, i.e. whole parquet files uncovered) is caught with certainty
    at negligible cost.
    """
    _hash_tmp_guard(new_df)
    if bloom is not None and bloom_verify:
        from datamunging_spark.operators.bloom import bloom_might_contain

        missed = (
            _probe_sample(seen.select(F.col(hash_col)))
            .filter(~bloom_might_contain(bloom, hash_col))
            .count()
        )
        if missed:
            raise ValueError(
                f"stale bloom filter: {missed} sampled snapshot hashes "
                "(first+last of every partition) are ABSENT from the filter "
                "— it does not "
                "cover the snapshot (did the snapshot advance without the "
                "matching bloom_or fold?); uncovered duplicates would "
                "silently bypass the anti-join. Rebuild or fold the filter, "
                "or pass bloom_verify=0 to skip this check."
            )
    hashed = new_df.withColumn(
        _HASH_TMP, F.md5(F.coalesce(normalize_text(text_col), F.lit("")))
    )
    definitely_new = None
    if bloom is not None:
        from datamunging_spark.operators.bloom import bloom_might_contain

        if "__dm_bloom_maybe" in new_df.columns:
            raise ValueError(
                "input DataFrame already has a '__dm_bloom_maybe' column;"
                " rename it before calling incremental_dedup with a bloom"
                " filter (reserved temp name — same contract as"
                f" {_HASH_TMP!r})"
            )
        hashed = hashed.withColumn(
            "__dm_bloom_maybe", bloom_might_contain(bloom, _HASH_TMP)
        ).localCheckpoint()
        definitely_new = hashed.filter(~F.col("__dm_bloom_maybe")).drop(
            "__dm_bloom_maybe"
        )
        hashed = hashed.filter(F.col("__dm_bloom_maybe")).drop(
            "__dm_bloom_maybe"
        )
    # seen_distinct: content_snapshot/advance_snapshot output is distinct
    # by construction, and an anti-join is set-semantics anyway — the
    # defensive distinct only matters for caller-built snapshots with
    # duplicate hashes feeding OTHER consumers. Skipping it (and any
    # projection that would discard scan-level distribution info) lets a
    # BUCKETED snapshot table (write_snapshots_table) join exchange-free
    # on the history side — the big side at 100 TB.
    seen_keys = seen.select(F.col(hash_col).alias(_HASH_TMP))
    if not seen_distinct:
        seen_keys = seen_keys.distinct()
    fresh = hashed.join(seen_keys, on=_HASH_TMP, how="left_anti")
    if definitely_new is not None:
        fresh = definitely_new.unionByName(fresh)
    fresh = fresh.drop(_HASH_TMP)
    return exact_dedup(fresh, text_col, id_col) if within_batch else fresh


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding (near-dup at scale)
# ---------------------------------------------------------------------------

def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text (expression-only:
    sequence → transform → substring → array_distinct)."""
    c = normalize_text(col)
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of the normalized text."""
    toks = F.split(normalize_text(col), " ", -1)
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - F.lit(n), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as a single column expression: min over shingles of
    hash_i(shingle) for each of ``num_hashes`` independent draws.

    WARNING — small data only. Higher-order functions are evaluated
    interpreted (outside whole-stage codegen) with no common-subexpression
    elimination, so the shingle subtree re-evaluates once per seed: ~64× the
    work per row. The scale path is :func:`minhash_signatures_df`, which this
    module's pair/dedup entry points use."""
    hashed = F.transform(shingles, lambda sh: F.xxhash64(sh))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(F.transform(hashed, lambda h: F.xxhash64(h, s))),
    )


def exploded_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """(id, _sh) word n-gram rows via posexplode + window ``lead`` — the
    codegen-friendly shingle source (~5× the HOF array form at sf0.1, and
    the window's (id) exchange is reused by the downstream groupBy(id)).

    Matches :func:`word_ngrams` semantics exactly: full n-grams only
    (pos + n ≤ token count), except docs shorter than ``n`` tokens yield one
    whole-doc gram (pos 0; ``concat_ws`` skips the NULL leads).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ", -1)).alias(
            "_pos", "_t"
        ),
    )
    per_doc = Window.partitionBy(id_col)
    ordered = per_doc.orderBy("_pos")
    leads = [F.lead("_t", i).over(ordered) for i in range(1, n)]
    g = toks.select(
        id_col,
        "_pos",
        F.concat_ws(" ", F.col("_t"), *leads).alias("_sh"),
        F.count(F.lit(1)).over(per_doc).alias("_cnt"),
    ).filter((F.col("_pos") + n <= F.col("_cnt")) | (F.col("_pos") == 0))
    out = g.select(id_col, "_sh")
    return out.dropDuplicates([id_col, "_sh"]) if distinct else out


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_words: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, _sig) via exploded n-grams + one hash-aggregate — the 100 TB
    shape.

    Each shingle string is hashed exactly once; all ``num_hashes``
    signature slots are per-seed min aggregates in ONE groupBy(id):
    partial (map-side) aggregation shrinks the shuffle to one row per
    doc per partition, the shuffle key is the doc id (uniform, no
    skew), and MinHash is duplicate-insensitive so no distinct pass is
    needed. ~100× the naive expression form at sf0.1.

    ``portable=False`` (default, the throughput path): ``_sig`` is
    ``array<long>``, slot i = ``min(xxhash64(xxhash64(shingle), i))``
    — JVM-codegen'd, 8 bytes per slot, engine-specific (Spark's seeded
    xxhash64 exists nowhere else, which is why the fuzzy-dedup gate
    rows were rows-only before r12).

    ``portable=True``: ``_sig`` is ``array<string>``, slot i =
    ``min(md5(i || '|' || md5(shingle)))`` — lexicographic min over
    lowercase 32-hex md5 strings, byte-reproducible in any engine with
    an md5() (the ``bernoulli_sample_portable`` / DSIR md5 discipline
    applied to MinHash). Slot quality is the same (md5 uniform per
    seed). Cost, MEASURED at sf0.1 (5k docs, local[32], warm): the
    signature aggregate walls are equal (~0.9-1.0 s both tiers — the
    explode+agg machinery dominates, both hashes are JVM-codegen'd)
    and the pair plans are within noise (3.9 vs 4.2 s); the real
    price is WIDTH — 32-char string slots vs 8-byte longs, ~4× the
    signature/band-key bytes crossing the shuffle and sitting in the
    persisted snapshot, which is what matters at 100 TB. Use the
    default for throughput-critical snapshots, portable for
    cross-engine verification and reproducible-corpus contracts.
    Per-seed min-hashes stay INDEPENDENT draws because the seed is
    hashed INTO md5, not appended to its output.
    """
    if portable:
        exploded = exploded_ngrams(
            df, text_col, id_col, shingle_words
        ).select(id_col, F.md5("_sh").alias("_h"))
        aggs = [
            F.min(
                F.md5(F.concat_ws("|", F.lit(str(s)), F.col("_h")))
            ).alias(f"_m{s}")
            for s in range(num_hashes)
        ]
    else:
        exploded = exploded_ngrams(
            df, text_col, id_col, shingle_words
        ).select(id_col, F.xxhash64("_sh").alias("_h"))
        aggs = [
            F.min(F.xxhash64(F.col("_h"), F.lit(s))).alias(f"_m{s}")
            for s in range(num_hashes)
        ]
    return (
        exploded.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("_sig"),
        )
    )


def _band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, _b, _k) LSH band rows from a signature table — a pure
    expression over ``_sig`` (no text needed), shared by the intra-corpus
    self-join (:func:`minhash_lsh_pairs`) and the incremental
    history-vs-batch join (:func:`incremental_minhash_dedup`).

    A portable (``array<string>``) signature gets a portable band key:
    ``md5`` of the comma-joined slot slice — the hex-string analog of
    the default ``xxhash64`` key, reproducible in DuckDB SQL."""
    rows_per_band = num_hashes // bands
    portable = isinstance(
        sig.schema["_sig"].dataType.elementType, T.StringType
    )

    def band_key(b):
        joined = F.concat_ws(
            ",",
            F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
            if portable
            else F.transform(
                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        return F.md5(joined) if portable else F.xxhash64(joined)

    return sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"), band_key(b).alias("key")
                ),
            )
        ).alias("_band"),
    ).select(
        id_col, F.col("_band.band").alias("_b"), F.col("_band.key").alias("_k")
    )


def _band_collision_pairs(
    left_bands: DataFrame,
    right_bands: DataFrame,
    left_id: str,
    right_id: str,
    ordered: bool = False,
) -> DataFrame:
    """Distinct candidate id pairs from two (id, _b, _k) band-row
    tables colliding on any band key — the ONE home for the near-dup
    family's band-collision join (minhash/simhash self-joins and the
    incremental history-vs-batch probes; phash rides the simhash seam).
    ``ordered=True`` is the self-join form: both sides are the same
    banded table and the canonical ``left_id < right_id`` cut halves
    the pairs and drops self-matches. Keys are uniform by construction
    (hash chunks), so collision groups stay tiny and the join never
    degenerates toward all-pairs; only slim (id, band, key) rows ever
    shuffle — payloads re-join onto the distinct pair set afterwards
    via :func:`_pair_values`."""
    cand = left_bands.join(right_bands, on=["_b", "_k"])
    if ordered:
        cand = cand.filter(F.col(left_id) < F.col(right_id))
    return cand.select(left_id, right_id).dropDuplicates(
        [left_id, right_id]
    )


def _pair_values(
    pairs: DataFrame,
    left_src: DataFrame,
    right_src: DataFrame,
    id_col: str,
    val_col: str,
    left_id: str = "id_a",
    right_id: str = "id_b",
    left_val: str = "_va",
    right_val: str = "_vb",
) -> DataFrame:
    """Join one per-id value column onto both sides of a candidate pair
    table (the verify-predicate input): two slim equi-joins against the
    pair set — pair-set-sized, never banded-row-sized."""
    return pairs.join(
        left_src.select(
            F.col(id_col).alias(left_id), F.col(val_col).alias(left_val)
        ),
        left_id,
    ).join(
        right_src.select(
            F.col(id_col).alias(right_id),
            F.col(val_col).alias(right_val),
        ),
        right_id,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    portable: bool = False,
    _return_sig: bool = False,
    _precomputed_sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.
    ``portable=True`` switches the signature/band hashing to the
    engine-portable md5 form (see :func:`minhash_signatures_df`) —
    same banding recall math, DuckDB-reproducible output.

    rows per band = num_hashes/bands. Docs sharing any band key collide.
    Scale shape: explode to (band_key, id) — one row per doc per band — then
    a self-equi-join on band_key. Collision groups are tiny for real corpora
    (hash keys uniform); no cross join anywhere. Returns distinct (id_a,
    id_b) with id_a < id_b, plus exact Jaccard over the signatures for
    post-filtering.

    Cache ownership: the returned plan references a persisted signature
    intermediate (tiny: id + ``num_hashes`` longs per doc). Callers that
    need deterministic release — e.g. many invocations in one session —
    should pass ``_return_sig=True`` to also receive the persisted handle
    and ``unpersist()`` it once the pair plan has been consumed (exactly
    what :func:`minhash_dedup` does).
    """
    # _precomputed_sig: callers that already hold this df's signature table
    # (incremental ingest signs the batch ONCE for the history compare and
    # reuses the survivor subset here) pass it to skip the signature agg;
    # it must cover every id in df with the same (num_hashes,
    # shingle_words) — the caller owns that contract.
    if _precomputed_sig is not None:
        sig = _precomputed_sig
    else:
        sig = minhash_signatures_df(
            df, text_col, id_col, num_hashes, shingle_words, portable
        )
    # Persist: the banding explode and the two signature re-joins below all
    # reference it; the cached table is tiny (id + 64 longs ≈ 0.5 KB/doc)
    # even at corpus scale. Fill the cache EAGERLY (one count over the
    # cached rows): the first action on the pair plan otherwise submits
    # the band self-join's left and right exchange subtrees concurrently
    # (AQE materializes independent query stages in parallel) and BOTH
    # race the cold cache, each computing the full signature window+agg
    # — the x_curation_full stage profile showed the twin ~4.5 CPU-s
    # Window stages (r17; at corpus scale that is a duplicated full
    # signature pass). With the cache warm, both sides read
    # InMemoryTableScan.
    sig = sig.persist()
    try:
        sig.count()
    except BaseException:
        # the cache is the caller's only on success (_return_sig)
        sig.unpersist()
        raise
    # Band rows carry ONLY (id, band, key) — the signature arrays stay out
    # of the self-join shuffle (they re-join onto the tiny distinct pair set
    # afterwards instead of riding every banded row twice).
    banded = _band_rows(sig, id_col, num_hashes, bands)

    left = banded.select(F.col(id_col).alias("id_a"), "_b", "_k")
    right = banded.select(F.col(id_col).alias("id_b"), "_b", "_k")
    pair_ids = _band_collision_pairs(
        left, right, "id_a", "id_b", ordered=True
    )
    out = _pair_values(
        pair_ids, sig, sig, id_col, "_sig",
        left_val="_sig_a", right_val="_sig_b",
    ).select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("_sig_a", "_sig_b"))
            / F.lit(float(num_hashes))
        ).alias("sig_jaccard"),
    )
    return (out, sig) if _return_sig else out


def _driver_union_find(edges: DataFrame, _rows=None) -> DataFrame:
    """Label a SMALL collected edge set with path-compressed union-find and
    return the (v, component) rows for non-root vertices, component = min
    member id. Only called below a known edge-count threshold — the collect
    is bounded by the caller (which may pass the already-collected rows via
    ``_rows`` to avoid a second collect job)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in (edges.collect() if _rows is None else _rows):
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min member per root (Python min/max order strings by code point —
    # identical to Spark's binary UTF-8 string comparison)
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    rows = [
        (v, comp_min[find(v)]) for v in parent if v != comp_min[find(v)]
    ]
    id_type = edges.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("v", id_type), T.StructField("component", id_type)]
    )
    # LocalTableScan, not a 32-slice pickled RDD: the label table is
    # re-read by every downstream consumer/action (r16, sources.local_table)
    from datamunging_spark.sources.io import local_table

    return local_table(edges.sparkSession, rows, schema)


def connected_component_labels(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Connected components of an undirected pair graph via alternating
    large-star / small-star edge rewriting — the published O(log n)-round
    MapReduce CC algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14; same family as GraphFrames' CC).
    Returns (v, component) for every vertex appearing in ``pairs``, where
    the component id is the minimum vertex id of the component.

    Why not plain min-label propagation: labels flow over STATIC edges one
    neighbor-hop per round, so a cluster whose min id sits diameter-d hops
    from some member needs d rounds — a long chain silently under-merges at
    any fixed iteration cap (pointer-jumping doesn't help; it only flattens
    label trees, it cannot cross graph edges). Star rewriting instead
    reshapes the EDGES toward the minimum each round, halving effective
    diameter — convergence in O(log n) rounds unconditionally.

    Scale shape per round: two groupBy-min aggregations + two equi-joins on
    vertex ids (uniform keys, map-side combinable); the edge set never
    grows beyond the input edge count + vertex count. Each round is
    ``localCheckpoint``-ed to truncate iterative lineage (cluster
    deployments with a checkpoint dir can switch to ``checkpoint()``).
    Convergence = edge-set fixed point, detected via count + xxhash64
    checksum (one tiny agg job; a hash-sum collision is ~2^-64).
    Exhausting ``max_iter`` RAISES rather than return labels that would
    split one duplicate cluster into several survivors.

    Adaptive small-graph path: a ``limit(driver_threshold + 1)`` collect
    probes the canonical edge set (driver memory stays bounded by the
    threshold regardless of true edge count); when everything fit, those
    same rows feed one driver-side union-find instead of iterative star
    rounds — the same runtime-stats-driven switch AQE applies to broadcast
    joins. LSH candidate-pair graphs are tiny relative to the corpus (that
    is the point of LSH), so in practice this path serves most dedup calls
    and saves the per-round fixed job overhead that dominates small inputs;
    genuinely large pair graphs still take the distributed star path.

    Job-count shape: ``pairs`` is materialized ONCE up front (the candidate
    plan above CC — band self-join + scoring — is the expensive part;
    deriving verts and edges from the un-materialized plan would execute
    it once per branch), then the small path costs exactly two more tiny
    jobs (edge canon + probe collect).
    """

    def _canon(e: DataFrame) -> DataFrame:
        # store every edge pointing high -> low: (u, v) with u > v
        return (
            e.filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )

    def _large_star(e: DataFrame) -> DataFrame:
        # connect every strictly-larger neighbor of u to min(N(u) + {u})
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return _canon(
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is high->low; connect u and all its smaller neighbors to their min
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        withm = e.join(mins, "u")
        return _canon(
            withm.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
                mins.select("u", F.col("m").alias("v"))
            )
        )

    def _checksum(e: DataFrame):
        # decimal(38,0) sum: uniform int64 hashes overflow a long sum after
        # a handful of edges, which is an ArithmeticException under ANSI
        # mode (on by default in plain Spark 4 sessions).
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    pairs = pairs.localCheckpoint()
    verts = (  # lazy: one cheap union-distinct over the materialized pairs
        pairs.select(F.col(a_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("v")))
        .distinct()
    )
    edges = _canon(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    ).localCheckpoint()
    # clamp: limit() takes a Java int; a huge threshold means "always
    # driver path" and a full collect is the intent
    probe = edges.limit(min(driver_threshold + 1, 2**31 - 1)).collect()
    if len(probe) <= driver_threshold:
        non_roots = _driver_union_find(edges, _rows=probe)
    else:
        prev = _checksum(edges)
        converged = False
        for _ in range(max_iter):
            # lazy checkpoint: the checksum action right below materializes
            # it, so each round costs ONE job (matters in the tiny-graph
            # regime where fixed job overhead dominates; at scale it's the
            # same work)
            edges = _small_star(_large_star(edges)).localCheckpoint(
                eager=False
            )
            cur = _checksum(edges)
            if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
                converged = True
                break
            prev = cur
        if not converged:
            raise RuntimeError(
                f"connected_component_labels did not converge in {max_iter} "
                "star rounds; raise max_iter"
            )
        # Fixed point = disjoint stars centered on component minima: every
        # non-root appears exactly once as u with its root as v. Vertices
        # with no surviving edge (roots, and vertices seen only in
        # self-loop pairs) label themselves — the left join against the
        # full vertex set keeps the documented "every vertex appearing in
        # pairs" contract.
        non_roots = edges.select(
            F.col("u").alias("v"), F.col("v").alias("component")
        )
    return verts.join(non_roots, "v", "left").select(
        "v", F.coalesce("component", F.col("v")).alias("component")
    )


def minhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Label every doc with its near-duplicate cluster id (the cluster's
    min doc id) instead of dropping losers — the analysis-side counterpart
    of :func:`minhash_dedup` for duplicate-density reports, survivor
    auditing, and choosing per-cluster representatives by a custom rule.
    Docs with no near-dup are their own singleton cluster. Same plan as
    minhash_dedup up to the CC labels; the final step joins labels back
    instead of anti-joining them away."""
    pairs, sig = minhash_lsh_pairs(
        df, text_col, id_col, _return_sig=True, **lsh_kwargs
    )
    try:
        matched = pairs.filter(F.col("sig_jaccard") >= threshold)
        comp = connected_component_labels(matched).localCheckpoint()
    finally:
        sig.unpersist()
    return df.join(
        comp.withColumnRenamed("v", id_col),
        on=id_col,
        how="left",
    ).withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    method: str = "cc",
    **lsh_kwargs,
) -> DataFrame:
    """Near-dedup over MinHash-LSH candidates at sig-Jaccard ≥ threshold.

    method="cc" (default): connected-component survivor selection — O(log n)
    large-star/small-star rewriting over the candidate-pair graph, keeping
    exactly ONE doc per transitive duplicate cluster. Handles the star/chain
    case greedy gets wrong: with pairs (2,9) and (5,9) only, greedy drops
    just 9 and keeps both 2 and 5 even though they belong to one cluster.

    method="greedy": one-pass approximation — drop every doc that collides
    with a lower-id doc. Cheaper (no iteration) and correct whenever every
    non-root has a lower-id neighbor; kept for pipelines that prefer one
    fixed pass over a data-dependent number of (small) label rounds.

    The loser id-set is materialized (``localCheckpoint``) before the
    signature cache is released, so repeated calls in one session do not
    accumulate cached blocks; the final anti-join is corpus × small id set.
    """
    if method not in ("cc", "greedy"):
        raise ValueError(f"unknown dedup method: {method!r}")
    pairs, sig = minhash_lsh_pairs(
        df, text_col, id_col, _return_sig=True, **lsh_kwargs
    )
    try:
        matched = pairs.filter(F.col("sig_jaccard") >= threshold)
        if method == "cc":
            comp = connected_component_labels(matched)
            losers = (
                comp.filter(F.col("v") != F.col("component"))
                .select(F.col("v").alias(id_col))
            )
        else:  # greedy (validated above)
            losers = matched.select(F.col("id_b").alias(id_col)).distinct()
        losers = losers.localCheckpoint()
    finally:
        # release even when CC raises non-convergence — the docstring's
        # no-cache-accumulation promise must hold on the error path too
        sig.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


def band_bloom_build(
    hist_sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    fpp: float = 0.01,
    num_items: int | None = None,
):
    """Bloom filter over a signature snapshot's BAND KEYS — the fuzzy
    sibling of the content-hash filter :func:`incremental_dedup` takes:
    a batch band row the filter rejects can match NO history band row,
    so only the might-contain remainder probes the (big) history band
    join. ``num_items`` defaults to ``hist_sig.count() × bands`` (one
    band row per doc per band — pass it when the snapshot count is
    already known). Maintain incrementally like the exact one: after
    ``advance_snapshot``, build a filter over the SURVIVOR increment's
    band rows with the same (m, k) — i.e. the same ``num_items``/``fpp``
    sizing — and ``bloom_or`` it in; (num_hashes, bands) must match the
    probe-time banding or keys are incomparable, same caller contract as
    the signature snapshot itself."""
    from datamunging_spark.operators.bloom import bloom_build

    if num_items is None:
        num_items = hist_sig.count() * bands
    hb = _band_rows(hist_sig, id_col, num_hashes, bands).select("_b", "_k")
    return bloom_build(hb, ["_b", "_k"], num_items=max(1, num_items), fpp=fpp)


def incremental_minhash_dedup(
    new_df: DataFrame,
    hist_sig: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    within_batch: bool = True,
    band_bloom=None,
    band_bloom_verify: bool = True,
    portable: bool = False,
    _return_survivor_sig: bool = False,
    **dedup_kwargs,
) -> DataFrame:
    """Near-dedup a NEW ingest batch against a PRIOR corpus represented
    only by its MinHash signature table — the fuzzy counterpart of
    :func:`incremental_dedup`, for continuous-crawl pipelines where the
    historical text is never rescanned.

    ``hist_sig`` is :func:`minhash_signatures_df` output persisted from
    the previous run (id + ``num_hashes`` longs per doc ≈ 0.5 KB/doc —
    ~1000× slimmer than the corpus). Band keys are pure expressions over
    the signatures, so the snapshot needs NO text and band layout can even
    be re-chosen later; the (num_hashes, shingle_words) pair, however,
    must match the snapshot's or signatures are incomparable — the caller
    owns that contract. ``portable`` must likewise match the snapshot's
    hash family (md5 strings vs xxhash64 longs — r12 tier); THAT
    mismatch is detectable from the snapshot schema, so it fails fast
    here instead of silently joining nothing.

    Plan: sign the batch once (explode + one hash-agg), band BOTH sides
    (expression-only), equi-join history×batch on (band, key) — never a
    self-join over history — re-join the two signature tables onto the
    distinct candidate set, score signature-Jaccard, and anti-join the
    batch docs whose best history match clears ``threshold``. Then (by
    default) a normal intra-batch :func:`minhash_dedup`. History-side work
    is one scan of the slim snapshot; everything else is batch-sized.

    Returns the surviving rows of ``new_df``. To roll the snapshot
    forward, pass the survivors to :func:`advance_snapshot` — or set
    ``_return_survivor_sig=True`` to also get the survivors' signature
    rows (a materialized subset of the single batch signing, suitable for
    ``advance_snapshot(survivor_sig=...)``) as a second return value, so
    the whole ingest→advance cycle signs the batch exactly once; this is
    what :func:`ingest_batch` does.

    ``band_bloom`` (a :func:`band_bloom_build` filter over the history
    band keys, maintainable per batch via ``bloom_or``) prefilters the
    BATCH band rows before the history band join: a band row the filter
    rejects can match no history band, so the join's batch-side input
    shrinks to ≈ true band collisions + fpp of batch bands. Survivors
    are identical by the no-false-negative guarantee (pinned by test).
    Same coverage precondition as the exact path's ``bloom``:
    ``band_bloom_verify`` (truthy enables, default on, 0 disables)
    probes the first+last HISTORY band row of every partition through
    the filter (:func:`_probe_sample` — order-independent) and raises
    on any miss — a stale filter would silently let history near-dups
    into the batch.
    """
    hist_portable = isinstance(
        hist_sig.schema["_sig"].dataType.elementType, T.StringType
    )
    if hist_portable != portable:
        raise ValueError(
            f"portable={portable} but the history snapshot carries "
            f"{'md5 string' if hist_portable else 'xxhash64 long'} "
            "signatures — the hash families are incomparable and the "
            "band join would silently match nothing; re-sign one side"
        )
    new_sig = minhash_signatures_df(
        new_df, text_col, id_col, num_hashes, shingle_words, portable
    ).persist()
    # eager fill: the batch banding exchange and the pair-values
    # broadcast subtrees materialize concurrently under AQE and would
    # each compute the cold signature aggregation (the
    # minhash_lsh_pairs twin-stage race, r17); one count of the
    # batch-sized cache removes the duplicate pass
    try:
        new_sig.count()
        new_bands = _band_rows(new_sig, id_col, num_hashes, bands).select(
            F.col(id_col).alias("_nid"), "_b", "_k"
        )
        hist_bands = _band_rows(hist_sig, id_col, num_hashes, bands).select(
            F.col(id_col).alias("_hid"), "_b", "_k"
        )
        if band_bloom is not None:
            from datamunging_spark.operators.bloom import bloom_might_contain

            if band_bloom_verify:
                missed = (
                    _probe_sample(hist_bands.select("_b", "_k"))
                    .filter(~bloom_might_contain(band_bloom, "_b", "_k"))
                    .count()
                )
                if missed:
                    raise ValueError(
                        f"stale band bloom filter: {missed} sampled history "
                        "band keys (first+last of every partition) are "
                        "ABSENT from the filter — it does not cover the "
                        "signature snapshot (did the snapshot advance "
                        "without the matching bloom_or fold, or with "
                        "different (num_hashes, bands)?). Rebuild or fold "
                        "the filter, or pass band_bloom_verify=0 to skip."
                    )
            new_bands = new_bands.filter(
                bloom_might_contain(band_bloom, "_b", "_k")
            )
        cand = _band_collision_pairs(new_bands, hist_bands, "_nid", "_hid")
        scored = _pair_values(
            cand, new_sig, hist_sig, id_col, "_sig",
            "_nid", "_hid", "_sa", "_sb",
        ).filter(
            F.size(F.array_intersect("_sa", "_sb")) / F.lit(float(num_hashes))
            >= threshold
        )
        losers = scored.select(F.col("_nid").alias(id_col)).distinct().localCheckpoint()
        fresh = new_df.join(losers, on=id_col, how="left_anti")
        if within_batch:
            # The batch was already signed once above, so the survivor
            # subset of new_sig feeds the intra-batch pass directly via
            # _precomputed_sig instead of a second signature aggregation
            # (minhash_dedup materializes its loser set eagerly, so the
            # reuse happens while new_sig is still cached). Because the
            # pair plan derives from that precomputed signature table,
            # `fresh` itself has exactly ONE consumer (minhash_dedup's
            # final anti-join) — no checkpoint needed. new_df's lineage
            # thus executes twice overall (signature agg + final join);
            # callers looping over many batches can localCheckpoint the
            # batch to make that a cheap re-read.
            fresh = minhash_dedup(
                fresh,
                text_col,
                id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_words=shingle_words,
                _precomputed_sig=new_sig.join(losers, on=id_col, how="left_anti"),
                **dedup_kwargs,
            )
        if _return_survivor_sig:
            # Materialize the final survivor id set, then slice the (still
            # cached) batch signature table down to it — both checkpointed
            # so they outlive the unpersist below.
            fresh = fresh.localCheckpoint()
            surv_sig = new_sig.join(
                fresh.select(id_col), on=id_col, how="left_semi"
            ).localCheckpoint()
    finally:
        new_sig.unpersist()
    return (fresh, surv_sig) if _return_survivor_sig else fresh


class Snapshots(NamedTuple):
    """The two slim artifacts a continuous-ingest pipeline persists between
    runs: ``content`` (:func:`content_snapshot` schema — one md5 per distinct
    doc) and ``signatures`` (:func:`minhash_signatures_df` schema, plus a
    ``_sw`` shingle-width stamp once it has passed through
    :func:`advance_snapshot`). Either may be None when the pipeline only
    runs one dedup flavor."""

    content: DataFrame | None
    signatures: DataFrame | None


def advance_snapshot(
    survivors: DataFrame,
    snapshots: Snapshots | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_words: int = 3,
    survivor_sig: DataFrame | None = None,
) -> Snapshots:
    """Roll the incremental-dedup state forward: fold a deduped batch's
    survivors into the content + signature snapshots so the NEXT batch can
    be ingested. This is the one stateful step of the continuous-crawl loop
    (ingest → :func:`incremental_dedup` → :func:`incremental_minhash_dedup`
    → advance_snapshot → persist), pulled into an operator because it is
    the easiest step for callers to get wrong — double-signing survivors,
    drifting (num_hashes, shingle_words) between runs, or re-shuffling the
    whole history to re-distinct it.

    Scale shape: pure APPEND. Survivors of the incremental operators have
    content hashes provably absent from the content snapshot (the exact
    pass anti-joined on it) and ids absent from the signature snapshot, so
    both unions need no history-wide distinct — the history side is never
    shuffled, only the batch-sized increment is computed. (If a duplicate
    hash ever does land — e.g. survivors that skipped the exact pass — the
    consumers stay correct: :func:`incremental_dedup` applies ``distinct``
    to the snapshot side at use.)

    Parameter drift is enforced, not just documented: the emitted signature
    rows carry a ``_sw`` shingle-width stamp, and on the way in one
    ``limit(1)`` probe of the prior snapshot (a trivially cheap action on a
    slim table) checks ``size(_sig) == num_hashes`` and, when the stamp is
    present, ``_sw == shingle_words`` — a mismatch raises instead of
    silently producing incomparable signatures. A caller-built first
    snapshot without the stamp is assumed to match; every snapshot that has
    passed through here is stamped.

    ``survivor_sig``: batch signatures already computed by
    :func:`incremental_minhash_dedup` (which signs the batch exactly once);
    pass the survivor subset to skip re-signing here. Must cover exactly
    the survivor ids with the same (num_hashes, shingle_words) — the same
    ``_precomputed_sig`` contract as :func:`minhash_lsh_pairs`.
    """
    snapshots = snapshots if snapshots is not None else Snapshots(None, None)
    new_content = content_snapshot(survivors, text_col)
    if snapshots.content is not None:
        new_content = snapshots.content.unionByName(new_content)

    if survivor_sig is None:
        sig_inc = minhash_signatures_df(
            survivors, text_col, id_col, num_hashes, shingle_words
        )
    else:
        sig_inc = survivor_sig.select(id_col, "_sig")
    sig_inc = sig_inc.withColumn("_sw", F.lit(shingle_words).cast("int"))

    hist = snapshots.signatures
    if hist is not None:
        probe = hist.select(
            F.size("_sig").alias("nh"),
            *([F.col("_sw").alias("sw")] if "_sw" in hist.columns else []),
        ).limit(1).collect()
        if probe:
            if probe[0]["nh"] != num_hashes:
                raise ValueError(
                    f"signature snapshot has {probe[0]['nh']} hashes per "
                    f"doc but advance_snapshot was called with num_hashes="
                    f"{num_hashes}; signatures would be incomparable"
                )
            if "_sw" in hist.columns and probe[0]["sw"] != shingle_words:
                raise ValueError(
                    f"signature snapshot was built with shingle_words="
                    f"{probe[0]['sw']} but advance_snapshot was called "
                    f"with shingle_words={shingle_words}; signatures "
                    "would be incomparable"
                )
        if "_sw" not in hist.columns:
            # first pass of an unstamped caller-built snapshot: stamp it
            # (documented assumption that it matches shingle_words)
            hist = hist.select(
                id_col, "_sig", F.lit(shingle_words).cast("int").alias("_sw")
            )
        else:
            hist = hist.select(id_col, "_sig", "_sw")
        sig_inc = hist.unionByName(sig_inc)

    return Snapshots(content=new_content, signatures=sig_inc)


def ingest_batch(
    new_df: DataFrame,
    snapshots: Snapshots | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    **dedup_kwargs,
) -> tuple[DataFrame, Snapshots]:
    """One full continuous-ingest cycle: exact dedup vs the content
    snapshot → fuzzy dedup vs the signature snapshot → intra-batch dedup →
    snapshot roll-forward. Returns ``(survivors, new_snapshots)``; persist
    the snapshots (parquet) and feed the next crawl batch.

    This is the operator a production pipeline calls per batch, composed
    so the batch text is SIGNED EXACTLY ONCE: the fuzzy pass returns its
    survivors' signature rows (a checkpointed subset of its single signing
    aggregation) and :func:`advance_snapshot` folds those in via
    ``survivor_sig`` instead of re-signing — the double-signing mistake
    this wrapper exists to prevent. With ``snapshots=None`` it bootstraps:
    the batch dedups against itself and becomes the first snapshot pair.

    Scale shape per batch: one exact-pass shuffle (uniform md5 key), one
    signing aggregation, band equi-joins (history×batch + batch self),
    bounded CC, append-only snapshot growth. History is touched only as
    the two slim snapshot scans. The exact-pass output is checkpointed
    (it feeds signing, the final anti-join, and the roll-forward's hash
    increment); at 100 TB swap ``localCheckpoint`` for a cluster
    ``checkpoint()``/table write — the seam is this one materialization.
    """
    snapshots = snapshots if snapshots is not None else Snapshots(None, None)
    if snapshots.content is not None:
        # seen_distinct: snapshot output is distinct by construction, and
        # an anti-join ignores right-side duplicates anyway — the
        # defensive distinct would only add an exchange (and defeat
        # bucketed snapshot tables).
        fresh = incremental_dedup(
            new_df, snapshots.content, text_col, id_col, seen_distinct=True
        )
    else:
        fresh = exact_dedup(new_df, text_col, id_col)
    fresh = fresh.localCheckpoint()

    if snapshots.signatures is not None:
        survivors, surv_sig = incremental_minhash_dedup(
            fresh,
            snapshots.signatures,
            text_col,
            id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_words=shingle_words,
            _return_survivor_sig=True,
            **dedup_kwargs,
        )
    else:
        # bootstrap: no history to prefilter against — the band-bloom
        # kwargs are meaningless here and minhash_dedup doesn't take them
        dedup_kwargs.pop("band_bloom", None)
        dedup_kwargs.pop("band_bloom_verify", None)
        sig = minhash_signatures_df(
            fresh, text_col, id_col, num_hashes, shingle_words
        ).persist()
        try:
            survivors = minhash_dedup(
                fresh,
                text_col,
                id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_words=shingle_words,
                _precomputed_sig=sig,
                **dedup_kwargs,
            ).localCheckpoint()
            surv_sig = sig.join(
                survivors.select(id_col), on=id_col, how="left_semi"
            ).localCheckpoint()
        finally:
            sig.unpersist()

    new_snaps = advance_snapshot(
        survivors,
        snapshots,
        text_col,
        id_col,
        num_hashes=num_hashes,
        shingle_words=shingle_words,
        survivor_sig=surv_sig,
    )
    return survivors, new_snaps


def write_snapshots(snapshots: Snapshots, path: str) -> None:
    """Persist the snapshot pair as parquet under ``path`` (``content/`` +
    ``signatures/`` subdirectories) — the between-runs artifact of the
    continuous-ingest loop. The layout is deliberately plain parquet so
    any engine can read it.

    Version the path per batch (``.../snap_00042``): a rolled-forward
    snapshot's plan READS the previous snapshot, and Spark cannot
    overwrite a path that the writing plan is simultaneously reading
    (self-overwrite deletes input files mid-scan). Versioned paths make
    each state immutable — which is also what you want for replay and
    audit; retire old versions out-of-band."""
    from datamunging_spark.parallel import co_materialize

    # the two writes land in independent subdirectories — overlapped
    # (guide §2.6); callers' crash contract is unchanged because any
    # commit marker is written by the caller AFTER this returns
    writes = []
    if snapshots.content is not None:
        writes.append(
            lambda: snapshots.content.write.mode("overwrite").parquet(
                f"{path}/content"
            )
        )
    if snapshots.signatures is not None:
        writes.append(
            lambda: snapshots.signatures.write.mode("overwrite").parquet(
                f"{path}/signatures"
            )
        )
    if writes:
        co_materialize(*writes)


def write_snapshots_table(
    snapshots: Snapshots, base_name: str, num_buckets: int = 32
) -> None:
    """Persist the snapshot pair as BUCKETED managed tables
    (``{base}_content`` bucketed on content_hash, ``{base}_signatures``
    on the doc id) — the scale upgrade over plain-parquet
    :func:`write_snapshots`: the next run's history-side joins read
    pre-partitioned buckets, so the HISTORY side (the big side at 100 TB)
    never re-shuffles. Pair with
    ``incremental_dedup(..., seen_distinct=True)`` so no defensive
    distinct re-introduces an exchange; version ``base_name`` per batch
    for the same replay/self-overwrite reasons as write_snapshots."""
    from datamunging_spark.sources.io import write_bucketed_table

    if snapshots.content is not None:
        write_bucketed_table(
            snapshots.content,
            f"{base_name}_content",
            "content_hash",
            num_buckets,
        )
    if snapshots.signatures is not None:
        sig = snapshots.signatures
        write_bucketed_table(
            sig, f"{base_name}_signatures", sig.columns[0], num_buckets
        )


def read_snapshots_table(spark, base_name: str) -> Snapshots:
    """Load a bucketed snapshot pair (see :func:`write_snapshots_table`);
    missing tables load as None."""

    def _maybe(suffix: str) -> DataFrame | None:
        name = f"{base_name}_{suffix}"
        return spark.table(name) if spark.catalog.tableExists(name) else None

    return Snapshots(
        content=_maybe("content"), signatures=_maybe("signatures")
    )


def read_snapshots(spark, path: str) -> Snapshots:
    """Load a persisted snapshot pair (see :func:`write_snapshots`).
    Missing subdirectories load as None, so exact-only or fuzzy-only
    pipelines round-trip too."""
    from pyspark.errors.exceptions.captured import AnalysisException

    def _maybe(sub: str) -> DataFrame | None:
        try:
            return spark.read.parquet(f"{path}/{sub}")
        except AnalysisException:
            return None

    return Snapshots(
        content=_maybe("content"), signatures=_maybe("signatures")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(col: Column | str, bits: int = 64, shingle_words: int = 2) -> Column:
    """64-bit SimHash over word shingles, expression-only: per-bit majority
    vote of shingle hashes. bit b of the result = 1 iff more shingle hashes
    have bit b set than not."""
    shingles = word_ngrams(col, shingle_words)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    n = F.size(hashes)
    # Bit tests use literal masks (bitwiseAND), not shifts — shift builtins
    # don't compose with higher-order-function lambda variables.
    # NB: HOF lambdas must be unary — pyspark passes the array index to a
    # second parameter, so masks are bound via a closure factory.
    def bit_set(mask):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    result = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)  # signed-long bit 63
        vote = F.size(F.filter(hashes, bit_set(mask))) * 2 > n
        result = result.bitwiseOR(
            F.when(vote, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return result


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_words: int = 2,
) -> DataFrame:
    """(id, sh) 64-bit SimHash via explode + one hash-aggregate — the scale
    shape (same rationale as minhash_signatures_df: HOF bit-voting is
    interpreted and re-walks the shingle array per bit; this stays codegen'd).

    Per-bit majority vote as sum(+1/-1) aggregates over exploded shingle
    hashes, then bits packed with literal masks. Unlike MinHash, the vote IS
    duplicate-sensitive, so the gram stream is deduped per doc (one extra
    uniform-key shuffle) to match the distinct-shingle column form.
    """
    exploded = exploded_ngrams(
        df, text_col, id_col, shingle_words, distinct=True
    ).select(id_col, F.xxhash64("_sh").alias("_h"))

    def mask(b: int) -> int:
        return (1 << b) if b < 63 else -(1 << 63)  # signed-long bit 63

    aggs = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(mask(b))) != 0, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(*aggs)
    sh = F.lit(0).cast("long")
    for b in range(bits):
        sh = sh.bitwiseOR(
            F.when(F.col(f"_b{b}") > 0, F.lit(mask(b)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return voted.select(id_col, sh.alias("sh"))


def _simhash_band_rows(sh: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, _b, _k) bit-band rows from a 64-bit hash table (``sh``
    column) — the pigeonhole banding shared by the intra-corpus
    self-join (:func:`simhash_pairs`, and phash via its precomputed-sh
    seam) and the incremental history-vs-batch join
    (:func:`~datamunging_spark.operators.multimodal.incremental_phash_dedup`)."""
    width = 64 // bands
    chunk_mask = (1 << width) - 1 if width < 64 else -1
    return sh.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * width)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_c"),
    ).select(id_col, F.col("_c.band").alias("_b"), F.col("_c.key").alias("_k"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    shingle_words: int = 2,
    _precomputed_sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs at SimHash Hamming distance ≤
    ``max_hamming``, via the standard bit-band trick (Manku et al., WWW'07
    "Detecting Near-Duplicates for Web Crawling"): split the 64-bit hash
    into ``bands`` equal chunks and equi-join docs sharing ANY chunk. By
    pigeonhole, two hashes within Hamming distance ``bands - 1`` must
    agree on at least one chunk, so recall is EXACT (100%) whenever
    ``max_hamming <= bands - 1`` — unlike MinHash banding this is a
    guarantee, not a probability. Candidates are then filtered by true
    Hamming distance (``bit_count(xor)``), returned as (id_a < id_b,
    hamming).

    Scale shape: one simhash aggregation, explode to ``bands`` rows per
    doc, self-equi-join on (chunk index, chunk value) — uniform 16-bit-ish
    keys, no cross join — then codegen xor/popcount on the tiny candidate
    set. Same banding economics as MinHash-LSH.
    """
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            "for the pigeonhole recall guarantee"
        )
    if _precomputed_sh is not None:
        sh = _precomputed_sh
    else:
        # the signature plan feeds banding plus BOTH candidate re-joins;
        # materialize once or the dominant shingle/bit-vote aggregation
        # executes three times per action (same rule minhash_lsh_pairs
        # applies to its signature table)
        sh = simhash_df(
            df, text_col, id_col, 64, shingle_words
        ).localCheckpoint()
    banded = _simhash_band_rows(sh, id_col, bands)
    left = banded.select(F.col(id_col).alias("id_a"), "_b", "_k")
    right = banded.select(F.col(id_col).alias("id_b"), "_b", "_k")
    cand = _band_collision_pairs(left, right, "id_a", "id_b", ordered=True)
    return (
        _pair_values(cand, sh, sh, id_col, "sh", left_val="_sa", right_val="_sb")
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    shingle_words: int = 2,
) -> DataFrame:
    """Near-dedup on SimHash Hamming distance: one survivor (min id) per
    transitive cluster of docs within ``max_hamming``, via the same
    connected-component selection as :func:`minhash_dedup` (greedy has the
    identical star/chain transitivity gap here). The simhash aggregation
    runs once (persist-bracketed) and feeds both the banded pair join and
    nothing else — the loser id set is materialized before release, the
    final anti-join is corpus × small id set."""
    sh = simhash_df(df, text_col, id_col, 64, shingle_words).persist()
    # eager fill (one count of the cached rows): the band self-join's two
    # exchange subtrees materialize concurrently under AQE and would both
    # compute the cold simhash aggregation — the minhash_lsh_pairs twin-
    # stage race (r17)
    try:
        sh.count()
        pairs = simhash_pairs(
            df,
            text_col,
            id_col,
            max_hamming=max_hamming,
            bands=bands,
            shingle_words=shingle_words,
            _precomputed_sh=sh,
        )
        comp = connected_component_labels(pairs)
        losers = (
            comp.filter(F.col("v") != F.col("component"))
            .select(F.col("v").alias(id_col))
            .localCheckpoint()
        )
    finally:
        sh.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    probes: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_gram_df: int | None = None,
    valve: str = "exact",
    valve_k: int = 65536,
) -> DataFrame:
    """Exact n-gram Jaccard similarity of probe docs vs the corpus — with NO
    cross join.

    |A∩B| comes from a gram-level equi-join: explode distinct grams per doc,
    join probe grams to corpus grams on the gram, count matches per (a, b).
    |A∪B| = |A| + |B| − |A∩B| from per-doc gram counts. Pairs sharing zero
    grams never materialize (they cannot pass a positive threshold), so the
    pair space is bounded by co-occurrence, not |P|×|C| — the property that
    makes exact Jaccard feasible at corpus scale. Skew valve: set
    ``max_gram_df`` to drop grams shared by more than that many docs
    (standard hot-shingle cap; leave None for exact oracle parity).

    ``valve="sketch"`` swaps the hot-gram detection from the exact
    groupBy (which shuffles one row per DISTINCT gram — itself the
    biggest exchange of the valve at billions of grams) to
    :func:`~datamunging_spark.operators.sketch.hot_keys_sketch`
    (Misra-Gries: one Arrow pass, shuffle ≤ partitions × (valve_k+2)
    rows). Drops are a superset of the exact valve's above the MG floor
    — over-dropping is the valve's documented trade; sizing and bounds
    live on ``hot_keys_sketch``.
    """
    if valve not in ("exact", "sketch"):
        raise ValueError(f"valve must be 'exact'|'sketch', got {valve!r}")
    pg = exploded_ngrams(probes, text_col, id_col, n, distinct=True).select(
        F.col(id_col).alias("id_a"), "_sh"
    )
    cg = exploded_ngrams(corpus, text_col, id_col, n, distinct=True).select(
        F.col(id_col).alias("id_b"), "_sh"
    )
    if max_gram_df is not None:
        if valve == "sketch":
            from datamunging_spark.operators.sketch import hot_keys_sketch

            hot = hot_keys_sketch(cg, "_sh", max_gram_df, k=valve_k)
        else:
            hot = (
                cg.groupBy("_sh")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_gram_df)
                .select("_sh")
            )
        cg = cg.join(F.broadcast(hot), "_sh", "left_anti")
        pg = pg.join(F.broadcast(hot), "_sh", "left_anti")
    na = pg.groupBy("id_a").agg(F.count(F.lit(1)).alias("_na"))
    nb = cg.groupBy("id_b").agg(F.count(F.lit(1)).alias("_nb"))
    inter = (
        pg.join(cg, "_sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    probes: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
    arrow_cosine: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact (X1 vector flavor).

    Brute force over broadcast probes — the oracle-checkable baseline; for
    all-pairs dedup at corpus scale use similarity.lsh_bucket to generate
    candidates (equi-join on bucket keys) and apply the same cosine filter.
    ``arrow_cosine=True`` swaps the interpreted expression cosine for the
    Arrow numpy kernel (same trade as ``brute_force_topk``: faster at large
    probe batches, float-order-different, not oracle-parity).
    """
    from datamunging_spark.functions import cosine_similarity

    p = probes.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    c = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    if arrow_cosine:
        from datamunging_spark.operators.similarity import _cosine_udf

        cos = _cosine_udf()(F.col("_va"), F.col("_vb"))
    else:
        cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        F.broadcast(p)
        .crossJoin(c)
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact n-gram Jaccard similarity between two text columns."""
    ga, gb = word_ngrams(a, n), word_ngrams(b, n)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = F.size(F.array_union(ga, gb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dedupe_lines_within_doc(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Within-document repeated-line removal — the intra-doc half of the
    C4 line-dedup recipe (:func:`paragraph_dedup` is the cross-doc half):
    rewrite ``text_col`` keeping only each doc's FIRST occurrence of every
    line whose normalized form repeats later in the SAME doc. Lines that
    normalize to the empty string are structure (blank separators) and are
    always kept in place.

    Pure per-row expressions: split on the literal ``sep``, an indexed
    ``filter`` with a seen-in-prefix test, rejoin — zero shuffle, NULL
    text passes through as NULL. The prefix test is O(lines²) per doc
    inside one interpreted HOF, which is the right trade for ordinary
    documents (tens of lines); corpora with pathological line counts per
    doc should run the exploded :func:`paragraph_dedup` shape instead
    (its groupBy scales per-line, not per-line-pair).
    """
    from datamunging_spark.functions import normalize_text, tokenize

    lines = tokenize(F.col(text_col), sep)
    norms = F.transform(lines, lambda l: normalize_text(l))
    kept = F.filter(
        lines,
        lambda l, i: (normalize_text(l) == "")
        | ~F.array_contains(F.slice(norms, 1, i), normalize_text(l)),
    )
    return df.withColumn(
        text_col,
        F.when(
            F.col(text_col).isNotNull(), F.array_join(kept, sep)
        ),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    materialize: bool = True,
) -> DataFrame:
    """Paragraph-granular exact dedup (the C4/RefinedWeb line-dedup step):
    split every doc on ``sep`` (a LITERAL separator, escaped before the
    regex split so split and reassembly always agree), keep only the
    globally FIRST occurrence of each normalized non-empty paragraph
    (min (doc_id, position)), and reassemble docs without the repeated
    paragraphs — the standard scrub for boilerplate (headers, footers,
    cookie banners) that repeats across a crawl. Paragraphs that normalize
    to the empty string (blank lines, whitespace runs) are STRUCTURE, not
    content: they are always kept in place, never pooled into one global
    dedup group. All other columns of ``df`` are preserved (only
    ``text_col`` is rewritten); ``id_col`` must be non-null and unique.

    Scale shape: one posexplode, one groupBy on the uniform md5 paragraph
    hash (map-side combinable min — deliberately NOT a window, which could
    not partial-aggregate a million-strong boilerplate group), one
    equi-join back on that hash, one groupBy(doc) to reassemble
    (array_sort of (pos, para) structs — a bounded per-doc array touched
    once), one join back onto ``df``. Nothing quadratic, no skew. The
    paragraph table feeds three plan branches (hash groupBy, join probe,
    blank pass-through), so by default it is ``localCheckpoint``-ed —
    ONE materialization instead of three corpus scans; pass
    ``materialize=False`` to keep the pure-lineage plan (and on a real
    cluster prefer ``checkpoint()`` via a checkpoint dir for
    executor-loss recovery). Docs whose every content paragraph was seen
    earlier come back with only their structural separators (callers drop
    or re-filter by token count).
    """
    from datamunging_spark.functions import tokenize

    paras = df.select(
        F.col(id_col),
        F.posexplode(
            tokenize(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("_pos", "_para"),
    ).withColumn("_ph", F.md5(normalize_text(F.col("_para"))))
    if materialize:
        paras = paras.localCheckpoint()
    blank = F.md5(F.lit(""))  # normalize_text('') == ''
    content = paras.filter(F.col("_ph") != blank)
    first = content.groupBy("_ph").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))).alias(
            "_first"
        )
    )
    kept = (
        content.join(first, "_ph")
        .filter(
            F.col(id_col).eqNullSafe(F.col("_first.i"))
            & (F.col("_pos") == F.col("_first.p"))
        )
        .select(id_col, "_pos", "_para")
        .unionByName(paras.filter(F.col("_ph") == blank).select(id_col, "_pos", "_para"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_para")))
                ),
                lambda s: s._para,
            ),
        ).alias("_new_text")
    # renamed join key: rebuilt shares lineage with df, and a same-name
    # self-join condition resolves ambiguously (rows silently vanish)
    ).withColumnRenamed(id_col, "_rid")
    # rewrite text_col in place, preserving every other column; docs whose
    # every content paragraph deduped away keep only their separators
    return (
        df.join(
            rebuilt, on=F.col(id_col).eqNullSafe(F.col("_rid")), how="left"
        )
        .withColumn(text_col, F.coalesce(F.col("_new_text"), F.lit("")))
        .drop("_rid", "_new_text")
    )


def semantic_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
    index=None,
    arrow_cosine: bool = True,
) -> DataFrame:
    """Semantic near-duplicate candidate pairs, SemDeDup-style (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", arXiv:2303.09540): KMeans-cluster the
    embedding space, then compare pairs only WITHIN a cluster — the
    published trick that turns all-pairs cosine dedup from O(n²) into
    O(Σ|cluster|²).

    Plan shape: one sampled KMeans fit + one full assignment pass
    (reuses :func:`~datamunging_spark.operators.similarity.ivf_build` —
    the IVF index IS the SemDeDup clustering), then a self-equi-join on
    the cell id with ``id_a < id_b`` ordering — never a cross join; each
    cluster's pair block is an ordinary hash-join partition that AQE can
    split. The expression-form cosine keeps the filter deterministic.

    Scale contract: within-cluster cost is quadratic in cluster size, so
    ``n_clusters`` must grow with the corpus (SemDeDup's published runs
    use ~#docs/10k clusters for 100M-doc corpora; the same ratio holds
    here). Pass a prebuilt ``index`` (:class:`similarity.IvfIndex`) to
    amortize the fit across calls or reuse an ANN index's clustering.

    ``arrow_cosine=True`` (default) scores pairs with the Arrow numpy
    cosine kernel — pair volume is quadratic-within-cell by design, so
    the interpreted zip_with/aggregate fold is the wrong tool (measured
    ~4× slower end-to-end at 5k vectors / 1.6M pairs). ``False`` keeps
    the pure-expression form (per-row norms still precomputed BELOW the
    join, so each pair pays one fold, not three) for engine-portability
    experiments.
    """
    from datamunging_spark.operators.similarity import ivf_build

    if index is None:
        assigned = ivf_build(
            df,
            corpus_id=id_col,
            vec_col=vec_col,
            n_clusters=n_clusters,
            seed=seed,
        ).assigned
    else:
        # a prebuilt index may cover a SUPERSET of df (e.g. checking
        # dedup survivors against the original corpus's clustering):
        # restrict its assignment to df's population — a semi join on the
        # slim id projection — so pairs are generated among df's rows
        # only, under the index's (stable) clustering
        assigned = index.assigned.join(
            df.select(F.col(id_col).alias("neighbor_id")),
            on="neighbor_id",
            how="semi",
        )
    # the assignment feeds both sides of the self-join; materialize once
    # (repo convention for multi-branch consumers) so the KMeans transform
    # does not execute twice
    from datamunging_spark.functions import l2_norm

    if not arrow_cosine:
        # norms once per ROW (n folds), not once per PAIR (would be 2n²)
        assigned = assigned.withColumn("_nrm", l2_norm(F.col("_cv")))
    assigned = assigned.localCheckpoint()
    a_cols = [
        F.col("neighbor_id").alias("id_a"),
        F.col("_cv").alias("_va"),
        F.col("_cell"),
    ]
    b_cols = [
        F.col("neighbor_id").alias("id_b"),
        F.col("_cv").alias("_vb"),
        F.col("_cell"),
    ]
    if not arrow_cosine:
        a_cols.append(F.col("_nrm").alias("_na"))
        b_cols.append(F.col("_nrm").alias("_nb"))
    a = assigned.select(*a_cols)
    b = assigned.select(*b_cols)
    if arrow_cosine:
        from datamunging_spark.operators.similarity import _cosine_udf

        cos = _cosine_udf()(F.col("_va"), F.col("_vb"))
    else:
        from datamunging_spark.functions import dot_product

        cos = dot_product(F.col("_va"), F.col("_vb")) / (
            F.col("_na") * F.col("_nb")
        )
    return (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
    index=None,
    arrow_cosine: bool = True,
) -> DataFrame:
    """SemDeDup end-to-end: drop every document whose embedding is a
    semantic near-duplicate (cosine ≥ ``threshold`` within its KMeans
    cluster) of a lower-id document, keeping one survivor per transitive
    near-dup cluster via the same connected-component selection as
    :func:`minhash_dedup` (min id survives; handles chains A~B~C where
    A≁C, which greedy pairwise removal splits inconsistently).

    Caveat inherited from the paper: pairs straddling a cluster boundary
    are invisible (recall < 1 by design); tighten with larger
    ``threshold`` margins or more clusters, or run :func:`minhash_dedup`
    alongside for the lexical-overlap complement.
    """
    pairs = semantic_neardup_pairs(
        df,
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        n_clusters=n_clusters,
        seed=seed,
        index=index,
        arrow_cosine=arrow_cosine,
    )
    labels = connected_component_labels(pairs, a_col="id_a", b_col="id_b")
    losers = labels.filter(F.col("v") != F.col("component")).select(
        F.col("v").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


class SemanticSnapshot(NamedTuple):
    """The state an incremental SemDeDup loop persists between batches:
    the FROZEN KMeans centroids (numpy, n_clusters × dim — driver-side,
    the IVF analog of a broadcast dimension; persist as an ``.npy``),
    the cell-assigned history survivor embeddings (``assigned``:
    (neighbor_id, _cv, _cell) — the IvfIndex layout; persist as parquet
    partitioned by ``_cell``), and ``mean_fit_dist`` — the mean
    vector-to-own-centroid distance AT FIT TIME, the baseline the
    centroid-drift valve compares every future batch against."""

    assigned: DataFrame
    centers: "object"  # numpy (n_clusters, dim)
    mean_fit_dist: float


def semantic_snapshot(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    n_clusters: int = 16,
    seed: int = 42,
    max_fit_rows: int = 100_000,
) -> SemanticSnapshot:
    """Bootstrap the incremental-SemDeDup state from a seed corpus
    (normally the SURVIVORS of a batch :func:`semantic_dedup` run): one
    sampled KMeans fit + one assignment pass (``ivf_build``), plus one
    batch-sized agg recording the mean fit distance for the drift valve.
    The fit is paid ONCE here; every later batch only assigns against
    the frozen centroids — this is what removes the ~36-of-53-jobs
    KMeans cost from the per-batch path (SCALE.md x1_semantic_dedup
    audit)."""
    from datamunging_spark.operators.similarity import (
        _frozen_assign,
        ivf_build,
    )

    idx = ivf_build(
        df, corpus_id=id_col, vec_col=vec_col,
        n_clusters=n_clusters, seed=seed, max_fit_rows=max_fit_rows,
    )
    assigned = idx.assigned.localCheckpoint()  # feeds dist agg + reuse
    dist = F.element_at(_frozen_assign(idx.centers, "_cv"), 2)
    mean_fit = assigned.agg(F.avg(dist).alias("_m")).collect()[0]["_m"]
    return SemanticSnapshot(assigned, idx.centers, float(mean_fit or 0.0))


def incremental_semantic_dedup(
    batch: DataFrame,
    snapshot: SemanticSnapshot,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
    within_batch: bool = True,
    max_drift: float | None = 2.0,
    arrow_cosine: bool = True,
    _return_assigned: bool = False,
):
    """SemDeDup a NEW ingest batch against history — completing the
    batch-vs-history family (exact :func:`incremental_dedup`, fuzzy
    :func:`incremental_minhash_dedup`, span
    ``incremental_span_dedup``): drop batch docs whose embedding is a
    semantic near-dup (cosine >= ``threshold``, within the same FROZEN
    KMeans cell) of any history doc, then (by default) run the normal
    within-batch :func:`semantic_dedup` under the same frozen
    clustering. History always wins; batch and history id spaces must be
    disjoint. Returns the surviving batch rows.

    Scale shape: the batch is assigned to frozen cells in ONE Arrow pass
    (no per-batch KMeans fit — the dominant cost of the batch path);
    history participates as its cell-partitioned ``assigned`` table via
    a batch×history equi-join on ``_cell`` — never rescanned, never
    self-joined, and with the snapshot persisted partitioned-by-cell the
    history side's exchange disappears entirely. Per-batch cost is
    batch_rows × (history density of the touched cells), independent of
    total history size — the measured 10× probe in SCALE.md.

    Centroid-drift valve: frozen cells silently lose recall if the
    embedding distribution shifts (new vectors crowd a few cells and
    straddle boundaries). Each call compares the batch's mean
    squared-distance-to-assigned-centroid against the snapshot's
    ``mean_fit_dist``; a ratio above ``max_drift`` raises with a refit
    instruction (rebuild :func:`semantic_snapshot` over the accumulated
    survivors) rather than silently degrading — the same
    refuse-on-drift contract as ``advance_snapshot``'s ``_sw`` stamp.
    ``max_drift=None`` disables. The paper's boundary-straddle caveat
    is inherited (recall < 1 by design), unchanged from the batch form.

    ``_return_assigned=True`` additionally returns the SURVIVORS'
    (neighbor_id, _cv, _cell) rows — the exact increment
    :func:`advance_semantic_snapshot` appends, so the roll-forward
    re-uses this call's single assignment pass."""
    from datamunging_spark.operators.similarity import (
        IvfIndex,
        _assign_frozen,
    )

    # dim probe + frozen assignment + drift valve against the snapshot's
    # own baseline, shared with the vector index's advance face (pin:
    # feeds drift agg + history join + within-batch)
    assigned = _assign_frozen(
        IvfIndex(
            snapshot.assigned,
            snapshot.centers,
            snapshot.centers.shape[0],
            snapshot.mean_fit_dist,
        ),
        batch,
        id_col,
        vec_col,
        max_drift,
        refit_hint="rebuild semantic_snapshot over the accumulated survivors",
    )
    bs = assigned.select(
        F.col("neighbor_id").alias("_nid"),
        F.col("_cv").alias("_bv"),
        "_cell",
    )
    hs = snapshot.assigned.select(
        F.col("neighbor_id").alias("_hid"),
        F.col("_cv").alias("_hv"),
        "_cell",
    )
    if arrow_cosine:
        from datamunging_spark.operators.similarity import _cosine_udf

        cos = _cosine_udf()(F.col("_bv"), F.col("_hv"))
    else:
        from datamunging_spark.functions import cosine_similarity

        cos = cosine_similarity(F.col("_bv"), F.col("_hv"))
    losers = (
        bs.join(hs, "_cell")
        .select("_nid", cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
        .localCheckpoint()  # consumed by the anti-join after cache drop
    )
    fresh = batch.join(losers, on=id_col, how="left_anti")
    if within_batch:
        # same frozen clustering for the intra-batch pass: the batch was
        # assigned exactly once above; semantic_dedup's index path
        # semi-joins the assignment down to the surviving ids
        fresh = semantic_dedup(
            fresh,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            index=IvfIndex(
                assigned.select("neighbor_id", "_cv", "_cell"),
                snapshot.centers,
                snapshot.centers.shape[0],
            ),
            arrow_cosine=arrow_cosine,
        )
    if not _return_assigned:
        return fresh
    fresh = fresh.localCheckpoint()
    surv_assigned = assigned.select("neighbor_id", "_cv", "_cell").join(
        fresh.select(F.col(id_col).alias("neighbor_id")),
        on="neighbor_id",
        how="left_semi",
    )
    return fresh, surv_assigned


def advance_semantic_snapshot(
    snapshot: SemanticSnapshot, survivor_assigned: DataFrame
) -> SemanticSnapshot:
    """Roll the semantic snapshot forward: append the batch survivors'
    already-assigned rows (the ``_return_assigned`` output — assignment
    happened once, in the dedup pass) to the history table. Centroids
    and the fit-distance baseline are FROZEN by design — the drift valve
    in :func:`incremental_semantic_dedup` is what decides when they must
    be refit. Append-only, like :func:`advance_snapshot`; replaying the
    same batch is harmless because its rows were already deduped against
    the snapshot (pinned by test)."""
    expect = {"neighbor_id", "_cv", "_cell"}
    if set(survivor_assigned.columns) != expect:
        raise ValueError(
            f"survivor_assigned must be the _return_assigned output "
            f"(columns {sorted(expect)}), got {survivor_assigned.columns}"
        )
    return SemanticSnapshot(
        snapshot.assigned.unionByName(survivor_assigned),
        snapshot.centers,
        snapshot.mean_fit_dist,
    )
